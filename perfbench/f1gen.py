"""F1 synthetic token corpus, generated from document ids.

Doc *i* is drawn from ``np.random.default_rng([42, i])`` exactly as the
fixture definition (FIXTURES.md F1) says: a lognormal(5.5, 0.75) length
clipped to [8, 4096], zipf(1.2) tokens folded onto a 50257-token vocab and
one of 12 sources with zipf(1.5) weights (the top source holds ~49% of
rows). The benchmark owns this copy so that its inputs do not depend on
the code under test; the seed of a run only picks which doc ids to draw.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa

SEED = 42
VOCAB = 50257
N_SOURCES = 12
_W = 1.0 / np.arange(1, N_SOURCES + 1) ** 1.5
_CDF = np.cumsum(_W / _W.sum())
_CDF /= _CDF[-1]
SOURCE_NAMES = [f"source-{k:02d}" for k in range(N_SOURCES)]
SCHEMA = pa.schema([("doc_id", pa.string()), ("tokens", pa.list_(pa.int32())),
                    ("n_tok", pa.int32()), ("source", pa.string())])


def docs(ids) -> pa.RecordBatch:
    """One record batch holding the docs with the given ids, in order."""
    toks, lens, srcs = [], [], []
    for i in ids:
        rng = np.random.default_rng([SEED, int(i)])
        n = int(np.clip(np.round(rng.lognormal(5.5, 0.75)), 8, 4096))
        toks.append(((rng.zipf(1.2, size=n) - 1) % VOCAB).astype(np.int32))
        # Generator.choice(p=...) draws one uniform and bisects the CDF
        srcs.append(SOURCE_NAMES[int(_CDF.searchsorted(rng.random(), side="right"))])
        lens.append(n)
    offsets = np.zeros(len(lens) + 1, dtype=np.int32)
    np.cumsum(lens, out=offsets[1:])
    flat = np.concatenate(toks) if toks else np.empty(0, np.int32)
    return pa.record_batch([
        pa.array([f"doc-{int(i):012d}" for i in ids], pa.string()),
        pa.ListArray.from_arrays(pa.array(offsets), pa.array(flat)),
        pa.array(np.asarray(lens, dtype=np.int32)),
        pa.array(srcs, pa.string()),
    ], schema=SCHEMA)


def docs_table(ids, tmp_dir: str, n_procs: int = 3) -> pa.Table:
    """The docs with the given ids, in order, generated by ``n_procs``
    child processes that exchange ids and docs through files in
    ``tmp_dir``."""
    import subprocess
    import sys

    import pyarrow.parquet as pq

    os.makedirs(tmp_dir, exist_ok=True)
    procs = []
    for i, chunk in enumerate(np.array_split(np.asarray(ids, dtype=np.int64), n_procs)):
        ids_path = os.path.join(tmp_dir, f"ids-{i}.npy")
        out_path = os.path.join(tmp_dir, f"docs-{i}.parquet")
        np.save(ids_path, chunk)
        procs.append((subprocess.Popen([sys.executable, os.path.abspath(__file__),
                                        ids_path, out_path]), out_path))
    failed = [p.args for p, _ in procs if p.wait() != 0]
    if failed:
        raise RuntimeError(f"doc generation failed: {failed}")
    table = pa.concat_tables([pq.read_table(out) for _, out in procs])
    shutil.rmtree(tmp_dir)
    return table


if __name__ == "__main__":
    import sys

    import pyarrow.parquet as pq

    pq.write_table(pa.Table.from_batches([docs(np.load(sys.argv[1]))]), sys.argv[2])
