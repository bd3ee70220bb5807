"""Range-sharded distributed RSQF: the 100 TB-scale filter layout.

A quotient filter over 10^12 keys at 1% FPR holds ~12 bits/key — terabytes
of state: it cannot live in one blob on one node. But the reference's
structure shards *naturally by quotient prefix*: fingerprints are
(quotient << rbits) | remainder, and the physical layout is ordered by
quotient (src/lib.rs:1304-1309), so splitting the fingerprint domain into
2^k contiguous ranges gives 2^k independent filters whose union is exactly
the single big filter — same answers, bit-for-bit (tested against the
single-blob path).

One layout: every sharded filter is a table (key, shard, n_fps, payload)
routed by a :class:`ShardDirectory` (``key`` = row index). The uniform
table is its identity case (``starts[i] = i << (fs-k)``, ``key == shard``);
hot-prefix splitting only adds row starts inside a shard.

Build: one ``mapInArrow`` pass emits per-(partition, row) sorted
fingerprint chunks; one ``groupBy(key).applyInArrow`` round merges each
row (k-way timsort of sorted runs). The filter then LIVES as a Parquet
table — the checkpointed lineage IS the data. Probe/insert/remove run the
same chunk emitter and co-group with the table by ``key`` — a
co-partitioned join; each task touches exactly one row's state. No
broadcast, no driver blob, no single reducer, at any scale.
"""

from __future__ import annotations

import numpy as np

from .. import sketches
from ..hashing import u64_hashes_from_arrow
from ..rsqf import Filter
from .agg import SketchSpec

SHARDED_SCHEMA = "key int, shard int, n_fps long, payload binary"

_FMT_RAW64 = 0
_FMT_REL32 = 1


def _pack_chunk(fps: np.ndarray, shard: int, range_bits: int) -> bytes:
    """Encode a shard's sorted fingerprints, shard-relative.

    Within shard s, every fingerprint lies in [s << range_bits,
    (s+1) << range_bits); when the range fits 32 bits the chunk ships as
    uint32 offsets from the shard base — halves shuffle bytes with a
    zero-cost decode (add the base back).
    """
    if range_bits <= 32:
        base = np.uint64(shard) << np.uint64(range_bits)
        rel = (fps - base).astype(np.uint32)
        return bytes([_FMT_REL32]) + rel.tobytes()
    return bytes([_FMT_RAW64]) + fps.tobytes()


def _unpack_chunk(buf, shard: int, range_bits: int) -> np.ndarray:
    mv = memoryview(buf)
    fmt = mv[0]
    if fmt == _FMT_REL32:
        base = np.uint64(shard) << np.uint64(range_bits)
        rel = np.frombuffer(mv, dtype=np.uint32, offset=1)
        return rel.astype(np.uint64) + base
    return np.frombuffer(mv, dtype=np.uint64, offset=1)


def _shard_blob(fps_global: np.ndarray, shard: int, local_qbits: int,
                rbits: int, keep: bool) -> bytes:
    """Shard-local quotient filter blob in the blocked physical format.

    Each shard stores its fingerprints relative to its own base (the top k
    quotient bits are the shard id), as a (qbits-k, rbits) filter — exactly
    how the reference structure partitions by quotient prefix. Blocked
    at-rest layout: ~(17 + 8*rbits)/64 bytes per slot (src/lib.rs:570-572)
    instead of 8 bytes per fingerprint. Local qbits grows if a hot shard
    exceeds its 95% load (fingerprints are value-stable through growth).
    Probes must mask to the shard-local fingerprint width (see callers).
    """
    fs_local = local_qbits + rbits
    base = np.uint64(shard) << np.uint64(fs_local)
    local = fps_global - base
    q = max(local_qbits, 6)
    while fps_global.size > ((1 << q) * 19 + 19) // 20:
        q += 1
    filt = Filter(q, rbits, None, local)
    return sketches.RsqfSketch(filt, keep).to_blocks_bytes()


def _local_mask(fs: int, k: int) -> np.uint64:
    return np.uint64((1 << (fs - k)) - 1)


def _fp_meta(spec: SketchSpec) -> tuple[int, int, int]:
    """(qbits, rbits, fingerprint_size) of the spec's filter params."""
    f = spec.make().filter
    return f.qbits, f.rbits, f.fingerprint_size()


def shard_bits_for(n_shards: int) -> int:
    """k such that ``n_shards == 2**k``; refuses any other shard count."""
    k = int(n_shards).bit_length() - 1
    if n_shards < 1 or (1 << k) != n_shards:
        raise ValueError(
            f"n_shards must be a positive power of two, got {n_shards!r}")
    return k


def _rows(keys: list, shards: list, n_fps: list, payloads: list):
    """Filter-table rows (SHARDED_SCHEMA) as an Arrow table."""
    import pyarrow as pa

    return pa.table({"key": pa.array(keys, pa.int32()),
                     "shard": pa.array(shards, pa.int32()),
                     "n_fps": pa.array(n_fps, pa.int64()),
                     "payload": pa.array(payloads, pa.binary())})


# A shard whose fingerprint range is hit disproportionately (biased upstream
# hashes, adversarial prefixes) would concentrate one task's memory. The fix
# is a RangePartitioner-style split: chunk rows already carry SORTED
# fingerprint runs, so each chunk also ships a bounded systematic sample;
# oversized shards get quantile split points planned from the pooled samples
# (driver-side metadata only — a few KB), and every consumer routes by
# directory index. Rows keep SHARD-local fingerprint coordinates, so the
# canonical form and the blob codec are untouched — the split is pure
# metadata, and the union of a shard's rows is bit-equal to the unsplit
# shard. Limitation: a multiset piled onto ONE fingerprint value cannot be
# range-split (its copies stay in one row); distinct-key skew is fully
# handled.

_SPLIT_PREFIX = "qfs_split_"
_SAMPLES_PER_CHUNK = 64  # bounded per (task, shard) row => driver metadata
                         # stays KB-scale at ANY corpus size (RangePartitioner
                         # uses the same bounded-sample-per-partition idea)


class ShardDirectory:
    """Routing metadata for a sharded filter table.

    ``starts`` is the ascending array of global-fingerprint range starts,
    one per table row; row ``i`` (``key == i``) owns [starts[i],
    starts[i+1]). Entry i's shard id is ``shards[i]`` (= starts[i] >>
    (fs-k)). :meth:`uniform` is the identity directory.
    """

    def __init__(self, starts: np.ndarray, fs: int, k: int):
        self.starts = np.asarray(starts, dtype=np.uint64)
        self.fs = fs
        self.k = k
        # k=0 with fs=64 would shift by 64 (undefined); every entry is
        # shard 0 in that degenerate single-shard case
        self.shards = ((self.starts >> np.uint64(fs - k)).astype(np.int64)
                       if fs - k < 64
                       else np.zeros(self.starts.size, dtype=np.int64))

    @classmethod
    def uniform(cls, spec: SketchSpec, n_shards: int) -> "ShardDirectory":
        """The identity directory: one row per shard, ``key == shard``."""
        k = shard_bits_for(n_shards)
        qbits, _, fs = _fp_meta(spec)
        if k > qbits:
            raise ValueError(
                f"a {k}-bit shard prefix (n_shards={n_shards}) does not fit "
                f"in the filter's {qbits}-bit quotient")
        return cls(np.array([s << (fs - k) for s in range(n_shards)],
                            dtype=np.uint64), fs, k)

    def split_sorted(self, fps: np.ndarray) -> list[tuple[int, np.ndarray]]:
        """Split an ASCENDING fingerprint array at row boundaries."""
        bounds = np.searchsorted(fps, self.starts[1:], side="left")
        chunks = np.split(fps, bounds)
        return [(i, c) for i, c in enumerate(chunks) if c.size]

    def runs(self, key, tbl) -> tuple[int, int, list[np.ndarray]]:
        """(key, shard, global fingerprint runs) of a group's chunk rows."""
        key = key[0].as_py()
        shard = int(self.shards[key])
        return key, shard, [_unpack_chunk(p, shard, self.fs - self.k)
                            for p in tbl.column("payload").to_pylist()]


def plan_directory(sizes_samples: list, n_shards: int, fs: int,
                   max_fps_per_row: int) -> "ShardDirectory":
    """Plan split points from per-chunk (shard, n_fps, sample) metadata.

    Shards with more fingerprints than ``max_fps_per_row`` are split into
    ceil(n/max) ranges at WEIGHTED quantiles of the pooled chunk samples:
    each chunk's samples carry weight n_fps/len(samples), so a small final
    flush (or uneven task partitions) cannot skew the cut points — the same
    weighted-sample estimator Spark's RangePartitioner uses. Pure
    driver-side metadata.
    """
    k = shard_bits_for(n_shards)
    totals = np.zeros(n_shards, dtype=np.int64)
    samples: list[list[tuple[np.ndarray, int]]] = [[] for _ in range(n_shards)]
    for shard, n, smp in sizes_samples:
        totals[shard] += n
        if smp is not None and len(smp):
            samples[shard].append(
                (np.frombuffer(smp, dtype=np.uint64), int(n)))
    starts: list[int] = []
    for s in range(n_shards):
        base = s << (fs - k)
        starts.append(base)
        n_rows = -(-int(totals[s]) // max_fps_per_row) if totals[s] else 1
        if n_rows > 1 and samples[s]:
            vals = np.concatenate([a for a, _ in samples[s]])
            wts = np.concatenate([np.full(a.size, n / a.size)
                                  for a, n in samples[s]])
            order = np.argsort(vals, kind="stable")
            vals, cw = vals[order], np.cumsum(wts[order])
            targets = np.arange(1, n_rows) * (cw[-1] / n_rows)
            idx = np.minimum(np.searchsorted(cw, targets, side="left"),
                             vals.size - 1)
            cuts = np.unique(vals[idx])
            starts.extend(int(c) for c in cuts if int(c) > base)
    return ShardDirectory(np.array(sorted(set(starts)), dtype=np.uint64), fs, k)


def _chunk_batches(directory: ShardDirectory, parts: list,
                   with_samples: bool = False) -> list:
    """(key, shard, n_fps, payload[, sample]) record batches of the sorted
    (key, global fingerprints) ``parts``, each packed shard-relative."""
    import pyarrow as pa

    shards = [int(directory.shards[key]) for key, _ in parts]
    rows = _rows([key for key, _ in parts], shards,
                 [int(c.size) for _, c in parts],
                 [_pack_chunk(c, s, directory.fs - directory.k)
                  for (_, c), s in zip(parts, shards)])
    if with_samples:
        rows = rows.append_column("sample", pa.array(
            [c[::max(1, c.size // _SAMPLES_PER_CHUNK)].tobytes()
             for _, c in parts], pa.binary()))
    return rows.to_batches()


def _emit_chunks(df, spec_like: SketchSpec, directory: ShardDirectory,
                 max_buffer: int, with_samples: bool = False):
    """mapInArrow pass: per-(task, row) sorted fingerprint chunk rows cut at
    the directory boundaries, optionally with a bounded systematic sample
    column for split planning. A task's buffer flushes every ``max_buffer``
    fingerprints, so per-task state stays bounded; consumers treat the
    extra chunk rows as extra sorted runs of the same row."""
    mask = np.uint64((1 << directory.fs) - 1)
    schema = SHARDED_SCHEMA + (", sample binary" if with_samples else "")

    def flush(buf: list):
        fps = np.concatenate(buf)
        # default introsort: the buffer is fresh UNSORTED hashes (unlike the
        # merge paths, which concatenate sorted runs and want timsort) and
        # this numpy's stable u64 sort is ~7x slower on random input
        fps.sort()
        return _chunk_batches(directory, directory.split_sorted(fps),
                              with_samples)

    def emit(batches):
        buf: list[np.ndarray] = []
        buffered = 0
        for batch in batches:
            if batch.num_rows:
                data = spec_like.extract(batch)
                if data.size:
                    buf.append(np.asarray(data, dtype=np.uint64) & mask)
                    buffered += data.size
            if buffered >= max_buffer:
                yield from flush(buf)
                buf, buffered = [], 0
        if buf:
            yield from flush(buf)

    return df.select(spec_like.col).mapInArrow(emit, schema)


def _merge(chunks_df, directory: ShardDirectory, spec: SketchSpec,
           filter_df=None):
    """Merge each row's sorted chunk runs (plus, with ``filter_df``, the
    row's existing blob) into its shard-local blob, keyed by ``key``."""
    qbits, rbits, fs = _fp_meta(spec)
    k = directory.k
    keep = getattr(spec.make(), "keep_duplicates", True)

    def merge(key, new_tbl, filt_tbl):
        key, shard, runs = directory.runs(key, new_tbl)
        if filt_tbl.num_rows:
            # old blobs hold SHARD-LOCAL fingerprints while new chunks
            # arrive in global coordinates: lift old to global
            old = sketches.loads(filt_tbl.column("payload")[0].as_py())
            runs.append(old.filter.fingerprints()
                        + (np.uint64(shard) << np.uint64(fs - k)))
        fps = np.concatenate(runs) if runs else np.empty(0, dtype=np.uint64)
        fps.sort(kind="stable")  # timsort: adaptive on concatenated sorted runs
        if not keep:
            fps = np.unique(fps)
        blob = _shard_blob(fps, shard, qbits - k, rbits, keep)
        return _rows([key], [shard], [int(fps.size)], [blob])

    grouped = chunks_df.groupBy("key")
    if filter_df is None:
        return grouped.applyInArrow(
            lambda key, tbl: merge(key, tbl, tbl.slice(0, 0)), SHARDED_SCHEMA)
    return (grouped.cogroup(filter_df.groupBy("key"))
            .applyInArrow(merge, SHARDED_SCHEMA))


def build_sharded_filter(df, spec: SketchSpec, n_shards: int = 64,
                         max_buffer: int = 16_000_000):
    """Returns a DataFrame (key, shard, n_fps, payload): the distributed
    filter under the identity directory (``key == shard``).

    ``payload`` is a canonical sorted-fingerprint Filter blob restricted to
    the shard's fingerprint range [shard << (fs-k), (shard+1) << (fs-k)).
    Write it to Parquet to persist; union of shards == the single filter.

    Spill-aware: a task's fingerprint buffer is capped at ``max_buffer``
    entries (~128 MB); larger input partitions emit multiple sorted chunk
    waves, which the shard merge treats as extra sorted runs — per-task
    memory stays bounded no matter the input partition size (SURVEY.md §7
    "Python-side memory" risk item).
    """
    directory = ShardDirectory.uniform(spec, n_shards)
    return _merge(_emit_chunks(df, spec, directory, max_buffer),
                  directory, spec)


def probe_sharded(probe_df, hash_col: str, filter_df, n_shards: int,
                  spec: SketchSpec):
    """Membership/count stats per shard via a co-partitioned group join.

    Returns a DataFrame (shard, n_probed, n_contained) — aggregate per
    shard; sum for global counts. Probes travel through one shuffle keyed
    by the same fingerprint-prefix shard function as the build, as sorted
    chunks of the prehashed ``hash_col`` (NULL hashes are refused).
    """
    return probe_sharded_chunks(
        probe_df, SketchSpec(spec.kind, spec.params, "hash_col", hash_col),
        filter_df, n_shards, spec)


def count_sharded(probe_df, hash_col: str, filter_df, n_shards: int,
                  spec: SketchSpec):
    """Per-key COUNT estimates through the uniform sharded layout
    (reference counting semantics src/lib.rs:1008-1018 applied at table
    scale). Uniform tables only: probe rows route by shard id, which is the
    row key only under the identity directory.

    Each probe row routes to its fingerprint-prefix shard — one
    co-partitioned shuffle of (h, key) rows — and receives the shard-local
    ``count_hashes`` estimate. Returns (h, est) keyed by the probe hash;
    join back on ``h`` downstream. Counting multiplicity lives entirely
    inside one shard (a fingerprint's copies share its prefix), so sharded
    counts are exactly the single-filter counts.
    """
    import pyarrow as pa
    from pyspark.sql import functions as F

    directory = ShardDirectory.uniform(spec, n_shards)
    fs, k = directory.fs, directory.k
    # JVM-side prefix router. Guards the JVM's shift-mod-64: at k=0 with a
    # 64-bit fingerprint, ``h >>> 64`` would return h, not 0.
    route = (F.lit(0) if fs - k >= 64 else F.shiftrightunsigned(
        F.col(hash_col).bitwiseAND(F.lit((1 << fs) - 1 if fs < 64 else -1)),
        fs - k))
    probes = probe_df.select(F.col(hash_col).alias("h"),
                             route.cast("int").alias("key"))

    def count_group(key, probes_tbl, filt_tbl):
        n = probes_tbl.num_rows
        if n == 0:
            return pa.table({"h": pa.array([], pa.int64()),
                             "est": pa.array([], pa.int64())})
        # extract BEFORE the empty-shard shortcut: a NULL hash routes to the
        # NULL key, whose filter side is always empty — refuse, not count 0
        h_u64 = u64_hashes_from_arrow(probes_tbl.column("h"), "count_sharded")
        h_raw = h_u64.view(np.int64)
        if filt_tbl.num_rows == 0:
            est = np.zeros(n, dtype=np.int64)
        else:
            sk = sketches.loads(filt_tbl.column("payload")[0].as_py())
            est = np.asarray(
                sk.count_hashes(h_u64 & _local_mask(fs, k)),
                dtype=np.int64)
        return pa.table({"h": pa.array(h_raw, pa.int64()),
                         "est": pa.array(est, pa.int64())})

    return (probes.groupBy("key")
            .cogroup(filter_df.groupBy("key"))
            .applyInArrow(count_group, "h long, est long"))


def probe_sharded_chunks(df, spec_in: SketchSpec, filter_df, n_shards: int,
                         spec: SketchSpec, max_buffer: int = 16_000_000):
    """Like :func:`probe_sharded` but shuffles sorted per-shard hash CHUNKS
    instead of individual probe rows.

    The probe side runs the same extract kernel as the build, sorts its
    partition's hashes once, splits them at the shard boundaries, and ships
    one binary blob per (partition, shard) — a few thousand rows of vector
    payloads instead of billions of scalar rows. Each shard task then probes
    sorted-queries-against-sorted-table, the cache-optimal case. At 100 TB
    this turns the probe shuffle from O(rows) record overhead into O(bytes).
    Per-task probe buffers flush every ``max_buffer`` hashes (same bounded
    discipline as the build; the shard task sums over multiple chunk rows).

    ``spec_in`` describes how to extract probe hashes from ``df`` (same modes
    as the build spec). Returns (shard, n_probed, n_contained).
    """
    return probe_sharded_split(
        df, spec_in, filter_df, ShardDirectory.uniform(spec, n_shards), spec,
        max_buffer).withColumnRenamed("key", "shard")


def insert_sharded(filter_df, new_df, spec_in: SketchSpec, n_shards: int,
                   spec: SketchSpec):
    """Incremental insert into an EXISTING sharded filter table.

    The daily-ingest operation: new rows are extracted with the same kernel
    as the build, shuffled as sorted per-(task, shard) chunks, and merged
    into each shard's blob via a co-partitioned group join — identical
    plan shape to the build's merge round, so the result is bit-equal to
    rebuilding from the union of old and new data (canonical-form merge).
    Shards absent from the table are created (a new prefix range appearing
    in fresh data). A hot shard grows its local qbits exactly like the
    build does.
    """
    directory = ShardDirectory.uniform(spec, n_shards)
    return _merge(_emit_chunks(new_df, spec_in, directory, 16_000_000),
                  directory, spec, filter_df)


def remove_sharded(filter_df, removals_df, hash_col: str, n_shards: int,
                   spec: SketchSpec):
    """Distributed remove: retractions shuffle to their fingerprint shard.

    Each shard applies the batch locally (one occurrence removed per request
    when present — reference remove semantics, src/lib.rs:1072-1129, with the
    same collision caveat). Returns the new filter DataFrame; removals of
    absent fingerprints are ignored (count clamped at zero), implementing
    the "counting merge with signed multiplicities" plan from SURVEY.md §2.1
    row 10. NULL removal hashes are refused.
    """
    return remove_sharded_split(
        filter_df, removals_df,
        SketchSpec(spec.kind, spec.params, "hash_col", hash_col),
        ShardDirectory.uniform(spec, n_shards), spec)


def build_sharded_filter_split(df, spec: SketchSpec, n_shards: int = 64,
                               max_fps_per_row: int = 16_000_000,
                               max_buffer: int = 16_000_000,
                               path: str | None = None):
    """Skew-resistant build: returns (filter_df, directory).

    Two passes over the CHUNK rows (never the raw input): pass 1 collects
    per-shard sizes + samples (driver sees only metadata); pass 2 re-splits
    each sorted chunk at the planned boundaries and merges per row key.
    Every merge task handles <= ~max_fps_per_row fingerprints regardless of
    prefix skew. Row payloads stay in shard-local coordinates.

    The merged table's at-rest form is a parquet directory at ``path``
    (default: a unique dir under ``spark.qfilter.intermediateDir`` /
    system temp) and the returned DataFrame simply reads it — matching how
    the unsplit filter lives as a parquet table, with NO caller-side
    unpersist contract and nothing pinned in executor memory (the round-3
    API returned a persisted DataFrame the caller had to remember to
    release). Call :func:`retire_split_filter` on the returned DataFrame
    to delete the directory when the filter is retired.
    """
    import uuid

    from pyspark import StorageLevel

    uniform = ShardDirectory.uniform(spec, n_shards)
    range_bits = uniform.fs - uniform.k

    chunks_df = _emit_chunks(df, spec, uniform, max_buffer,
                             with_samples=True) \
        .persist(StorageLevel.MEMORY_AND_DISK)
    meta = chunks_df.select("shard", "n_fps", "sample").collect()
    directory = plan_directory(
        [(r["shard"], r["n_fps"], r["sample"]) for r in meta],
        n_shards, uniform.fs, max_fps_per_row)

    def resplit(batches):
        # a shard's chunk re-cut at the planned boundaries: every part
        # stays inside that shard's rows
        for batch in batches:
            parts = []
            for shard, p in zip(batch.column("shard").to_pylist(),
                                batch.column("payload").to_pylist()):
                parts.extend(directory.split_sorted(
                    _unpack_chunk(p, shard, range_bits)))
            yield from _chunk_batches(directory, parts)

    keyed = chunks_df.select("shard", "payload") \
        .mapInArrow(resplit, SHARDED_SCHEMA)

    # materialize the merged table NOW (to its at-rest parquet home) so the
    # corpus-scale chunk cache can be released inside this call (round-2
    # leaked it for the app lifetime; round-3 returned a persisted
    # DataFrame with an easy-to-forget unpersist contract)
    spark = df.sparkSession
    if path is None:
        from ..sources import intermediate_dir, sweep_dead_intermediates

        base = intermediate_dir(spark)
        app = spark.sparkContext.applicationId
        # dead-session leftovers; once per (base, prefix) per process
        sweep_dead_intermediates(spark, base, app, _SPLIT_PREFIX)
        from ..fsutil import child

        path = child(base, f"{_SPLIT_PREFIX}{app}_{uuid.uuid4().hex[:8]}")
    _merge(keyed, directory, spec).write.mode("errorifexists").parquet(path)
    chunks_df.unpersist()
    out = spark.read.schema(SHARDED_SCHEMA).parquet(path)
    out._qfs_split_path = path  # lets retire_split_filter find an empty table
    return out, directory


def retire_split_filter(filter_df) -> None:
    """Delete a split filter table's at-rest parquet directory — the
    retire contract from :func:`build_sharded_filter_split`. The directory
    is recovered from the path the builder attached, falling back to the
    scan's input files (covers DataFrames re-created from the path by the
    caller); an empty-table scan with no input files and no attached path
    is a no-op. Deletion goes through the session's Hadoop FileSystem,
    keeping the full URI: a remote table (``hdfs://``/``s3a://`` — the
    ``intermediateDir`` conf explicitly invites remote scratch) is really
    freed, and the scheme is never stripped down to a bare path that
    could name an unrelated directory on the driver's local disk."""
    from ..fsutil import delete

    path = getattr(filter_df, "_qfs_split_path", None)
    if path is None:
        files = filter_df.inputFiles()
        if not files:
            return
        path = files[0].rsplit("/", 1)[0]
    delete(filter_df.sparkSession, path)


def probe_sharded_split(df, spec_in: SketchSpec, filter_df,
                        directory: "ShardDirectory", spec: SketchSpec,
                        max_buffer: int = 16_000_000):
    """Chunked probe against a split filter table: sorted probe chunks are
    cut at the directory boundaries and co-grouped by row key. Returns
    (key, n_probed, n_contained)."""
    import pyarrow as pa

    lm = _local_mask(directory.fs, directory.k)

    def probe_group(key, probes_tbl, filt_tbl):
        if probes_tbl.num_rows == 0:
            return pa.table({"key": pa.array([], pa.int32()),
                             "n_probed": pa.array([], pa.int64()),
                             "n_contained": pa.array([], pa.int64())})
        key, _, qs = directory.runs(key, probes_tbl)
        hit = 0
        if filt_tbl.num_rows:
            sk = sketches.loads(filt_tbl.column("payload")[0].as_py())
            table = sk.filter._fps
            # size guard: a row drained to empty by a remove still exists,
            # and min(lo, -1) would index into nothing
            for q in qs if table.size else ():
                q = q & lm  # shard-local coordinates (stays sorted)
                lo = np.searchsorted(table, q, side="left")
                hit += int(((lo < table.size)
                            & (table[np.minimum(lo, table.size - 1)] == q)).sum())
        return pa.table({"key": pa.array([key], pa.int32()),
                         "n_probed": pa.array([sum(q.size for q in qs)],
                                              pa.int64()),
                         "n_contained": pa.array([hit], pa.int64())})

    return (_emit_chunks(df, spec_in, directory, max_buffer).groupBy("key")
            .cogroup(filter_df.groupBy("key"))
            .applyInArrow(probe_group, "key int, n_probed long, n_contained long"))


def remove_sharded_split(filter_df, removals_df, spec_in: SketchSpec,
                         directory: "ShardDirectory", spec: SketchSpec,
                         max_buffer: int = 16_000_000):
    """Distributed remove against a SPLIT filter table.

    Retractions are extracted with the same kernel as the build, sorted,
    cut at the directory boundaries, and co-grouped with their row — the
    removal shuffle is O(bytes) chunk rows, and per-task memory stays
    bounded by the split row sizes. A row's removal chunks are applied in
    one ``remove_hashes`` call (each call is O(row)). Returns the new
    filter DataFrame (same SHARDED_SCHEMA; reference remove semantics per
    row, src/lib.rs:1056-1129).
    """
    lm = _local_mask(directory.fs, directory.k)
    keep = getattr(spec.make(), "keep_duplicates", True)

    def apply_removals(key, rem_tbl, filt_tbl):
        if filt_tbl.num_rows == 0:
            return _rows([], [], [], [])
        key, shard, runs = directory.runs(key, rem_tbl)
        sk = sketches.loads(filt_tbl.column("payload")[0].as_py())
        if runs:
            sk.filter.remove_hashes(np.concatenate(runs) & lm)
        blob = sketches.RsqfSketch(
            Filter(sk.filter.qbits, sk.filter.rbits, None,
                   sk.filter.fingerprints()), keep).to_blocks_bytes()
        return _rows([key], [shard], [len(sk.filter)], [blob])

    return (_emit_chunks(removals_df, spec_in, directory, max_buffer)
            .groupBy("key")
            .cogroup(filter_df.groupBy("key"))
            .applyInArrow(apply_removals, SHARDED_SCHEMA))


def split_to_single(filter_df, spec: SketchSpec, n_shards: int) -> bytes:
    """Collapse a split filter table to one global blob (parity checks)."""
    return sharded_to_single(filter_df, spec, n_shards)


def shrink_sharded(filter_df):
    """Distributed shrink_to_fit: re-fit every shard's local qbits to its
    content (reference shrink semantics src/lib.rs:1311-1328, applied
    per shard row).

    The maintenance pass after heavy removes: each row re-encodes at the
    smallest block count its load factor allows (repeatedly, since the
    single-node op shrinks one step per call), reclaiming at-rest bytes.
    Pure per-row map — no shuffle; fingerprints and answers unchanged.
    """
    import pyarrow as pa

    def shrink_rows(batches):
        for batch in batches:
            blobs = []
            for payload in batch.column("payload").to_pylist():
                sk = sketches.loads(payload)
                while True:
                    q0 = sk.filter.qbits
                    sk.filter.shrink_to_fit()
                    if sk.filter.qbits == q0:
                        break
                blobs.append(sk.to_blocks_bytes())
            i = batch.schema.get_field_index("payload")
            yield batch.set_column(i, "payload", pa.array(blobs, pa.binary()))

    return filter_df.mapInArrow(shrink_rows, filter_df.schema)


def sharded_to_single(filter_df, spec: SketchSpec, n_shards: int = 64) -> bytes:
    """Collapse the shard table to one global blob (parity tests / export).

    Row blobs hold shard-local fingerprints (fs-k bits); adding each row's
    shard base back and concatenating in key order yields the global
    sorted multiset (rows are contiguous ascending ranges), split or not.
    """
    k = shard_bits_for(n_shards)
    qbits, rbits, fs = _fp_meta(spec)
    parts = [sketches.loads(bytes(r["payload"])).filter.fingerprints()
             + (np.uint64(int(r["shard"])) << np.uint64(fs - k))
             for r in sorted(filter_df.collect(), key=lambda r: r["key"])]
    fps = (np.concatenate(parts) if parts else np.empty(0, dtype=np.uint64))
    keep = getattr(spec.make(), "keep_duplicates", True)
    return sketches.RsqfSketch(Filter(qbits, rbits, None, fps), keep).to_bytes()
