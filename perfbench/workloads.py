"""The benchmark's workloads: inputs made from the seed, exact answers
computed at set-up, and timed jobs whose outputs are checked.

A workload has three steps. ``inputs`` generates the docs and the exact
answers with numpy and pyarrow only, so it runs while the Spark session
starts. ``setup`` prepares what the jobs start from and runs a small job to
start the Python workers. ``job`` runs one timed job and appends one dict
per operation to ``out`` once that operation's outputs pass their checks;
a failed check raises ``CheckFailed``.

Every workload reports the same end-to-end figures from its first op dict:
``job_s`` (one whole job), ``write_s``/``write_keys`` (keys turned into
persisted or merged state), ``read_s``/``read_keys`` (keys probed against
it), ``ingest_s`` (one incremental batch applied to state that already
exists) and ``stored_bytes``/``stored_keys`` (state at rest).
"""

from __future__ import annotations

import glob
import os
import shutil
import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import f1gen

NGRAM_N = 3
FP_RATE = 0.01
# both workloads run over the same F1 corpus: the docs with ids
# start..start+CORPUS_DOCS, start drawn first from the seed
CORPUS_DOCS = 26_000


class CheckFailed(Exception):
    """An output of the program differs from the exact answer."""


def check(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def now() -> float:
    return time.perf_counter()


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(p) for p in glob.glob(os.path.join(path, "*.parquet")))


def write_table(table: pa.Table, path: str, n_files: int = 1) -> None:
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(path, f"part-{i:05d}.parquet"))


def write_docs(ids: np.ndarray, path: str, n_files: int) -> pa.Table:
    """Generate the F1 docs with the given ids and write them as parquet."""
    table = f1gen.docs_table(ids, path + ".gen")
    write_table(table, path, n_files)
    return table


def token_arrays(table: pa.Table) -> tuple[np.ndarray, np.ndarray]:
    """(flat int64 tokens, int64 doc offsets) of a docs table."""
    toks = table.column("tokens").combine_chunks()
    offsets = toks.offsets.to_numpy().astype(np.int64)
    flat = toks.values.to_numpy().astype(np.int64)
    return flat[offsets[0]:offsets[-1]], offsets - offsets[0]


def ngram_hashes_of(flat, offsets, n=NGRAM_N) -> np.ndarray:
    from qfilter_spark.functions.ngrams import ngram_hashes
    return ngram_hashes(flat, offsets, n)


def long_keys(spark, start: int, n: int):
    """``n`` hashed longs from ``start`` on, in column ``h``."""
    from pyspark.sql import functions as F
    return spark.range(start, start + n).select(
        F.xxhash64(F.col("id").cast("long")).alias("h"))


def sum_cols(df, *cols) -> list[int]:
    from pyspark.sql import functions as F
    row = df.agg(*[F.sum(c) for c in cols]).collect()[0]
    return [int(v or 0) for v in row]


def rsqf_spec(capacity: int):
    from qfilter_spark.dist import SketchSpec
    return SketchSpec("rsqf", dict(capacity=int(capacity * 1.05) + 64, fp_rate=FP_RATE),
                      mode="tokens_ngram", col="tokens", ngram_n=NGRAM_N)


class NgramBuildIngest:
    """The headline job, then three rounds of incremental upkeep on its
    output.

    Build: a sharded RSQF over every token 3-gram of a 26k-doc F1 corpus
    (about 8.4M 3-grams) in the 64-shard layout used at scale, persisted as
    a parquet table; every present 3-gram and 50k absent keys are probed
    against it, and the present 3-grams twice more as ops of their own; the
    bulk probe time is the median of the three. Ingest: a batch of 2000
    docs, half of them from the corpus, is probed against the table,
    inserted, and the 3-grams of every tenth batch doc are removed again,
    each step persisted as a new table version. The ingest round runs three
    times on the built table, and each op's time is the median of its
    three: a single round of these short jobs spread too much between
    runs. The exact model is the multiset of 64-bit 3-gram hashes, and
    nothing is removed before a probe. After the first round's insert every
    batch 3-gram must be found in the new table, and after its removal
    every 3-gram of the batch docs kept; these probes are not timed. Later
    rounds repeat the same inputs and check the exact ``n_fps``. Reading
    ``n_fps`` back from a written table is a check and is not timed."""

    name = "ngram_build_ingest"
    n_docs = CORPUS_DOCS
    n_shards = 64
    n_absent = 50_000
    batch_docs = 2_000
    ingest_rounds = 3
    bulk_probes = 3

    def inputs(self, ctx):
        rng = np.random.default_rng(ctx.seed)
        start = int(rng.integers(0, 10**8))
        new_start = 2 * 10**8 + int(rng.integers(0, 10**8))
        self.absent_start = 10**12 + int(rng.integers(0, 10**9))
        ids = np.arange(start, start + self.n_docs)
        self.corpus = os.path.join(ctx.work, "corpus")
        docs = write_docs(ids, self.corpus, 16)
        flat, off = token_arrays(docs)
        self.total_tokens = int(flat.size)
        corpus_h = np.sort(ngram_hashes_of(flat, off))
        self.total_ngrams = int(corpus_h.size)

        half = self.batch_docs // 2
        batch_ids = np.concatenate([rng.choice(ids, half, replace=False),
                                    new_start + np.arange(half)])
        batch = f1gen.docs_table(batch_ids, os.path.join(ctx.work, "batch.gen"))
        self.batch = os.path.join(ctx.work, "batch")
        write_table(batch, self.batch)
        flat, off = token_arrays(batch)
        h = ngram_hashes_of(flat, off)
        # the 3-grams of every tenth batch doc are removed; the rest are kept
        removed_doc = np.arange(batch.num_rows) % 10 == 0
        per_doc = np.maximum(np.diff(off) - (NGRAM_N - 1), 0)
        removals = h[np.repeat(removed_doc, per_doc)]
        self.removals = os.path.join(ctx.work, "removals")
        write_table(pa.table({"h": pa.array(removals.view(np.int64))}), self.removals)
        self.kept = os.path.join(ctx.work, "kept")
        write_table(batch.filter(pa.array(~removed_doc)), self.kept)
        at = np.minimum(np.searchsorted(corpus_h, h), corpus_h.size - 1)
        self.batch_n = int(h.size)
        self.batch_present = int((corpus_h[at] == h).sum())
        self.n_removals = int(removals.size)
        self.n_kept = self.batch_n - self.n_removals
        self.spec = rsqf_spec(self.total_ngrams + self.batch_n)
        self.bound = self.spec.make().filter.max_error_ratio()

    def setup(self, ctx):
        from qfilter_spark.dist import sharded

        spark = ctx.spark
        # run every step of the job once on one input file and 8 shards (the
        # code paths do not depend on the shard count), split so that every
        # core starts its Python worker
        first = sorted(glob.glob(os.path.join(self.corpus, "*.parquet")))[0]
        df = (spark.read.parquet(first).select("tokens")
              .repartition(spark.sparkContext.defaultParallelism * 2))
        warm = os.path.join(ctx.work, "warm")
        k = 8
        sharded.build_sharded_filter(df, self.spec, n_shards=k) \
            .write.mode("overwrite").parquet(warm + "_0")
        ctx.phase("warm_build")
        table = spark.read.parquet(warm + "_0")
        sum_cols(sharded.probe_sharded_chunks(df, self.spec, table, k, self.spec),
                 "n_probed")
        sum_cols(sharded.probe_sharded(long_keys(spark, 0, 1000), "h", table, k,
                                       self.spec), "n_probed")
        ctx.phase("warm_probe")
        sharded.insert_sharded(table, df.limit(50), self.spec, k, self.spec) \
            .write.mode("overwrite").parquet(warm + "_1")
        sharded.remove_sharded(spark.read.parquet(warm + "_1"),
                               spark.read.parquet(self.removals), "h",
                               k, self.spec).write.mode("overwrite").parquet(warm + "_2")
        ctx.phase("warm_ingest")

    def job(self, ctx, j: int, out: list) -> None:
        from pyspark.sql import functions as F
        from qfilter_spark.dist import sharded

        spark, tr = ctx.spark, ctx.tracer
        k = self.n_shards
        path = os.path.join(ctx.work, f"table_{j}")

        def bulk_probe(table):
            """Probe every corpus 3-gram and check that each is found;
            returns (probed, seconds)."""
            t = now()
            with tr.span("sharded.probe"):
                with tr.span("sharded.plan"):
                    pdf = sharded.probe_sharded_chunks(df, self.spec, table, k, self.spec)
                n_probed, n_hit = sum_cols(pdf, "n_probed", "n_contained")
            check(n_probed == self.total_ngrams, f"probed {n_probed} != {self.total_ngrams}")
            check(n_hit == n_probed, f"{n_probed - n_hit} false negatives")
            return n_probed, now() - t

        with tr.op("build_probe", j):
            t0 = now()
            with tr.span("load"):
                df = (spark.read.parquet(self.corpus)
                      .repartition(spark.sparkContext.defaultParallelism * 2)
                      .select("tokens", "n_tok").cache())
                totals = sum_cols(df, "n_tok", F.greatest(F.col("n_tok") - 2, F.lit(0)))
            try:
                tb = now()
                with tr.span("sharded.build"):
                    with tr.span("sharded.plan"):
                        fdf = sharded.build_sharded_filter(df, self.spec, n_shards=k)
                    fdf.write.mode("overwrite").parquet(path)
                build_s = now() - tb
                table = spark.read.parquet(path)
                with tr.span("read_n_fps"):
                    (stored,) = sum_cols(table, "n_fps")
                n_probed, probe_s = bulk_probe(table)
                ta = now()
                with tr.span("sharded.probe"):
                    with tr.span("sharded.plan"):
                        adf = sharded.probe_sharded(
                            long_keys(spark, self.absent_start, self.n_absent), "h",
                            table, k, self.spec)
                    a_probed, a_hit = sum_cols(adf, "n_probed", "n_contained")
                absent_s = now() - ta
            except BaseException:
                df.unpersist()
                raise
            build_probe_s = now() - t0
        try:
            check(totals == [self.total_tokens, self.total_ngrams],
                  f"corpus totals {totals}")
            check(stored == self.total_ngrams,
                  f"n_fps {stored} != {self.total_ngrams} 3-grams")
            check(a_probed == self.n_absent, f"absent probed {a_probed}")
            check(a_hit <= self.bound * self.n_absent,
                  f"FPR {a_hit / self.n_absent} > bound {self.bound}")
            stored_bytes = dir_bytes(path)
            first = {"op": "build_probe", "s": build_probe_s, "build_s": build_s,
                     "probe_s": probe_s, "absent_probe_s": absent_s,
                     "probed_keys": n_probed + a_probed, "fpr": a_hit / self.n_absent,
                     "filter_bytes": stored_bytes, "filter_n_fps": stored}
            out.append(first)
            probes = [probe_s]
            for _ in range(self.bulk_probes - 1):
                with tr.op("bulk_probe", j):
                    n, s = bulk_probe(table)
                out.append({"op": "bulk_probe", "s": s, "probed_keys": n})
                probes.append(s)
        finally:
            df.unpersist()

        batch = spark.read.parquet(self.batch).select("tokens")
        rounds = [self._ingest_round(ctx, j, r, table, batch, stored, out)
                  for r in range(self.ingest_rounds)]
        shutil.rmtree(path, ignore_errors=True)
        med = {op: statistics.median(rd[op] for rd in rounds)
               for op in ("probe", "insert", "remove")}
        ingest_s = med["probe"] + med["insert"] + med["remove"]
        first.update({
            "job_s": build_probe_s + ingest_s,
            "write_s": build_s + med["insert"] + med["remove"],
            "write_keys": self.total_tokens + self.batch_n + self.n_removals,
            "read_s": statistics.median(probes) + med["probe"],
            "ingest_s": ingest_s,
            "read_keys": n_probed + self.batch_n,
            "stored_bytes": stored_bytes, "stored_keys": stored})

    def _ingest_round(self, ctx, j, r, table, batch, stored, out) -> dict:
        """One dedup probe, insert and removal of the batch on the built
        table; returns each op's seconds."""
        from qfilter_spark.dist import sharded

        spark, tr = ctx.spark, ctx.tracer
        k = self.n_shards
        paths = [os.path.join(ctx.work, f"table_{j}_{r}_{v}") for v in (1, 2)]

        def n_fps(path):
            """Untimed: the fingerprints a written table holds."""
            return sum_cols(spark.read.parquet(path), "n_fps")[0]

        def all_found(docs_path, table_path, n, after):
            """Untimed: every 3-gram of the docs is found in the table."""
            docs = spark.read.parquet(docs_path).select("tokens")
            probed, hit = sum_cols(sharded.probe_sharded_chunks(
                docs, self.spec, spark.read.parquet(table_path), k, self.spec),
                "n_probed", "n_contained")
            check(probed == n, f"{after}: probed {probed} != {n}")
            check(hit == probed, f"{after}: {probed - hit} false negatives")

        with tr.op("probe", j):
            t0 = now()
            with tr.span("sharded.probe"):
                with tr.span("sharded.plan"):
                    pdf = sharded.probe_sharded_chunks(batch, self.spec, table, k,
                                                       self.spec)
                b_probed, b_hit = sum_cols(pdf, "n_probed", "n_contained")
            probe_s = now() - t0
        absent = self.batch_n - self.batch_present
        check(b_probed == self.batch_n, f"batch probed {b_probed} != {self.batch_n}")
        check(b_hit >= self.batch_present,
              f"{self.batch_present - b_hit} batch false negatives")
        check(b_hit - self.batch_present <= self.bound * absent + 10,
              f"{b_hit - self.batch_present} false hits of {absent} absent batch probes")
        out.append({"op": "probe", "s": probe_s, "probed_keys": b_probed})

        with tr.op("insert", j):
            t0 = now()
            with tr.span("sharded.insert"):
                with tr.span("sharded.plan"):
                    idf = sharded.insert_sharded(table, batch, self.spec, k, self.spec)
                idf.write.mode("overwrite").parquet(paths[0])
            insert_s = now() - t0
        got_ins = n_fps(paths[0])
        want = stored + self.batch_n
        check(got_ins == want, f"n_fps after insert {got_ins} != {want}")
        if r == 0:
            all_found(self.batch, paths[0], self.batch_n, "after insert")
        out.append({"op": "insert", "s": insert_s})

        with tr.op("remove", j):
            t0 = now()
            with tr.span("sharded.remove"):
                with tr.span("sharded.plan"):
                    rdf = sharded.remove_sharded(spark.read.parquet(paths[0]),
                                                 spark.read.parquet(self.removals),
                                                 "h", k, self.spec)
                rdf.write.mode("overwrite").parquet(paths[1])
            remove_s = now() - t0
        got_rem = n_fps(paths[1])
        # every removed 3-gram was inserted by this batch, so each removal
        # finds its fingerprint and deletes exactly one
        want = got_ins - self.n_removals
        check(got_rem == want, f"n_fps after remove {got_rem} != {want}")
        if r == 0:
            all_found(self.kept, paths[1], self.n_kept, "after remove")
        out.append({"op": "remove", "s": remove_s})
        for p in paths:
            shutil.rmtree(p, ignore_errors=True)
        return {"probe": probe_s, "insert": insert_s, "remove": remove_s}


class GroupedSketches:
    """Sibling sketches over the corpus of ``ngram_build_ingest``: per-source
    HLL over 3-grams and count-min over tokens (salted grouped build), KLL
    and t-digest over doc lengths and a Bloom filter over doc ids (partial
    build plus a checkpointed tree merge), a keyed streaming RSQF per source
    fed from six files, one per trigger. After the job, five distributed
    probes of the merged Bloom filter, each with every doc id and 500k
    absent keys, are timed as ops of their own. No sharded RSQF table is
    involved.

    A stream trigger is a short Spark job whose time varies by tens of
    percent between runs (IQR/median 0.25 for a whole stream of two
    triggers over five seeds on a 4-vCPU VM, and 0.25 to 0.32 for the
    median of three triggers over ten), so ``ingest_s`` is the median of
    the five triggers that update existing state. A probe with 50k absent
    keys took about 1.4 s, mostly fixed per-job cost, and the median of
    three such probes still spread 0.31 over five seeds; hence the larger
    probe, kept out of ``job_s``. With 500k absent keys the median of three
    spread 0.11 over ten seeds, so ``read_s`` is the median of five."""

    name = "grouped_sketches"
    n_docs = CORPUS_DOCS
    n_absent = 500_000
    fan_in = 8
    n_partials = 8
    n_stream_files = 6
    n_warm_stream_files = 2
    n_probes = 5

    def inputs(self, ctx):
        from qfilter_spark.dist import SketchSpec

        rng = np.random.default_rng(ctx.seed)
        start = int(rng.integers(0, 10**8))
        self.absent_start = 10**12 + int(rng.integers(0, 10**9))
        self.corpus = os.path.join(ctx.work, "corpus")
        docs = write_docs(np.arange(start, start + self.n_docs), self.corpus, 8)
        flat, off = token_arrays(docs)
        lens = np.diff(off)
        self.n_tok_sorted = np.sort(lens)
        src = docs.column("source").to_numpy(zero_copy_only=False)
        h = ngram_hashes_of(flat, off)
        h_src = np.repeat(src, np.maximum(lens - (NGRAM_N - 1), 0))
        tok_src = np.repeat(src, lens)
        self.exact_distinct, self.top_tokens, self.src_docs, self.src_tokens = {}, {}, {}, {}
        for s in np.unique(src):
            self.exact_distinct[s] = int(np.unique(h[h_src == s]).size)
            vals, cnt = np.unique(flat[tok_src == s], return_counts=True)
            self.top_tokens[s] = [(int(vals[i]), int(cnt[i]))
                                  for i in np.argsort(cnt)[::-1][:8]]
            self.src_docs[s] = int((src == s).sum())
            self.src_tokens[s] = int(cnt.sum())
        self.n_tokens, self.n_ngrams = int(flat.size), int(h.size)

        self.hll = SketchSpec("hll", dict(p=14), "tokens_ngram", "tokens", NGRAM_N)
        self.cms = SketchSpec("cms", dict(eps=0.001, delta=0.01), "tokens_ngram",
                              "tokens", 1)
        self.merged_specs = {
            "kll": SketchSpec("kll", dict(k=200), "values", "n_tok"),
            "tdigest": SketchSpec("tdigest", dict(compression=200), "values", "n_tok"),
            "bloom": SketchSpec("bloom", dict(capacity=self.n_docs, fp_rate=FP_RATE),
                                "hash_col", "h"),
        }
        self.rsqf = SketchSpec("rsqf", dict(capacity=self.n_docs, fp_rate=FP_RATE),
                               "hash_col", "h")

        # stream files, one per trigger, with ascending mtimes
        self.stream_src = os.path.join(ctx.work, "stream_src")
        os.makedirs(self.stream_src)
        ids = docs.select(["source", "doc_id"])
        for i in range(self.n_stream_files):
            dst = os.path.join(self.stream_src, f"part-{i}.parquet")
            pq.write_table(ids.take(np.arange(i, self.n_docs, self.n_stream_files)), dst)
            os.utime(dst, (1_000_000 + i, 1_000_000 + i))
        # the warm-up streams the first files only: one trigger that makes
        # the state and one that updates it
        self.stream_warm = os.path.join(ctx.work, "stream_warm")
        os.makedirs(self.stream_warm)
        for i in range(self.n_warm_stream_files):
            name = f"part-{i}.parquet"
            shutil.copy2(os.path.join(self.stream_src, name),
                         os.path.join(self.stream_warm, name))

    def setup(self, ctx):
        # run the job once on the full input, with one sketch per code path
        # and two stream files: its cost is mostly per Spark job, so a
        # smaller input would warm up for nearly the same time
        docs = ctx.spark.read.parquet(self.corpus)
        r = self._run(ctx, docs, os.path.join(ctx.work, "ckpt_warm"), "warm",
                      self.stream_warm)
        self._probe(ctx, r["keys"], r["merged"]["bloom"])
        ctx.phase("warm_probe")

    def job(self, ctx, j: int, out: list) -> None:
        ckpt = os.path.join(ctx.work, f"ckpt_{j}")
        with ctx.tracer.op(self.name, j):
            t0 = now()
            r = self._run(ctx, ctx.spark.read.parquet(self.corpus), ckpt, j)
            job_s = now() - t0
        self._check(r)
        shutil.rmtree(ckpt, ignore_errors=True)
        first = {"op": self.name, "s": job_s}
        out.append(first)
        probes = []
        for _ in range(self.n_probes):
            with ctx.tracer.op("probe", j):
                p = self._probe(ctx, r["keys"], r["merged"]["bloom"])
            pr, ab = p["present"], p["absent"]
            check(pr == [self.n_docs, self.n_docs], f"Bloom false negatives: {pr}")
            check(ab[0] == self.n_absent and ab[1] <= 1.5 * FP_RATE * self.n_absent,
                  f"Bloom FPR {ab}")
            out.append({"op": "probe", "s": p["s"], "probed_keys": pr[0] + ab[0]})
            probes.append(p["s"])
        stored = (sum(len(b) for g in r["grouped"].values() for b in g.values())
                  + sum(len(b) for b in r["merged"].values()))
        # HLL 3-grams, CMS tokens, KLL/t-digest/Bloom rows, streamed rows
        write_keys = self.n_ngrams + self.n_tokens + 4 * self.n_docs
        first.update({"job_s": job_s, "write_s": r["write_s"], "write_keys": write_keys,
                      "read_s": statistics.median(probes),
                      "read_keys": self.n_docs + self.n_absent,
                      "ingest_s": statistics.median(r["triggers_s"][1:]),
                      "triggers_s": r["triggers_s"],
                      "stored_bytes": stored, "stored_keys": write_keys})

    def _run(self, ctx, docs, ckpt, tag, stream_src=None):
        from pyspark.sql import functions as F
        from qfilter_spark.dist import build_grouped_sketches, partial_sketches, tree_merge
        from qfilter_spark.dist.checkpoint import MergeLineage

        spark, tr = ctx.spark, ctx.tracer
        # the warm-up's steps are set-up phases of their own
        mark = ctx.phase if tag == "warm" else (lambda name: None)
        # the warm-up runs one sketch per code path: CMS takes HLL's path,
        # t-digest KLL's
        warm = tag == "warm"
        t0 = now()
        grouped = {}
        for label, spec in (("hll", self.hll), ("cms", self.cms))[:1 if warm else 2]:
            with tr.span("agg.grouped"):
                with tr.span("agg.plan"):
                    gdf = build_grouped_sketches(docs, "source", spec, n_salts=8)
                grouped[label] = {r["source"]: bytes(r["payload"]) for r in gdf.collect()}
            mark(f"warm_grouped_{label}")
        keyed = (docs.select(F.xxhash64("doc_id").alias("h"), "n_tok")
                 .repartition(self.n_partials))
        merged = {}
        for label, spec in self.merged_specs.items():
            if warm and label == "tdigest":
                continue
            with tr.span("agg.tree_merge"):
                with tr.span("agg.partial"):
                    parts = partial_sketches(keyed, spec)
                merged[label] = tree_merge(
                    parts, fan_in=self.fan_in, n_partials=self.n_partials,
                    lineage=MergeLineage(spark, os.path.join(ckpt, label)))
            mark(f"warm_merge_{label}")
        with tr.span("streaming"):
            counts, triggers_s = self._stream(spark, tr, ckpt, tag,
                                              stream_src or self.stream_src)
        mark("warm_stream")
        write_s = now() - t0
        keys = (keyed.select("h", F.lit(1).alias("present"))
                .union(long_keys(spark, self.absent_start, self.n_absent)
                       .select("h", F.lit(0).alias("present"))))
        return {"grouped": grouped, "merged": merged, "counts": counts,
                "triggers_s": triggers_s, "write_s": write_s, "keys": keys}

    def _probe(self, ctx, keys, bloom) -> dict:
        """Probe the Bloom filter with every doc id and the absent keys."""
        from pyspark.sql import functions as F
        from qfilter_spark.dist import probe_hashes

        tr = ctx.tracer
        t0 = now()
        with tr.span("probe.bloom"):
            with tr.span("probe.plan"):
                probed = probe_hashes(keys, bloom, "h", out_col="c", as_bool=True)
            rows = (probed.groupBy("present")
                    .agg(F.count("*").alias("n"), F.sum(F.col("c").cast("long")).alias("c"))
                    .collect())
        hits = {r["present"]: [int(r["n"]), int(r["c"])] for r in rows}
        return {"s": now() - t0, "present": hits.get(1, [0, 0]),
                "absent": hits.get(0, [0, 0])}

    def _stream(self, spark, tr, ckpt, j, src):
        from pyspark.sql import functions as F
        from qfilter_spark.streaming import keyed_sketch_stream

        name = f"pb_keyed_{j}"
        stream = (spark.readStream.schema("source string, doc_id string")
                  .option("maxFilesPerTrigger", 1).parquet(src)
                  .select("source", F.xxhash64("doc_id").alias("h")))
        q = (keyed_sketch_stream(stream, self.rsqf, key_col="source")
             .writeStream.format("memory").queryName(name).outputMode("update")
             .option("checkpointLocation", os.path.join(ckpt, "stream"))
             .trigger(availableNow=True).start())
        tr.own_stream(q)
        try:
            q.awaitTermination()
            triggers_s = [p.durationMs["triggerExecution"] / 1e3
                          for p in q.recentProgress if p.numInputRows > 0]
        finally:
            q.stop()
        rows = spark.sql(f"SELECT source, max(n_items) AS n, max(sketch_len) AS l "
                         f"FROM {name} GROUP BY source").collect()
        spark.catalog.dropTempView(name)
        return {r["source"]: (int(r["n"]), int(r["l"])) for r in rows}, triggers_s

    def _check(self, r):
        from qfilter_spark import sketches
        from qfilter_spark.functions.ngrams import ngram_hashes

        grouped, merged = r["grouped"], r["merged"]
        check(set(grouped["hll"]) == set(self.exact_distinct), "HLL sources")
        for s, blob in grouped["hll"].items():
            sk, n = sketches.loads(blob), self.exact_distinct[s]
            check(abs(sk.estimate() - n) <= 4 * sk.relative_sd() * n + 2,
                  f"HLL {s}: {sk.estimate():.0f} vs {n}")
        check(set(grouped["cms"]) == set(self.top_tokens), "CMS sources")
        for s, blob in grouped["cms"].items():
            sk = sketches.loads(blob)
            slack = sk.eps() * self.src_tokens[s] + 1
            for tok, cnt in self.top_tokens[s]:
                h = ngram_hashes(np.array([tok], np.int64), np.array([0, 1]), 1)
                est = float(sk.estimate_hashes(h)[0])
                check(cnt <= est <= cnt + slack, f"CMS {s} token {tok}: {est} vs {cnt}")
        n = self.n_tok_sorted.size
        for label in ("kll", "tdigest"):
            sk = sketches.loads(merged[label])
            for p in (0.1, 0.25, 0.5, 0.75, 0.9):
                x = float(sk.quantile(p))
                lo = np.searchsorted(self.n_tok_sorted, x, "left") / n
                hi = np.searchsorted(self.n_tok_sorted, x, "right") / n
                check(lo - 0.025 <= p <= hi + 0.025, f"{label} q{p}: {x} ranks {lo}..{hi}")
        check(len(r["triggers_s"]) == self.n_stream_files,
              f"{len(r['triggers_s'])} stream triggers with data, "
              f"not {self.n_stream_files}")
        check(r["counts"] == {s: (c, c) for s, c in self.src_docs.items()},
              f"stream counts {r['counts']}")


WORKLOADS = {w.name: w for w in (NgramBuildIngest, GroupedSketches)}
