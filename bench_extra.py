"""Round-6 optimization measurement harness (bench.py is FROZEN for the
driver's measurement; this file holds the extra benchmarks the guide's §1
asks for: per-query noop-sink isolation, repeated min-of-k timing for
before/after comparisons, and .explain("formatted") capture).

Usage:
  python bench_extra.py queries [name ...]   # time queries (min of reps)
  python bench_extra.py explain [name ...]   # write plans/<tag>/<name>.txt
  python bench_extra.py headline             # time the headline job phases

Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, QFS_EXTRA_REPS (default 3),
     QFS_PLANS_TAG (default r06).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from bench import driver_memory  # noqa: E402


def make_session(cores: int):
    from pyspark.sql import SparkSession
    return (SparkSession.builder.master(f"local[{cores}]")
            .appName(f"qfilter-bench-extra-{cores}")
            .config("spark.sql.shuffle.partitions", str(max(8, cores)))
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.ui.enabled", "false")
            .config("spark.driver.memory", driver_memory())
            .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
            .config("spark.sql.session.timeZone", "UTC")
            .getOrCreate())


def main():
    mode = sys.argv[1] if len(sys.argv) > 1 else "queries"
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    reps = int(os.environ.get("QFS_EXTRA_REPS", "3"))

    import __spark_entry__ as entrymod
    qs = entrymod.queries()
    if names:
        qs = {k: v for k, v in qs.items() if k in names}

    spark = make_session(cpus)
    spark.sparkContext.setLogLevel("ERROR")

    if mode == "explain":
        tag = os.environ.get("QFS_PLANS_TAG", "r06")
        outdir = os.path.join(REPO, "plans", tag)
        os.makedirs(outdir, exist_ok=True)
        for name, fn in qs.items():
            spark.sparkContext.setJobDescription(f"explain:{name}")
            df = fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
            with open(os.path.join(outdir, f"{name}.txt"), "w") as f:
                f.write(plan)
            print(f"wrote {name}.txt ({len(plan)} chars)", file=sys.stderr)
        spark.stop()
        return

    if mode == "headline":
        sys.path.insert(0, REPO)
        import bench
        corpus = bench.ensure_corpus(
            int(os.environ.get("QFS_BENCH_DOCS", "20000")))
        out = []
        for rep in range(reps):
            h = bench.headline_job(spark, corpus)
            out.append(h)
            print(json.dumps({k: h[k] for k in
                              ("build_secs", "query_secs", "tokens_per_sec_m")}),
                  file=sys.stderr)
        best = max(out, key=lambda h: h["tokens_per_sec_m"])
        print(json.dumps(best))
        spark.stop()
        return

    # mode == "queries": min-of-reps per query. There is NO explicit
    # warm-up pass: the first rep pays worker-pool/JIT cold costs and
    # min-of-reps subsumes it — do not switch to mean-of-reps or reps=1
    # without adding one.
    timings = {}
    for name, fn in qs.items():
        spark.sparkContext.setJobDescription(f"query:{name}")
        times = []
        for _ in range(reps):
            t0 = time.perf_counter()
            fn(spark, sf_dir).collect()
            times.append(round(time.perf_counter() - t0, 3))
        timings[name] = times
        print(f"{name}: min {min(times)} {times}", file=sys.stderr)
    print(json.dumps({k: min(v) for k, v in timings.items()}))
    spark.stop()


if __name__ == "__main__":
    main()
