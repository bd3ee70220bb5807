#!/usr/bin/env python3
"""qfilter_spark benchmark: one workload per run, closed loop, one job at a
time on a single local Spark session.

    python3 perfbench/run.py --workload ngram_build_ingest --seed 1 \
        --seconds 4 --trace 0

Run it from the repository root. It makes the workload's inputs from the
seed, times jobs until ``--seconds`` have passed, checks every output
against exact answers computed at set-up and prints, as its last line, one
JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``.
With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
they are the per-layer ones, from spans, worker kernel tallies, the Spark
event log and streaming progress. The line before it holds the details:
session config, every sample with its host readings, and per-op medians.
Everything the run writes goes under ``.perfbench_work/`` in the current
directory and is deleted at the end.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))

END_TO_END = {  # name -> unit
    "setup_s": "s", "job_s": "s", "write_mkeys_s": "Mkeys/s",
    "read_mkeys_s": "Mkeys/s", "ingest_s": "s", "peak_pss_mb": "MB",
    "stored_bytes_per_key": "B",
}
# a traced run is incorrect if its op spans plus idle time cover less than
# this share of op wall time
MIN_SPAN_COVER = 0.95


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def session_conf(cores: int, work: str, trace: bool) -> dict[str, str]:
    import hostmon

    # an eighth of the host's RAM, at least 1 GiB and at most 2 GiB; the
    # heap is committed at start so the JVM's share of PSS does not depend
    # on when it chooses to grow
    heap_mb = min(2048, max(1024, hostmon.mem_total_bytes() // 8 // 2**20))
    conf = {
        "spark.master": f"local[{cores}]",
        "spark.app.name": "qfilter-perfbench",
        "spark.driver.memory": f"{heap_mb}m",
        "spark.sql.shuffle.partitions": str(max(8, cores)),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
        "spark.sql.session.timeZone": "UTC",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # no hsperfdata file in the system temp dir
        "spark.driver.extraJavaOptions": (f"-Xms{heap_mb}m -XX:-UsePerfData "
                                          "-Djava.io.tmpdir=" + os.path.join(work, "tmp")),
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.python.worker.module": "pyspark_perfbench_worker",
        })
    return conf


class Ctx:
    """What a workload's steps share: the seed, the work directory, and
    once the session is up, the session and the tracer."""

    def __init__(self, seed, work):
        self.seed, self.work = seed, work
        self.spark = self.tracer = None
        self.setup_phases: dict[str, float] = {}
        self.start_phase()

    def start_phase(self) -> None:
        self._mark = time.perf_counter()

    def phase(self, name: str) -> None:
        """Close the current set-up phase under ``name``."""
        t = time.perf_counter()
        self.setup_phases[name] = t - self._mark
        self._mark = t


def summarize(values: list[float]) -> dict:
    """Sample count, median, min and max."""
    out = {"n": len(values)}
    if values:
        out["median"] = statistics.median(values)
        out["min"], out["max"] = min(values), max(values)
    return out


def stop_spark(spark) -> None:
    """Stop the session, the JVM and its Python workers, and wait for all
    of them to exit."""
    import signal

    import hostmon

    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    kids = hostmon.descendants(proc.pid) if proc is not None else []
    try:
        spark.stop()
    finally:
        try:
            gw.shutdown()
        except Exception:  # the gateway may already be gone
            pass
        if proc is not None:
            try:
                proc.stdin.close()  # the JVM exits when its stdin closes
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        deadline = time.time() + 30
        while kids and time.time() < deadline:
            kids = [p for p in kids if os.path.exists(f"/proc/{p}")]
            time.sleep(0.1)
        for p in kids:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass


def main(argv) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    sys.path[:0] = [HERE, root]
    try:
        import qfilter_spark  # noqa: F401  (the program under test)
    except ImportError as e:
        print(f"perfbench: cannot import qfilter_spark from {root}: {e}",
              file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    try:
        return run(args, root, work, workloads)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, root: str, work: str, workloads) -> int:
    import hostmon

    trace_dir = os.path.join(work, "trace")
    for d in ("tmp", "trace", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # Spark's JVM, the Python workers and tempfile all write under work/
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # the JVM that spark-submit starts to build its command line
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PERFBENCH_TRACE_DIR"] = trace_dir
    import tempfile
    tempfile.tempdir = None

    from pyspark.sql import SparkSession

    cores = min(4, len(os.sched_getaffinity(0)))
    conf = session_conf(cores, work, bool(args.trace))
    wl = workloads.WORKLOADS[args.workload]()
    ctx = Ctx(args.seed, work)

    # inputs and exact answers need no Spark: make them while the JVM starts
    gen_errors: list[BaseException] = []

    def make_inputs():
        t0 = time.perf_counter()
        try:
            wl.inputs(ctx)
        except BaseException as e:  # re-raised in the main thread below
            gen_errors.append(e)
        ctx.setup_phases["inputs"] = time.perf_counter() - t0
    gen = threading.Thread(target=make_inputs, name="perfbench-inputs")
    gen.start()
    try:
        builder = SparkSession.builder
        for k, v in conf.items():
            builder = builder.config(k, v)
        spark = builder.getOrCreate()
        spark.sparkContext.setLogLevel("ERROR")
        ctx.setup_phases["session"] = time.perf_counter() - T_START
    finally:
        gen.join()
    if gen_errors:
        stop_spark(spark)
        raise gen_errors[0]
    ctx.start_phase()
    pss = hostmon.PssPeak().start()

    import tracer as tracing

    jobs, ops, errors = [], [], []
    attempted = failed = 0
    try:
        tracer = tracing.Tracer(spark, bool(args.trace), trace_dir)
        tracer.set_group("pb-setup", "perfbench set-up")
        ctx.spark, ctx.tracer = spark, tracer
        wl.setup(ctx)
        setup_s = time.perf_counter() - T_START
        pss.reset()
        t_measure = time.perf_counter()
        j = 0
        while time.perf_counter() - t_measure < args.seconds:
            done: list[dict] = []
            n_ops = len(tracer.ops)
            try:
                wl.job(ctx, j, done)
            except Exception as e:  # an op failed: count it, keep measuring
                failed += 1
                attempted += 1
                errors.append(f"job {j}: {type(e).__name__}: {e}")
                traceback.print_exc(file=sys.stderr)
            attempted += len(done)
            # ops append in order, and an op is in ``done`` once it passed
            for r, op in zip(done, tracer.ops[n_ops:]):
                r["host"] = op["host"]
            ops.extend(done)
            if done and "job_s" in done[0]:  # every op of the job passed
                jobs.append(done[0])
            j += 1
        measured_s = time.perf_counter() - t_measure
        peak_mb = pss.peak / 1e6
        if args.trace:
            time.sleep(1.0)  # let the last streaming progress events arrive
    finally:
        pss.stop()
        stop_spark(spark)

    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "session": conf, "cores": cores, "setup_s": setup_s,
        "setup_phases": ctx.setup_phases,
        "measured_s": measured_s, "attempted": attempted, "failed": failed,
        "ops_failed_frac": failed / max(1, attempted), "ops": {}, "samples": ops,
    }
    for kind in sorted({o["op"] for o in ops}):
        detail["ops"][kind] = summarize([o["s"] for o in ops if o["op"] == kind])

    if args.trace:
        metrics = tracer.layer_metrics(os.path.join(work, "eventlog"), ops)
        metrics["trace.job_s"] = statistics.median(r["job_s"] for r in jobs) if jobs else 0.0
        # python.worker_start_s is read as milliseconds; a task whose
        # update exceeds its own wall time disproves that unit
        violations = tracer.start_unit_violations
        detail["python_start_unit_violations"] = violations
        if violations:
            errors.append(f"{violations} 'time to start Python workers' updates "
                          "exceed their task's wall time: unit is not ms")
        if metrics["trace.span_cover"] < MIN_SPAN_COVER:
            errors.append(f"trace.span_cover {metrics['trace.span_cover']:.3f} "
                          f"< {MIN_SPAN_COVER}")
        detail["span_s"] = tracer.span_table()
        units = {name: unit for name, unit, _ in tracing.per_layer_spec()}
    else:
        units = END_TO_END

        def med(f):
            vals = [f(r) for r in jobs]
            return statistics.median(vals) if vals else None
        metrics = {
            "setup_s": setup_s,
            "job_s": med(lambda r: r["job_s"]),
            "write_mkeys_s": med(lambda r: r["write_keys"] / r["write_s"] / 1e6),
            "read_mkeys_s": med(lambda r: r["read_keys"] / r["read_s"] / 1e6),
            "ingest_s": med(lambda r: r["ingest_s"]),
            "peak_pss_mb": peak_mb,
            "stored_bytes_per_key": med(lambda r: r["stored_bytes"] / r["stored_keys"]),
        }
        detail["job_s"] = summarize([r["job_s"] for r in jobs])

    detail["errors"] = errors[:5]
    print("perfbench-detail " + json.dumps(detail, default=float))
    print(json.dumps({
        "correct": failed == 0 and attempted > 0 and not errors,
        "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
