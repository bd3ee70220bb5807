"""Driver-side tracing: operations, spans, streaming progress, and the
per-layer metrics a traced run reports.

Every run tags the Spark jobs of each timed operation with a job group
(``pb-op-<n>``), so untraced and traced runs make the same Spark calls.
Only a traced run records spans, patches Spark actions and the library's
kernels, writes the event log and listens to streaming progress.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

import eventlog
import hostmon
import kernelspans

_NULL = contextlib.nullcontext()

# (name, unit, better) of every per-layer metric, in report order
KERNEL_LAYERS = [
    ("ngrams.ngram_hashes", ("calls", "items", "s")),
    ("blocks.encode", ("calls", "items", "s")),
    ("blocks.decode", ("calls", "items", "s")),
    ("rsqf.insert_hashes", ("items", "s")),
    ("rsqf.contains_hashes", ("items", "s")),
    ("rsqf.remove_hashes", ("items", "s")),
    ("rsqf.from_bytes", ("bytes", "s")),
    ("rsqf.to_bytes", ("bytes", "s")),
    ("sketches.loads", ("calls", "bytes", "s")),
    ("sketches.merge", ("calls", "s")),
    ("sketches.to_bytes", ("calls", "bytes", "s")),
    ("sketches.update", ("items", "s")),
]
_KERNEL_UNITS = {"calls": "count", "items": "count", "bytes": "B", "s": "s"}
_KERNEL_FIELD = {"calls": kernelspans.CALLS, "items": kernelspans.ITEMS,
                 "bytes": kernelspans.BYTES, "s": kernelspans.SELF_S}

OTHER_METRICS = [
    ("blocks.decoded_per_probe", "ratio", "lower"),
    ("sharded.build.s", "s", "lower"),
    ("sharded.probe.s", "s", "lower"),
    ("sharded.insert.s", "s", "lower"),
    ("sharded.remove.s", "s", "lower"),
    ("sharded.plan_s", "s", "lower"),
    ("agg.partial.s", "s", "lower"),
    ("agg.tree_merge.s", "s", "lower"),
    ("agg.tree_merge.rounds", "count", "lower"),
    ("agg.grouped.s", "s", "lower"),
    ("checkpoint.write_round.s", "s", "lower"),
    ("streaming.triggers", "count", "lower"),
    ("streaming.trigger_ms", "ms", "lower"),
    ("streaming.addBatch_ms", "ms", "lower"),
    ("streaming.state_mb", "MB", "lower"),
] + [(f"spark.{f}", u, "lower") for f, u in (
    ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
    ("task_failures", "count"), ("jvm_cpu_s", "s"), ("executor_run_s", "s"),
    ("gc_s", "s"), ("shuffle_write_mb", "MB"), ("shuffle_read_mb", "MB"),
    ("spill_mb", "MB"), ("jobs_unattributed", "count"))] + [
    ("arrow.to_python_mb", "MB", "lower"),
    ("arrow.from_python_mb", "MB", "lower"),
    ("python.worker_run_s", "s", "lower"),
    ("python.worker_start_s", "s", "lower"),
    ("python.run_share", "ratio", "lower"),
    ("driver.idle_s", "s", "lower"),
    ("filter.bytes", "B", "lower"),
    ("filter.n_fps", "count", "lower"),
    ("host.steal_pct", "%", "lower"),
    ("host.load1", "load", "lower"),
    ("trace.job_s", "s", "lower"),
    ("trace.span_cover", "ratio", "higher"),
]


def per_layer_spec() -> list[tuple[str, str, str]]:
    out = []
    for layer, fields in KERNEL_LAYERS:
        out += [(f"{layer}.{f}", _KERNEL_UNITS[f], "lower") for f in fields]
    return out + OTHER_METRICS


class Tracer:
    def __init__(self, spark, enabled: bool, trace_dir: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.trace_dir = trace_dir
        self.ops: list[dict] = []
        self.group_to_op: dict[str, str] = {}
        self.progress: list[dict] = []
        self._cur: dict | None = None
        self._local = threading.local()
        self.kernels = None
        self.start_unit_violations = 0
        if enabled:
            self.kernels = kernelspans.Recorder(
                lambda: self._cur["id"] if self._cur else None)
            kernelspans.install(self.kernels)
            self._patch_actions()
            spark.streams.addListener(_ProgressListener(self.progress))

    # -- operations and spans -------------------------------------------
    def set_group(self, group: str, desc: str) -> None:
        self.sc.setJobGroup(group, desc)

    @contextlib.contextmanager
    def op(self, kind: str, job: int):
        rec = {"id": f"pb-op-{len(self.ops)}", "kind": kind, "job": job,
               "spans": []}
        self.set_group(rec["id"], f"perfbench {kind}")
        self.group_to_op[rec["id"]] = rec["id"]
        self._cur = rec
        host = hostmon.HostSample()
        rec["t0"] = time.time()
        try:
            yield rec
        finally:
            rec["t1"] = time.time()
            rec["host"] = host.close()
            self._cur = None
            self.set_group("pb-idle", "perfbench between operations")
            self.ops.append(rec)

    def own_stream(self, query) -> None:
        """Streaming jobs carry the query's run id as their job group."""
        if self._cur is not None:
            self.group_to_op[str(query.runId)] = self._cur["id"]

    def span(self, name: str, **attrs):
        if not self.enabled or self._cur is None:
            return _NULL
        return self._span(name, attrs)

    @contextlib.contextmanager
    def _span(self, name, attrs):
        rec = self._cur
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        sp = {"name": name, "t0": time.time(),
              "parent": stack[-1] if stack else -1, **attrs}
        rec["spans"].append(sp)
        stack.append(len(rec["spans"]) - 1)
        try:
            yield sp
        finally:
            stack.pop()
            sp["t1"] = time.time()

    def _patch_actions(self) -> None:
        from pyspark.sql import DataFrameWriter
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.streaming import StreamingQuery
        from qfilter_spark.dist import checkpoint

        def wrap(owner, attr, name, **fixed):
            fn = getattr(owner, attr)

            def traced(*a, **k):
                with self.span(name, **fixed):
                    return fn(*a, **k)
            setattr(owner, attr, traced)

        for attr in ("collect", "count", "toPandas"):
            wrap(DataFrame, attr, f"action.{attr}")
        for attr in ("parquet", "save"):
            wrap(DataFrameWriter, attr, "action.write")
        for attr in ("awaitTermination", "processAllAvailable"):
            wrap(StreamingQuery, attr, "action.stream")

        fn = checkpoint.MergeLineage.write_round

        def write_round(lineage, df, rnd):
            with self.span("checkpoint.write_round", rnd=int(rnd)):
                return fn(lineage, df, rnd)
        checkpoint.MergeLineage.write_round = write_round

    def span_table(self) -> dict[str, float]:
        """Seconds per span name, summed over the timed operations."""
        out: dict[str, float] = {}
        for op in self.ops:
            for sp in op["spans"]:
                out[sp["name"]] = out.get(sp["name"], 0.0) + sp["t1"] - sp["t0"]
        return out

    # -- per-layer metrics ----------------------------------------------
    def layer_metrics(self, event_log_dir: str, results: list[dict]) -> dict:
        """Per-layer metrics, averaged per job over the timed jobs."""
        ops = self.ops
        n_jobs = max(1, len({op["job"] for op in ops}))
        m: dict[str, float] = {name: 0.0 for name, _, _ in per_layer_spec()}

        logs = glob.glob(os.path.join(event_log_dir, "*"))
        ev = eventlog.per_op(eventlog.read_events(logs[0]) if logs else [],
                             ops, self.group_to_op)
        stage_op = ev.pop("stage_op")
        ev_busy = ev.pop("busy")
        op_ids = {op["id"] for op in ops}

        # kernel tallies: driver by op, workers by stage -> op
        kern: dict[str, list] = {}

        def add(layer, vals):
            acc = kern.setdefault(layer, [0, 0, 0, 0.0])
            for i, v in enumerate(vals):
                acc[i] += v
        for (op, layer), vals in self.kernels.stats.items():
            if op in op_ids:
                add(layer, vals)
        for path in glob.glob(os.path.join(self.trace_dir, "worker-*.jsonl")):
            with open(path) as f:
                for line in f:
                    for row in json.loads(line):
                        if stage_op.get(int(row[0])) in op_ids:
                            add(row[1], row[2:])
        for layer, fields in KERNEL_LAYERS:
            vals = kern.get(layer, [0, 0, 0, 0.0])
            for f in fields:
                m[f"{layer}.{f}"] = vals[_KERNEL_FIELD[f]] / n_jobs

        spans = [sp for op in ops for sp in op["spans"]]

        def span_s(name, pred=lambda sp: True):
            return sum(sp["t1"] - sp["t0"] for sp in spans
                       if sp["name"] == name and pred(sp)) / n_jobs
        for verb in ("build", "probe", "insert", "remove"):
            m[f"sharded.{verb}.s"] = span_s(f"sharded.{verb}")
        m["sharded.plan_s"] = span_s("sharded.plan")
        # the partial build runs inside the round-0 checkpoint write
        m["agg.partial.s"] = (span_s("agg.partial") + span_s(
            "checkpoint.write_round", lambda sp: sp["rnd"] == 0))
        m["agg.tree_merge.s"] = span_s("agg.tree_merge")
        m["agg.tree_merge.rounds"] = sum(
            1 for sp in spans if sp["name"] == "checkpoint.write_round"
            and sp["rnd"] > 0) / n_jobs
        m["agg.grouped.s"] = span_s("agg.grouped")
        m["checkpoint.write_round.s"] = span_s("checkpoint.write_round")

        runs = {g for g, op in self.group_to_op.items()
                if op in op_ids and not g.startswith("pb-")}
        prog = [p for p in self.progress if p["runId"] in runs]
        if prog:
            m["streaming.triggers"] = len(prog) / n_jobs
            m["streaming.trigger_ms"] = statistics.median(
                p["triggerExecution"] for p in prog)
            m["streaming.addBatch_ms"] = statistics.median(
                p["addBatch"] for p in prog)
            m["streaming.state_mb"] = max(p["state_bytes"] for p in prog) / 1e6

        tot = {f: sum(ev[op["id"]][f] for op in ops) for f in eventlog.FIELDS}
        for f in ("jobs", "stages", "tasks", "task_failures", "jvm_cpu_s",
                  "executor_run_s", "gc_s", "shuffle_write_mb",
                  "shuffle_read_mb", "spill_mb", "jobs_unattributed"):
            m[f"spark.{f}"] = tot[f] / n_jobs
        m["arrow.to_python_mb"] = tot["to_python_mb"] / n_jobs
        m["arrow.from_python_mb"] = tot["from_python_mb"] / n_jobs
        m["python.worker_run_s"] = tot["worker_run_s"] / n_jobs
        m["python.worker_start_s"] = tot["worker_start_s"] / n_jobs
        m["python.run_share"] = (tot["worker_run_s"] / tot["executor_run_s"]
                                 if tot["executor_run_s"] else 0.0)
        m["driver.idle_s"] = tot["idle_s"] / n_jobs

        probed = sum(r.get("probed_keys", 0) for r in results)
        m["blocks.decoded_per_probe"] = (
            kern.get("blocks.decode", [0, 0])[kernelspans.ITEMS] / probed
            if probed else 0.0)
        m["filter.bytes"] = sum(r.get("filter_bytes", 0) for r in results) / n_jobs
        m["filter.n_fps"] = sum(r.get("filter_n_fps", 0) for r in results) / n_jobs
        if ops:
            m["host.steal_pct"] = statistics.fmean(op["host"]["steal_pct"] for op in ops)
            m["host.load1"] = statistics.fmean(op["host"]["load1_after"] for op in ops)

        # each op's top-level spans plus the time no Spark job ran should
        # cover its wall time: what they miss is job time outside any span
        missed = wall = 0.0
        for op in ops:
            top = eventlog.merge((sp["t0"], sp["t1"]) for sp in op["spans"]
                                 if sp["parent"] == -1)
            busy = ev_busy[op["id"]]
            wall += op["t1"] - op["t0"]
            missed += eventlog.length(busy) - eventlog.overlap(busy, top)
        m["trace.span_cover"] = 1.0 - missed / wall if wall else 0.0
        self.start_unit_violations = tot["worker_start_over_wall"]
        return m


class _ProgressListener(StreamingQueryListener):
    """Keeps each streaming trigger's progress in ``sink``."""

    def __init__(self, sink: list):
        self.sink = sink

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        d = p.durationMs or {}
        self.sink.append({
            "runId": str(p.runId),
            "triggerExecution": float(d.get("triggerExecution", 0)),
            "addBatch": float(d.get("addBatch", 0)),
            "state_bytes": sum(int(s.memoryUsedBytes or 0)
                               for s in (p.stateOperators or ())),
        })

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass
