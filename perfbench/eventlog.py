"""Per-operation totals from a Spark event log (uncompressed, one JSON
event per line).

Jobs are attributed to operations through the job group the benchmark
sets (``spark.jobGroup.id``). A job without a group, or with a group that
no operation owns, is counted in ``jobs_unattributed`` and assigned to the
operation whose wall interval holds its submission time, so its work is
still counted.
"""

from __future__ import annotations

import json

# SQL metric names of the Python/Arrow boundary, as PythonSQLMetrics
# registers them. Their task updates are bytes or milliseconds.
ARROW_TO_PY = "data sent to Python workers"
ARROW_FROM_PY = "data returned from Python workers"
PY_RUN_MS = "time to run Python workers"
PY_START_MS = "time to start Python workers"

FIELDS = ("jobs", "jobs_unattributed", "stages", "tasks", "task_failures",
          "jvm_cpu_s", "executor_run_s", "gc_s", "shuffle_write_mb",
          "shuffle_read_mb", "spill_mb", "to_python_mb", "from_python_mb",
          "worker_run_s", "worker_start_s", "worker_start_over_wall",
          "idle_s")


def read_events(path: str):
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line:
                yield json.loads(line)


def merge(intervals) -> list[tuple[float, float]]:
    """Sorted, disjoint union of (start, end) intervals."""
    out: list[list[float]] = []
    for a, b in sorted(intervals):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def length(merged) -> float:
    return sum(b - a for a, b in merged)


def overlap(xs, ys) -> float:
    """Length of the intersection of two merged interval lists."""
    i = j = 0
    total = 0.0
    while i < len(xs) and j < len(ys):
        lo, hi = max(xs[i][0], ys[j][0]), min(xs[i][1], ys[j][1])
        if hi > lo:
            total += hi - lo
        if xs[i][1] < ys[j][1]:
            i += 1
        else:
            j += 1
    return total


def per_op(events, ops: list[dict], group_to_op: dict[str, str]) -> dict:
    """Totals per operation id.

    ``ops``: [{"id", "t0", "t1"}] with wall times in epoch seconds;
    ``group_to_op``: job group id -> operation id (the benchmark's own
    groups, plus streaming run ids mapped to the operation that ran them).
    Also returns each stage's operation under the key ``"stage_op"``, and
    under ``"busy"`` each operation's merged intervals (epoch seconds) in
    which at least one Spark job ran.
    """
    out = {op["id"]: dict.fromkeys(FIELDS, 0) for op in ops}
    job_op, stage_op, job_span = {}, {}, {}

    def op_at(t_ms):
        t = t_ms / 1000.0
        for op in ops:
            if op["t0"] <= t <= op["t1"]:
                return op["id"]
        return None

    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            op = group_to_op.get(group) if group else None
            if op is None:
                op = op_at(e["Submission Time"])
                if op is not None:
                    out[op]["jobs_unattributed"] += 1
            job_op[e["Job ID"]] = op
            job_span[e["Job ID"]] = [e["Submission Time"], None]
            if op is not None:
                out[op]["jobs"] += 1
                for s in e["Stage IDs"]:
                    stage_op.setdefault(s, op)
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in job_span:
                job_span[e["Job ID"]][1] = e["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            op = stage_op.get(e["Stage Info"]["Stage ID"])
            if op is not None and e["Stage Info"].get("Number of Tasks", 1):
                out[op]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            op = stage_op.get(e["Stage ID"])
            if op is None:
                continue
            o, info = out[op], e["Task Info"]
            m = e.get("Task Metrics") or {}
            o["tasks"] += 1
            if info.get("Failed") or e["Task End Reason"]["Reason"] != "Success":
                o["task_failures"] += 1
            o["jvm_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            o["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            o["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            sw = m.get("Shuffle Write Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            o["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
            o["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0)
                                     + sr.get("Local Bytes Read", 0)) / 1e6
            o["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 1e6
            wall_ms = info["Finish Time"] - info["Launch Time"]
            for acc in info.get("Accumulables", ()):
                name, upd = acc.get("Name"), acc.get("Update")
                if upd is None:
                    continue
                if name == ARROW_TO_PY:
                    o["to_python_mb"] += int(upd) / 1e6
                elif name == ARROW_FROM_PY:
                    o["from_python_mb"] += int(upd) / 1e6
                elif name == PY_RUN_MS:
                    o["worker_run_s"] += int(upd) / 1e3
                elif name == PY_START_MS:
                    o["worker_start_s"] += int(upd) / 1e3
                    # a start time longer than its own task means the
                    # update is not in milliseconds
                    o["worker_start_over_wall"] += int(int(upd) > wall_ms)

    busy_by_op = {}
    for op in ops:
        lo, hi = op["t0"], op["t1"]
        busy = [(max(lo, a / 1000.0), min(hi, b / 1000.0 if b is not None else hi))
                for a, b in job_span.values()]
        busy = merge((a, b) for a, b in busy if b > a)
        busy_by_op[op["id"]] = busy
        out[op["id"]]["idle_s"] = hi - lo - length(busy)
    out["stage_op"] = stage_op
    out["busy"] = busy_by_op
    return out
