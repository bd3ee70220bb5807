"""Python worker entry point for traced runs (``spark.python.worker.module``).

The PySpark daemon only accepts a worker module whose name starts with
``pyspark``. Importing this module patches the qfilter_spark kernels once
in the daemon, so every forked worker inherits the spans. Tallies are keyed
by stage id; the driver maps stages to operations through the event log.
A worker may be killed instead of exiting, so each task's tallies are
appended to ``$PERFBENCH_TRACE_DIR/worker-<pid>.jsonl`` when the task ends.
"""

import json
import os

from pyspark import TaskContext
from pyspark.worker import main as _worker_main

import kernelspans


def _stage():
    tc = TaskContext.get()
    return None if tc is None else str(tc.stageId())


_REC = kernelspans.Recorder(_stage)
kernelspans.install(_REC)


def _flush():
    stats = _REC.take()
    if not stats:
        return
    rows = [[stage, layer] + vals for (stage, layer), vals in stats.items()]
    path = os.path.join(os.environ["PERFBENCH_TRACE_DIR"],
                        f"worker-{os.getpid()}.jsonl")
    with open(path, "a") as f:
        f.write(json.dumps(rows) + "\n")


def main(infile, outfile):
    try:
        _worker_main(infile, outfile)
    finally:
        _flush()
