#!/usr/bin/env python3
"""Check the unit of Spark's "time to start Python workers" metric against
wall clock on a tiny job.

    python3 perfbench/check_units.py

Runs one cold Python UDF job on local[2] with an event log, then compares
each task's update of the metric with the task's own wall time. Worker
start happens inside the task, so in the right unit no update can exceed
its task's wall time, and a cold worker start takes tens of milliseconds
or more. Prints the verdict and exits 0 only when milliseconds fit.
"""

from __future__ import annotations

import glob
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import eventlog  # noqa: E402


def _slow_identity(batches):
    for b in batches:
        time.sleep(0.2)
        yield b


def main() -> int:
    from pyspark.sql import SparkSession

    work = os.path.join(os.getcwd(), ".perfbench_work", f"units-{os.getpid()}")
    logs = os.path.join(work, "eventlog")
    os.makedirs(logs)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    spark = (SparkSession.builder.master("local[2]")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
             .config("spark.driver.extraJavaOptions",
                     "-XX:-UsePerfData -Djava.io.tmpdir=" + os.path.join(work, "tmp"))
             .config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", logs)
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false")
             .getOrCreate())
    try:
        spark.range(0, 1000, 1, 4).mapInArrow(_slow_identity, "id long").collect()
    finally:
        spark.stop()

    rows = []
    for e in eventlog.read_events(glob.glob(os.path.join(logs, "*"))[0]):
        if e["Event"] != "SparkListenerTaskEnd":
            continue
        info = e["Task Info"]
        for acc in info.get("Accumulables", ()):
            if acc.get("Name") == eventlog.PY_START_MS and acc.get("Update") is not None:
                rows.append((int(acc["Update"]), info["Finish Time"] - info["Launch Time"]))
    shutil.rmtree(work, ignore_errors=True)
    for start, wall in rows:
        print(f"task wall {wall} ms, worker start update {start}")
    fits_ms = bool(rows) and all(s <= w for s, w in rows) and max(s for s, _ in rows) >= 10
    print("unit: milliseconds" if fits_ms else "unit: unresolved")
    return 0 if fits_ms else 1


if __name__ == "__main__":
    sys.exit(main())
