"""Self-test of the event-log parser on a tiny synthetic log.

Run: python3 perfbench/test_eventlog.py
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import eventlog  # noqa: E402


def _task(stage, launch, finish, run_ms, cpu_ns, accs, ok=True):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task End Reason": {"Reason": "Success" if ok else "ExceptionFailure"},
            "Task Info": {"Launch Time": launch, "Finish Time": finish,
                          "Failed": not ok,
                          "Accumulables": [{"Name": k, "Update": str(v)}
                                           for k, v in accs.items()]},
            "Task Metrics": {"Executor Run Time": run_ms,
                             "Executor CPU Time": cpu_ns, "JVM GC Time": 10,
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": 2_000_000},
                             "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                                      "Local Bytes Read": 1_000_000},
                             "Disk Bytes Spilled": 0}}


def synthetic_log():
    def job(jid, t, stages, group=None):
        props = {"spark.jobGroup.id": group} if group else {}
        return {"Event": "SparkListenerJobStart", "Job ID": jid,
                "Submission Time": t, "Stage IDs": stages, "Properties": props}

    def end(jid, t):
        return {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": t}

    def stage_done(sid):
        return {"Event": "SparkListenerStageCompleted",
                "Stage Info": {"Stage ID": sid, "Number of Tasks": 1}}

    py = {eventlog.ARROW_TO_PY: 3_000_000, eventlog.ARROW_FROM_PY: 1_000_000,
          eventlog.PY_RUN_MS: 400, eventlog.PY_START_MS: 50}
    return [
        # op A (t 10..12 s): one grouped job with two stages
        job(0, 10_100, [0, 1], "pb-op-0"),
        _task(0, 10_100, 10_600, 500, 2e8, py),
        _task(1, 10_600, 11_000, 400, 1e8, {}, ok=False),
        stage_done(0), stage_done(1),
        end(0, 11_000),
        # a job from a pool thread with no group, inside op A
        job(1, 11_200, [2]),
        _task(2, 11_200, 11_500, 300, 1e8, {eventlog.PY_START_MS: 900}),
        stage_done(2),
        end(1, 11_500),
        # setup job: no operation owns it
        job(2, 5_000, [3], "pb-setup"),
        _task(3, 5_000, 5_100, 100, 1e7, {}),
        end(2, 5_100),
        # op B (t 20..21 s): a streaming job under its run id
        job(3, 20_200, [4], "run-xyz"),
        _task(4, 20_200, 20_700, 500, 3e8, py),
        end(3, 20_700),
    ]


def test_per_op():
    ops = [{"id": "pb-op-0", "t0": 10.0, "t1": 12.0},
           {"id": "pb-op-1", "t0": 20.0, "t1": 21.0}]
    res = eventlog.per_op(synthetic_log(), ops,
                          {"pb-op-0": "pb-op-0", "pb-op-1": "pb-op-1",
                           "run-xyz": "pb-op-1"})
    a, b = res["pb-op-0"], res["pb-op-1"]
    assert a["jobs"] == 2 and a["jobs_unattributed"] == 1, a
    assert a["stages"] == 3 and a["tasks"] == 3 and a["task_failures"] == 1, a
    assert abs(a["jvm_cpu_s"] - 0.4) < 1e-9, a
    assert abs(a["executor_run_s"] - 1.2) < 1e-9, a
    assert abs(a["gc_s"] - 0.03) < 1e-9, a
    assert abs(a["shuffle_write_mb"] - 6.0) < 1e-9, a
    assert abs(a["shuffle_read_mb"] - 3.0) < 1e-9, a
    assert abs(a["to_python_mb"] - 3.0) < 1e-9, a
    assert abs(a["worker_run_s"] - 0.4) < 1e-9, a
    assert abs(a["worker_start_s"] - 0.95) < 1e-9, a
    # 900 ms of worker start inside a 300 ms task cannot be milliseconds
    assert a["worker_start_over_wall"] == 1, a
    # busy 10.1..11.0 and 11.2..11.5 of the 2 s op
    assert abs(a["idle_s"] - 0.8) < 1e-9, a
    assert b["jobs"] == 1 and b["jobs_unattributed"] == 0, b
    assert abs(b["idle_s"] - 0.5) < 1e-9, b
    assert res["busy"]["pb-op-0"] == [(10.1, 11.0), (11.2, 11.5)], res["busy"]
    assert eventlog.overlap([(0, 2), (3, 5)], [(1, 4)]) == 2
    assert res["stage_op"] == {0: "pb-op-0", 1: "pb-op-0", 2: "pb-op-0",
                               4: "pb-op-1"}, res["stage_op"]


if __name__ == "__main__":
    test_per_op()
    print("eventlog self-test passed")
