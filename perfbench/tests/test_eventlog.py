"""Event-log parser, on a log recorded from a traced vector_search run.

The sample keeps the log-start event, two jobs of the job group
``similarity.lsh_pairs_above@2`` and one set-up job without a group, with
every TaskEnd of their stages, unedited.

    python3 -m pytest perfbench/tests -q
"""

import json
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import eventlog  # noqa: E402

SAMPLE = Path(__file__).with_name("data") / "eventlog_sample.jsonl"
GROUP = "similarity.lsh_pairs_above@2"


def test_recorded_log_totals_per_group():
    groups = eventlog.parse_file(str(SAMPLE))
    assert set(groups) == {GROUP, ""}
    g = groups[GROUP]
    assert (g.jobs, g.tasks) == (2, 2)
    assert g.executor_cpu_s == pytest.approx(6271869 / 1e9)
    assert g.shuffle_bytes == 59
    assert g.gc_s == 0.0
    assert (groups[""].jobs, groups[""].tasks) == (1, 1)


def test_recorded_log_scheduler_delay_is_nonnegative_and_bounded():
    groups = eventlog.parse_file(str(SAMPLE))
    events = [json.loads(line) for line in SAMPLE.read_text().splitlines()]
    wall = sum(
        e["Task Info"]["Finish Time"] - e["Task Info"]["Launch Time"]
        for e in events if e["Event"] == "SparkListenerTaskEnd"
    ) / 1e3
    total = sum(g.scheduler_delay_s for g in groups.values())
    assert 0.0 <= total <= wall


def _job(job_id, stages, group=None):
    props = {"spark.jobGroup.id": group} if group else {}
    return json.dumps({"Event": "SparkListenerJobStart", "Job ID": job_id,
                       "Stage IDs": stages, "Properties": props})


def _task(stage, launch, finish, run_ms, cpu_ns=0, gc_ms=0, shuffle=0, deser=0):
    return json.dumps({
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Launch Time": launch, "Finish Time": finish, "Getting Result Time": 0},
        "Task Metrics": {
            "Executor Deserialize Time": deser, "Executor Run Time": run_ms,
            "Result Serialization Time": 0, "Executor CPU Time": cpu_ns,
            "JVM GC Time": gc_ms,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
        },
    })


def test_stages_follow_the_job_that_listed_them():
    lines = [
        _job(0, [0, 1], "a@1"),
        _task(0, 1000, 1100, run_ms=80, cpu_ns=5_000_000, shuffle=10),
        _task(1, 1000, 1050, run_ms=50, gc_ms=7),
        _job(1, [2], "b@1"),
        _task(2, 2000, 2300, run_ms=200, deser=40, shuffle=5),
        _task(9, 0, 10, run_ms=10),  # stage of no known job
        "",
    ]
    groups = eventlog.parse(lines)
    a, b = groups["a@1"], groups["b@1"]
    assert (a.jobs, a.tasks, a.shuffle_bytes) == (1, 2, 10)
    assert a.executor_cpu_s == pytest.approx(0.005)
    assert a.gc_s == pytest.approx(0.007)
    # delay = duration - (deserialize + run + result serialization + fetch)
    assert a.scheduler_delay_s == pytest.approx((100 - 80 + 50 - 50) / 1e3)
    assert b.scheduler_delay_s == pytest.approx((300 - 240) / 1e3)
    assert (groups[""].jobs, groups[""].tasks) == (0, 1)


def test_delay_never_negative():
    lines = [_job(0, [0], "g"), _task(0, 0, 10, run_ms=50)]
    assert eventlog.parse(lines)["g"].scheduler_delay_s == 0.0
