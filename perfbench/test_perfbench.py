"""Tests of the benchmark's own helpers: python -m pytest perfbench -q"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import eventlog, harness  # noqa: E402


# ---------------------------------------------------------------------------
# tail percentile rule
# ---------------------------------------------------------------------------


def test_tail_needs_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]  # 1..100
    value, pct, n = harness.tail(xs)
    # exactly ten samples (91..100) lie beyond the reported one
    assert (value, pct, n) == (90.0, 90.0, 100)
    assert sum(x > value for x in xs) == 10


def test_tail_of_eleven_is_the_minimum_and_of_ten_the_maximum():
    eleven = [3.0, 1.0, 2.0, 9.0, 8.0, 7.0, 6.0, 5.0, 4.0, 10.0, 11.0]
    assert harness.tail(eleven) == (1.0, pytest.approx(100 / 11), 11)
    assert harness.tail(eleven[:10]) == (10.0, 100.0, 10)
    with pytest.raises(ValueError):
        harness.tail([])


# ---------------------------------------------------------------------------
# failure counting
# ---------------------------------------------------------------------------


def test_raising_operation_counts_as_failed_and_run_goes_on():
    rec = harness.Recorder()

    def boom():
        raise RuntimeError("injected")

    first = rec.op("boom", boom)
    second = rec.op("fine", lambda: 41 + 1, lambda v: None if v == 42 else "wrong")
    assert not first.ok and "injected" in first.error
    assert second.ok and second.value == 42
    assert (rec.attempted, rec.failed) == (2, 1)


def test_failed_or_crashing_check_counts_as_failed():
    rec = harness.Recorder()
    rec.op("mismatch", lambda: 1, lambda v: "expected 2")
    rec.op("check raises", lambda: 1, lambda v: 1 / 0)
    assert (rec.attempted, rec.failed) == (2, 2)
    assert "expected 2" in rec.errors[0] and "ZeroDivisionError" in rec.errors[1]


# ---------------------------------------------------------------------------
# event-log attribution
# ---------------------------------------------------------------------------


def _job(jid, group, stages, t0, t1):
    start = {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": t0,
             "Stage IDs": stages, "Properties": {"spark.jobGroup.id": group} if group else {}}
    end = {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": t1,
           "Job Result": {"Result": "JobSucceeded"}}
    return start, end


def _task(stage, cpu_ns, run_ms, shuffle=0, failed=False):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task End Reason": {"Reason": "ExceptionFailure" if failed else "Success"},
            "Task Info": {"Failed": failed},
            "Task Metrics": {"Executor CPU Time": cpu_ns, "Executor Run Time": run_ms,
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
                             "Disk Bytes Spilled": 0}}


def _synthetic_events():
    a0, a1 = _job(0, "a#1", [0], 1000, 2000)
    b0, b1 = _job(1, "b#2", [1, 2], 2000, 3000)
    u0, u1 = _job(2, None, [3], 3000, 3500)
    r0, r1 = _job(3, "a#1", [0, 4], 3500, 4000)  # stage 0 reused: skipped
    return [a0, _task(0, 1e9, 500), _task(0, 1e9, 500, shuffle=2**20), a1,
            b0, _task(1, 5e8, 100), b1,
            u0, _task(3, 0, 10, failed=True), u1,
            r0, _task(4, 2e9, 1000), r1]


def test_each_group_receives_exactly_its_jobs_and_unattributed_are_counted():
    jobs, tasks = eventlog.parse(_synthetic_events())
    c = eventlog.attribute(jobs, tasks, lambda j: j.group)
    assert (c["a#1"].jobs, c["a#1"].tasks) == (2, 3)
    assert c["a#1"].cpu_s == pytest.approx(4.0)
    assert c["a#1"].shuffle_mb == pytest.approx(1.0)
    assert (c["b#2"].jobs, c["b#2"].tasks) == (1, 1)
    assert (c[None].jobs, c[None].tasks, c[None].failed_tasks) == (1, 1, 1)
    # wall time of [1.0, 4.0] not covered by group a's jobs: 2.0 .. 3.5
    assert c["a#1"].busy_s(1.0, 4.0) == pytest.approx(1.5)


def test_interval_assignment_for_calls_that_cannot_be_wrapped():
    jobs, _ = eventlog.parse(_synthetic_events())
    find = eventlog.by_interval({"extract": [(0.9, 2.5)], "dedup": [(3.2, 3.9)]})
    assert [find(jobs[i]) for i in range(4)] == ["extract", "extract", None, "dedup"]


def test_event_files_reads_rolling_directory_in_order(tmp_path):
    d = tmp_path / "eventlog_v2_app-1"
    d.mkdir()
    for n in (2, 10, 1):
        (d / f"events_{n}_app-1").write_text(json.dumps({"n": n}) + "\n")
    (d / "appstatus_app-1").write_text("")
    got = [e["n"] for e in eventlog.read_events(eventlog.event_files(tmp_path))]
    assert got == [1, 2, 10]


def test_spark_job_groups_match_the_event_log(tmp_path):
    """End to end: the jobs Spark lists per group are the ones the
    event-log attribution gives that group."""
    pytest.importorskip("pyspark")
    keys = ("PYTHONPATH", "SPARK_LOCAL_DIRS", "TMPDIR")
    env = [harness.os.environ.get(k) for k in keys]
    spark = harness.start_spark(tmp_path / "work", tmp_path / "eventlog")
    assert [harness.os.environ.get(k) for k in keys] == env  # only the JVM saw them
    try:
        sc = spark.sparkContext
        spans = harness.Spans(sc)
        spans.run("one", lambda: spark.range(100).count())
        spans.run("two", lambda: [spark.range(10).collect() for _ in range(3)])
        spark.range(5).count()  # outside every span
        expect = {s.group: set(sc.statusTracker().getJobIdsForGroup(s.group)) for s in spans.spans}
        pids = harness.spark_pids()
    finally:
        harness.stop_spark(spark)
    assert pids and not harness.alive(pids)
    jobs, tasks = eventlog.parse(eventlog.read_events(eventlog.event_files(tmp_path / "eventlog")))
    got: dict = {}
    for j in jobs.values():
        got.setdefault(j.group, set()).add(j.job_id)
    for group, ids in expect.items():
        assert ids and got[group] == ids
    counters = eventlog.attribute(jobs, tasks, lambda j: j.group)
    assert counters[None].jobs >= 1


# ---------------------------------------------------------------------------
# metric inventory, memory
# ---------------------------------------------------------------------------


def test_layer_map_covers_every_per_layer_metric_once():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    rows = json.loads((ROOT / "perfbench" / "layer_map.json").read_text())
    mapped = [m for row in rows for m in row["metrics"]]
    assert sorted(mapped) == sorted(m["name"] for m in spec["per_layer"])
    e2e = {m["name"] for m in spec["end_to_end"]}
    assert all(set(row["moves"]) <= e2e for row in rows)


def test_process_memory_sums_over_processes():
    import subprocess

    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(5)"])
    try:
        assert child.pid in harness.descendants(harness.os.getpid())
        me, alone = harness.pss_bytes([harness.os.getpid()]), harness.pss_bytes([child.pid])
        assert 0 < alone and harness.pss_bytes([harness.os.getpid(), child.pid]) == pytest.approx(
            me + alone, rel=0.05
        )
    finally:
        child.kill()
        child.wait(timeout=10)


def test_helper_process_answers_raises_and_is_gone_after_exit():
    with harness.Helper() as helper:
        assert helper(divmod, 7, 2) == (3, 1)
        with pytest.raises(RuntimeError, match="ZeroDivisionError"):
            helper(divmod, 1, 0)
        assert helper(print, "to stderr") is None  # prints do not break the stream
        pid = helper._proc.pid
        assert harness.alive([pid])
    assert not harness.alive([pid])
