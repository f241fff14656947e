"""Tests of the benchmark itself: python -m pytest perfbench/tests -q"""

from __future__ import annotations

import hashlib
import os
import shlex
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [os.path.dirname(BENCH), BENCH]

import gen  # noqa: E402
import spans  # noqa: E402

TINY = {
    "n_ref": 3_000, "n_query": 200, "n_train": 100, "n_dedup": 300,
    "n_first": 300, "n_last": 1_000, "n_place": 100, "max_cluster": 10,
}


def _digests(d):
    return {
        os.path.relpath(os.path.join(root, f), d): hashlib.sha256(open(os.path.join(root, f), "rb").read()).hexdigest()
        for root, _, files in os.walk(d) for f in files
    }


def test_generator_is_deterministic(tmp_path, monkeypatch):
    monkeypatch.setattr(gen, "SIZES", TINY)
    a, b, c = (gen.generate(str(tmp_path / n), s) for n, s in (("a", 7), ("b", 7), ("c", 8)))
    assert a == b
    assert _digests(tmp_path / "a") == _digests(tmp_path / "b")
    assert _digests(tmp_path / "a") != _digests(tmp_path / "c")
    truth = gen.load_truth(str(tmp_path / "a"))
    assert sum(len(m) for m in truth["clusters"]) == TINY["n_dedup"]
    assert max(len(m) for m in truth["clusters"]) <= TINY["max_cluster"]


def test_eventlog_parser_on_recorded_log():
    """The log holds job 0 (group one.job#0, 2 tasks), jobs 1-2 (group
    two.jobs#1, a shuffle then a result stage: 7 tasks) and job 3 with no
    group, which the ungrouped span's window claims."""
    with open(os.path.join(HERE, "data", "eventlog_small.jsonl")) as fh:
        jobs = spans.parse_eventlog(fh)
    assert sorted(jobs) == [0, 1, 2, 3]

    def span(name, group, job_ids, pad_ms=100.0):
        lo = min(jobs[j].submit_ms for j in job_ids) - pad_ms
        hi = max(jobs[j].end_ms for j in job_ids) + pad_ms
        return spans.Span(name, group, lo, hi, (hi - lo) / 1e3, tracker_jobs=job_ids if group else [])

    recorded = [
        span("one.job", "one.job#0", [0]),
        span("two.jobs", "two.jobs#1", [1, 2]),
        span("ungrouped", None, [3]),
    ]
    metrics, mismatched = spans.report(recorded, jobs, {"two.jobs"})
    assert mismatched == []
    assert (metrics["one.job.jobs"], metrics["one.job.tasks"]) == (1, 2)
    assert (metrics["two.jobs.jobs"], metrics["two.jobs.tasks"]) == (2, 7)
    assert (metrics["ungrouped.jobs"], metrics["ungrouped.tasks"]) == (1, 1)
    assert metrics["two.jobs.shuffle_mb"] == pytest.approx(414 / 1e6)
    assert metrics["one.job.driver_gap_s"] == pytest.approx(0.2)
    # jobs 1 and 2 leave a gap between them: 82 ms
    assert metrics["two.jobs.driver_gap_s"] == pytest.approx(0.2 + 0.082)
    assert metrics["two.jobs.task_skew"] == pytest.approx(927 / 925)
    assert metrics["one.job.exec_cpu_s"] == pytest.approx(
        sum(t["cpu_ns"] for t in jobs[0].tasks) / 1e9
    )


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    events = tmp_path_factory.mktemp("events")
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([
        "--conf", "spark.eventLog.enabled=true",
        "--conf", "spark.eventLog.compress=false",
        "--conf", "spark.eventLog.rolling.enabled=false",
        "--conf", f"spark.eventLog.dir={events}",
        "--conf", "spark.ui.showConsoleProgress=false",
        "pyspark-shell",
    ])
    os.environ["SPARK_DRIVER_MEMORY"] = "1g"
    from backend_spark.session import get_session

    s = get_session("perfbench-tests", cpus=2)
    s.events_dir = str(events)
    yield s
    s.stop()


def _logged_jobs(events_dir, n_jobs, timeout=30.0):
    """Jobs in the live event log, once ``n_jobs`` of them have ended (the
    listener bus writes asynchronously)."""
    deadline = time.time() + timeout
    while True:
        (log,) = [os.path.join(events_dir, f) for f in os.listdir(events_dir)]
        with open(log) as fh:
            lines = [ln for ln in fh if ln.endswith("\n")]
        jobs = spans.parse_eventlog(lines)
        if sum(j.end_ms is not None for j in jobs.values()) >= n_jobs or time.time() > deadline:
            return jobs
        time.sleep(0.2)


def test_one_job_call_records_one_job(spark):
    tracer = spans.Tracer(spark.sparkContext)
    with tracer.span("probe.sum"):
        assert spark.sparkContext.parallelize(range(100), 2).sum() == 4950
    tracer.read_tracker()
    (s,) = tracer.spans
    jobs = _logged_jobs(spark.events_dir, n_jobs=len(s.tracker_jobs))
    metrics, mismatched = spans.report(tracer.spans, jobs, set())
    assert len(s.tracker_jobs) == 1
    assert mismatched == []
    assert metrics["probe.sum.jobs"] == 1
    assert metrics["probe.sum.tasks"] == 2


def test_live_responses_equal_bulk_rows_on_tiny_seed(spark, tmp_path, monkeypatch):
    import workloads

    monkeypatch.setattr(gen, "SIZES", TINY)
    data = str(tmp_path / "data")
    gen.generate(data, 3)
    live = workloads.Live(data, str(tmp_path / "work"))
    live.setup(spark)
    try:
        results = [(i, 0.0, live.request(live.batches[i])) for i in range(3)]
        assert live.check_responses(results) == []
        assert sum(len(rows) for _, _, rows in results) > 0
        # a response that lost a row must be caught
        i, dt, rows = next(r for r in results if r[2])
        assert len(live.check_responses([(i, dt, rows[1:])])) == 1
    finally:
        live.teardown()
