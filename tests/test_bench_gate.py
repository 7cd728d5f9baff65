"""bench.py: the host-load gate and the per-query measurement.

The gate: the r11 round artifact was taken at loadavg 9.4 and read 1.25x
slow until normalized after the fact — the gate makes the committed
number binding again by waiting (bounded) for an idle host and stamping
``hot_host: true`` when it never drains. Those tests monkeypatch loadavg
and sleep and start no Spark session.

The measurement: ``bench.time_one`` runs one query as a noop write and
reads its counters from ``StatusReader``; its job count must be the one
``count_jobs`` sees, and a failing query must be recorded, not raised.
"""

from __future__ import annotations

from pyspark.sql import functions as F

import bench
from financial_data_engineering_spark import queries as q
from perfbench.sparkstate import StatusReader
from tests.conftest import SF_SMALL, count_jobs


def test_idle_host_passes_immediately(monkeypatch):
    monkeypatch.setenv("FDES_BENCH_LOADAVG_MAX", "2.0")
    monkeypatch.setattr(bench, "_loadavg1", lambda: 0.5)
    monkeypatch.setattr(
        bench.time, "sleep", lambda s: (_ for _ in ()).throw(AssertionError)
    )
    load, hot = bench._wait_for_idle_host()
    assert load == 0.5 and hot is False


def test_hot_host_drains_within_budget(monkeypatch):
    monkeypatch.setenv("FDES_BENCH_LOADAVG_MAX", "2.0")
    monkeypatch.setenv("FDES_BENCH_LOADAVG_WAIT", "300")
    samples = iter([9.4, 5.0, 1.1])
    monkeypatch.setattr(bench, "_loadavg1", lambda: next(samples))
    slept: list[float] = []
    monkeypatch.setattr(bench.time, "sleep", slept.append)
    load, hot = bench._wait_for_idle_host()
    assert load == 1.1 and hot is False
    assert len(slept) == 2 and all(s <= 30 for s in slept)


def test_persistently_hot_host_is_flagged_not_fatal(monkeypatch):
    monkeypatch.setenv("FDES_BENCH_LOADAVG_MAX", "2.0")
    monkeypatch.setenv("FDES_BENCH_LOADAVG_WAIT", "60")
    monkeypatch.setattr(bench, "_loadavg1", lambda: 9.4)
    # advance a fake clock so the budget expires after two polls
    clock = iter([0.0, 0.0, 30.0, 30.0, 60.0, 60.0, 90.0, 90.0])
    monkeypatch.setattr(bench.time, "monotonic", lambda: next(clock))
    monkeypatch.setattr(bench.time, "sleep", lambda s: None)
    load, hot = bench._wait_for_idle_host()
    assert load == 9.4 and hot is True


def test_no_loadavg_platform_is_not_hot(monkeypatch):
    monkeypatch.setattr(bench, "_loadavg1", lambda: None)
    load, hot = bench._wait_for_idle_host()
    assert load is None and hot is False


def test_parse_only_names_and_file(tmp_path):
    f = tmp_path / "names.txt"
    f.write_text("q_one\nq_two\n\n  q_three \n")
    keep = bench._parse_only(f"q_zero, @{f}, q_four")
    assert keep == {"q_zero", "q_one", "q_two", "q_three", "q_four"}


def test_failure_description_keeps_class_and_first_line():
    exc = ValueError("[UNABLE_TO_INFER_SCHEMA] no schema\n\tat org.apache.spark...")
    assert bench._describe_failure(exc) == "ValueError: [UNABLE_TO_INFER_SCHEMA] no schema"
    assert bench._describe_failure(KeyError()) == "KeyError: "


def test_recorded_jobs_equal_count_jobs(spark):
    reader = StatusReader(spark)
    reader.skip()
    query = q.all_queries()["top_customers_by_revenue"]
    with count_jobs(spark) as counted:
        wall, counters, error = bench.time_one(spark, reader, query, SF_SMALL)
    assert error is None and wall >= 0
    assert counters["jobs"] == counted.n > 0
    assert set(counters) == {
        "plan_s", "jobs", "stages", "tasks", "executor_cpu_s",
        "shuffle_write_mb", "spill_mb", "python_s",
    }
    assert counters["stages"] >= counters["jobs"]
    assert counters["tasks"] > 0
    assert 0 <= counters["plan_s"] <= wall


def test_failing_query_is_recorded_not_raised(spark):
    reader = StatusReader(spark)
    reader.skip()

    def broken(spark, sf_dir):
        return spark.range(4).select(F.raise_error(F.lit("boom in a task")))

    wall, counters, error = bench.time_one(spark, reader, broken, SF_SMALL)
    assert wall == -1.0
    assert "boom in a task" in error and "\n" not in error
    assert counters["jobs"] >= 1 and counters["tasks"] >= 1
