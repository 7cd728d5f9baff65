"""bench.py host-load gate: the r11 round artifact was taken at
loadavg 9.4 and read 1.25x slow until normalized after the fact — the
gate makes the committed number binding again by waiting (bounded) for
an idle host and stamping ``hot_host: true`` when it never drains.

Pure-unit tests: loadavg and sleep are monkeypatched; no Spark session.
"""

from __future__ import annotations

import bench


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
