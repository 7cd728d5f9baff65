"""Shared pytest fixtures: one session-scoped SparkSession and canned frames
mirroring the reference's fixture matrix (reference: tests/conftest.py) as
Spark DataFrames.
"""

from __future__ import annotations

import contextlib
import threading
import types
import uuid

import pytest
from pyspark.sql import SparkSession

from financial_data_engineering_spark.session import get_spark

SF_SMALL = "/root/testdata/sf0.001"
SF_MEDIUM = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark() -> SparkSession:
    session = get_spark("tests", shuffle_partitions=8)
    yield session


@contextlib.contextmanager
def count_jobs(spark):
    """Count the Spark jobs submitted inside the ``with`` block. The block
    runs under a fresh job group; on exit the listener bus is drained
    (the status store learns of jobs asynchronously) and the group's job
    ids are counted. Yields a namespace whose ``n`` is that count after
    the block.
    """
    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    counted = types.SimpleNamespace(n=None)
    try:
        yield counted
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        counted.n = len(sc.statusTracker().getJobIdsForGroup(group))


def run_within(fn, seconds=120):
    """``fn()`` on a daemon thread, failing if it has not returned after
    ``seconds``: a row count observed on a job that never ran would block
    ``Observation.get`` forever, and this turns that hang into a failure.
    Returns ``fn``'s result and re-raises its exception."""
    box = {}

    def run():
        try:
            box["result"] = fn()
        except BaseException as exc:  # noqa: BLE001 — re-raised below
            box["error"] = exc

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(seconds)
    assert not t.is_alive(), f"still blocked after {seconds} s"
    if "error" in box:
        raise box["error"]
    return box["result"]


@pytest.fixture()
def clean_df(spark):
    """Fully valid frame (reference conftest.py:125-133)."""
    return spark.createDataFrame(
        [
            (1, "AAPL", 150.0, "tech@apple.com"),
            (2, "MSFT", 300.0, "ir@microsoft.com"),
            (3, "GOOG", 2800.0, "contact@google.com"),
        ],
        "id int, ticker string, price double, email string",
    )


@pytest.fixture()
def messy_df(spark):
    """Nulls, duplicate keys, out-of-range values, malformed email
    (reference conftest.py:136-144)."""
    return spark.createDataFrame(
        [
            (1, "AAPL", 150.0, "tech@apple.com"),
            (1, "AAPL", 150.0, "tech@apple.com"),
            (2, None, -5.0, "not-an-email"),
            (3, "GOOG", 99999.0, None),
            (None, "MSFT", 300.0, "ir@microsoft.com"),
        ],
        "id int, ticker string, price double, email string",
    )
