"""Star-schema builder, date dimension, and key functions."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from financial_data_engineering_spark.functions.keys import date_key, surrogate_key
from financial_data_engineering_spark.operators import anti_join_orphans
from financial_data_engineering_spark.tables import load
from financial_data_engineering_spark.transform import (
    StarSchemaBuilder,
    build_date_dimension,
)
from tests.conftest import SF_SMALL, count_jobs, run_within


def test_surrogate_key_matches_reference_scheme(spark):
    # hashlib.md5(b'ALGERIA|0').hexdigest()[:12]
    import hashlib

    expected = hashlib.md5(b"ALGERIA|0").hexdigest()[:12]
    df = spark.createDataFrame([("ALGERIA", 0)], "name string, key int")
    row = df.select(surrogate_key(F.col("name"), F.col("key")).alias("sk")).collect()[0]
    assert row["sk"] == expected


def test_date_key_int_yyyymmdd(spark):
    df = spark.createDataFrame([("2024-03-07 10:30:00",)], "d string")
    assert df.select(date_key(F.col("d")).alias("k")).collect()[0]["k"] == 20240307


def test_date_dimension_attributes(spark):
    df = spark.createDataFrame([("2024-01-06",), ("2024-01-08",), ("2024-01-06",)], "d string")
    rows = {r["date_key"]: r for r in build_date_dimension(df, "d").collect()}
    assert set(rows) == {20240106, 20240108}
    sat = rows[20240106]
    assert sat["is_weekend"] is True
    assert sat["day_of_week"] == "Saturday"
    assert sat["month_name"] == "January"
    assert sat["quarter"] == 1
    mon = rows[20240108]
    assert mon["is_weekend"] is False


def test_star_schema_build_and_integrity(spark, tmp_path):
    orders = load(spark, "orders", SF_SMALL)
    customer = load(spark, "customer", SF_SMALL)

    dim_customer = customer.select(
        surrogate_key(F.col("c_name"), F.col("c_custkey")).alias("customer_sk"),
        "c_custkey",
        "c_name",
        "c_mktsegment",
    )
    dim_date = build_date_dimension(orders, "o_orderdate")
    fact = (
        orders.join(F.broadcast(dim_customer), orders.o_custkey == dim_customer.c_custkey)
        .select(
            "o_orderkey",
            date_key(F.col("o_orderdate")).alias("date_key"),
            "customer_sk",
            "o_totalprice",
        )
    )

    builder = (
        StarSchemaBuilder("sales", str(tmp_path))
        .add_dimension("dim_customer", natural_keys=["c_custkey"])
        .add_dimension("dim_date", natural_keys=["date"])
        .add_fact(
            "fact_orders",
            measures=["o_totalprice"],
            dimension_keys=["date_key", "customer_sk"],
        )
    )
    result = builder.build(
        {"dim_customer": dim_customer, "dim_date": dim_date, "fact_orders": fact}
    )
    assert result.success, result.error
    assert result.rows_by_table["fact_orders"] == orders.count()
    assert result.rows_by_table["dim_customer"] == customer.count()
    assert (tmp_path / "fact_orders").exists()

    orphans = builder.validate_referential_integrity()
    assert orphans["fact_orders.date_key->dim_date"] == 0
    assert orphans["fact_orders.customer_sk->dim_customer"] == 0


def test_star_schema_build_missing_table_is_error_result(spark, tmp_path):
    builder = StarSchemaBuilder("x", str(tmp_path)).add_dimension("dim_missing")
    result = builder.build({})
    assert not result.success
    assert "dim_missing" in result.error


def _two_dim_star(out: str, partition_by=None) -> StarSchemaBuilder:
    return (
        StarSchemaBuilder("s", out)
        .add_dimension("dim_a", natural_keys=["a_sk"])
        .add_dimension("dim_b", natural_keys=["b_sk"])
        .add_fact(
            "fact",
            measures=["v"],
            dimension_keys=["a_sk", "b_sk"],
            partition_by=partition_by,
        )
    )


def test_star_schema_empty_partitioned_fact(spark, tmp_path):
    """A hive-partitioned fact with no rows writes no parquet file, only
    ``_SUCCESS``; the read-back under the declared schema still yields
    the table (0 rows, the data columns then the partition column), where
    a schema-inferring read fails with ``UNABLE_TO_INFER_SCHEMA``."""
    dim_a = spark.createDataFrame([(1, "x"), (2, "y")], "a_sk int, a_name string")
    dim_b = spark.createDataFrame([(10,)], "b_sk int")
    fact = spark.createDataFrame([], "a_sk int, yr int, b_sk int, v double")
    builder = _two_dim_star(str(tmp_path), partition_by=["yr"])

    result = run_within(
        lambda: builder.build({"dim_a": dim_a, "dim_b": dim_b, "fact": fact})
    )
    assert result.success, result.error
    assert result.rows_by_table == {"dim_a": 2, "dim_b": 1, "fact": 0}
    assert result.tables["fact"].columns == ["a_sk", "b_sk", "v", "yr"]
    assert result.tables["fact"].count() == 0
    assert run_within(builder.validate_referential_integrity) == {
        "fact.a_sk->dim_a": 0,
        "fact.b_sk->dim_b": 0,
    }


_PROBE_CONFIGS = {
    "default": {},
    "aqe_off": {"spark.sql.adaptive.enabled": "false"},
    "no_broadcast": {"spark.sql.autoBroadcastJoinThreshold": "-1"},
    "one_partition": {"spark.sql.shuffle.partitions": "1"},
}


@pytest.mark.parametrize("config", list(_PROBE_CONFIGS))
def test_star_schema_orphans_match_anti_join(spark, tmp_path, config):
    """Injected orphans: an FK missing from its dim and a null FK are each
    counted once per probe; a dim key present twice must not fan out and
    a null dim key matches nothing. Every ``fact.key->dim`` count equals
    ``anti_join_orphans(...).count()`` whatever the planner chooses, and
    every observed row count equals a recount of the written files."""
    dim_a = spark.createDataFrame(
        [(1, "x"), (2, "y"), (2, "y again"), (None, "null key")],
        "a_sk int, a_name string",
    )
    dim_b = spark.createDataFrame([(10,), (20,), (None,)], "b_sk int")
    fact = spark.createDataFrame(
        [
            (1, 10, 2024, 1.0),
            (2, 20, 2024, 2.0),  # a_sk 2 is in dim_a twice
            (99, 20, 2025, 3.0),  # a_sk 99 is missing from dim_a
            (None, 10, 2025, 4.0),  # null a_sk
            (1, 77, 2025, 5.0),  # b_sk 77 is missing from dim_b
            (2, None, 2024, 6.0),  # null b_sk
        ],
        "a_sk int, b_sk int, yr int, v double",
    )
    saved = {k: spark.conf.get(k) for k in _PROBE_CONFIGS[config]}
    for k, v in _PROBE_CONFIGS[config].items():
        spark.conf.set(k, v)
    try:
        builder = _two_dim_star(str(tmp_path), partition_by=["yr"])
        result = builder.build({"dim_a": dim_a, "dim_b": dim_b, "fact": fact})
        assert result.success, result.error
        orphans = builder.validate_referential_integrity()
        built = result.tables
        expected = {
            f"fact.{key}->{dim}": anti_join_orphans(
                built["fact"], built[dim], key, key
            ).count()
            for key, dim in (("a_sk", "dim_a"), ("b_sk", "dim_b"))
        }
        recount = {
            name: spark.read.parquet(path).count()
            for name, path in result.output_paths.items()
        }
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    assert orphans == expected == {"fact.a_sk->dim_a": 2, "fact.b_sk->dim_b": 2}
    assert result.rows_by_table == recount == {"dim_a": 4, "dim_b": 3, "fact": 6}


def test_star_schema_build_is_one_job_per_map_only_table(spark, tmp_path):
    """Each map-only table costs exactly its write: the row count is
    observed on the write and the read-back infers no schema."""
    tables = {
        "dim_a": spark.range(50).select(F.col("id").cast("int").alias("a_sk")),
        "dim_b": spark.range(20).select(F.col("id").cast("int").alias("b_sk")),
        "fact": spark.range(300).select(
            (F.col("id") % 50).cast("int").alias("a_sk"),
            (F.col("id") % 20).cast("int").alias("b_sk"),
            F.col("id").cast("double").alias("v"),
        ),
    }
    builder = _two_dim_star(str(tmp_path))
    with count_jobs(spark) as jobs:
        result = builder.build(tables)
    assert result.success, result.error
    assert result.rows_by_table == {"dim_a": 50, "dim_b": 20, "fact": 300}
    assert jobs.n == len(tables)

    with count_jobs(spark) as jobs:
        orphans = builder.validate_referential_integrity()
    assert orphans == {"fact.a_sk->dim_a": 0, "fact.b_sk->dim_b": 0}
    assert jobs.n <= 4
    assert sorted(os.listdir(tmp_path)) == sorted(tables)


def test_scd2_versions_intervals_and_current_flag(spark):
    """Gaps-and-islands SCD2: runs of equal attrs merge, re-appearing
    values open a NEW version (A->B->A is three versions), intervals are
    half-open and chain without gaps, exactly one current row per key."""
    from datetime import datetime

    from financial_data_engineering_spark.transform import scd2_from_observations

    obs = spark.createDataFrame(
        [
            # key 1: A,A,B,A — three versions, middle run of length 1
            (1, "A", datetime(2024, 1, 1), 10),
            (1, "A", datetime(2024, 1, 5), 11),
            (1, "B", datetime(2024, 2, 1), 12),
            (1, "A", datetime(2024, 3, 1), 13),
            # key 2: single observation — one current version
            (2, "Z", datetime(2024, 1, 2), 14),
            # key 3: null attr then value then null — NULL-safe change detection
            (3, None, datetime(2024, 1, 1), 15),
            (3, "C", datetime(2024, 1, 2), 16),
            (3, None, datetime(2024, 1, 3), 17),
        ],
        "k int, attr string, ts timestamp, obs_id int",
    )
    out = scd2_from_observations(obs, ["k"], ["attr"], "ts", "obs_id")
    rows = {(r.k, r.version): r for r in out.collect()}

    assert [rows[(1, v)].attr for v in (1, 2, 3)] == ["A", "B", "A"]
    assert rows[(1, 1)].n_observations == 2
    # intervals chain: valid_to of v == valid_from of v+1, NULL only on last
    assert rows[(1, 1)].valid_to == rows[(1, 2)].valid_from
    assert rows[(1, 2)].valid_to == rows[(1, 3)].valid_from
    assert rows[(1, 3)].valid_to is None
    assert [rows[(1, v)].is_current for v in (1, 2, 3)] == [0, 0, 1]

    assert rows[(2, 1)].is_current == 1 and rows[(2, 1)].valid_to is None

    assert [rows[(3, v)].attr for v in (1, 2, 3)] == [None, "C", None]
    assert sum(r.is_current for r in rows.values()) == 3  # one per key


def test_scd2_same_timestamp_ties_resolved_by_tie_col(spark):
    """Two observations at the SAME timestamp: the tie column makes the
    order total, so versioning is deterministic, not partition-luck."""
    from datetime import datetime

    from financial_data_engineering_spark.transform import scd2_from_observations

    ts = datetime(2024, 6, 1)
    obs = spark.createDataFrame(
        [(1, "X", ts, 2), (1, "Y", ts, 1)],
        "k int, attr string, ts timestamp, obs_id int",
    )
    out = {r.version: r.attr for r in
           scd2_from_observations(obs, ["k"], ["attr"], "ts", "obs_id").collect()}
    assert out == {1: "Y", 2: "X"}


def test_jsonl_export_deterministic_shards_and_roundtrip(spark, tmp_path):
    """Hash-sharded JSONL export: membership is a pure function of the key
    (re-export reproduces identical shard assignment), each shard is one
    file, and a schema-supplied read round-trips every value including
    nested arrays."""
    from financial_data_engineering_spark.transform import (
        export_jsonl_shards,
        read_jsonl_shards,
        with_shard,
    )

    df = spark.createDataFrame(
        [(f"doc{i}", f"text {i}", [float(i), float(i) + 0.5]) for i in range(50)],
        "doc_id string, body string, emb array<double>",
    )

    # shard id is deterministic: same key -> same shard, twice
    a = {r.doc_id: r.shard for r in with_shard(df, "doc_id", 4).collect()}
    b = {r.doc_id: r.shard for r in with_shard(df, "doc_id", 4).collect()}
    assert a == b
    assert set(a.values()) == {0, 1, 2, 3}
    assert all(0 <= s < 4 for s in a.values())

    path = str(tmp_path / "corpus")
    export_jsonl_shards(df, path, key_col="doc_id", n_shards=4)

    # one data file per shard directory (repartition clustered each shard)
    import glob

    for s in range(4):
        files = [f for f in glob.glob(f"{path}/shard={s}/*")
                 if not f.endswith((".crc", "_SUCCESS"))]
        assert len(files) == 1, files

    back = read_jsonl_shards(
        spark, path, schema="doc_id string, body string, emb array<double>, shard int"
    )
    rows = {r.doc_id: r for r in back.collect()}
    assert len(rows) == 50
    assert rows["doc7"].body == "text 7"
    assert rows["doc7"].emb == [7.0, 7.5]
    # partition column round-trips the hash membership
    assert {k: r.shard for k, r in rows.items()} == a
