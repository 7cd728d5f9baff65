"""The workloads: what one pass runs, and how its outputs are checked.

A pass runs each operation of its workload once, in order, and leaves its
outputs under the pass's own directory. The checks read the outputs of
the warm-up pass back after the timed passes have ended and compare them
with computations made apart from the engine:

- registered queries against their DuckDB oracle, by the
  order-insensitive ``value_hash`` of ``tools/check_correctness.py``;
- the IVF-PQ top-k against exact cosines computed with numpy;
- the streaming OHLC twin's final row per user against its batch twin,
  and that batch twin against its own DuckDB oracle;
- the star schema, read back from disk by DuckDB, against the properties
  a star schema must have: one fact row per source row, every foreign
  key resolving to a dimension row, unique surrogate keys.

A check returns ``None`` when the output is right and the cause of the
mismatch otherwise.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable
from dataclasses import dataclass

import numpy as np
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

import financial_data_engineering_spark.streaming as st
from financial_data_engineering_spark import queries, quality, tables, transform
from financial_data_engineering_spark.functions.keys import date_key, surrogate_key
from financial_data_engineering_spark.llm.caching import release_intermediates
from financial_data_engineering_spark.queries.graph import release_shared_edges
from financial_data_engineering_spark.transform import bucketed, clustered
from tools.check_correctness import OracleRunner, value_hash


@dataclass
class Ctx:
    spark: SparkSession
    data: str  # generated input tables
    _oracle: OracleRunner | None = None

    @property
    def oracle(self) -> OracleRunner:
        if self._oracle is None:
            self._oracle = OracleRunner(self.data, mem="2GB")
        return self._oracle

    def duck(self, sql: str) -> list[tuple]:
        return self.oracle.con.sql(sql).fetchall()


@dataclass
class Op:
    name: str
    run: Callable[[Ctx, str], None]  # (ctx, pass output dir)
    check: Callable[[Ctx, str], str | None]  # (ctx, warm-up output dir)


def release(spark: SparkSession) -> None:
    """The between-query reset of ``bench.py``."""
    release_intermediates()
    release_shared_edges()
    spark.catalog.clearCache()


def _same_rows(got_rows, got_cols, want_rows, want_cols, what: str) -> str | None:
    if len(got_rows) != len(want_rows):
        return f"{what}: {len(got_rows)} rows, expected {len(want_rows)}"
    if sorted(got_cols) != sorted(want_cols):
        return f"{what}: columns {sorted(got_cols)}, expected {sorted(want_cols)}"
    if value_hash(got_rows, got_cols) != value_hash(want_rows, want_cols):
        return f"{what}: value hash differs from the expected rows"
    return None


def _oracle_mismatch(ctx: Ctx, query: str, rows, cols) -> str | None:
    o_cols, _, o_rows, _ = ctx.oracle.run(queries.all_oracles()[query])
    return _same_rows(rows, cols, o_rows, o_cols, f"{query} vs DuckDB oracle")


def registered(query: str, check: Callable[[Ctx, str], str | None] | None = None) -> Op:
    """A registered query whose result a pass writes as parquet, checked
    against its DuckDB oracle unless ``check`` is given."""

    def run(ctx: Ctx, out: str) -> None:
        df = queries.all_queries()[query](ctx.spark, ctx.data)
        df.write.mode("overwrite").parquet(os.path.join(out, query))

    def oracle_check(ctx: Ctx, out: str) -> str | None:
        df = ctx.spark.read.parquet(os.path.join(out, query))
        return _oracle_mismatch(ctx, query, [tuple(r) for r in df.collect()], df.columns)

    return Op(query, run, check or oracle_check)


# half a unit in the fourth place, plus single-precision slack
_ROUNDING = 5e-5 + 1e-6


def _ivfpq_check(ctx: Ctx, out: str) -> str | None:
    """Properties of the IVF-PQ top-k, against exact cosines computed
    with numpy (the DuckDB oracle replays both k-means trainings and
    costs more than the rest of the run's checks together):

    - every query has ``k`` rows ranked 1..k, with distinct neighbours
      other than itself;
    - each row's ``cos`` is the exact cosine of the pair, rounded to four
      places, and the rows are ordered by (cos desc, neighbour id);
    - the i-th result is no better than the i-th exact neighbour.
    """
    from financial_data_engineering_spark.queries.similarity_oracles import _N_QUERIES, _TOP_K

    got = ctx.duck(
        "SELECT query_id, rank, neighbor_id, cos FROM read_parquet("
        f"'{out}/ann_ivfpq_rerank/*.parquet') ORDER BY query_id, rank"
    )
    ids, vecs = zip(*ctx.duck("SELECT vec_id, embedding FROM embeddings ORDER BY vec_id"))
    mat = np.asarray(vecs, dtype=np.float64)
    unit = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    row_of = {v: i for i, v in enumerate(ids)}
    problems = []
    for q in range(_N_QUERIES):
        rows = [r for r in got if r[0] == q]
        exact = unit @ unit[row_of[q]]
        exact[row_of[q]] = -np.inf  # self-matches are excluded
        best = np.sort(exact)[::-1][:_TOP_K]
        if [r[1] for r in rows] != list(range(1, _TOP_K + 1)):
            problems.append(f"query {q}: ranks {[r[1] for r in rows]}")
            continue
        neighbours = [r[2] for r in rows]
        if q in neighbours or len(set(neighbours)) != len(neighbours):
            problems.append(f"query {q}: neighbours {neighbours}")
        if [(-r[3], r[2]) for r in rows] != sorted((-r[3], r[2]) for r in rows):
            problems.append(f"query {q}: rows not ordered by (cos desc, neighbour)")
        for (_, rank, n, cos), top in zip(rows, best):
            if abs(cos - exact[row_of[n]]) > _ROUNDING:
                problems.append(f"query {q} rank {rank}: cos {cos}, exact {exact[row_of[n]]:.6f}")
            if cos > top + _ROUNDING:
                problems.append(f"query {q} rank {rank}: cos {cos} above exact rank-{rank} {top:.6f}")
    return "; ".join(problems[:5]) or None


# -- star schema and quality rules ---------------------------------------------

_BUCKETED_TABLE = "fact_orders_by_customer"
_CLUSTERED = "fact_orders_by_date"


def _star_run(ctx: Ctx, out: str) -> None:
    spark, d = ctx.spark, ctx.data
    orders = tables.load(spark, "orders", d)
    dim_customer = tables.load(spark, "customer", d).select(
        surrogate_key("c_name", "c_custkey").alias("customer_sk"),
        "c_custkey", "c_name", "c_nationkey", "c_mktsegment",
    )
    dim_date = transform.build_date_dimension(orders, "o_orderdate")
    fact_orders = orders.join(
        dim_customer.select("c_custkey", "customer_sk"),
        orders.o_custkey == F.col("c_custkey"),
    ).select(
        "o_orderkey",
        date_key(F.col("o_orderdate")).alias("date_key"),
        "customer_sk",
        F.col("o_totalprice").alias("totalprice"),
        F.year("o_orderdate").alias("order_year"),
    )
    builder = (
        transform.StarSchemaBuilder("sales", out)
        .add_dimension("dim_customer", natural_keys=["c_custkey"])
        .add_dimension("dim_date", natural_keys=["date"])
        .add_fact("fact_orders", measures=["totalprice"],
                  dimension_keys=["date_key", "customer_sk"],
                  partition_by=["order_year"])
    )
    result = builder.build(
        {"dim_customer": dim_customer, "dim_date": dim_date, "fact_orders": fact_orders}
    )
    if not result.success:
        raise RuntimeError(f"star-schema build failed: {result.error}")
    orphans = {k: v for k, v in builder.validate_referential_integrity().items() if v}
    if orphans:
        raise RuntimeError(f"orphan foreign keys after build: {orphans}")
    fact = result.tables["fact_orders"]
    bucketed.write_bucketed(fact, _BUCKETED_TABLE, ["customer_sk"], 8, sort_keys=["customer_sk"])
    clustered.write_clustered_parquet(fact, os.path.join(out, _CLUSTERED), ["date_key"])


def _star_check(ctx: Ctx, out: str) -> str | None:
    def rel(name: str) -> str:
        path = os.path.join(out, name)
        return f"read_parquet('{path}/**/*.parquet', hive_partitioning = true)"

    def one(sql: str):
        return ctx.duck(sql)[0][0]

    problems = []
    facts = one(f"SELECT count(*) FROM {rel('fact_orders')}")
    sources = one("SELECT count(*) FROM orders")
    if facts != sources:
        problems.append(f"fact_orders has {facts} rows, orders has {sources}")
    for dim, key in (("dim_customer", "customer_sk"), ("dim_date", "date_key")):
        n, distinct = ctx.duck(f"SELECT count(*), count(DISTINCT {key}) FROM {rel(dim)}")[0]
        if n != distinct:
            problems.append(f"{dim}.{key} not unique: {n} rows, {distinct} keys")
        orphans = one(
            f"SELECT count(*) FROM {rel('fact_orders')} f ANTI JOIN {rel(dim)} d USING ({key})"
        )
        if orphans:
            problems.append(f"{orphans} fact_orders.{key} values missing from {dim}")
    sinks = {
        "bucketed sink": ctx.spark.table(_BUCKETED_TABLE).count(),
        "clustered sink": one(f"SELECT count(*) FROM {rel(_CLUSTERED)}"),
    }
    for what, rows in sinks.items():
        if rows != facts:
            problems.append(f"{what} has {rows} rows, fact_orders has {facts}")
    return "; ".join(problems) or None


def _order_rules() -> list:
    return [
        quality.CompletenessRule(["o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"]),
        quality.UniquenessRule(["o_orderkey"]),
        quality.RangeRule("o_totalprice", min_val=0.0),
        # fails on the orders above the cap; the check recounts them
        quality.RangeRule("o_totalprice", max_val=250_000.0, name="totalprice_cap"),
        quality.PatternRule("o_orderpriority", r"^[1-5]-"),
    ]


def _quality_run(ctx: Ctx, out: str) -> None:
    validator = quality.DataValidator("orders").add_rules(_order_rules())
    report = validator.validate(tables.load(ctx.spark, "orders", ctx.data))
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "quality.json"), "w") as f:
        json.dump(report.to_dict(), f, default=str)


def _quality_check(ctx: Ctx, out: str) -> str | None:
    with open(os.path.join(out, "quality.json")) as f:
        results = {r["rule"]: r for r in json.load(f)["results"]}
    problems = []
    if len(results) != len(_order_rules()):
        problems.append(f"{len(results)} rule results reported")
    capped = ctx.duck("SELECT count(*) FROM orders WHERE o_totalprice > 250000")[0][0]
    for name, result in results.items():
        details = result["details"]
        if name == "totalprice_cap":
            if details.get("violations") != capped:
                problems.append(
                    f"{name}: {details.get('violations')} violations, DuckDB counts {capped}"
                )
        elif result["severity"] != "PASS":
            problems.append(f"{name} failed on valid input: {details}")
    return "; ".join(problems) or None


# -- the stateful stream ----------------------------------------------------------

_OHLC_COLS = ["user_id", "open_e2", "high_e2", "low_e2", "close_e2", "n_events", "sum_e2"]


def _ohlc_table(out: str) -> str:
    return f"running_ohlc_{os.path.basename(out)}"


def _ohlc_run(ctx: Ctx, out: str) -> None:
    """Drain the stateful OHLC twin into a memory sink, one event file per
    trigger; its checkpoint (offsets, commits, state store) goes under the
    pass's own directory."""
    ctx.spark.conf.set(
        "spark.sql.streaming.checkpointLocation", os.path.join(out, "checkpoints")
    )
    events = st.read_event_stream(
        ctx.spark, os.path.join(ctx.data, "event_stream"), max_files_per_trigger=1
    )
    st.run_to_memory_sink(st.running_ohlc(events), _ohlc_table(out), output_mode="update")


def _ohlc_check(ctx: Ctx, out: str) -> str | None:
    """Each user's final update equals the batch twin's row, and the batch
    twin equals its DuckDB oracle."""
    final = ctx.spark.sql(
        f"SELECT {', '.join(_OHLC_COLS)} FROM (SELECT *, row_number() OVER ("
        f"PARTITION BY user_id ORDER BY n_events DESC) AS rn"
        f" FROM {_ohlc_table(out)}) WHERE rn = 1"
    )
    got = [tuple(r) for r in final.collect()]
    batch = queries.all_queries()["user_value_ohlc"](ctx.spark, ctx.data).select(*_OHLC_COLS)
    want = [tuple(r) for r in batch.collect()]
    return _same_rows(got, _OHLC_COLS, want, _OHLC_COLS, "running_ohlc vs batch twin") or (
        _oracle_mismatch(ctx, "user_value_ohlc", want, _OHLC_COLS)
    )


# -- the workloads ------------------------------------------------------------

WORKLOADS: dict[str, list[Op]] = {
    "etl_stream": [
        Op("star_schema", _star_run, _star_check),
        Op("quality_rules", _quality_run, _quality_check),
        Op("running_ohlc", _ohlc_run, _ohlc_check),
        registered("dedup_minhash_lsh"),
        registered("doc_bpe_encoding"),
    ],
    "graph_ann": [
        registered("part_copurchase_kcore"),
        registered("ann_ivf_from_index"),
        registered("ann_ivfpq_rerank", _ivfpq_check),
    ],
}
