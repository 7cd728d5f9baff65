"""Mergeable quantile sketch: rank queries in bounded memory.

Exact quantiles (queries/relational_ext.py ``lineitem_price_quantiles``)
cost a full sort per group; ``percentile_approx`` answers cheaply but its
error is opaque and DuckDB cannot replay it. This operator is the third
point in the design space: a DETERMINISTIC multi-level buffer sketch in
the Manku-Rajagopalan-Lindsay / KLL family (MRL, SIGMOD 1998; Karnin,
Lang, Liberty, FOCS 2016 — deterministic compaction variant) that ships
its own worst-case rank-error bound, the same self-certifying shape as
the Misra-Gries summary (operators/heavyhitters.py):

    |rank_est(v) - rank_true(v)| <= err_bound        for every value v

Mechanics: level ``i`` holds items of weight ``2^i`` in a buffer of
capacity ``k``. A full buffer is sorted and COMPACTED — alternate
elements survive with doubled weight (the survivor parity flips per
level-compaction, deterministically, so adjacent compactions cancel
rather than stack bias). One compaction at weight ``w`` perturbs any
rank by at most ``w``; the sketch accumulates exactly that, so
``err_bound`` is the sum of compaction weights actually performed — data
dependent and usually far below the worst case.

Distribution: each partition folds its Arrow batches into one sketch
(``mapInPandas`` — vectorized numpy sort/slice, no row-at-a-time UDF)
and emits (value, weight) rows plus a NULL-value marker carrying its
error mass. Summaries MERGE by concatenation with error addition —
associative and order-free, so the shuffle moves k·levels rows per
partition, never data. Rank queries then run on the merged weighted
sample: a cumulative-weight window over at most k·levels·partitions
rows — control-plane-sized by construction (document the bound when you
raise partitions; the sample NEVER scales with n).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

#: marker row carrying a partition's accumulated rank-error mass
#: (value is NULL); ordinary rows carry a (value, weight) sample point.
_SKETCH_SCHEMA = "value double, weight long"


class _Sketch:
    """Driver/executor-local multi-level buffer: levels[i] is an unsorted
    Python list of floats at weight 2^i. Pure-Python core shared by the
    Arrow fold and the property tests (tests/test_quantile_sketch.py runs
    it standalone against exact ranks)."""

    def __init__(self, k: int):
        if k < 2 or k % 2:
            raise ValueError(f"k must be an even integer >= 2, got {k}")
        self.k = k
        self.levels: list[list[float]] = [[]]
        self.parity: list[int] = [0]
        self.err = 0
        self.n = 0

    def add_many(self, values) -> None:
        self.n += len(values)
        self.levels[0].extend(float(v) for v in values)
        self._compress()

    def _compress(self) -> None:
        i = 0
        while i < len(self.levels):
            if len(self.levels[i]) > self.k:
                buf = sorted(self.levels[i])
                # odd buffer: the unpaired minimum stays at this level so
                # every survivor of the compaction represents exactly two
                # originals (keeps weights an exact partition of n).
                keep_here: list[float] = []
                if len(buf) % 2:
                    keep_here.append(buf[0])
                    buf = buf[1:]
                survivors = buf[self.parity[i] :: 2]
                self.parity[i] ^= 1
                self.levels[i] = keep_here
                if i + 1 == len(self.levels):
                    self.levels.append([])
                    self.parity.append(0)
                self.levels[i + 1].extend(survivors)
                # one compaction at weight w = 2^i moves any rank by < w
                # per dropped pair boundary; the standard bound charges w.
                self.err += 1 << i
            i += 1

    def rows(self) -> tuple[list[float], list[int]]:
        vals: list[float] = []
        wts: list[int] = []
        for i, buf in enumerate(self.levels):
            vals.extend(buf)
            wts.extend([1 << i] * len(buf))
        return vals, wts


def _partition_sketches(k: int):
    def fold(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        sk = _Sketch(k)
        for pdf in batches:
            col = pdf["value"].dropna()
            if len(col):
                sk.add_many(col.to_numpy())
        vals, wts = sk.rows()
        out = pd.DataFrame({"value": vals, "weight": wts})
        marker = pd.DataFrame({"value": [None], "weight": [sk.err]})
        yield pd.concat([out, marker], ignore_index=True)

    return fold


def quantile_sketch(df: DataFrame, value_col: str, k: int = 256) -> DataFrame:
    """Build the merged sketch frame over ``value_col``: (value, weight)
    sample rows plus NULL-value rows carrying error mass. NULL inputs are
    excluded (NULL is the marker). Feed to :func:`sketch_quantiles`."""
    rows = df.select(F.col(value_col).cast("double").alias("value")).filter(
        F.col("value").isNotNull()
    )
    return rows.mapInPandas(_partition_sketches(k), schema=_SKETCH_SCHEMA)


def sketch_quantiles(summaries: DataFrame, qs: list[float]) -> DataFrame:
    """Answer rank queries from a (merged) sketch frame. Returns one row
    per requested quantile: (q_e4, est_value, err_bound, n) where
    ``est_value``'s TRUE rank is within ``err_bound`` of ``q·n``
    (q_e4 = q·10^4 as an exact integer key).

    The cumulative-weight window runs over the summary — control-plane
    cardinality (k·levels·partitions), never the data — so the single
    partition is safe by construction, same argument as the |nations|-row
    running-share window."""
    if not qs:
        raise ValueError("qs must be non-empty")
    if any(not (0.0 < q <= 1.0) for q in qs):
        raise ValueError(f"quantiles must lie in (0, 1], got {qs}")
    pts = summaries.filter(F.col("value").isNotNull())
    # constant-key equi-join attaches the 1-row error aggregate as a
    # broadcast hash join (the heavyhitters merge convention, not an NLJ).
    err = (
        summaries.filter(F.col("value").isNull())
        .agg(F.coalesce(F.sum("weight"), F.lit(0)).alias("err_bound"))
        .withColumn("_k", F.lit("_"))
    )
    # Unpartitioned on purpose: the summary holds at most k·levels rows per
    # input partition, never the data itself.
    w = Window.orderBy("value", "weight").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranked = pts.select(
        "value",
        F.sum("weight").over(w).alias("cum_w"),
        F.sum("weight").over(Window.partitionBy()).alias("n"),
    )
    # one row per q: the smallest sample value whose cumulative weight
    # reaches q*n — inverted-CDF on the weighted sample. The inequality
    # join is a broadcast nested loop against a build side bounded to
    # len(qs) rows by contract (the whitelisted-NLJ shape of the
    # brute-force kNN scorer), running over summary rows, never data.
    q_df = pts.sparkSession.createDataFrame(
        [(int(round(q * 10_000)),) for q in sorted(qs)], "q_e4 long"
    )
    hits = (
        ranked.join(
            F.broadcast(q_df),
            F.col("cum_w") * 10_000 >= F.col("q_e4") * F.col("n"),
        )
        .groupBy("q_e4")
        .agg(
            F.min_by("value", F.col("cum_w")).alias("est_value"),
            F.first("n").alias("n"),
        )
        .withColumn("_k", F.lit("_"))
    )
    return (
        hits.join(F.broadcast(err), "_k")
        .select("q_e4", "est_value", "err_bound", "n")
        .orderBy("q_e4")
    )


def grouped_quantile_sketch(
    df: DataFrame, key_col: str, value_col: str, k: int = 256
) -> DataFrame:
    """Per-group sketch frames: one fold per key via ``applyInPandas``
    (one key-shuffle, bounded state per group — k·levels rows, never the
    group's data). Output: (key, value, weight) sample rows plus
    NULL-value rows carrying that KEY's error mass. Feed to
    :func:`grouped_sketch_quantiles`."""
    key_field = next(f for f in df.schema.fields if f.name == key_col)
    rows = df.select(
        key_col, F.col(value_col).cast("double").alias("value")
    ).filter(F.col("value").isNotNull())

    def fold(key, pdf):
        sk = _Sketch(k)
        sk.add_many(pdf["value"].to_numpy())
        vals, wts = sk.rows()
        out = pd.DataFrame(
            {
                key_col: [key[0]] * (len(vals) + 1),
                "value": vals + [None],
                "weight": wts + [sk.err],
            }
        )
        return out

    schema = (
        f"{key_col} {key_field.dataType.simpleString()}, "
        "value double, weight long"
    )
    return rows.groupBy(key_col).applyInPandas(fold, schema=schema)


def grouped_sketch_quantiles(
    summaries: DataFrame, key_col: str, qs: list[float]
) -> DataFrame:
    """Per-key rank queries over grouped sketch frames: one row per
    (key, q) with the same est-rank-within-err_bound contract as the
    global :func:`sketch_quantiles`. The cumulative window partitions by
    key, so parallelism is |keys| and each partition holds one group's
    summary (k·levels rows) — control-plane per group by construction."""
    if not qs:
        raise ValueError("qs must be non-empty")
    if any(not (0.0 < q <= 1.0) for q in qs):
        raise ValueError(f"quantiles must lie in (0, 1], got {qs}")
    pts = summaries.filter(F.col("value").isNotNull())
    err = (
        summaries.filter(F.col("value").isNull())
        .groupBy(key_col)
        .agg(F.coalesce(F.sum("weight"), F.lit(0)).alias("err_bound"))
    )
    w = Window.partitionBy(key_col).orderBy("value", "weight").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranked = pts.select(
        key_col,
        "value",
        F.sum("weight").over(w).alias("cum_w"),
        F.sum("weight").over(Window.partitionBy(key_col)).alias("n"),
    )
    q_df = pts.sparkSession.createDataFrame(
        [(int(round(q * 10_000)),) for q in sorted(qs)], "q_e4 long"
    )
    hits = (
        ranked.join(
            F.broadcast(q_df),
            F.col("cum_w") * 10_000 >= F.col("q_e4") * F.col("n"),
        )
        .groupBy(key_col, "q_e4")
        .agg(
            F.min_by("value", F.col("cum_w")).alias("est_value"),
            F.first("n").alias("n"),
        )
    )
    return (
        hits.join(err, key_col)
        .select(key_col, "q_e4", "est_value", "err_bound", "n")
        .orderBy(key_col, "q_e4")
    )
