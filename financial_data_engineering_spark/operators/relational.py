"""Named relational operators (SURVEY.md §2.C/D/F/G) as reusable functions.

Each mirrors a pandas idiom the reference relies on, re-expressed so Catalyst
can plan it: window argmax instead of ``idxmax`` probes, anti-joins instead
of driver-side set differences, partial-aggregating groupBys instead of
``value_counts``. All stay fully distributed — no collect() on the data path.
"""

from __future__ import annotations

from functools import reduce
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def argmax_per_group(
    df: DataFrame,
    group_cols: Sequence[str],
    order_col: str,
    tiebreak_cols: Sequence[str] = (),
    descending: bool = True,
) -> DataFrame:
    """Latest/extreme row per group (reference idiom:
    ``df.loc[df.groupby(k)[v].idxmax()]``, multi_source_pipeline.py:114).

    Planned as a single window + filter: one shuffle on ``group_cols``,
    no join back. ``tiebreak_cols`` make the pick total-ordered so results
    are deterministic under any partitioning (pandas idxmax breaks ties by
    position; at scale "position" is meaningless, so ties must be explicit).
    """
    direction = F.desc if descending else F.asc
    order = [direction(order_col)] + [direction(c) for c in tiebreak_cols]
    w = Window.partitionBy(*group_cols).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def topk(df: DataFrame, order_by: Sequence[Column], k: int) -> DataFrame:
    """Top-k rows by a total order; Spark plans TakeOrderedAndProject,
    which never materializes a full sort at scale
    (reference: ``df.nlargest(10, col)``, collect_earthquakes.py:55)."""
    return df.orderBy(*order_by).limit(k)


def value_counts(df: DataFrame, column: str, k: int | None = None) -> DataFrame:
    """Group-count sorted descending (reference: ``Series.value_counts()``,
    collect_earthquakes.py:64). Ties broken by the value itself so a
    trailing ``limit`` stays deterministic."""
    out = (
        df.groupBy(column)
        .agg(F.count(F.lit(1)).alias("count"))
        .orderBy(F.desc("count"), F.asc(column))
    )
    return out.limit(k) if k is not None else out


def anti_join_orphans(
    fact: DataFrame, dim: DataFrame, fact_key: str, dim_key: str
) -> DataFrame:
    """Rows of ``fact`` whose key has no match in ``dim`` — the reference's
    referential-integrity probe ``set(fact[k]) - set(dim[k])``
    (star_schema.py:151) as a distributed anti-join (dim side broadcast
    when small). No ``distinct`` on the dim key: an anti join neither
    fans out on duplicate build keys nor needs them unique."""
    return fact.join(
        dim.select(F.col(dim_key).alias(fact_key)),
        on=fact_key,
        how="left_anti",
    )


def duplicate_row_count(df: DataFrame, key_cols: Sequence[str]) -> DataFrame:
    """Count rows belonging to any duplicate key group — pandas
    ``duplicated(subset=keys, keep=False).sum()`` semantics (rules.py:100-101):
    a key appearing n>1 times contributes n, not n-1. Spark's groupBy is
    null-safe like pandas' (NaN keys group together)."""
    return (
        df.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("__n"))
        .agg(
            F.coalesce(F.sum(F.when(F.col("__n") > 1, F.col("__n"))), F.lit(0))
            .cast("long")
            .alias("duplicate_rows"),
            F.coalesce(F.sum(F.when(F.col("__n") == 1, F.col("__n"))), F.lit(0))
            .cast("long")
            .alias("unique_rows"),
            F.coalesce(F.sum("__n"), F.lit(0)).cast("long").alias("total_rows"),
        )
    )


def union_frames(frames: Sequence[DataFrame]) -> DataFrame:
    """UNION ALL by column name (reference: ``pd.concat(frames)``,
    open_meteo.py:88). unionByName keeps schemas honest when sources
    evolve independently."""
    if not frames:
        raise ValueError("union_frames needs at least one frame")
    return reduce(lambda a, b: a.unionByName(b), frames)
