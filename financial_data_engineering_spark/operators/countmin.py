"""Count-Min sketch: frequency estimates in bounded memory, never under.

The third member of the frequency-sketch family, chosen for its
complementary guarantee: Misra-Gries (operators/heavyhitters.py) never
OVERcounts (est <= true <= est + err), Count-Min (Cormode & Muthukrishnan
2005) never UNDERcounts —

    true(x) <= est(x),  and  est(x) <= true(x) + 2N/w  w.h.p. per row,
    taking the MIN over d independent rows drives the miss probability
    to (1/2)^d-ish

— which makes CM the right shape for "never miss a limit breach" alerting
(rate limits, abuse ceilings) where MG's underestimates would let a hot
key slip under the bar.

Determinism and SQL-replay, as everywhere in this engine: row i's column
for item x is ``((a + (i+1)·b) mod P) mod w`` with (a, b) the two 32-bit
words of ONE md5 per item — the same 2-universal affine family as the
MinHash/LSH/Bloom constructions, so a DuckDB oracle replays every counter
exactly.

Representation: a (row, col, cnt) table of at most d·w rows, built with
one (row, col)-keyed count shuffle (map-side partials do the heavy
lifting) and MERGEABLE by plain count addition (union + groupBy sum) —
the same mergeable-summaries shape as every other sketch here.
Estimation collects the table once (control-plane by the d·w bound,
like the Bloom words and the IVF centroids) and probes map-side: zero
joins, zero shuffles on the probe side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from financial_data_engineering_spark.llm.dedup import affine_slot, hash_words


def count_min_build(
    df: DataFrame,
    item_col: str,
    *,
    width: int = 1024,
    depth: int = 3,
) -> DataFrame:
    """Build the (row, col, cnt) Count-Min table over ``item_col`` (cast
    to string; NULLs excluded). Merge builds with
    ``count_min_merge``. Error scale: overestimate <= 2N/width per row
    w.h.p.; size width to the stream volume you want resolved."""
    if width < 1:
        raise ValueError(f"width must be >= 1, got {width}")
    if depth < 1:
        raise ValueError(f"depth must be >= 1, got {depth}")
    items = df.select(
        F.col(item_col).cast("string").alias("item")
    ).filter(F.col("item").isNotNull())
    a, b = hash_words(F.col("item"))
    cell = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("row"),
                    affine_slot(a, b, i, width).alias("col"),
                )
                for i in range(depth)
            ]
        )
    ).alias("cell")
    return (
        items.select(cell)
        .select(F.col("cell.row").alias("row"), F.col("cell.col").alias("col"))
        .groupBy("row", "col")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def count_min_merge(*tables: DataFrame) -> DataFrame:
    """Add Count-Min tables built with identical (width, depth) — counter
    matrices merge by element-wise addition."""
    if not tables:
        raise ValueError("count_min_merge needs at least one table")
    out = tables[0]
    for t in tables[1:]:
        out = out.unionByName(t)
    return out.groupBy("row", "col").agg(F.sum("cnt").alias("cnt"))


def count_min_estimate(
    batch: DataFrame,
    cm: DataFrame,
    item_col: str,
    *,
    width: int = 1024,
    depth: int = 3,
) -> DataFrame:
    """Attach ``cm_estimate`` to each batch row: the minimum over the d
    row counters the item hashes to — an upper bound on the item's true
    count in the sketched data (never under). The counter table collects
    once (<= width·depth rows, control-plane by construction) and ships
    as one dense array literal; probing is map-side arithmetic inside
    codegen — zero joins, zero shuffles."""
    dense = [0] * (width * depth)
    for r in cm.collect():
        row, col = int(r["row"]), int(r["col"])
        if not (0 <= row < depth and 0 <= col < width):
            raise ValueError(
                f"counter ({row},{col}) outside ({depth}x{width}); "
                "estimate sizing must match the build sizing"
            )
        dense[row * width + col] = int(r["cnt"])
    a, b = hash_words(F.col(item_col).cast("string"))
    flat = F.lit(dense)
    probes = [
        F.element_at(
            flat,
            (F.lit(i * width) + affine_slot(a, b, i, width)).cast("int") + 1,
        )
        for i in range(depth)
    ]
    est = probes[0] if depth == 1 else F.least(*probes)
    return batch.withColumn("cm_estimate", est.cast("long"))
