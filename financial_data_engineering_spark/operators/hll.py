"""HyperLogLog distinct-count sketch, pinned to an integer-exact contract.

The classic objection to oracle-checking HLL (operators/sketch.py's KMV
docstring) is that implementations differ in register layout and float
corrections. This module removes the objection by DEFINING the layout and
the estimator arithmetic so both engines replay them bit-for-bit:

- hash: the same 48-bit md5-prefix family every sketch here uses
  (``kmv_hash``); bucket = top ``HLL_P`` bits, ``w`` = low 40 bits;
- rho: leading-zero rank of ``w`` computed as ``41 - bitlen(w)`` where
  bitlen is the LENGTH OF THE BASE-2 STRING (Spark ``conv``, DuckDB
  ``bin``) — pure integer, no log2 rounding hazard;
- registers: ``max(rho)`` per bucket; absent buckets are zero registers;
- raw estimate: ``alpha·m²·2^RMAX / S`` with ``S = Σ 2^(RMAX − M_j)``,
  evaluated in a FIXED integer order (quotient before the alpha ratio),
  alpha as the rational 71824/100000 (0.7213/(1+1.079/m) at m=256);
- small-range correction: linear counting ``m·ln(m/V)`` when the raw
  estimate ≤ 2.5m and zero registers exist. This is the one float term;
  its domain is exactly the integers V ∈ 1..m, so the 9-digit-round +
  floor discipline is verified EXHAUSTIVELY over all 255 inputs against
  DuckDB in tests (not trusted by argument).

Overflow headroom (all BIGINT): ``S ≤ m·2^41 = 2^49``;
``m²·2^RMAX = 2^57``; the alpha numerator multiplies a quotient bounded
by the true cardinality scale, so ``ALPHA_NUM·q < 2^63`` for any
cardinality below ~5·10¹³ — far past the 100 TB key domain.

Why HLL next to KMV: registers are FIXED SIZE (m numbers, here 256) and
merge by element-wise max, so per-partition sketches combine in a reduce
tree with no resort — at 100 TB the profile job ships 256 bytes per
(partition, column), where KMV ships k hashes and re-sorts on merge.

Reference scope note: the reference engine counts distincts exactly
(src/quality/validator.py uniqueness rule); sketches extend SURVEY §2.D4
the way a 100 TB profile job needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from financial_data_engineering_spark.operators.sketch import (
    KMV_HASH_BITS,
    kmv_hash,
)

HLL_P = 8
HLL_M = 1 << HLL_P
HLL_W_BITS = KMV_HASH_BITS - HLL_P
HLL_W_MOD = 1 << HLL_W_BITS
HLL_RMAX = HLL_W_BITS + 1
#: Rational approximation of alpha(m) ≈ 0.7213 / (1 + 1.079/m), which
#: at m = 256 is 0.7182726… (71827/1e5 to 5 places). 71824 rounds the
#: intermediate 0.7213/1.0042 differently and carries a +0.004% bias —
#: negligible against HLL's ~6.5% standard error at p=8, and pinned
#: identically into the operator, the DuckDB oracle, and the Python
#: test reference, so it is kept for hash stability.
HLL_ALPHA_NUM = 71824
HLL_ALPHA_DEN = 100_000
#: linear-counting cutover: raw estimate ≤ 2.5·m (Flajolet et al. 2007).
HLL_LC_THRESHOLD = 5 * HLL_M // 2
_M2_RMAX = HLL_M * HLL_M * (1 << HLL_RMAX)

#: SQL expression fragments shared between the Spark operator and the
#: DuckDB oracle generators (queries/sketch.py) — same constants, same
#: evaluation order, so query and oracle cannot drift.
RHO_SQL = (
    f"CASE WHEN h % {HLL_W_MOD} = 0 THEN {HLL_RMAX} "
    f"ELSE {HLL_RMAX} - length({{bitlen}}) END"
)
EST_RAW_SQL = (
    f"({HLL_ALPHA_NUM} * ({_M2_RMAX} {{div}} s)) {{div}} {HLL_ALPHA_DEN}"
)
#: the DOUBLE cast is load-bearing: a bare ``256.0`` literal parses as
#: DECIMAL in both engines and their decimal-division rules differ.
EST_LC_SQL = (
    f"CAST(floor(round({HLL_M} * ln(CAST({HLL_M} AS DOUBLE) / v_zero), 9))"
    " AS BIGINT)"
)


def hll_hashes(
    df: DataFrame, col: str, group_col: str | None = None
) -> DataFrame:
    """Distinct non-null 48-bit key hashes, optionally per group. NULL
    keys are excluded, matching ``count(DISTINCT col)``."""
    keys = [group_col] if group_col else []
    return (
        df.where(F.col(col).isNotNull())
        .select(*keys, kmv_hash(F.col(col)).alias("h"))
        .distinct()
    )


def hll_bucket_rho(
    hashed: DataFrame, group_col: str | None = None
) -> DataFrame:
    """``(grp?, bucket, rho)`` of each hash ``h``: the register layout
    that the batch register table and the streaming twin
    (streaming/stateful.py ``running_hll_registers``) both fold with
    ``max(rho)`` per bucket."""
    keys = [group_col] if group_col else []
    rho = RHO_SQL.format(bitlen=f"conv(CAST(h % {HLL_W_MOD} AS STRING), 10, 2)")
    return hashed.select(
        *keys,
        F.expr(f"h div {HLL_W_MOD}").alias("bucket"),
        F.expr(rho).cast("long").alias("rho"),
    )


def hll_registers_from_hashes(
    hashed: DataFrame, group_col: str | None = None
) -> DataFrame:
    """Register table ``(grp?, bucket, reg, cnt)`` — ``cnt`` carries the
    per-bucket distinct-key count so the EXACT count (the audit column)
    rides the same single pass instead of re-scanning the fact: the
    estimate fold just sums it. Bounded at m rows per group."""
    keys = [group_col] if group_col else []
    return (
        hll_bucket_rho(hashed, group_col)
        .groupBy(*keys, "bucket")
        .agg(F.max("rho").alias("reg"), F.count(F.lit(1)).alias("cnt"))
    )


def hll_registers(
    df: DataFrame, col: str, group_col: str | None = None
) -> DataFrame:
    """``hll_hashes`` → ``hll_registers_from_hashes`` in one call."""
    return hll_registers_from_hashes(
        hll_hashes(df, col, group_col), group_col
    )


def hll_estimate_from_registers(
    regs: DataFrame, group_cols: list[str]
) -> DataFrame:
    """Fold a register table to one audit row per group — ``hll_m,
    n_exact, hll_estimate, err_e4``: sum the ``2^(RMAX − reg)`` terms,
    credit absent buckets as zero registers, apply the raw estimator,
    cut over to linear counting in the small range, and recover the
    exact count from the carried ``cnt`` column (valid whenever ``cnt``
    counts DISTINCT keys per bucket — true for every non-merged table).
    Every branch is the same integer (or pinned-float) expression the
    oracle runs."""
    raw = EST_RAW_SQL.format(div="div")
    return (
        regs.groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).alias("n_present"),
            F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {HLL_RMAX} - reg)"))
            .alias("s_present"),
            F.sum("cnt").alias("n_exact"),
        )
        .select(
            *group_cols,
            "n_exact",
            (F.lit(HLL_M) - F.col("n_present")).alias("v_zero"),
            F.expr(
                f"s_present + ({HLL_M} - n_present)"
                f" * shiftleft(CAST(1 AS BIGINT), {HLL_RMAX})"
            ).alias("s"),
        )
        .select(
            *group_cols,
            "n_exact",
            F.expr(
                f"CASE WHEN ({raw}) <= {HLL_LC_THRESHOLD} AND v_zero > 0"
                f" THEN {EST_LC_SQL} ELSE CAST(({raw}) AS BIGINT) END"
            ).alias("hll_estimate"),
        )
        .select(
            *group_cols,
            F.lit(HLL_M).cast("bigint").alias("hll_m"),
            F.col("n_exact").cast("bigint"),
            F.col("hll_estimate").cast("bigint"),
            F.expr(
                "CASE WHEN n_exact > 0 THEN"
                " (2 * abs(hll_estimate - n_exact) * 10000 + n_exact)"
                " div (2 * n_exact) ELSE 0 END"
            )
            .cast("bigint")
            .alias("err_e4"),
        )
    )


def hll_distinct(df: DataFrame, col: str) -> DataFrame:
    """One-row accuracy audit: ``hll_m, n_exact, hll_estimate, err_e4``
    (the ``kmv_distinct`` shape, so the two sketches read side by side).
    ONE pass: distinct-hash shuffle → ≤m-row register table carrying
    per-bucket counts → one-row fold; no second scan, no join."""
    return hll_estimate_from_registers(hll_registers(df, col), [])


def hll_group_union(
    df: DataFrame, group_col: str, key_col: str, all_label: str = "__ALL__"
) -> DataFrame:
    """Per-group register tables PLUS their element-wise-max merge — the
    mergeability demonstration: the ``all_label`` row's REGISTERS are
    built from the m·|groups| register rows alone, never rescanning the
    fact, and equal the single global sketch exactly (max of maxes per
    bucket — pinned by test and by the oracle). Its EXACT audit column
    is the one thing registers cannot carry (groups overlap), so it
    alone re-aggregates the already-deduped (grp, h) hash frame."""
    hashed = hll_hashes(df, key_col, group_col)
    pregs = hll_registers_from_hashes(hashed, group_col)
    # merged bucket counts deliberately count (grp, h) pairs, not
    # distinct h — they are replaced by the true global distinct below
    merged = (
        pregs.groupBy("bucket")
        .agg(F.max("reg").alias("reg"), F.sum("cnt").alias("cnt"))
        .select(F.lit(all_label).alias(group_col), "bucket", "reg", "cnt")
    )
    per_group = hll_estimate_from_registers(pregs, [group_col])
    all_est = hll_estimate_from_registers(merged, [group_col])
    # Sentinel-collision guard: a REAL group equal to ``all_label``
    # would silently collide with the merged row. Detect it inside the
    # exact-count aggregate (same pass, no extra scan) and raise at
    # execution time via CASE+raise_error — the declarative equivalent
    # of an eager refusal guard.
    exact_all = hashed.agg(
        F.count_distinct("h").alias("true_exact"),
        F.max((F.col(group_col) == F.lit(all_label)).cast("int")).alias(
            "grp_clash"
        ),
    )
    guarded_exact = F.expr(
        "CASE WHEN grp_clash = 0 THEN true_exact ELSE"
        " CAST(raise_error(concat('hll_group_union: group value collides"
        " with all_label sentinel ', "
        f"{all_label!r}"
        ")) AS BIGINT) END"
    )
    all_row = (
        all_est.join(F.broadcast(exact_all))
        .select(
            group_col,
            "hll_m",
            guarded_exact.cast("bigint").alias("n_exact"),
            "hll_estimate",
            F.expr(
                "CASE WHEN true_exact > 0 THEN"
                " (2 * abs(hll_estimate - true_exact) * 10000 + true_exact)"
                " div (2 * true_exact) ELSE 0 END"
            )
            .cast("bigint")
            .alias("err_e4"),
        )
    )
    return per_group.unionByName(all_row)
