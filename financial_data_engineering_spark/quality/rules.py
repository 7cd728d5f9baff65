"""Data-quality rules compiled to Spark aggregate expressions.

API-compatible with the reference's rule surface (reference:
src/quality/rules.py:40-260 — six rule types returning ``RuleResult`` and
composing via ``RuleSet``), but the execution model is inverted for scale:
instead of one eager full-table pandas pass per rule, every fusable rule
contributes named aggregate Columns and ``RuleSet.evaluate`` runs them all
in ONE ``df.agg(...)`` job (a single scan regardless of rule count), which
also counts the frame's rows for every rule and report that needs them.
Key-based uniqueness rules need a groupBy, so each distinct key set costs
one extra aggregation job — still fully distributed, never collected.

Pandas-parity notes (SURVEY.md §4 traps):
- ``str.match`` is prefix-anchored → compiled as ``rlike('^(?:p)')``;
- ``duplicated(keep=False)`` counts every member of a duplicate group, and
  groups null keys together (Spark groupBy is null-safe too);
- pandas ``notna()`` drops float NaN as well as None → aggregates treat NaN
  in double/float columns as missing;
- in Spark's ordering NaN sorts above +Inf, so range checks must exclude
  NaN explicitly or violations get phantom counts.
"""

from __future__ import annotations

from abc import ABC, abstractmethod
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


@dataclass
class RuleResult:
    """Outcome of a single rule evaluation."""

    rule_name: str
    passed: bool
    column: str | None
    details: dict[str, Any] = field(default_factory=dict)

    @property
    def severity(self) -> str:
        return "PASS" if self.passed else "FAIL"


#: Name of the row count that every fused aggregate carries.
_ROWS = "__rows"


def _fused_row(df: DataFrame, exprs: list[Column]) -> dict[str, Any]:
    """Run ``exprs`` and the frame's row count as ONE aggregate."""
    return df.agg(*exprs, F.count(F.lit(1)).alias(_ROWS)).collect()[0].asDict()


def _is_float(df: DataFrame, col: str) -> bool:
    return isinstance(df.schema[col].dataType, (T.DoubleType, T.FloatType))


def _notna(df: DataFrame, col: str) -> Column:
    """Column that is NULL wherever pandas ``notna`` would be False
    (i.e. SQL NULL, plus NaN for float columns)."""
    c = F.col(col)
    if _is_float(df, col):
        return F.when(~F.isnan(c), c)
    return c


class Rule(ABC):
    """Base rule: compiles itself to aggregate expressions over a frame."""

    def __init__(self, name: str | None = None):
        self.name = name or self.__class__.__name__

    @abstractmethod
    def compile(self, df: DataFrame) -> "CompiledRule":
        """Bind to a frame: aggregate expressions + a finalizer, or an
        immediate result (e.g. missing column)."""

    def evaluate(self, df: DataFrame) -> RuleResult:
        """Standalone evaluation (one job). Prefer RuleSet for fusion."""
        compiled = self.compile(df)
        if compiled.immediate is not None:
            return compiled.immediate
        if compiled.standalone is not None:
            return compiled.standalone()
        return compiled.finalize(_fused_row(df, compiled.exprs))


@dataclass
class CompiledRule:
    """A rule bound to a frame: either a ready result, aggregate exprs +
    finalizer (fusable; the finalizer's row also carries the row count
    under ``_ROWS``), or a self-contained job (group-by rules)."""

    rule: Rule
    exprs: list[Column] = field(default_factory=list)
    finalize: Callable[[dict[str, Any]], RuleResult] = None  # type: ignore[assignment]
    immediate: RuleResult | None = None
    standalone: Callable[[], RuleResult] | None = None


class CompletenessRule(Rule):
    """Required columns have at least ``threshold`` non-null ratio.
    Empty frames count as fully complete (ratio 1.0), matching the
    reference (rules.py:62)."""

    def __init__(
        self, columns: list[str], threshold: float = 1.0, name: str | None = None
    ):
        super().__init__(name or f"completeness_{','.join(columns)}")
        self.columns = columns
        self.threshold = threshold

    def compile(self, df: DataFrame) -> CompiledRule:
        tag = f"__{id(self):x}"
        exprs = [
            F.count(_notna(df, col)).alias(f"{tag}_nn_{col}")
            for col in self.columns
            if col in df.columns
        ]

        def finalize(row: dict[str, Any]) -> RuleResult:
            total = row[_ROWS]
            failures: dict[str, Any] = {}
            for col in self.columns:
                if col not in df.columns:
                    failures[col] = {"error": "column not found"}
                    continue
                non_null = row[f"{tag}_nn_{col}"]
                ratio = non_null / total if total > 0 else 1.0
                if ratio < self.threshold:
                    failures[col] = {
                        "completeness": round(ratio, 4),
                        "null_count": total - non_null,
                        "threshold": self.threshold,
                    }
            return RuleResult(
                rule_name=self.name,
                passed=not failures,
                column=",".join(self.columns),
                details={"failures": failures} if failures else {},
            )

        return CompiledRule(self, exprs=exprs, finalize=finalize)


class UniquenessRule(Rule):
    """Key columns contain no duplicate rows (``duplicated(keep=False)``
    semantics: a key seen n>1 times contributes n duplicate rows)."""

    def __init__(self, columns: list[str], name: str | None = None):
        super().__init__(name or f"uniqueness_{','.join(columns)}")
        self.columns = columns

    def compile(self, df: DataFrame) -> CompiledRule:
        missing = [c for c in self.columns if c not in df.columns]
        if missing:
            return CompiledRule(
                self,
                immediate=RuleResult(
                    rule_name=self.name,
                    passed=False,
                    column=",".join(self.columns),
                    details={"error": f"missing columns: {missing}"},
                ),
            )

        def run() -> RuleResult:
            from financial_data_engineering_spark.operators import duplicate_row_count

            row = duplicate_row_count(df, self.columns).collect()[0]
            dup = row["duplicate_rows"]
            return RuleResult(
                rule_name=self.name,
                passed=dup == 0,
                column=",".join(self.columns),
                details={
                    "duplicate_rows": dup,
                    "unique_rows": row["total_rows"] - dup,
                    "total_rows": row["total_rows"],
                },
            )

        return CompiledRule(self, standalone=run)


class RangeRule(Rule):
    """Numeric values fall within [min_val, max_val] (inclusive), nulls/NaN
    excluded from both the check and the ``checked`` count."""

    def __init__(
        self,
        column: str,
        min_val: float | None = None,
        max_val: float | None = None,
        name: str | None = None,
    ):
        super().__init__(name or f"range_{column}")
        self.column = column
        self.min_val = min_val
        self.max_val = max_val

    def compile(self, df: DataFrame) -> CompiledRule:
        if self.column not in df.columns:
            return CompiledRule(
                self,
                immediate=RuleResult(
                    rule_name=self.name,
                    passed=False,
                    column=self.column,
                    details={"error": f"column {self.column!r} not found"},
                ),
            )
        tag = f"__{id(self):x}"
        v = _notna(df, self.column)
        violation = F.lit(False)
        if self.min_val is not None:
            violation = violation | (v < self.min_val)
        if self.max_val is not None:
            violation = violation | (v > self.max_val)
        exprs = [
            F.count(v).alias(f"{tag}_checked"),
            F.sum(F.when(violation, 1).otherwise(0)).alias(f"{tag}_violations"),
            F.min(v).alias(f"{tag}_min"),
            F.max(v).alias(f"{tag}_max"),
        ]

        def finalize(row: dict[str, Any]) -> RuleResult:
            checked = row[f"{tag}_checked"]
            violations = row[f"{tag}_violations"] or 0
            return RuleResult(
                rule_name=self.name,
                passed=violations == 0,
                column=self.column,
                details={
                    "violations": violations,
                    "checked": checked,
                    "min_found": float(row[f"{tag}_min"]) if checked > 0 else None,
                    "max_found": float(row[f"{tag}_max"]) if checked > 0 else None,
                    "min_allowed": self.min_val,
                    "max_allowed": self.max_val,
                },
            )

        return CompiledRule(self, exprs=exprs, finalize=finalize)


class PatternRule(Rule):
    """String values match a prefix-anchored regex (pandas ``str.match``
    semantics — anchored at the start, NOT a full match)."""

    def __init__(self, column: str, pattern: str, name: str | None = None):
        super().__init__(name or f"pattern_{column}")
        self.column = column
        self.pattern = pattern

    def compile(self, df: DataFrame) -> CompiledRule:
        if self.column not in df.columns:
            return CompiledRule(
                self,
                immediate=RuleResult(
                    rule_name=self.name,
                    passed=False,
                    column=self.column,
                    details={"error": f"column {self.column!r} not found"},
                ),
            )
        tag = f"__{id(self):x}"
        v = _notna(df, self.column).cast("string")
        anchored = f"^(?:{self.pattern})"
        exprs = [
            F.count(v).alias(f"{tag}_checked"),
            F.sum(F.when(v.isNotNull() & ~v.rlike(anchored), 1).otherwise(0)).alias(
                f"{tag}_mismatches"
            ),
        ]

        def finalize(row: dict[str, Any]) -> RuleResult:
            mismatches = row[f"{tag}_mismatches"] or 0
            return RuleResult(
                rule_name=self.name,
                passed=mismatches == 0,
                column=self.column,
                details={
                    "mismatches": mismatches,
                    "checked": row[f"{tag}_checked"],
                    "pattern": self.pattern,
                },
            )

        return CompiledRule(self, exprs=exprs, finalize=finalize)


class FreshnessRule(Rule):
    """Timestamp recency (extension beyond the reference's six rule
    types — the timeliness dimension every production quality framework
    adds): the column's MAX value must be within ``max_age_hours`` of
    ``as_of``. Fuses into the shared single-scan aggregate like
    Completeness/Range/Pattern. An all-null or empty column fails (there
    is no fresh data), with the detail saying so.

    ``as_of`` is an explicit timestamp string ("YYYY-MM-DD HH:MM:SS",
    session-timezone naive) rather than now() — deterministic runs,
    replayable audits."""

    def __init__(
        self,
        column: str,
        max_age_hours: float,
        as_of: str,
        name: str | None = None,
    ):
        super().__init__(name or f"freshness_{column}")
        self.column = column
        self.max_age_hours = max_age_hours
        self.as_of = as_of

    def compile(self, df: DataFrame) -> CompiledRule:
        if self.column not in df.columns:
            return CompiledRule(
                self,
                immediate=RuleResult(
                    rule_name=self.name,
                    passed=False,
                    column=self.column,
                    details={"error": f"column {self.column!r} not found"},
                ),
            )
        tag = f"__{id(self):x}"
        # Age is computed INSIDE the aggregate: both the as_of literal and
        # the column are interpreted in the SESSION timezone (UTC, pinned in
        # session.py), so the result never passes through the driver
        # process's OS timezone — PySpark converts collected timestamps to
        # driver-local datetimes, which would skew a Python-side subtraction
        # by the UTC offset on any non-UTC driver. The formatted newest
        # string is rendered JVM-side for the same reason.
        ts = F.col(self.column).cast("timestamp")
        exprs = [
            # microsecond precision: unix_timestamp() floors sub-second
            # fractions, which would overstate the age by up to ~1 s and
            # could flip a pass/fail sitting exactly on the boundary.
            (
                F.unix_micros(F.to_timestamp(F.lit(self.as_of)))
                - F.max(F.unix_micros(ts))
            ).alias(f"{tag}_age_us"),
            F.date_format(F.max(ts), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                f"{tag}_newest"
            ),
        ]

        def finalize(row: dict[str, Any]) -> RuleResult:
            age_us = row[f"{tag}_age_us"]
            if age_us is None:
                return RuleResult(
                    rule_name=self.name,
                    passed=False,
                    column=self.column,
                    details={"error": "no non-null timestamps"},
                )
            age_hours = age_us / 3_600_000_000.0
            return RuleResult(
                rule_name=self.name,
                passed=age_hours <= self.max_age_hours,
                column=self.column,
                details={
                    "newest": row[f"{tag}_newest"],
                    "age_hours": round(age_hours, 2),
                    "max_age_hours": self.max_age_hours,
                    "as_of": self.as_of,
                },
            )

        return CompiledRule(self, exprs=exprs, finalize=finalize)


class CustomRule(Rule):
    """User-defined validation: ``func(df) -> (bool, dict)``. The callable
    receives the Spark DataFrame and may run its own aggregations."""

    def __init__(
        self,
        func: Callable[[DataFrame], tuple],
        name: str = "custom_rule",
        column: str | None = None,
    ):
        super().__init__(name)
        self.func = func
        self.column = column

    def compile(self, df: DataFrame) -> CompiledRule:
        def run() -> RuleResult:
            passed, details = self.func(df)
            return RuleResult(
                rule_name=self.name,
                passed=bool(passed),
                column=self.column,
                details=details,
            )

        return CompiledRule(self, standalone=run)


class RuleSet:
    """Named, ordered rule collection. ``evaluate`` fuses every
    expression-compilable rule, plus the frame's row count, into a single
    aggregation job (one table scan total), then runs group-by and custom
    rules as their own jobs. Result order matches registration order.
    ``evaluate_counted`` also returns that row count, so a caller needs
    no ``count()`` job of its own."""

    def __init__(self, name: str = "default"):
        self.name = name
        self.rules: list[Rule] = []

    def add(self, rule: Rule) -> "RuleSet":
        self.rules.append(rule)
        return self

    def evaluate(self, df: DataFrame) -> list[RuleResult]:
        return self.evaluate_counted(df)[0]

    def evaluate_counted(self, df: DataFrame) -> tuple[list[RuleResult], int]:
        compiled = [rule.compile(df) for rule in self.rules]
        fused_row = _fused_row(df, [e for c in compiled for e in c.exprs])

        results: list[RuleResult] = []
        for c in compiled:
            if c.immediate is not None:
                results.append(c.immediate)
            elif c.standalone is not None:
                results.append(c.standalone())
            else:
                results.append(c.finalize(fused_row))
        return results, fused_row[_ROWS]

    def __len__(self) -> int:
        return len(self.rules)
