"""Quality-framework semantics (mirrors reference tests/test_rules.py and
test_validator.py coverage: thresholds, missing columns, empty frames,
duplicate semantics, prefix-anchored patterns, report rollups)."""

from __future__ import annotations

from pyspark.sql import functions as F

from financial_data_engineering_spark.quality import (
    CompletenessRule,
    CustomRule,
    DataValidator,
    PatternRule,
    RangeRule,
    RuleSet,
    UniquenessRule,
)
from tests.conftest import count_jobs


def test_completeness_passes_on_clean(spark, clean_df):
    result = CompletenessRule(["id", "ticker", "price"]).evaluate(clean_df)
    assert result.passed
    assert result.details == {}


def test_completeness_fails_with_ratio(spark, messy_df):
    result = CompletenessRule(["id", "ticker"]).evaluate(messy_df)
    assert not result.passed
    fails = result.details["failures"]
    assert fails["id"]["null_count"] == 1
    assert fails["id"]["completeness"] == 0.8
    assert fails["ticker"]["null_count"] == 1


def test_completeness_threshold_tolerates_nulls(spark, messy_df):
    result = CompletenessRule(["id"], threshold=0.5).evaluate(messy_df)
    assert result.passed


def test_completeness_missing_column(spark, clean_df):
    result = CompletenessRule(["nope"]).evaluate(clean_df)
    assert not result.passed
    assert result.details["failures"]["nope"] == {"error": "column not found"}


def test_completeness_empty_frame_passes(spark):
    empty = spark.createDataFrame([], "id int")
    result = CompletenessRule(["id"]).evaluate(empty)
    assert result.passed


def test_completeness_counts_nan_as_missing(spark):
    df = spark.createDataFrame([(1.0,), (float("nan"),), (None,)], "x double")
    result = CompletenessRule(["x"]).evaluate(df)
    assert not result.passed
    assert result.details["failures"]["x"]["null_count"] == 2


def test_uniqueness_keep_false_semantics(spark, messy_df):
    result = UniquenessRule(["id"]).evaluate(messy_df)
    assert not result.passed
    assert result.details["duplicate_rows"] == 2
    assert result.details["total_rows"] == 5


def test_uniqueness_missing_columns(spark, clean_df):
    result = UniquenessRule(["id", "ghost"]).evaluate(clean_df)
    assert not result.passed
    assert "missing columns" in result.details["error"]


def test_range_inclusive_bounds_and_found(spark, messy_df):
    result = RangeRule("price", min_val=0, max_val=10000).evaluate(messy_df)
    assert not result.passed
    assert result.details["violations"] == 2  # -5 below, 99999 above
    assert result.details["checked"] == 5
    assert result.details["min_found"] == -5.0
    assert result.details["max_found"] == 99999.0


def test_range_one_sided(spark, clean_df):
    assert RangeRule("price", min_val=0).evaluate(clean_df).passed
    assert not RangeRule("price", max_val=200).evaluate(clean_df).passed


def test_range_nan_not_a_violation(spark):
    df = spark.createDataFrame([(1.0,), (float("nan"),)], "x double")
    result = RangeRule("x", min_val=0, max_val=2).evaluate(df)
    assert result.passed
    assert result.details["checked"] == 1


def test_pattern_prefix_anchored_not_full_match(spark):
    df = spark.createDataFrame([("abc",), ("abx",), ("zab",)], "s string")
    result = PatternRule("s", "ab").evaluate(df)
    # str.match('ab'): 'abc' and 'abx' match (prefix), 'zab' does not
    assert result.details["mismatches"] == 1
    assert result.details["checked"] == 3


def test_pattern_alternation_is_grouped(spark):
    df = spark.createDataFrame([("cat",), ("dog",), ("catfish",), ("hotdog",)], "s string")
    result = PatternRule("s", "cat|dog").evaluate(df)
    # '^(?:cat|dog)' — hotdog must NOT match ('^cat|dog' would wrongly match)
    assert result.details["mismatches"] == 1


def test_custom_rule_gets_spark_frame(spark, clean_df):
    def has_rows(df):
        n = df.count()
        return n >= 3, {"rows": n}

    result = CustomRule(has_rows, name="min_rows").evaluate(clean_df)
    assert result.passed
    assert result.details == {"rows": 3}


def test_ruleset_fuses_and_preserves_order(spark, messy_df):
    rs = (
        RuleSet("combo")
        .add(CompletenessRule(["id"]))
        .add(RangeRule("price", min_val=0))
        .add(UniquenessRule(["id"]))
        .add(PatternRule("email", r"[^@]+@[^@]+"))
    )
    results = rs.evaluate(messy_df)
    assert [r.rule_name for r in results] == [
        "completeness_id",
        "range_price",
        "uniqueness_id",
        "pattern_email",
    ]
    assert [r.passed for r in results] == [False, False, False, False]


def test_validator_report_rollup(spark, messy_df):
    v = (
        DataValidator("messy")
        .add_rule(CompletenessRule(["email"], threshold=0.5))
        .add_rule(RangeRule("price", min_val=-10, max_val=100000))
        .add_rule(UniquenessRule(["id"]))
    )
    assert v.rule_count == 3
    report = v.validate(messy_df)
    assert report.row_count == 5
    assert report.column_count == 4
    assert report.pass_count == 2
    assert report.fail_count == 1
    assert not report.passed
    d = report.to_dict()
    assert d["summary"]["rows_checked"] == 5
    assert len(d["results"]) == 3
    assert len(report.failures) == 1


def test_validator_row_count_rides_on_the_fused_aggregate(spark):
    """With expression rules only, ``validate`` submits the fused
    aggregate's jobs and nothing else: the report's row count comes from
    that aggregate, not from a ``count()`` of its own."""
    df = spark.range(0, 1000, 1, 4).select(
        F.col("id").alias("id"), (F.col("id") * 0.5).alias("price")
    )
    with count_jobs(spark) as agg:
        df.agg(F.count(F.lit(1))).collect()
    v = (
        DataValidator("expr_only")
        .add_rule(CompletenessRule(["id", "price"]))
        .add_rule(RangeRule("price", min_val=0, max_val=400))
        .add_rule(PatternRule("id", r"[0-9]+"))
    )
    with count_jobs(spark) as jobs:
        report = v.validate(df)
    assert report.row_count == 1000
    assert [r.passed for r in report.results] == [True, False, True]
    assert report.results[1].details["violations"] == 199
    assert jobs.n == agg.n


def test_ruleset_counts_rows_without_fusable_rules(spark, messy_df):
    """Only group-by and custom rules: the row count still comes back."""
    rs = RuleSet("no_fused").add(UniquenessRule(["id"]))
    results, rows = rs.evaluate_counted(messy_df)
    assert rows == 5
    assert [r.rule_name for r in results] == ["uniqueness_id"]


class TestFreshnessRule:
    """Timeliness extension: max(ts) within max_age of a fixed as_of."""

    def _events(self, spark):
        from financial_data_engineering_spark.tables import load
        from tests.conftest import SF_SMALL

        return load(spark, "events", SF_SMALL)

    def test_fresh_passes_and_stale_fails(self, spark):
        from financial_data_engineering_spark.quality import FreshnessRule

        ev = self._events(spark)
        # events end 2024-01-30; as_of one day later with 48h budget: fresh
        ok = FreshnessRule("ts", 48, "2024-01-31 00:00:00").evaluate(ev)
        assert ok.passed and ok.details["age_hours"] <= 48
        # as_of a year later with the same budget: stale
        bad = FreshnessRule("ts", 48, "2025-01-31 00:00:00").evaluate(ev)
        assert not bad.passed
        assert bad.details["age_hours"] > 48

    def test_all_null_and_missing_column(self, spark):
        from financial_data_engineering_spark.quality import FreshnessRule

        empty = spark.createDataFrame([], "ts timestamp")
        r = FreshnessRule("ts", 1, "2024-01-01 00:00:00").evaluate(empty)
        assert not r.passed and "no non-null" in r.details["error"]
        r2 = FreshnessRule("nope", 1, "2024-01-01 00:00:00").evaluate(empty)
        assert not r2.passed and "not found" in r2.details["error"]

    def test_fuses_into_single_scan_with_other_rules(self, spark):
        """RuleSet fusion: freshness joins the one-pass aggregate."""
        from financial_data_engineering_spark.quality import (
            CompletenessRule,
            FreshnessRule,
        )
        from financial_data_engineering_spark.quality.rules import RuleSet

        ev = self._events(spark)
        rs = RuleSet("events")
        rs.add(CompletenessRule(["event_id", "ts"]))
        rs.add(FreshnessRule("ts", 48, "2024-01-31 00:00:00"))
        results = rs.evaluate(ev)
        assert all(r.passed for r in results)
