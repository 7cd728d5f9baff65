"""DataValidator: run a rule set against a DataFrame, produce a report.

Same public API as the reference validator (src/quality/validator.py:16-67)
over Spark frames. ``validate`` triggers one fused aggregation job for all
expression rules, which also counts the rows for the report, and one job
per key-uniqueness or custom rule; there is no separate ``count()``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from financial_data_engineering_spark.quality.report import ValidationReport
from financial_data_engineering_spark.quality.rules import Rule, RuleSet


class DataValidator:
    """Validate a DataFrame against a set of rules.

    Usage::

        v = DataValidator("orders")
        v.add_rule(CompletenessRule(["o_orderkey", "o_custkey"]))
        v.add_rule(RangeRule("o_totalprice", min_val=0))
        report = v.validate(df)
    """

    def __init__(self, name: str = "validation"):
        self.name = name
        self._ruleset = RuleSet(name)

    def add_rule(self, rule: Rule) -> "DataValidator":
        self._ruleset.add(rule)
        return self

    def add_rules(self, rules: list[Rule]) -> "DataValidator":
        for rule in rules:
            self._ruleset.add(rule)
        return self

    @property
    def rule_count(self) -> int:
        return len(self._ruleset)

    def validate(self, df: DataFrame) -> ValidationReport:
        """Run all rules; returns pass/fail status per rule plus frame stats."""
        results, row_count = self._ruleset.evaluate_counted(df)
        return ValidationReport(
            name=self.name,
            results=results,
            row_count=row_count,
            column_count=len(df.columns),
        )
