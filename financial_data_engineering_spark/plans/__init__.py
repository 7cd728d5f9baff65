"""Physical-plan inspection utilities: assertable pushdown, pruning,
broadcast, and shuffle-count properties."""

from financial_data_engineering_spark.plans.inspect import (
    ScanInfo,
    broadcast_join_count,
    cartesian_count,
    has_whole_stage_codegen,
    low_card_partition_violations,
    nested_loop_join_count,
    plan_text,
    python_kernel_count,
    row_udf_count,
    reads_only,
    scans,
    shuffle_count,
    sortmerge_join_count,
    uses_pushed_filter,
)

__all__ = [
    "ScanInfo",
    "broadcast_join_count",
    "cartesian_count",
    "has_whole_stage_codegen",
    "low_card_partition_violations",
    "nested_loop_join_count",
    "plan_text",
    "python_kernel_count",
    "row_udf_count",
    "reads_only",
    "scans",
    "shuffle_count",
    "sortmerge_join_count",
    "uses_pushed_filter",
]
