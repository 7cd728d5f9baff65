"""Physical-plan inspection: make scale properties assertable.

"Would this plan survive a 100× scale-up?" is a question about the
physical plan, not the output. These helpers parse ``explain``/executedPlan
text so tests can pin the properties that matter at 100 TB:

- predicate pushdown reached the parquet scan (``PushedFilters``);
- column pruning reached the scan (``ReadSchema`` holds only needed cols);
- a join that must broadcast actually broadcasts;
- the shuffle count matches the plan you designed (a surprise extra
  Exchange is a surprise extra TB of network at scale).

Plan shape changes across Spark versions are a real hazard — these parse
the stable markers (node names, scan annotations), not full plan text.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame


def _formatted(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def plan_text(df: DataFrame) -> str:
    """The formatted physical plan, final plans only. An adaptive plan
    that has executed (the frame itself, or a cached relation inside it)
    prints its final plan, then an "Initial Plan" tree, and the numbered
    node details of BOTH — so every initial-only node (and Exchange)
    would count twice. Spark numbers an adaptive plan's final-plan nodes
    first, ending at the final root, then its initial-only nodes, then
    the AdaptiveSparkPlan node itself; the ids strictly between the
    final root and that node are the initial-only ones, and their tree
    lines and detail blocks are dropped."""
    text = _formatted(df)
    initial_only = set()
    for asp, root in re.findall(
        r"AdaptiveSparkPlan \((\d+)\)\n[ :+-]*== Final Plan ==\n[^(\n]*\((\d+)\)",
        text,
    ):
        initial_only.update(str(i) for i in range(int(root) + 1, int(asp)))
    # a line belongs to its detail block (header to blank line) or, in a
    # tree, to the first node id it names
    kept, block = [], None
    for line in text.split("\n"):
        head = re.match(r"\((\d+)\) ", line)
        if head or not line.strip():
            block = head[1] if head else None
        node = block or (re.findall(r"\((\d+)\)", line) or [None])[0]
        if node not in initial_only and "== Initial Plan ==" not in line:
            kept.append(line)
    return "\n".join(kept)


@dataclass
class ScanInfo:
    """One parquet scan's pushdown facts."""

    location: str
    pushed_filters: list[str]
    read_columns: list[str]
    partition_filters: list[str]


def scans(df: DataFrame) -> list[ScanInfo]:
    """Every parquet scan in the plan with its pushed filters and read
    schema — the ground truth for pushdown/pruning assertions."""
    text = plan_text(df)
    out: list[ScanInfo] = []
    blocks = re.split(r"\n\(\d+\) ", text)
    for block in blocks:
        if not block.startswith("Scan parquet"):
            continue
        loc = re.search(r"Location: \S+ \[([^\]]*)\]", block)
        pushed = re.search(r"PushedFilters: \[([^\]]*)\]", block)
        part = re.search(r"PartitionFilters: \[([^\]]*)\]", block)
        schema = re.search(r"ReadSchema: struct<([^>]*)>", block)
        cols = []
        if schema and schema.group(1):
            cols = [c.split(":")[0] for c in schema.group(1).split(",")]
        out.append(
            ScanInfo(
                location=loc.group(1) if loc else "",
                pushed_filters=(
                    [f.strip() for f in pushed.group(1).split(",") if f.strip()]
                    if pushed
                    else []
                ),
                read_columns=cols,
                partition_filters=(
                    [f.strip() for f in part.group(1).split(",") if f.strip()]
                    if part
                    else []
                ),
            )
        )
    return out


def shuffle_count(df: DataFrame) -> int:
    """Number of Exchange nodes (each is a full shuffle of its input).
    AQE may coalesce partitions inside one, but never removes the network
    round-trip — the count is the scale-cost headline."""
    return len(re.findall(r"\n\(\d+\) Exchange", plan_text(df)))


def broadcast_join_count(df: DataFrame) -> int:
    """Number of broadcast joins (hash or nested-loop) — the joins whose
    build side ships to every executor instead of shuffling both sides.
    Counts numbered node headers, so each operator counts exactly once
    (the bare node name also appears in the formatted tree summary)."""
    return len(
        re.findall(
            r"\n\(\d+\) Broadcast(?:Hash|NestedLoop)Join", plan_text(df)
        )
    )


def sortmerge_join_count(df: DataFrame) -> int:
    return len(re.findall(r"\n\(\d+\) SortMergeJoin", plan_text(df)))


def has_whole_stage_codegen(df: DataFrame, execute: bool = True) -> bool:
    """True when at least one pipeline compiled to generated code
    (interpreted-only plans leave throughput on the table).

    Under AQE the physical plan is only finalized at runtime, so by
    default this EXECUTES the frame once and inspects its finalized
    adaptive plan. Execution runs THE CALLER'S exact QueryExecution — no
    limit() is injected (a CollectLimit/AQE early-stop would change the
    very plan being asserted, e.g. folding sort+limit to
    TakeOrderedAndProject) and no separate write command is planned (that
    would finalize a different QueryExecution than the one inspected).
    The action is a JVM-side count over the plan's internal-row RDD, so
    nothing materializes on the driver or crosses into Python. Pass
    ``execute=False`` to inspect a frame you've already run."""
    if execute:
        df._jdf.queryExecution().toRdd().count()
    text = df._jdf.queryExecution().executedPlan().toString()
    # Codegen stages render as "*(N) Operator" in the simple plan string.
    return bool(re.search(r"\*\(\d+\) ", text))


def nested_loop_join_count(df: DataFrame) -> int:
    """Number of nested-loop joins — the quadratic fallback that must
    never appear in a candidate-generation path (a broadcast NLJ against a
    deliberately small side is the one acceptable use)."""
    return len(re.findall(r"\n\(\d+\) \w*NestedLoopJoin", plan_text(df)))


def cartesian_count(df: DataFrame) -> int:
    """Number of CartesianProduct nodes — the all-pairs shuffle join that
    is never acceptable in this engine (even candidate generation goes
    through bucketed equi-joins or a broadcast NLJ against a bounded
    side)."""
    return len(re.findall(r"\n\(\d+\) CartesianProduct", plan_text(df)))


def row_udf_count(df: DataFrame) -> int:
    """Number of row-at-a-time Python UDF nodes (``BatchEvalPython``) —
    the per-row Python round-trip that is 10-100× slower than Arrow
    batches. Must be zero everywhere: Python kernels in this engine are
    Arrow-batched (``ArrowEvalPython`` or a :func:`python_kernel_count`
    node)."""
    return len(re.findall(r"\n\(\d+\) BatchEvalPython", plan_text(df)))


def python_kernel_count(df: DataFrame) -> int:
    """Number of Arrow-batched Python kernels (mapInPandas /
    applyInPandas / mapInArrow / applyInArrow) in the plan — the
    assertable marker that a GEMM-style operator runs distributed on
    executors rather than via a driver collect (a toPandas collect never
    appears as a plan node)."""
    return len(
        re.findall(
            r"FlatMapGroupsInPandas|MapInPandas|FlatMapGroupsInArrow|MapInArrow",
            plan_text(df),
        )
    )


def uses_pushed_filter(df: DataFrame, column: str) -> bool:
    """True if any scan pushed a filter mentioning ``column`` down to the
    parquet reader."""
    return any(
        any(column in f for f in s.pushed_filters) for s in scans(df)
    )


def reads_only(df: DataFrame, location_substr: str, columns: set[str]) -> bool:
    """True if the scan whose location contains ``location_substr`` reads
    exactly ``columns`` (column pruning worked)."""
    for s in scans(df):
        if location_substr in s.location:
            return set(s.read_columns) == columns
    return False


def _jchildren(node):
    cs = node.children()
    return [cs.apply(i) for i in range(cs.size())]


def _attr_names(jexprs) -> list[str] | None:
    """Attribute names of a Seq[Expression] (SortOrder children are
    unwrapped); None if any element is not a plain column reference —
    a computed partition key (e.g. a month bucket) adds cardinality the
    audit cannot see, so the caller must treat it as unknown/safe."""
    names = []
    for i in range(jexprs.size()):
        e = jexprs.apply(i)
        if e.getClass().getSimpleName() == "SortOrder":
            e = e.child()
        if e.getClass().getSimpleName() != "AttributeReference":
            return None
        names.append(e.name())
    return names


def _is_topk_filter(node) -> bool:
    """A Filter of the shape ``rank <= k`` directly over the Window (or
    its Project wrapper) that produced ``rank`` via row_number()/rank()
    — the top-k idiom. Its output is |partitions x k| rows: a
    cardinality reduction the audit must treat like a Limit (the salted
    two-phase samplers' phase-2 windows sit exactly behind one)."""
    cond = node.condition().toString()
    if "<=" not in cond:
        return False
    c = node.child()
    while c.getClass().getSimpleName() == "Project":
        c = c.child()
    if c.getClass().getSimpleName() != "Window":
        return False
    wes = c.windowExpressions()
    for i in range(wes.size()):
        we = wes.apply(i)
        s = we.toString()
        if ("row_number()" in s or "rank(" in s) and (
            we.name() + "#" in cond
        ):
            return True
    return False


def _reaches_big_leaf(node, big_markers: set[str]) -> bool:
    """True if a scale-with-data leaf is reachable from ``node`` without
    crossing an Aggregate, Limit, or top-k rank filter — i.e. the node
    runs at DATA scale. Aggregates collapse to group cardinality,
    limits to k rows, and top-k filters to |partitions x k|, so
    anything behind them is control-plane by construction."""
    name = node.getClass().getSimpleName()
    if name in (
        "Aggregate",
        "GlobalLimit",
        "LocalLimit",
        "GlobalLimitExec",
    ):
        return False
    if name == "Filter" and _is_topk_filter(node):
        return False
    kids = _jchildren(node)
    if not kids:
        leaf = node.toString()
        return any(m in leaf for m in big_markers)
    return any(_reaches_big_leaf(k, big_markers) for k in kids)


def low_card_partition_violations(
    df: DataFrame, low_card: set[str], big_markers: set[str]
) -> list[str]:
    """Windows/Sorts over DATA-SCALE frames whose keys cannot spread the
    work: a Window partitioned solely by columns from ``low_card`` (or
    by nothing), or an un-limited Sort keyed solely by them, caps
    parallelism at the key cardinality — the 25-way whole-table sort
    class round 8 fixed seven instances of by hand (month segmentation,
    value-domain aggregation, salting). This walks the OPTIMIZED logical
    plan: a frame is data-scale iff a leaf matching ``big_markers``
    (attribute names unique to the scale-with-data tables) is reachable
    without crossing an Aggregate or Limit; anything behind those is
    control-plane (|groups| / k rows) where a narrow window is the
    deliberate, cardinality-justified choice."""
    out: list[str] = []

    def walk(node):
        name = node.getClass().getSimpleName()
        if name == "Window":
            names = _attr_names(node.partitionSpec())
            if names is not None and all(n in low_card for n in names):
                if _reaches_big_leaf(node, big_markers):
                    out.append(
                        f"Window partitioned by {names or 'NOTHING'} "
                        "over a data-scale frame"
                    )
        elif name == "Sort" and getattr(node, "global")():
            names = _attr_names(node.order())
            if names is not None and all(n in low_card for n in names):
                if _reaches_big_leaf(node, big_markers):
                    out.append(
                        f"global Sort keyed by {names} over a "
                        "data-scale frame"
                    )
        for k in _jchildren(node):
            walk(k)

    walk(df._jdf.queryExecution().optimizedPlan())
    return out
