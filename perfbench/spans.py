"""Spans around calls into the engine's layers, and the counters charged
to them.

A span records its name, layer, start, end and parent. On entry it sets
a Spark job group of its own and restores the caller's group on exit, so
every job is charged to the innermost span that submitted it. Streaming
queries run their micro-batches under a job group of their own (the
query's run id); those jobs are charged to the innermost span open when
they were submitted.

``instrument`` places spans from outside the program: it wraps each
public function and public method of every layer module and rebinds the
names that other modules of the package imported. Spans are kept in
memory and written out when the run ends.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import pkgutil
import statistics
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from sparkstate import Job

PACKAGE = "financial_data_engineering_spark"

#: Layer name -> modules (relative to the package). The remaining modules
#: go unmeasured: ``functions`` builds expressions whose cost lands in
#: the caller's ``plan_s``, ``plans`` only inspects, ``sources`` and
#: ``pipeline`` do REST I/O, and ``session`` is paid for in ``setup_s``.
LAYERS: dict[str, list[str]] = {
    "tables": ["tables"],
    "transform": ["transform.*"],
    "quality": ["quality.*"],
    "operators": ["operators.*"],
    "operators.graph": ["operators.graph"],
    "llm.dedup": ["llm.dedup"],
    "llm.bpe": ["llm.bpe"],
    "llm.similarity": ["llm.similarity"],
    "llm.pq": ["llm.pq"],
    "llm.index": ["llm.index"],
    "streaming": ["streaming.*"],
}
COUNTERS = (
    "wall_s", "self_s", "plan_s", "jobs", "tasks", "executor_cpu_s",
    "shuffle_write_mb", "spill_mb", "python_s", "python_mb",
)
EXTRAS = {
    "tables": ("input_mb",),
    "transform": ("written_mb",),
    "streaming": ("state_rows", "state_mb", "rows_per_s", "microbatch_ms"),
}
_MB = 1024 * 1024


@dataclass
class Span:
    span_id: int
    name: str
    layer: str
    parent: int | None
    start: float
    end: float = 0.0
    jobs: list[Job] = field(default_factory=list)

    @property
    def group(self) -> str:
        return f"perfbench-span-{self.span_id}"


class Recorder:
    """Opens spans and charges finished jobs to them."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self.spans: list[Span] = []
        self._open: list[Span] = []

    @contextmanager
    def span(self, name: str, layer: str):
        parent = self._open[-1] if self._open else None
        s = Span(len(self.spans), name, layer,
                 parent.span_id if parent else None, time.time())
        self.spans.append(s)
        self._open.append(s)
        self._sc.setJobGroup(s.group, name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._open.pop()
            if parent is not None:
                self._sc.setJobGroup(parent.group, parent.name)
            else:
                self._sc._jsc.clearJobGroup()

    def charge(self, jobs: list[Job]) -> None:
        """Attach each job to the span whose group it ran under, or else
        to the innermost span open at its submission time."""
        by_group = {s.group: s for s in self.spans}
        for job in jobs:
            owner = by_group.get(job.group) or self._innermost_at(job.submitted)
            if owner is not None:
                owner.jobs.append(job)

    def _innermost_at(self, t: float) -> Span | None:
        best = None
        for s in self.spans:
            if s.start <= t <= (s.end or float("inf")):
                if best is None or s.start >= best.start:
                    best = s
        return best

    def subtree(self, root: Span) -> list[Span]:
        kids: dict[int | None, list[Span]] = {}
        for s in self.spans:
            kids.setdefault(s.parent, []).append(s)
        out, todo = [], [root]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s.span_id, []))
        return out

    def to_json(self) -> list[dict]:
        return [
            {
                "id": s.span_id, "name": s.name, "layer": s.layer,
                "parent": s.parent, "start": s.start, "end": s.end,
                "jobs": len(s.jobs), "tasks": sum(j.tasks for j in s.jobs),
                "shuffle_write_bytes": sum(j.shuffle_write for j in s.jobs),
                "executor_cpu_s": round(sum(j.cpu_s for j in s.jobs), 6),
                "python_s": round(sum(j.python_s for j in s.jobs), 6),
            }
            for s in self.spans
        ]


def _layer_modules() -> dict[str, str]:
    """Module name -> layer, for every module of every layer. A module a
    layer names outright (``operators.graph``) beats a wildcard."""
    pkg = importlib.import_module(PACKAGE)
    every = [m.name for m in pkgutil.walk_packages(pkg.__path__, PACKAGE + ".")]
    out: dict[str, str] = {}
    for layer, patterns in LAYERS.items():
        for pat in patterns:
            full = f"{PACKAGE}.{pat}"
            if pat.endswith(".*"):
                for name in every:
                    if name.startswith(full[:-1]):
                        out.setdefault(name, layer)
            else:
                out[full] = layer
    return out


def instrument(recorder: Recorder) -> int:
    """Wrap every public function and method of the layer modules in a
    span; return how many were wrapped."""

    def wrap(fn, layer: str, label: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with recorder.span(label, layer):
                return fn(*args, **kwargs)

        return traced

    replaced: dict[int, object] = {}
    for mod_name, layer in _layer_modules().items():
        mod = importlib.import_module(mod_name)
        short = mod_name[len(PACKAGE) + 1:]
        for name, obj in list(vars(mod).items()):
            if name.startswith("_") or getattr(obj, "__module__", None) != mod_name:
                continue
            if inspect.isfunction(obj):
                wrapped = wrap(obj, layer, f"{short}.{name}")
                replaced[id(obj)] = wrapped
                setattr(mod, name, wrapped)
            elif inspect.isclass(obj):
                for meth, fn in list(vars(obj).items()):
                    if not meth.startswith("_") and inspect.isfunction(fn):
                        setattr(obj, meth, wrap(fn, layer, f"{short}.{name}.{meth}"))
                        replaced[id(fn)] = None
    # rebind names other modules imported with ``from ... import``
    for mod_name, mod in list(sys.modules.items()):
        if not mod_name.startswith(PACKAGE) or mod is None:
            continue
        for name, obj in list(vars(mod).items()):
            new = replaced.get(id(obj))
            if new is not None and new is not obj:
                setattr(mod, name, new)
    return len(replaced)


def layer_counters(recorder: Recorder, root: Span, stream_progress: list[dict]) -> dict[str, float]:
    """Per-layer counters of the spans under ``root`` (one pass)."""
    spans = recorder.subtree(root)
    by_id = {s.span_id: s for s in spans}
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)

    def has_layer_ancestor(s: Span) -> bool:
        p = by_id.get(s.parent)
        while p is not None:
            if p.layer == s.layer:
                return True
            p = by_id.get(p.parent)
        return False

    def first_job_time(s: Span) -> float | None:
        times = [j.submitted for d in recorder.subtree(s) for j in d.jobs]
        return min(times) if times else None

    out: dict[str, float] = {}
    for layer in LAYERS:
        mine = [s for s in spans if s.layer == layer]
        outer = [s for s in mine if not has_layer_ancestor(s)]
        jobs = [j for s in mine for j in s.jobs]
        plan = 0.0
        for s in outer:
            first = first_job_time(s)
            plan += (first if first is not None else s.end) - s.start
        c = {
            "wall_s": sum(s.end - s.start for s in outer),
            "self_s": sum(
                (s.end - s.start) - sum(k.end - k.start for k in children.get(s.span_id, []))
                for s in mine
            ),
            "plan_s": max(0.0, plan),
            "jobs": len(jobs),
            "tasks": sum(j.tasks for j in jobs),
            "executor_cpu_s": sum(j.cpu_s for j in jobs),
            "shuffle_write_mb": sum(j.shuffle_write for j in jobs) / _MB,
            "spill_mb": sum(j.spill for j in jobs) / _MB,
            "python_s": sum(j.python_s for j in jobs),
            "python_mb": sum(j.python_bytes for j in jobs) / _MB,
        }
        for key, value in c.items():
            out[f"{layer}.{key}"] = value
    all_jobs = [j for s in spans for j in s.jobs]
    out["tables.input_mb"] = sum(j.files_read for j in all_jobs) / _MB
    out["transform.written_mb"] = sum(
        j.output_bytes for s in spans if s.layer == "transform" for j in s.jobs
    ) / _MB
    out.update(stream_counters(stream_progress))
    return out


def stream_counters(progress: list[dict]) -> dict[str, float]:
    """State size at each query's last micro-batch, input rows per second
    of micro-batch time, and the median micro-batch duration."""
    last: dict[str, dict] = {}
    for p in progress:
        last[p["run_id"]] = p
    batches = [p["duration_ms"] for p in progress if p["rows"] > 0]
    busy_s = sum(p["duration_ms"] for p in progress) / 1000.0
    return {
        "streaming.state_rows": float(sum(p["state_rows"] for p in last.values())),
        "streaming.state_mb": sum(p["state_bytes"] for p in last.values()) / _MB,
        "streaming.rows_per_s": (
            sum(p["rows"] for p in progress) / busy_s if busy_s else 0.0
        ),
        "streaming.microbatch_ms": (
            float(statistics.median(batches)) if batches else 0.0
        ),
    }


def metric_units() -> dict[str, str]:
    """Every per-layer metric name with its unit."""
    names = [f"{layer}.{c}" for layer in LAYERS for c in COUNTERS]
    names += [f"{layer}.{x}" for layer, xs in EXTRAS.items() for x in xs]

    def unit(name: str) -> str:
        if name.endswith("_ms"):
            return "ms"
        if name.endswith("_per_s"):
            return "1/s"
        if name.endswith("_s"):
            return "s"
        if name.endswith("_mb"):
            return "MB"
        return "count"

    return {n: unit(n) for n in names}
