"""Counters read from outside the program: Spark's live status stores,
the kernel's memory high-water marks and the host's load.

Spark keeps its job, stage and SQL-execution records in status stores
that answer with the UI disabled. ``StatusReader`` reads them after a
pass, once the listener bus has drained, so every job of the pass is
recorded with its stages and metrics.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field

_MB = 1024 * 1024


@dataclass
class Job:
    job_id: int
    group: str | None
    submitted: float  # epoch seconds
    tasks: int
    stage_ids: list[int]
    # filled from the stages this job ran (each stage counted once)
    cpu_s: float = 0.0
    shuffle_write: int = 0
    spill: int = 0
    output_bytes: int = 0
    # filled from the SQL metrics of the job's execution (traced runs)
    files_read: int = 0
    python_s: float = 0.0
    python_bytes: int = 0


@dataclass
class StatusReader:
    """Reads the jobs that finished since the previous call."""

    spark: object
    last_job_id: int = -1
    _seen_stages: set[int] = field(default_factory=set)
    _last_execution: int = -1

    def __post_init__(self) -> None:
        sc = self.spark.sparkContext
        jvm = sc._jvm
        self._conv = jvm.scala.jdk.javaapi.CollectionConverters
        self._store = sc._jsc.sc().statusStore()
        self._sql = self.spark._jsparkSession.sharedState().statusStore()
        self._bus = sc._jsc.sc().listenerBus()
        # one JSON string per list instead of one py4j call per field
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_module, "MODULE$"))
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)

    def _json(self, obj) -> list[dict]:
        return json.loads(self._mapper.writeValueAsString(obj))

    def skip(self) -> None:
        """Forget the jobs run so far."""
        self._bus.waitUntilEmpty()
        ids = [j["jobId"] for j in self._json(self._store.jobsList(None))]
        self.last_job_id = max(ids, default=self.last_job_id)

    def new_jobs(self, sql_metrics: bool = False) -> list[Job]:
        """Jobs with an id above the last one returned, oldest first."""
        self._bus.waitUntilEmpty()
        raw = sorted(
            (j for j in self._json(self._store.jobsList(None)) if j["jobId"] > self.last_job_id),
            key=lambda j: j["jobId"],
        )
        if not raw:
            return []
        self.last_job_id = raw[-1]["jobId"]
        stages = {}
        for s in self._json(self._store.stageList(None, False, False, self._no_quantiles, None)):
            if s["attemptId"] >= stages.get(s["stageId"], {}).get("attemptId", -1):
                stages[s["stageId"]] = s
        jobs = []
        for j in raw:
            job = Job(
                job_id=j["jobId"],
                group=j.get("jobGroup"),
                submitted=j["submissionTime"] / 1000.0,
                tasks=j["numCompletedTasks"] + j["numFailedTasks"],
                stage_ids=j["stageIds"],
            )
            for sid in job.stage_ids:
                stage = stages.get(sid)
                if stage is None or sid in self._seen_stages:
                    continue
                self._seen_stages.add(sid)
                job.cpu_s += stage["executorCpuTime"] / 1e9
                job.shuffle_write += stage["shuffleWriteBytes"]
                job.spill += stage["diskBytesSpilled"]
                job.output_bytes += stage["outputBytes"]
            jobs.append(job)
        if sql_metrics:
            self._add_sql_metrics({j.job_id: j for j in jobs})
        return jobs

    def _add_sql_metrics(self, by_id: dict[int, Job]) -> None:
        """Charge each SQL execution's scan and Python-node metrics (size
        of files read; time to run Python workers, bytes sent to and
        returned from them) to the first of its jobs."""
        newest = self._last_execution
        for ex in self._conv.asJava(self._sql.executionsList()):
            eid = ex.executionId()
            if eid <= self._last_execution:
                continue
            newest = max(newest, eid)
            job_ids = sorted(self._conv.asJava(ex.jobs()).keySet())
            owner = next((by_id[i] for i in job_ids if i in by_id), None)
            if owner is None:
                continue
            names = {
                m.accumulatorId(): m.name()
                for m in self._conv.asJava(ex.metrics())
                if m.name() in _SQL_METRICS
            }
            if not names:
                continue
            values = self._conv.asJava(self._sql.executionMetrics(eid))
            for acc, name in names.items():
                text = values.get(acc)
                if text is None:
                    continue
                amount = _parse_metric(text)
                if name == "time to run Python workers":
                    owner.python_s += amount
                elif name == "size of files read":
                    owner.files_read += int(amount)
                else:
                    owner.python_bytes += int(amount)
        self._last_execution = newest


_SQL_METRICS = {
    "size of files read",
    "time to run Python workers",
    "data sent to Python workers",
    "data returned from Python workers",
}
_UNITS = {
    "B": 1, "KiB": 1024, "MiB": _MB, "GiB": 1024 * _MB, "TiB": 1024**4,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
}
_TOTAL = re.compile(r"([0-9][0-9.,]*)\s*([A-Za-z]+)")


def _parse_metric(text: str) -> float:
    """Total of a formatted SQL metric: bytes for sizes, seconds for
    times. The status store keeps them as ``"total (min, med, max ...)\\n
    3.1 MiB (...)"``, or as a bare ``"3.1 MiB"`` for a single task."""
    line = text.split("\n")[-1]
    m = _TOTAL.match(line.strip())
    if not m or m.group(2) not in _UNITS:
        raise ValueError(f"unparsed SQL metric {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]


def process_tree(root_pid: int) -> list[int]:
    """``root_pid`` and all its descendants, from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the kernel's resident-set high-water marks (VmHWM)."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue  # the process ended between listing and reading
    return total_kb / 1024.0


def host_snapshot() -> dict[str, float]:
    """1-min load average, and the host's cumulative CPU ticks with the
    share stolen by other guests (compare two snapshots)."""
    with open("/proc/stat") as f:
        ticks = [int(v) for v in f.readline().split()[1:]]
    return {
        "loadavg_1m": os.getloadavg()[0],
        "steal_ticks": ticks[7] if len(ticks) > 7 else 0,
        "total_ticks": sum(ticks),
    }
