"""Span recording for the traced run, plus Spark and /proc counters.

Spans are kept in memory and written out once, when the run ends. Each span
sets its own Spark job group, so after the run the jobs (and their stages)
it caused are matched to it through the Spark REST API
(``/api/v1/applications/<id>/{jobs,stages}``).

``wrap`` replaces a public function or method at the module attribute the
entry point looks it up through, for the length of one traced run, so the
entry point makes exactly the calls it makes untraced while every call into
a layer is timed from the benchmark's side. The program is not modified.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time
import urllib.request
from dataclasses import asdict, dataclass, field
from pathlib import Path


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run_id: str = ""
    id: int = 0
    counts: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def group(self, span_id: int) -> str:
        return f"{self.run_id}/{span_id}"

    @contextlib.contextmanager
    def span(self, name: str, **counts):
        s = Span(name, time.perf_counter(), parent=self._stack[-1] if self._stack else None,
                 run_id=self.run_id, id=len(self.spans), counts=dict(counts))
        self.spans.append(s)
        self._stack.append(s.id)
        self.sc.setJobGroup(self.group(s.id), name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self.group(self._stack[-1]), self.spans[self._stack[-1]].name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    @contextlib.contextmanager
    def wrap(self, owner, attr: str, name: str, label=None, on_result=None):
        """Trace every call of ``owner.attr`` as a span ``name`` while the
        context is open. ``label(args)`` adds a ``key`` count (e.g. the
        table a commit writes); ``on_result(span, result)`` records counts
        from the return value."""
        orig = getattr(owner, attr)

        def traced(*args, **kwargs):
            with self.span(name) as s:
                if label is not None:
                    s.counts["key"] = label(args, kwargs)
                out = orig(*args, **kwargs)
                if on_result is not None:
                    on_result(s, out)
                return out

        setattr(owner, attr, traced)
        try:
            yield
        finally:
            setattr(owner, attr, orig)

    def self_seconds(self, span: Span) -> float:
        """Duration minus the part of it that child spans cover (children
        never overlap: one client, each call returns before the next)."""
        kids = sum(c.seconds for c in self.spans if c.parent == span.id)
        return span.seconds - kids

    def find(self, name: str, key=None) -> list[Span]:
        return [s for s in self.spans
                if s.name == name and (key is None or s.counts.get("key") == key)]

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        rows = [{**asdict(s), "self_s": self.self_seconds(s)} for s in self.spans]
        path.write_text(json.dumps(rows, indent=1))


class SparkCounters:
    """Per-span Spark counters read from the REST API after the run."""

    KEYS = ("tasks", "failed_tasks", "cpu_s", "gc_s", "shuffle_write_bytes", "spill_bytes")

    def __init__(self, spark):
        self.base = spark.sparkContext.uiWebUrl
        apps = self._get("/api/v1/applications")
        self.app = f"/api/v1/applications/{apps[0]['id']}"
        self.jobs = self._get(f"{self.app}/jobs")
        self.stages = {(s["stageId"], s["attemptId"]): s for s in self._get(f"{self.app}/stages")}

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def jobs_of(self, groups: set[str]) -> list[dict]:
        return [j for j in self.jobs if j.get("jobGroup") in groups]

    def stages_of(self, groups: set[str]) -> list[dict]:
        ids = {sid for j in self.jobs_of(groups) for sid in j["stageIds"]}
        return [s for (sid, _), s in self.stages.items() if sid in ids]

    def totals(self, groups: set[str]) -> dict[str, float]:
        st = self.stages_of(groups)
        return {
            "tasks": sum(s["numCompleteTasks"] for s in st),
            "failed_tasks": sum(s["numFailedTasks"] for s in st),
            "cpu_s": sum(s["executorCpuTime"] for s in st) / 1e9,
            "gc_s": sum(s["jvmGcTime"] for s in st) / 1e3,
            "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in st),
            "spill_bytes": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in st),
        }

    def read_skew(self, groups: set[str]) -> float:
        """max / median shuffle-read records over the tasks of the stage
        that reads the most shuffle records (the salted exchange)."""
        st = [s for s in self.stages_of(groups) if s["shuffleReadRecords"] > 0]
        if not st:
            return 0.0
        s = max(st, key=lambda s: s["shuffleReadRecords"])
        tasks = self._get(f"{self.app}/stages/{s['stageId']}/{s['attemptId']}/taskList?length=100000")
        recs = [t["taskMetrics"]["shuffleReadMetrics"]["recordsRead"]
                for t in tasks if t.get("taskMetrics")]
        med = statistics.median(recs)
        return max(recs) / med if med else float(max(recs))


def _proc_tree(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            stat = Path(f"/proc/{d}/stat").read_text()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def peak_rss_mb(jvm_pid: int) -> float:
    """Summed VmHWM of the JVM and every process under it (the Python
    daemon and its workers)."""
    total_kb = 0
    for pid in _proc_tree(jvm_pid):
        try:
            for line in Path(f"/proc/{pid}/status").read_text().splitlines():
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024
