"""In-memory spans, Spark status-store stage metrics and process-tree RSS.

Spans are recorded only around the benchmark's own calls into the engine
(no engine code is instrumented). Stage metrics come from Spark's
``AppStatusStore``, which is populated with ``spark.ui.enabled=false``:
every engine call runs under its own job group, and the stages of that
group's jobs carry executor run/CPU/GC time, bytes and failed tasks.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from typing import Optional


class Tracer:
    """Spans (name, start, end, parent, run id) kept in memory until
    :meth:`write`. A disabled tracer records nothing."""

    def __init__(self, run_id: str, enabled: bool = True):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        record = {"run_id": self.run_id, "id": len(self.spans),
                  "parent": self._open[-1] if self._open else None,
                  "name": name, "start": time.perf_counter(), "end": None,
                  **attrs}
        self.spans.append(record)
        self._open.append(record["id"])
        try:
            yield record
        finally:
            record["end"] = time.perf_counter()
            self._open.pop()

    def write(self, path: str, **extra) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        selfs = self_times(self.spans)
        spans = [dict(s, self_s=selfs[s["id"]]) for s in self.spans]
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": spans, **extra}, f,
                      indent=1, default=str)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part of it covered by its children."""
    children: dict[Optional[int], list[dict]] = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, reach = 0.0, s["start"]
        for c in sorted(children.get(s["id"], ()), key=lambda c: c["start"]):
            lo, hi = max(c["start"], reach), min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                reach = hi
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


# ---------------------------------------------------------------------------
# Spark status store
# ---------------------------------------------------------------------------

STAGE_FIELDS = ("tasks", "failed_tasks", "run_ms", "cpu_ns", "gc_ms",
                "output_bytes", "shuffle_write_bytes", "shuffle_read_bytes")


class StatusStore:
    """Per-job-group stage metrics read from the driver's status store."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()
        self._jvm = self._sc._jvm
        self._seq = 0

    @contextmanager
    def group(self, layer: str):
        """Run the enclosed engine call under a fresh job group of ``layer``;
        yields the group id to pass to :meth:`metrics`."""
        self._seq += 1
        group = f"{layer}#{self._seq}"
        self._sc.setJobGroup(group, layer)
        try:
            yield group
        finally:
            self._sc.setJobGroup("perfbench", "benchmark bookkeeping")

    def metrics(self, groups: list[str]) -> dict:
        """Summed stage metrics plus the job count of the given groups."""
        wanted, jobs = set(groups), 0
        stage_ids: set[int] = set()
        job_seq = self._store.jobsList(self._jvm.java.util.ArrayList())
        for i in range(job_seq.size()):
            job = job_seq.apply(i)
            group = job.jobGroup()
            if group.isDefined() and group.get() in wanted:
                jobs += 1
                ids = job.stageIds()
                stage_ids.update(ids.apply(j) for j in range(ids.size()))
        out = dict.fromkeys(STAGE_FIELDS, 0)
        out["jobs"] = jobs
        no_quantiles = self._sc._gateway.new_array(self._jvm.double, 0)
        stages = self._store.stageList(self._jvm.java.util.ArrayList(), False,
                                       False, no_quantiles,
                                       self._jvm.java.util.ArrayList())
        for i in range(stages.size()):
            st = stages.apply(i)
            if st.stageId() not in stage_ids:
                continue
            out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            out["failed_tasks"] += st.numFailedTasks()
            out["run_ms"] += st.executorRunTime()
            out["cpu_ns"] += st.executorCpuTime()
            out["gc_ms"] += st.jvmGcTime()
            out["output_bytes"] += st.outputBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
        return out


# ---------------------------------------------------------------------------
# Process tree: RSS sampling and shutdown
# ---------------------------------------------------------------------------

def descendants(root: int) -> list[int]:
    """Every live process below ``root`` (the JVM and its Python workers)."""
    parent_of = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        parent_of[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
    out, frontier = [], [root]
    while frontier:
        pid = frontier.pop()
        kids = [p for p, pp in parent_of.items() if pp == pid]
        out += kids
        frontier += kids
    return out


def tree_rss_mb(root: int) -> float:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total / 2**20


class RssSampler:
    """Peak summed RSS of this process's descendants while active."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread: Optional[threading.Thread] = None

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(root))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_mb = max(self.peak_mb, tree_rss_mb(os.getpid()))
