"""Measurement plumbing: process-tree CPU and memory from ``/proc``, an
in-memory span recorder, per-operation Spark attribution through job
groups, and wrappers that time calls into the engine's public layer
functions from outside.

Nothing here changes what the engine computes. Wrappers are installed
only for the traced run (``--trace 1``); the untraced run pays for none
of them.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import time
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------------------
# Process tree: CPU seconds and peak resident memory
# ---------------------------------------------------------------------------


def tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system) of the process tree under ``root``:
    live processes plus the children each has already reaped, so a
    Python worker that exits mid-run still counts."""
    total = 0
    for pid in tree_pids(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        total += sum(int(f) for f in fields[11:15])  # utime stime cutime cstime
    return total / _TICK


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs from ``/proc/stat``: the share
    of time the hypervisor ran something else is host-state metadata."""
    with open("/proc/stat") as fh:
        fields = [int(f) for f in fh.readline().split()[1:]]
    return fields[7], sum(fields)


def tree_peak_rss_mb(root: int | None = None) -> float:
    """Sum over the live process tree of each process's peak resident
    set (``VmHWM``): the JVM, the Python workers and the benchmark."""
    kb = 0
    for pid in tree_pids(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024


def du_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


class Tracer:
    """Spans kept in memory: name, start, end, parent span and the
    operation they belong to. ``dump`` writes them once, at exit."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: str | None = None
        self.counts: dict[str, float] = {}

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid, "name": name, "op": self.op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(), "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()
            self.add(f"{name}_s", rec["end"] - rec["start"])

    def add(self, key: str, value: float) -> None:
        if self.enabled:
            self.counts[key] = self.counts.get(key, 0.0) + value

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "counts": self.counts}, fh)


def wrap_attr(owner, attr: str, tracer: Tracer, name: str, after=None) -> None:
    """Replace ``owner.attr`` by a wrapper that records a span named
    ``name`` around each call; ``after(result, args)`` may add counts."""
    fn = getattr(owner, attr)

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with tracer.span(name):
            result = fn(*args, **kwargs)
        if after is not None:
            after(result, args)
        return result

    setattr(owner, attr, wrapper)


def wrap_everywhere(package: str, fn, wrapper) -> None:
    """Rebind every module-level reference to ``fn`` inside ``package``
    (modules import helpers by name, so patching the defining module
    alone would miss them)."""
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not mod_name.startswith(package):
            continue
        for attr, val in list(vars(mod).items()):
            if val is fn:
                setattr(mod, attr, wrapper)


# ---------------------------------------------------------------------------
# Spark attribution: job groups, the status store, SQL metrics
# ---------------------------------------------------------------------------

_PY_NODES = ("Python", "Pandas", "Arrow")


class SparkProbe:
    """Per-operation Spark counters, read through job groups the
    benchmark sets (``statusTracker().getJobIdsForGroup``) and the
    stage/SQL status stores. The status store's job list is never
    diffed: it keeps only ``spark.ui.retainedJobs`` entries."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.store = self.sc._jsc.sc().statusStore()

    def set_group(self, gid: str | None) -> str | None:
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setLocalProperty("spark.jobGroup.id", gid)
        return prev

    def jobs(self, gid: str) -> list[int]:
        return list(self.tracker.getJobIdsForGroup(gid))

    def stage_metrics(self, job_ids: list[int]) -> dict[str, float]:
        out = dict.fromkeys(
            ("stages", "tasks", "run_ms", "shuffle_read", "shuffle_write",
             "spill", "scan"), 0.0,
        )
        seen: set[int] = set()
        for jid in job_ids:
            info = self.tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                if sid in seen:
                    continue
                seen.add(sid)
                sd = self.store.lastStageAttempt(sid)
                if sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks()
                out["run_ms"] += sd.executorRunTime()
                out["shuffle_read"] += sd.shuffleReadBytes()
                out["shuffle_write"] += sd.shuffleWriteBytes()
                out["spill"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                out["scan"] += sd.inputBytes()
        return out

    def python_rows(self, job_ids: list[int], since_exec: int) -> float:
        """Rows returned by Python workers (``number of output rows`` of
        every Python/Arrow plan node) in the SQL executions, started
        after ``since_exec``, that ran any of ``job_ids``."""
        sql = self.spark._jsparkSession.sharedState().statusStore()
        n = sql.executionsCount()
        if n <= since_exec:
            return 0.0
        want = set(job_ids)
        conv = self.sc._jvm.scala.jdk.javaapi.CollectionConverters
        execs = sql.executionsList(since_exec, n - since_exec)
        rows = 0.0
        for i in range(execs.size()):
            ex = execs.apply(i)
            if not want & set(conv.asJava(ex.jobs().keySet())):
                continue
            eid = ex.executionId()
            values = sql.executionMetrics(eid)
            nodes = sql.planGraph(eid).allNodes()
            for k in range(nodes.size()):
                node = nodes.apply(k)
                if not any(s in node.name() for s in _PY_NODES):
                    continue
                ms = node.metrics()
                for q in range(ms.size()):
                    m = ms.apply(q)
                    if m.name() == "number of output rows":
                        v = values.get(m.accumulatorId())
                        if v.isDefined():
                            rows += float(v.get().replace(",", ""))
        return rows

    def sql_executions(self) -> int:
        return self.spark._jsparkSession.sharedState().statusStore().executionsCount()

    def cache_state(self) -> dict[str, float]:
        """What the last operation left behind: persistent RDDs, their
        stored bytes, and SQL cache entries."""
        jsc = self.sc._jsc
        infos = jsc.sc().getRDDStorageInfo()
        return {
            "leaked_rdds": float(len(jsc.getPersistentRDDs())),
            "cached_bytes": float(sum(i.memSize() + i.diskSize() for i in infos)),
            "leaked_cache_entries": float(
                self.spark._jsparkSession.sharedState().cacheManager().numCachedEntries()
            ),
        }


def hygiene(spark) -> None:
    """The between-query hygiene of ``bench.py``: drop every persistent
    RDD, the SQL cache and the quantile helper's pinned artifacts, so no
    operation reads an earlier one's blocks."""
    from ai_powered_e_commerce_analytics_spark.plans.quantiles import (
        release_arranged_cache,
    )

    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(False)
    spark.catalog.clearCache()
    release_arranged_cache()
