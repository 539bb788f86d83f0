"""Measurement probes read from outside the engine.

- process tree CPU and resident memory, from /proc (the Python client,
  the JVM it launched, and the Python workers the JVM forks);
- Spark's own status store (jobs and stages of one job group);
- the executed physical plan's operator counts;
- an in-memory span tracer;
- a host canary: a fixed CPU-bound loop outside the engine.
"""

from __future__ import annotations

import os
import re
import threading
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


# ---------------------------------------------------------------------------
# process tree
# ---------------------------------------------------------------------------

def _stat(pid: int) -> tuple[int, str, list[str]] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    comm_end = raw.rindex(")")
    fields = raw[comm_end + 2:].split()
    return int(fields[1]), raw[raw.index("(") + 1:comm_end], fields


def tree() -> dict[int, tuple[str, list[str]]]:
    """{pid: (role, stat fields)} for this process and all descendants.
    Roles: ``client`` (this process), ``jvm`` (java and its launcher),
    ``pyworker`` (python processes under the JVM), ``spawn`` (any other
    process under the JVM)."""
    me = os.getpid()
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out = {me: ("client", stats[me][2])} if me in stats else {}
    stack = [(c, False) for c in children.get(me, [])]
    while stack:
        pid, under_jvm = stack.pop()
        comm, fields = stats[pid][1], stats[pid][2]
        if under_jvm:
            # anything else the JVM starts is a transient helper (a spawn
            # still sharing the JVM's pages, or a shell tool)
            role = "pyworker" if comm.startswith("python") else "spawn"
        elif comm == "java":
            role, under_jvm = "jvm", True
        else:
            role = "jvm"          # the spark-submit launcher before it execs java
        out[pid] = (role, fields)
        stack.extend((c, under_jvm) for c in children.get(pid, []))
    return out


def cpu_by_role() -> dict[str, float]:
    """CPU seconds (user + system, including reaped children) per role.
    The spark-submit launcher shell counts with the JVM."""
    acc = {"client": 0.0, "jvm": 0.0, "pyworker": 0.0}
    for role, f in tree().values():
        # fields after "(comm) ": [0]=state ... utime=[11] stime=[12]
        # cutime=[13] cstime=[14]
        acc["jvm" if role == "spawn" else role] += sum(int(x) for x in f[11:15]) / _CLK
    return acc


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, each shared page divided
    among the processes sharing it (forked workers share pages with
    their parent, so plain RSS would count those pages twice)."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def resident_mb() -> float:
    """Resident memory of the tree: PSS for the Python processes, RSS for
    the JVM and its other children (reading a large JVM's PSS walks all
    its page tables and would perturb the run)."""
    kb = 0
    for pid, (role, f) in tree().items():
        if role in ("client", "pyworker"):
            kb += _pss_kb(pid)
        elif role == "jvm":
            kb += int(f[21]) * _PAGE_KB
    return kb / 1e3


class MemorySampler:
    """Samples the tree's summed resident memory (PSS) every ``period`` s
    and keeps the highest value seen."""

    def __init__(self, period: float = 0.1):
        self.period, self.peak = period, 0.0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, resident_mb())
            self._stop.wait(self.period)

    def start(self):
        self._t.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._t.join()
        self.peak = max(self.peak, resident_mb())
        return self.peak


# ---------------------------------------------------------------------------
# host canary
# ---------------------------------------------------------------------------

def canary(n: int = 3_000_000) -> float:
    """Wall time of a fixed pure-Python loop; a stalled or contended host
    shows as a larger value."""
    t = time.perf_counter()
    acc = 0
    for i in range(n):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t


# ---------------------------------------------------------------------------
# Spark status store
# ---------------------------------------------------------------------------

STAGE_KEYS = ("jobs", "stages", "stages_skipped", "tasks", "tasks_failed",
              "task_run_s", "task_cpu_s", "task_gc_s", "input_mb",
              "input_rows", "shuffle_write_mb", "shuffle_read_mb",
              "spill_mb", "peak_exec_mem_mb")


def group_metrics(sc, group: str) -> dict[str, float]:
    """Sum the status-store metrics of every job in job group ``group``."""
    store = sc._jsc.sc().statusStore()
    out = dict.fromkeys(STAGE_KEYS, 0.0)
    jobs = store.jobsList(None)
    stage_ids: set[int] = set()
    for i in range(jobs.size()):
        j = jobs.apply(i)
        g = j.jobGroup()
        if not (g.isDefined() and g.get() == group):
            continue
        out["jobs"] += 1
        out["stages_skipped"] += j.numSkippedStages()
        ids = j.stageIds()
        stage_ids.update(ids.apply(k) for k in range(ids.size()))
    for sid in stage_ids:
        try:
            st = store.lastStageAttempt(sid)
        except Py4JJavaError:      # evicted from the store
            continue
        if st.status().toString() == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += st.numCompleteTasks()
        out["tasks_failed"] += st.numFailedTasks()
        out["task_run_s"] += st.executorRunTime() / 1e3
        out["task_cpu_s"] += st.executorCpuTime() / 1e9
        out["task_gc_s"] += st.jvmGcTime() / 1e3
        out["input_mb"] += st.inputBytes() / 1e6
        out["input_rows"] += st.inputRecords()
        out["shuffle_write_mb"] += st.shuffleWriteBytes() / 1e6
        out["shuffle_read_mb"] += st.shuffleReadBytes() / 1e6
        out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 1e6
        out["peak_exec_mem_mb"] = max(out["peak_exec_mem_mb"],
                                      st.peakExecutionMemory() / 1e6)
    return out


def cached_mb(sc) -> float:
    """Bytes held by persisted RDDs/frames in the block manager."""
    return sum(r.memSize() + r.diskSize()
               for r in sc._jsc.sc().getRDDStorageInfo()) / 1e6


# ---------------------------------------------------------------------------
# physical plan shape
# ---------------------------------------------------------------------------

PLAN_OPS = {
    "plan.exchange": r"\bExchange\b",
    "plan.bhj": r"\bBroadcastHashJoin\b",
    "plan.smj": r"\bSortMergeJoin\b",
    "plan.sort_agg": r"\bSortAggregate\b",
    "plan.arrow_eval": (r"\b(ArrowEvalPython|MapInPandas|MapInArrow|"
                        r"FlatMapGroupsInPandas|FlatMapGroupsInArrow|"
                        r"FlatMapCoGroupsInPandas|FlatMapCoGroupsInArrow|"
                        r"AggregateInPandas|WindowInPandas)\b"),
    "plan.inmem_scan": r"\bInMemoryTableScan\b",
}


def plan_counts(plan_text: str) -> dict[str, int]:
    """Operator counts of an executed plan; for an adaptive plan only the
    final plan (the text before its "Initial Plan" section) counts."""
    final = plan_text.split("== Initial Plan ==")[0]
    return {k: len(re.findall(p, final)) for k, p in PLAN_OPS.items()}


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------

class Tracer:
    """In-memory spans (name, start, end, parent). Disabled tracers
    record nothing; ``span`` is then a no-op context manager."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "parent": parent, "start": time.perf_counter(),
               "end": None, **attrs}
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[int, float]:
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return {i: s["end"] - s["start"] - child[i]
                for i, s in enumerate(self.spans)}

