"""Measurement from outside the program: spans, Spark job counts, JVM GC,
process-tree CPU split and peak resident memory.

Spans are recorded by the benchmark around its calls into the program's
public functions; they stay in memory and are written once, when the run
ends. Nothing here is imported by the program.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext

from bench import _proc_tree_cpu_sec


class Tracer:
    """Nested spans (name, start, end, parent, op) plus named counters.

    A disabled tracer hands out ``nullcontext`` spans and ignores counts,
    so the untraced passes run the same code with no recording."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []
        self.op: str | None = None

    def span(self, name: str, **attrs):
        return self._span(name, attrs) if self.enabled else nullcontext()

    @contextmanager
    def _span(self, name: str, attrs: dict):
        rec = {"id": len(self.spans), "name": name, "op": self.op,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def add(self, key: str, value: float) -> None:
        if self.enabled:
            self.counts[key] += value

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the part covered by child
        spans (children never overlap: the client is one thread)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += s["end"] - s["start"] - child[s["id"]]
        return out

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name]

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counts": self.counts,
                       "self_s": self.self_times(), **extra}, f)


# --------------------------------------------------------------------------
# Spark status tracker and JVM
# --------------------------------------------------------------------------


def job_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, tasks, failed tasks) for one job group, from the public
    status tracker."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = failed = 0
    for jid in jobs:
        info = st.getJobInfo(jid)
        for sid in (info.stageIds if info else []):
            stage = st.getStageInfo(sid)
            if stage:
                tasks += stage.numTasks
                failed += stage.numFailedTasks
    return len(jobs), tasks, failed


def gc_seconds(sc) -> float:
    """Cumulative collection time of every JVM garbage collector."""
    beans = sc._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


# --------------------------------------------------------------------------
# process tree
# --------------------------------------------------------------------------


def _tree() -> dict[int, tuple[int, str, list[str]]]:
    """pid -> (ppid, comm, stat fields after comm) for every process."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                st = f.read()
        except OSError:
            continue
        rest = st[st.rindex(")") + 2:].split()
        out[int(d)] = (int(rest[1]), st[st.index("(") + 1:st.rindex(")")],
                       rest)
    return out


def _descendants(tree, root: int) -> list[int]:
    kids = defaultdict(list)
    for pid, (ppid, _, _) in tree.items():
        kids[ppid].append(pid)
    out, stack = [], [root]
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(kids[p])
    return out


def jvm_cpu_seconds() -> float:
    """User+system CPU of the Spark JVM(s) under this process."""
    hz = os.sysconf("SC_CLK_TCK")
    tree = _tree()
    return sum(int(tree[p][2][11]) + int(tree[p][2][12])
               for p in _descendants(tree, os.getpid())
               if tree.get(p, (0, "", []))[1] == "java") / hz


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") \
                // 1024
    except OSError:
        return 0


def tree_rss_mb() -> float:
    """Resident memory of this process and all its descendants. Python
    processes count as proportional set size: pages the forked Python
    workers share with their daemon count once, not once per worker. The
    JVM counts as its resident set: its pages are private but for a few
    shared libraries, and its PSS walks the whole multi-GB address space
    under the JVM's memory-map lock (about 50 ms a call, measured on a
    4-vCPU VM), which stalled the JVM's own threads while sampling. A
    ``java`` child of the JVM is the JVM spawning a helper before
    ``exec`` (it shares the parent's address space) and is skipped, or
    the heap would count twice."""
    tree = _tree()
    kb = 0
    for p in _descendants(tree, os.getpid()):
        if p not in tree:
            continue
        if tree[p][1] != "java":
            kb += _pss_kb(p)
        elif tree.get(tree[p][0], (0, ""))[1] != "java":
            kb += _rss_kb(p)
    return kb / 1024


class CpuSplit:
    """CPU seconds of the JVM and of the Python side (driver + workers,
    reaped ones included) between ``start`` and ``stop``."""

    def start(self) -> None:
        self._tot, self._jvm = _proc_tree_cpu_sec(), jvm_cpu_seconds()

    def stop(self) -> tuple[float, float]:
        jvm = jvm_cpu_seconds() - self._jvm
        return jvm, _proc_tree_cpu_sec() - self._tot - jvm


class PeakRss:
    """Samples the process tree's resident memory every ``interval`` s on
    a daemon thread; ``peak_mb`` is the highest sum seen."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, tree_rss_mb())
