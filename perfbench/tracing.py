"""Spans, Spark status-store counters and process-tree memory, all measured
from outside the engine.

A span is (name, start, end, parent). Spans live in memory and are written
out once, at the end of a run. Each span also carries the change in Spark's
stage counters between its start and its end, read from the status store
(``sc.statusStore().stageList``) after the listener bus drained.
"""

from __future__ import annotations

import json
import os
import threading
import time
from dataclasses import asdict, dataclass, field

# stage-data getter -> name in a span's counters
COUNTERS = {
    "executorRunTime": "task_ms",
    "jvmGcTime": "gc_ms",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "outputBytes": "output_bytes",
    "numFailedTasks": "failed_tasks",
    "numCompleteTasks": "completed_tasks",
}


class StatusCounters:
    """Totals of the stage metrics in Spark's status store.

    Stage data is final once a stage completes, so completed stages are
    read once and cached. The executor summaries are not used: their
    ``totalDuration`` is not a sum of task times, and neither level counts
    the bytes the nested-column parquet reader reads."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self._no_filter = sc._jvm.java.util.ArrayList()
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        self._final = dict.fromkeys(COUNTERS.values(), 0)  # sums over final stages
        self._seen: set = set()     # keys of final stages, already summed
        self._pending: set = set()  # keys of stages not final at the last snapshot

    def snapshot(self) -> dict:
        self._sc.listenerBus().waitUntilEmpty(30_000)
        # newest stage first; once a summed stage is reached, every older
        # one was final and summed before, unless one was still pending
        stages = self._sc.statusStore().stageList(
            self._no_filter, False, False, self._no_quantiles, self._no_filter
        )
        live = dict.fromkeys(COUNTERS.values(), 0)
        pending = set()
        for k in range(stages.size()):
            stage = stages.apply(k)
            key = (stage.stageId(), stage.attemptId())
            if key in self._seen:
                if self._pending <= self._seen:
                    break
                continue
            final = str(stage.status()) in ("COMPLETE", "FAILED", "SKIPPED")
            target = self._final if final else live
            for getter, name in COUNTERS.items():
                target[name] += int(getattr(stage, getter)())
            if final:
                self._seen.add(key)
            else:
                pending.add(key)
        self._pending = pending
        return {name: self._final[name] + live[name] for name in COUNTERS.values()}


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    counters: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. ``counters`` is a zero-argument callable
    returning a dict of monotonically growing totals."""

    def __init__(self, counters):
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._counters = counters

    def span(self, name: str):
        return _SpanContext(self, name)

    def children(self, index: int) -> list[Span]:
        return [s for s in self.spans if s.parent == index]

    def self_time(self, index: int) -> float:
        span = self.spans[index]
        return self_time(span.start, span.end, [(c.start, c.end) for c in self.children(index)])

    def write(self, path: str, extra: dict | None = None) -> None:
        rows = []
        for k, s in enumerate(self.spans):
            row = asdict(s)
            row.update(index=k, duration_s=s.duration, self_s=self.self_time(k))
            rows.append(row)
        with open(path, "w") as fh:
            json.dump({"spans": rows, **(extra or {})}, fh, indent=1)


class _SpanContext:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer = tracer
        self.name = name

    def __enter__(self) -> Span:
        t = self.tracer
        before = t._counters()
        parent = t._stack[-1] if t._stack else None
        span = Span(self.name, time.perf_counter(), parent=parent, counters=before)
        t.spans.append(span)
        t._stack.append(len(t.spans) - 1)
        self.span = span
        return span

    def __exit__(self, *exc) -> None:
        t = self.tracer
        self.span.end = time.perf_counter()
        t._stack.pop()
        after = t._counters()
        self.span.counters = {k: after[k] - self.span.counters[k] for k in after}


def self_time(start: float, end: float, children: list) -> float:
    """Span length minus the part of ``[start, end]`` covered by the union
    of the child intervals (each clipped to the span)."""
    covered, cursor = 0.0, start
    for c_start, c_end in sorted(children):
        c_start, c_end = max(c_start, cursor), min(c_end, end)
        if c_end > c_start:
            covered += c_end - c_start
            cursor = c_end
    return (end - start) - covered


def old_gen_peak_bytes(spark) -> int:
    """Peak occupancy of the JVM's old generation since it started: the
    heap the engine kept alive across young collections (cached and
    broadcast blocks, large buffers), as opposed to the pre-touched heap
    size or garbage awaiting collection."""
    management = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(
        int(pool.getPeakUsage().getUsed())
        for pool in management.getMemoryPoolMXBeans()
        if pool.getType().name() == "HEAP"
        and ("Old" in pool.getName() or "Tenured" in pool.getName())
    )


# ---- process-tree memory ------------------------------------------------------

RSS_INTERVAL_S = 0.5


def _stat(pid: int, proc: str):
    """(parent pid, virtual size, resident pages) from ``/proc/<pid>/stat``."""
    with open(f"{proc}/{pid}/stat") as fh:
        stat = fh.read()
    # the command name may hold spaces and parentheses: fields follow the last ')'
    fields = stat[stat.rindex(")") + 2:].split()
    return int(fields[1]), int(fields[20]), int(fields[21])


def _stats(proc: str) -> dict:
    out = {}
    for entry in os.listdir(proc):
        if entry.isdigit():
            try:
                out[int(entry)] = _stat(int(entry), proc)
            except (OSError, ValueError, IndexError):  # exited while listing
                continue
    return out


def tree_pids(root_pid: int, proc: str = "/proc", stats: dict | None = None) -> set:
    """``root_pid`` and all its descendants."""
    children: dict = {}
    for pid, (ppid, _, _) in (stats or _stats(proc)).items():
        children.setdefault(ppid, []).append(pid)
    tree, frontier = {root_pid}, [root_pid]
    while frontier:
        for child in children.get(frontier.pop(), []):
            if child not in tree:
                tree.add(child)
                frontier.append(child)
    return tree


# a process above this resident size is read from its VmRSS counter, not its
# page tables; below it, walking the pages once per sample is cheap
WALK_LIMIT_BYTES = 1 << 30


def _field_kb(path: str, name: str) -> int:
    with open(path) as fh:
        for line in fh:
            if line.startswith(name):
                return int(line.split()[1])
    return 0


def tree_rss_bytes(root_pid: int, proc: str = "/proc") -> int:
    """Resident memory of a process tree.

    A small process counts its PSS (``smaps_rollup``), which splits each
    shared page among the processes that map it, so a forked Python worker
    does not count its daemon's copy-on-write pages again. A large process
    (the JVM) counts its ``VmRSS``, a counter the kernel keeps, and no
    other process in the tree shares its pages. Reading ``smaps_rollup``
    of a JVM with 4.8 GB resident took about 50 ms, walking its page
    tables under its memory-map lock; twice a second, that takes a tenth of
    a core from the passes being measured.

    A child with its parent's exact virtual size and resident pages is a
    vfork()ed helper that has not exec'd yet (the JVM starts ``chmod`` for
    Hadoop's local file system that way): it shares its parent's memory,
    and reading it would count the whole JVM heap twice, so it is skipped."""
    stats = _stats(proc)
    total = 0
    for pid in tree_pids(root_pid, proc, stats):
        ppid, vsize, rss = stats[pid]
        parent = stats.get(ppid)
        if pid != root_pid and parent is not None and parent[1:] == (vsize, rss):
            continue
        try:
            kb = _field_kb(f"{proc}/{pid}/status", "VmRSS:")
            if kb * 1024 < WALK_LIMIT_BYTES:
                kb = _field_kb(f"{proc}/{pid}/smaps_rollup", "Pss:")
        except OSError:  # exited while reading
            continue
        total += kb * 1024
    return total


class PeakRss:
    """Samples the process tree's resident memory (``tree_rss_bytes``)
    every ``RSS_INTERVAL_S`` on a background thread and keeps the peak.
    ``getrusage(RUSAGE_CHILDREN)`` cannot see the JVM, which is still
    running when it would be read."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while True:
            self.peak = max(self.peak, tree_rss_bytes(pid))
            if self._stop.wait(RSS_INTERVAL_S):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
