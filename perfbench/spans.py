"""Spans, Spark stage counters and the process-tree memory sampler.

The benchmark puts a span around each call it makes into a layer of the
program. In traced runs each span also carries Spark's own stage
counters, taken as the difference of the status store's per-stage
metrics over the stages that ran inside the span. Spans stay in memory
until the run ends.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

#: Stage counters carried by every traced span, in the units reported.
COUNTERS = ("executor_s", "shuffle_write_bytes", "spill_bytes", "gc_s", "tasks",
            "input_bytes")


@dataclass
class Span:
    name: str
    start: float
    op_id: int
    phase: str = ""
    parent: "Span | None" = None
    end: float = 0.0
    counters: dict = field(default_factory=dict)
    children: list = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def self_time(self) -> float:
        """Duration minus the part of it that child spans cover."""
        return max(0.0, self.duration - _covered(self.children, self.start, self.end))


def _covered(children: list, lo: float, hi: float) -> float:
    """Length of the union of the children's intervals, clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for s, e in sorted((max(c.start, lo), min(c.end, hi)) for c in children):
        if e <= s:
            continue
        if cur_hi is None or s > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = s, e
        else:
            cur_hi = max(cur_hi, e)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class StageCounters:
    """Reads per-stage metrics from the SparkContext's status store.

    Stage ids are allocated in order, and the benchmark drives Spark
    from one thread, so the stages created between two reads of the
    next stage id are exactly the stages a span ran."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()

    def next_stage_id(self) -> int:
        # py4j hands the AtomicInteger back as its int value
        return int(self._sc.dagScheduler().nextStageId())

    def between(self, first: int, last: int) -> dict:
        """Summed counters of stages ``first`` .. ``last - 1``."""
        # stage metrics reach the store through the asynchronous listener bus
        self._sc.listenerBus().waitUntilEmpty()
        out = dict.fromkeys(COUNTERS, 0.0)
        for sid in range(first, last):
            try:
                st = self._store.lastStageAttempt(sid)
            except Exception:  # py4j wraps NoSuchElementException: stage never reported
                continue
            out["executor_s"] += max(0, st.executorRunTime()) / 1000.0
            out["shuffle_write_bytes"] += max(0, st.shuffleWriteBytes())
            out["spill_bytes"] += max(0, st.memoryBytesSpilled()) + max(0, st.diskBytesSpilled())
            out["gc_s"] += max(0, st.jvmGcTime()) / 1000.0
            out["tasks"] += max(0, st.numCompleteTasks())
            out["input_bytes"] += max(0, st.inputBytes())
        return out


class Tracer:
    """Records spans when enabled; otherwise spans only time their body.

    ``span`` yields the Span, whose ``duration`` the caller may read
    after the block. Bookkeeping time is tracked, so the run can report
    how much of its wall time tracing itself took."""

    def __init__(self, enabled: bool, counters: StageCounters | None = None,
                 clock=time.perf_counter):
        self.enabled = enabled
        self.counters = counters
        self.clock = clock
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self.phase = ""
        self._stack: list[Span] = []
        self._op_id = 0

    def new_op(self) -> int:
        self._op_id += 1
        return self._op_id

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        first = None
        if self.enabled and self.counters is not None:
            t = self.clock()
            first = self.counters.next_stage_id()
            self.overhead_s += self.clock() - t
        sp = Span(name, self.clock(), self._op_id, self.phase, parent)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = self.clock()
            self._stack.pop()
            if self.enabled:
                t = self.clock()
                if first is not None:
                    sp.counters = self.counters.between(first, self.counters.next_stage_id())
                if parent is not None:
                    parent.children.append(sp)
                self.spans.append(sp)
                self.overhead_s += self.clock() - t

    def dump(self, path: str) -> None:
        """Write the spans as JSON lines in start order; ``parent`` is
        the parent's line number."""
        ordered = sorted(self.spans, key=lambda s: s.start)
        line = {id(s): i for i, s in enumerate(ordered)}
        with open(path, "w") as f:
            for s in ordered:
                f.write(json.dumps({
                    "name": s.name, "start": s.start, "end": s.end,
                    "parent": line[id(s.parent)] if s.parent is not None else None,
                    "op_id": s.op_id, "phase": s.phase, "self_s": s.self_time,
                    "counters": s.counters}) + "\n")

    @staticmethod
    def by_layer(spans: list[Span]) -> dict:
        """{layer: {"calls", <counter>...}} summed over spans named
        ``<layer>.<call>``, counting each stage once: a span's counters
        are taken minus its children's."""
        out: dict = {}
        for sp in spans:
            layer = sp.name.split(".", 1)[0]
            agg = out.setdefault(layer, dict.fromkeys(("calls", *COUNTERS), 0.0))
            agg["calls"] += 1
            for k in COUNTERS:
                own = sp.counters.get(k, 0.0) - sum(c.counters.get(k, 0.0) for c in sp.children)
                agg[k] += max(0.0, own)
        return out


# ------------------------------------------------------------ memory

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name is parenthesised and may contain spaces
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def process_tree(root: int) -> list[int]:
    """``root`` and all its descendants."""
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/statm", "rb") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            continue  # exited between listing and reading
    return total


#: Seconds between two RSS samples.
RSS_INTERVAL_S = 0.25


class RssSampler:
    """Samples the RSS of this process's tree (driver Python, the JVM
    and its Python workers) every ``RSS_INTERVAL_S``; keeps the peak."""

    def __init__(self):
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(root))
            self._stop.wait(RSS_INTERVAL_S)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / (1 << 20)
