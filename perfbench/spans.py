"""In-memory spans around the benchmark's calls into the package, with the
Spark engine counters each span caused.

Tracing is observation from outside: a span wraps one call the benchmark
makes into a public function of the package (``plans.overlay.run_overlay``,
``sources.catalog_store.replace_catalog``, ...). Each span sets its own
Spark job group, so every job the call submits -- including the AQE
query-stage and broadcast jobs Spark launches on helper threads, which
inherit the group -- is attributed to it. Counters are read from the
application status store after the op ends, never inside the timed region.

With tracing off, :meth:`Tracer.span` and :meth:`Tracer.op` cost one
context-manager entry and nothing else.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
)


class Span:
    __slots__ = ("sid", "name", "parent", "op", "start", "end", "counters")

    def __init__(self, sid, name, parent, op, start):
        self.sid = sid
        self.name = name
        self.parent = parent
        self.op = op
        self.start = start
        self.end = None
        self.counters = None

    @property
    def group(self) -> str:
        return f"perfbench-{self.sid}"

    def as_json(self) -> dict:
        return {
            "id": self.sid,
            "name": self.name,
            "parent": self.parent,
            "op": self.op,
            "start": self.start,
            "end": self.end,
            "spark": self.counters,
        }


class Tracer:
    """Records spans while ``enabled``; a disabled tracer records nothing.

    ``op(kind)`` opens the root span of one unit of work; ``span(name)``
    opens a child of the innermost open span. Spans are only recorded
    inside an op (set-up spans are opened as their own ops of kind
    ``setup``)."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self._sc = spark.sparkContext
        self._stack: list[Span] = []
        self.spans: list[Span] = []
        self._op_seq = 0
        self._seen_stages: set[int] = set()
        self._unread = 0  # spans[_unread:] have no counters yet
        self.cost = 0.0  # seconds spent opening and closing spans

    @contextmanager
    def op(self, kind: str):
        if not self.enabled:
            yield None
            return
        self._op_seq += 1
        with self._open(kind, self._op_seq) as root:
            yield root

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event so far, so
        the status store's work for one op does not run inside the next."""
        self._sc._jsc.sc().listenerBus().waitUntilEmpty(30000)

    def read_counters(self) -> None:
        """Attach Spark counters to every span recorded since the last call.
        Call it after an op's timer has stopped: it drains the listener bus
        and makes py4j calls per stage."""
        if self._unread < len(self.spans):
            self.drain()
            self._read_counters(self.spans[self._unread :])
            self._unread = len(self.spans)

    @contextmanager
    def span(self, name: str):
        if not self.enabled or not self._stack:
            yield None
            return
        with self._open(name, self._stack[-1].op) as s:
            yield s

    @contextmanager
    def _open(self, name: str, op: int):
        t = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.sid if parent else None, op, 0.0)
        self.spans.append(s)
        self._stack.append(s)
        self._sc.setJobGroup(s.group, name)
        s.start = time.perf_counter()
        self.cost += s.start - t
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self._sc.setJobGroup(parent.group, parent.name)
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)
            self.cost += time.perf_counter() - s.end

    def _read_counters(self, spans: list[Span]) -> None:
        """Sum the status-store metrics of the stages each span's jobs ran.

        A stage id can reappear in a later job as a skipped parent (shuffle
        reuse); it is attributed once, to the first span whose job ran it.
        """
        jsc = self._sc._jsc.sc()
        tracker = self._sc.statusTracker()
        store = jsc.statusStore()
        jvm = self._sc._jvm
        no_tasks = jvm.java.util.ArrayList()
        no_quantiles = self._sc._gateway.new_array(jvm.double, 0)
        for s in spans:
            c = dict.fromkeys(COUNTERS, 0)
            for jid in sorted(tracker.getJobIdsForGroup(s.group)):
                c["jobs"] += 1
                info = tracker.getJobInfo(jid)
                for sid in sorted(info.stageIds) if info else ():
                    if sid in self._seen_stages:
                        continue
                    attempts = store.stageData(sid, False, no_tasks, False, no_quantiles)
                    ran = False
                    for i in range(attempts.size()):
                        st = attempts.apply(i)
                        if st.numCompleteTasks() == 0:
                            continue
                        ran = True
                        c["tasks"] += st.numCompleteTasks()
                        c["executor_run_s"] += st.executorRunTime() / 1e3
                        c["executor_cpu_s"] += st.executorCpuTime() / 1e9
                        c["gc_s"] += st.jvmGcTime() / 1e3
                        c["shuffle_write_bytes"] += st.shuffleWriteBytes()
                        c["shuffle_read_bytes"] += st.shuffleReadBytes()
                        c["spill_bytes"] += st.diskBytesSpilled()
                    if ran:
                        c["stages"] += 1
                        self._seen_stages.add(sid)
            s.counters = c

    # -- views over the recorded spans ------------------------------------

    def ops(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = {}
        for s in self.spans:
            out.setdefault(s.op, []).append(s)
        return out

    @staticmethod
    def self_times(spans: list[Span]) -> dict[int, float]:
        """Span duration minus the time its direct children cover."""
        child = {s.sid: 0.0 for s in spans}
        for s in spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        return {s.sid: (s.end - s.start) - child[s.sid] for s in spans}

    @staticmethod
    def subtree_counters(spans: list[Span], root: Span) -> dict:
        """Counters of ``root`` plus every span below it."""
        below = {root.sid}
        total = dict.fromkeys(COUNTERS, 0)
        for s in spans:  # spans are recorded in open order: parents first
            if s.sid in below or s.parent in below:
                below.add(s.sid)
                for k in COUNTERS:
                    total[k] += (s.counters or {}).get(k, 0)
        return total

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump(
                {**extra, "spans": [s.as_json() for s in self.spans]}, f, indent=1
            )
