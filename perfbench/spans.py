"""In-memory spans and Spark status-store counters for the traced run.

A span is (name, layer, start, end, parent, run id). Spans stay in a
list until the run ends; `self_ms` subtracts from each span the union
of its children's intervals, so parallel children (DAG jobs) are not
double-counted. The benchmark opens spans only around its own calls
into the program's layers: nothing inside the package is patched.

`StageCounters` reads Spark's live status store (job group → job ids →
stage ids → `lastStageAttempt`), which works with the UI disabled. It
is only called after the timer of the work it describes has stopped.
"""

from __future__ import annotations

import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

LAYERS = ("bench", "session", "registry", "operators", "lakehouse", "streaming", "orchestrator")


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    run_id: str


class Tracer:
    """Records spans while `enabled`; `span` records nothing otherwise."""

    def __init__(self, enabled: bool, run_id: str) -> None:
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, layer: str, name: str, parent: int | None = None):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        if parent is None and stack:
            parent = stack[-1]
        with self._lock:
            sid = len(self.spans)
            self.spans.append(Span(sid, name, layer, 0.0, 0.0, parent, self.run_id))
        stack.append(sid)
        sp = self.spans[sid]
        sp.start = time.perf_counter()
        try:
            yield sid
        finally:
            sp.end = time.perf_counter()
            stack.pop()

    @contextmanager
    def overhead(self):
        """Time spent reading counters for the trace, which an untraced
        run does not spend."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            with self._lock:
                self.overhead_s += time.perf_counter() - t0

    def self_ms(self) -> dict[str, float]:
        """Per-layer self time: span duration minus the union of the
        intervals its child spans cover."""
        children: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                children[s.parent].append(s)
        out = {layer: 0.0 for layer in LAYERS}
        for s in self.spans:
            covered, cur_lo, cur_hi = 0.0, None, None
            for c in sorted(children[s.id], key=lambda c: c.start):
                lo, hi = max(c.start, s.start), min(c.end, s.end)
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s.layer] += 1000.0 * ((s.end - s.start) - covered)
        return out

    def dump(self) -> list[dict]:
        return [s.__dict__ for s in self.spans]


STAGE_FIELDS = {
    "tasks": "numTasks",
    "executor_run_ms": "executorRunTime",
    "executor_cpu_ms": "executorCpuTime",
    "gc_ms": "jvmGcTime",
    "input_bytes": "inputBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "shuffle_records": "shuffleWriteRecords",
    "spill_bytes": "diskBytesSpilled",
}


class StageCounters:
    """Sums status-store stage metrics over the jobs of job groups."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()

    def _drain(self) -> None:
        # The status store is fed by the listener bus; wait until it has
        # applied every event of the jobs just finished.
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def group(self, group: str) -> dict[str, float]:
        self._drain()
        out = defaultdict(float)
        tracker = self.sc.statusTracker()
        for jid in tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                try:
                    sd = self._store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - the stage never got an attempt
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                for key, attr in STAGE_FIELDS.items():
                    out[key] += getattr(sd, attr)()
        out["executor_cpu_ms"] /= 1e6  # the store keeps CPU time in ns
        return dict(out)
