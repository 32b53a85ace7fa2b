"""Layer spans timed from outside the program, with Spark counters.

A span wraps one call into a layer's public functions.  It runs under its
own Spark job group (so the status store and any UI attribute its jobs to
it) and, when it ends, reads from Spark's status store:

- ``jobs``        jobs submitted during the span
- ``shuffle_mb``  shuffle bytes written by its stages
- ``spill_mb``    bytes its stages spilled from memory
- ``task_s``      summed executor run time of its tasks
- ``gap_s``       span wall time in which none of its stages ran: the
                  application is planning, collecting or waiting
- ``skew``        max over its stages of max/median task time, counting
                  stages whose tasks ran 50 ms or more (1.0 if none)

Stages are attributed by time window, not only by job group: the builder
submits some jobs from its own thread pool, whose threads do not inherit
the caller's job group.  The benchmark is a single client running spans
one after another, so the window is exact.

Spans are kept in memory and summarised when the run ends.
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager

COUNTERS = ("jobs", "shuffle_mb", "spill_mb", "task_s", "gap_s", "skew")
_SKEW_MIN_STAGE_MS = 50


def _drain_listener_bus(sc) -> None:
    # the status store is fed asynchronously; wait until it has applied
    # every event of the jobs that just returned
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)


def held_storage(sc) -> tuple[float, int]:
    """(MB held in memory + disk by persisted RDDs, number of persisted RDDs)."""
    infos = sc._jsc.sc().getRDDStorageInfo()
    held = sum(i.memSize() + i.diskSize() for i in infos)
    return held / 1e6, sc._jsc.getPersistentRDDs().size()


class _Stage:
    __slots__ = ("start", "end", "run_ms", "shuffle", "spill", "skew")


def _stages_between(spark, t0_ms: int, t1_ms: int) -> list[_Stage]:
    jvm = spark._jvm
    gw = spark.sparkContext._gateway
    store = spark.sparkContext._jsc.sc().statusStore()
    quantiles = gw.new_array(jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    # list without task summaries (computing them for every stage of the
    # session would cost more as the run goes on); fetch them only for the
    # span's own stages below
    listed = store.stageList(
        jvm.java.util.ArrayList(), False, False, gw.new_array(jvm.double, 0),
        jvm.java.util.ArrayList(),
    )
    out = []
    for i in range(listed.size()):
        s = listed.apply(i)
        sub = s.submissionTime()
        if not sub.isDefined() or s.numCompleteTasks() == 0:
            continue
        start = sub.get().getTime()
        if not t0_ms <= start <= t1_ms:
            continue
        done = s.completionTime()
        st = _Stage()
        st.start = start
        st.end = min(done.get().getTime() if done.isDefined() else t1_ms, t1_ms)
        st.run_ms = s.executorRunTime()
        st.shuffle = s.shuffleWriteBytes()
        st.spill = s.memoryBytesSpilled()
        st.skew = None
        if st.run_ms >= _SKEW_MIN_STAGE_MS:
            dist = store.taskSummary(s.stageId(), s.attemptId(), quantiles)
            if dist.isDefined():
                q = dist.get().executorRunTime()
                p50, pmax = q.apply(0), q.apply(1)
                if p50 > 0:
                    st.skew = pmax / p50
        out.append(st)
    return out


def _jobs_between(spark, t0_ms: int, t1_ms: int) -> int:
    store = spark.sparkContext._jsc.sc().statusStore()
    listed = store.jobsList(spark._jvm.java.util.ArrayList())
    n = 0
    for i in range(listed.size()):
        sub = listed.apply(i).submissionTime()
        if sub.isDefined() and t0_ms <= sub.get().getTime() <= t1_ms:
            n += 1
    return n


def _busy_ms(stages: list[_Stage]) -> float:
    """Length of the union of the stages' [start, end] intervals."""
    busy, cur_s, cur_e = 0.0, None, None
    for st in sorted(stages, key=lambda s: s.start):
        if cur_e is None or st.start > cur_e:
            if cur_e is not None:
                busy += cur_e - cur_s
            cur_s, cur_e = st.start, st.end
        else:
            cur_e = max(cur_e, st.end)
    if cur_e is not None:
        busy += cur_e - cur_s
    return busy


class Tracer:
    """Collects spans; ``enabled=False`` makes every span a bare call, so
    the untraced and traced runs execute the same code."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: dict[str, list[dict]] = {}
        self.values: dict[str, list[float]] = {}
        self._n = 0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        self._n += 1
        sc.setJobGroup(f"perfbench-{self._n}-{name}", name, interruptOnCancel=False)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            sc.setJobGroup(None, None)
            _drain_listener_bus(sc)
            t0_ms, t1_ms = int(t0 * 1000), int(t1 * 1000) + 1
            stages = _stages_between(self.spark, t0_ms, t1_ms)
            wall = t1 - t0
            skews = [s.skew for s in stages if s.skew is not None]
            self.spans.setdefault(name, []).append({
                "wall_s": wall,
                "jobs": _jobs_between(self.spark, t0_ms, t1_ms),
                "shuffle_mb": sum(s.shuffle for s in stages) / 1e6,
                "spill_mb": sum(s.spill for s in stages) / 1e6,
                "task_s": sum(s.run_ms for s in stages) / 1000,
                "gap_s": max(wall - _busy_ms(stages) / 1000, 0.0),
                "skew": max(skews) if skews else 1.0,
            })

    @contextmanager
    def paused(self, pause: bool):
        """Record nothing inside the block when ``pause``."""
        was = self.enabled
        self.enabled = was and not pause
        try:
            yield
        finally:
            self.enabled = was

    def record(self, name: str, value: float) -> None:
        """A value measured outside a span (a count or a stat)."""
        if self.enabled:
            self.values.setdefault(name, []).append(float(value))

    def mark(self) -> dict[str, int]:
        return {n: len(v) for n, v in self.spans.items()}

    def wall_since(self, mark: dict[str, int]) -> float:
        """Summed wall time of the spans recorded after ``mark()``."""
        return sum(
            s["wall_s"] for n, recs in self.spans.items() for s in recs[mark.get(n, 0):]
        )

    def summary(self) -> dict[str, float]:
        """Median of each span's wall time and counters, and of each value,
        keyed ``<span>`` (wall, the span name ends in ``_s``) and
        ``<span without _s>.<counter>``."""
        out = {}
        for name, recs in self.spans.items():
            out[name] = statistics.median(r["wall_s"] for r in recs)
            base = name[:-2] if name.endswith("_s") else name
            for c in COUNTERS:
                out[f"{base}.{c}"] = statistics.median(r[c] for r in recs)
        for name, vals in self.values.items():
            out[name] = statistics.median(vals)
        return out
