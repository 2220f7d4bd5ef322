"""Per-layer measurement from outside the program.

Two sources, both used only in a traced run:

* :class:`SparkProbe` tags every op with its own Spark job group and reads
  the scheduler's view of it afterwards: ``statusTracker()`` for the job
  ids, and the status store (``sc._jsc.sc().statusStore()``) for job
  intervals and per-stage task counts, executor time, shuffle and spill
  bytes.  Both work with ``spark.ui.enabled=false``.
* :class:`Spans` wraps public functions of the engine's modules and records
  one span (name, start, end, op id) per call made while it is installed.
"""

from __future__ import annotations

import functools
import time


class SparkProbe:
    """Job-group bookkeeping around one op at a time."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._n = 0

    def begin(self) -> str:
        self._n += 1
        group = f"perfbench-op-{self._n}"
        self.sc.setJobGroup(group, group)
        return group

    def end(self, group: str, t0: float, t1: float) -> dict:
        """Scheduler totals for the jobs of ``group``; ``t0``/``t1`` are the
        op's wall-clock bounds in epoch seconds."""
        # the status store is fed asynchronously by the listener bus
        self._bus.waitUntilEmpty()
        jobs = sorted(self.sc.statusTracker().getJobIdsForGroup(group))
        out = {"jobs": len(jobs), "stages": 0, "tasks": 0,
               "executor_run_ms": 0, "shuffle_read_bytes": 0,
               "shuffle_write_bytes": 0, "spill_bytes": 0}
        spans = []
        for j in jobs:
            jd = self._store.job(j)
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                spans.append((sub.get().getTime() / 1e3,
                              done.get().getTime() / 1e3))
            ids = str(jd.stageIds().mkString(","))
            for sid in (int(s) for s in ids.split(",") if s):
                st = self._store.lastStageAttempt(sid)
                if str(st.status().toString()) == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["executor_run_ms"] += st.executorRunTime()
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += (st.memoryBytesSpilled()
                                       + st.diskBytesSpilled())
        wall = t1 - t0
        out["driver_gap_ms"] = 1e3 * max(
            0.0, wall - _covered(spans, t0, t1))
        return out


def _covered(spans: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``spans`` clipped to ``[lo, hi]``."""
    total, end = 0.0, lo
    for a, b in sorted(spans):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


class Spans:
    """Installs timing wrappers on ``(owner, attribute)`` pairs; every call
    made through them while installed appends ``(name, t0, t1, op)``."""

    def __init__(self) -> None:
        self.records: list[tuple[str, float, float, int]] = []
        self.op = 0
        self._saved: list[tuple[object, str, object]] = []

    def wrap(self, owner, attr: str, name: str) -> None:
        fn = getattr(owner, attr)
        records = self.records

        @functools.wraps(fn)
        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                records.append((name, t0, time.perf_counter(), self.op))

        self._saved.append((owner, attr, fn))
        setattr(owner, attr, timed)

    def close(self) -> None:
        for owner, attr, fn in reversed(self._saved):
            setattr(owner, attr, fn)
        self._saved.clear()

    def durations_ms(self, name: str) -> list[float]:
        return [1e3 * (b - a) for n, a, b, _ in self.records if n == name]
