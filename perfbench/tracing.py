"""Spans, Spark status-store attribution and process memory for the
benchmark's traced run.

Spans are recorded by the benchmark around its calls into the engine
(workload -> phase -> call), kept in memory and written as JSON at exit. Spark
stage metrics are attributed to a call by job submission time inside the
call's wall-clock window, not by job group: the engine's prefetch, quarantine
and rollup threads do not inherit the caller's job group, and the single
closed-loop client makes the window unambiguous.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError


def peak_rss_mb(pid: int | str = "self") -> float:
    """VmHWM (peak resident set) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Tracer:
    """In-memory span recorder. With ``enabled=False`` only the wall time of
    each span is returned to the caller; nothing is kept."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"name": name, "wall_s": 0.0}
        if self.enabled:
            rec.update(
                id=len(self.spans),
                parent=self._stack[-1] if self._stack else None,
                start=time.time(),
                attrs=attrs,
            )
            self.spans.append(rec)
            self._stack.append(rec["id"])
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            if self.enabled:
                rec["end"] = time.time()
                self._stack.pop()

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _it(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


class StageStats:
    """Stage metrics of every finished Spark job, read from the status store
    (works with ``spark.ui.enabled=false``)."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        self._store = jsc.statusStore()
        self._quantiles = sc._gateway.new_array(sc._jvm.double, 2)
        self._quantiles[0] = 0.5
        self._quantiles[1] = 1.0
        self.jobs: list[tuple[float, list[int]]] = []
        for j in _it(self._store.jobsList(None)):
            sub = j.submissionTime()
            if sub.isDefined():
                self.jobs.append((sub.get().getTime() / 1000.0, list(_it(j.stageIds()))))
        self._stage_cache: dict[int, dict | None] = {}

    def _stage(self, sid: int) -> dict | None:
        if sid not in self._stage_cache:
            try:
                st = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # NoSuchElementException: the stage was evicted
                st = None
            if st is None or str(st.status()) != "COMPLETE":
                self._stage_cache[sid] = None
            else:
                ratio = 1.0
                dist = self._store.taskSummary(sid, st.attemptId(), self._quantiles)
                if dist.isDefined():
                    run = dist.get().executorRunTime()
                    med, mx = run.apply(0), run.apply(1)
                    ratio = mx / med if med > 0 else 1.0
                self._stage_cache[sid] = {
                    "run_s": st.executorRunTime() / 1e3,
                    "cpu_s": st.executorCpuTime() / 1e9,
                    "gc_s": st.jvmGcTime() / 1e3,
                    "tasks": st.numTasks(),
                    "shuffle_write": st.shuffleWriteBytes(),
                    "shuffle_read": st.shuffleReadBytes(),
                    "spill": st.memoryBytesSpilled() + st.diskBytesSpilled(),
                    "input_records": st.inputRecords(),
                    "skew": ratio,
                }
        return self._stage_cache[sid]

    def window(self, start: float, end: float) -> dict:
        """Totals over the jobs submitted in ``[start, end]`` (epoch s)."""
        out = {"jobs": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0, "tasks": 0,
               "shuffle_write": 0, "shuffle_read": 0, "spill": 0, "input_records": 0,
               "skew": 1.0}
        seen: set[int] = set()
        heaviest = -1.0
        for sub, sids in self.jobs:
            if not start <= sub <= end:
                continue
            out["jobs"] += 1
            for sid in sids:
                st = None if sid in seen else self._stage(sid)
                seen.add(sid)
                if st is None:
                    continue
                for k in ("run_s", "cpu_s", "gc_s", "tasks", "shuffle_write",
                          "shuffle_read", "spill", "input_records"):
                    out[k] += st[k]
                if st["run_s"] > heaviest:
                    heaviest, out["skew"] = st["run_s"], st["skew"]
        return out
