"""Spans around calls into the engine's layers, with Spark's own counters.

A span records a name, start, end, parent span and operation id. Spans stay
in memory. After the timed loop, ``attribute`` gives every leaf span the
Spark jobs submitted while it was open (one closed-loop caller, so no other
work runs then) with their stages, tasks, executor time, shuffle and spill
bytes from the status store, and the time in the span when no job ran.
``catalyst`` adds a DataFrame's Catalyst phase times from its
``queryExecution().tracker()``. ``write`` puts it all in a JSON side file.

While a span is open the tracer makes no Spark calls, so a traced operation
costs what an untraced one does plus a few dict writes; a disabled tracer
records nothing.
"""

from __future__ import annotations

import contextlib
import json
import time

from py4j.protocol import Py4JJavaError

CATALYST_PHASES = ("analysis", "optimization", "planning")


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.length())]


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._catalyst: list[tuple[dict, object]] = []

    @contextlib.contextmanager
    def span(self, name: str, op: int, spark_jobs: bool = True):
        """Time the enclosed call. A span with ``spark_jobs`` owns the Spark
        jobs submitted while it is open: use it on leaf spans only."""
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans), "name": name, "op": op,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "spark_jobs": spark_jobs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def catalyst(self, rec: dict | None, df) -> None:
        """Remember ``df`` so ``attribute`` adds its Catalyst phase times to
        ``rec`` (a no-op for an untraced operation)."""
        if rec is not None:
            self._catalyst.append((rec, df))

    def attribute(self) -> None:
        """Fill in the Spark counters of every recorded span."""
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        gw = self.spark.sparkContext._gateway
        no_status, no_quantiles = gw.jvm.java.util.ArrayList(), gw.new_array(gw.jvm.double, 0)
        leaves = [s for s in self.spans if s["spark_jobs"]]
        for s in leaves:
            s.update(jobs=0, stages=0, tasks=0, exec_run_s=0.0, exec_cpu_s=0.0,
                     shuffle_bytes=0, spill_bytes=0, _intervals=[])
        for job in _seq(store.jobsList(no_status)):
            sub, comp = job.submissionTime(), job.completionTime()
            if not (sub.isDefined() and comp.isDefined()):
                continue
            t_sub, t_comp = sub.get().getTime() / 1e3, comp.get().getTime() / 1e3
            # the JVM clock has millisecond resolution
            owner = next((s for s in leaves if s["start"] - 1e-3 <= t_sub <= s["end"]), None)
            if owner is None:
                continue
            owner["jobs"] += 1
            owner["_intervals"].append((t_sub, t_comp))
            for sid in _seq(job.stageIds()):
                try:
                    attempts = _seq(store.stageData(sid, False, no_status, False, no_quantiles))
                except Py4JJavaError:  # dropped from the store
                    continue
                for sd in attempts:
                    owner["stages"] += 1
                    owner["tasks"] += sd.numTasks()
                    owner["exec_run_s"] += sd.executorRunTime() / 1e3
                    owner["exec_cpu_s"] += sd.executorCpuTime() / 1e9
                    owner["shuffle_bytes"] += sd.shuffleWriteBytes()
                    owner["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        for s in leaves:
            covered = _covered(s.pop("_intervals"), s["start"], s["end"])
            s["no_job_s"] = max(0.0, s["end"] - s["start"] - covered)
        for rec, df in self._catalyst:
            phases = df._jdf.queryExecution().tracker().phases()
            rec["catalyst_s"] = sum(
                phases.get(p).get().durationMs() / 1e3
                for p in CATALYST_PHASES if phases.get(p).isDefined()
            )

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({**extra, "spans": self.spans}, fh, indent=1)


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
