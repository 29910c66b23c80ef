"""Segmentation benchmark: how fresh membership is, and what keeping it fresh costs.

    python3 perfbench/run.py --workload cascade_ingest --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. One process drives the engine on
``local[$SPARK_GRAFT_CPUS]`` (default: all cores) with one closed-loop
caller: the next operation starts when the previous one has returned.
Inputs are generated from ``--seed`` (``gen.py``); the engine sees only the
generated parquet files. After the timed loop every operation's result is
compared with an exact DuckDB answer (``check.py``).

Workloads, each a loop of operations:
  cascade_ingest  hand a small batch to ``EventTimeSegmenter.process_batch``
                  (via ``load_table``), then fetch
                  ``members_with_last_event_time``; ``compact_states`` runs
                  after every ``COMPACT_EVERY``-th operation's fetch.
  full_recompute  ``load_table`` -> ``idempotent_assignments`` ->
                  ``serve_segment`` -> fetch over one large log: read-only
                  and execution-bound; no writers, no sketch state.

Every operation has an update step (``process_batch``, or ``load_table``
plus the recompute's plan build) and a serve step (the membership query's
build and fetch); the per-layer ``segmentation.update.*`` and
``segmentation.serve.*`` metrics are those steps.

End-to-end metrics (``--trace 0``):
  setup_s                  JVM start, input generation and warm-up
  freshness_p50_s          median over operations of hand-over -> membership
                           reflecting it fetched (for full_recompute: one
                           recompute, call -> result fetched)
  ingest_events_per_s      events handed over / wall time of the operations,
                           compaction included
  storage_bytes_per_event  the segmenter's table bytes / events ingested (for
                           full_recompute: the log it has to keep)

``--trace 1`` alternates traced and untraced operations and prints the
per-layer metrics: the traced operations give the layer numbers, the
untraced ones the tracing overhead. Then, still in the same JVM:
- for cascade_ingest, the streaming twin: the same batches appended one
  file at a time to ``HllCascadeStreamingSegmenter``'s source directory,
  one ``run_available_now`` and one serve each, traced and checked;
- the workload again on a ``local[1]`` context, for
  ``spark.exec.speedup_vs_1core``.
Every span, a per-span-name table and the run's other figures (freshness
tail, failed ratio, peak RSS, the streaming twin's layers) go to
``.bench_out/trace-<workload>-seed<seed>.json``.

The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
"""

from __future__ import annotations

import argparse
import collections
import datetime as dt
import json
import math
import os
import resource
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s",
    "freshness_p50_s": "s",
    "ingest_events_per_s": "events/s",
    "storage_bytes_per_event": "B/event",
}

TABLES = ("states", "changelog", "assignments")

PER_LAYER = {
    "segmentation.update.wall_p50_s": "s",
    "segmentation.update.jobs": "count",
    "segmentation.update.tasks": "count",
    "segmentation.update.no_job_s": "s",
    "segmentation.update.exec_cpu_s": "s",
    "segmentation.serve.build_s": "s",
    "segmentation.serve.catalyst_s": "s",
    "segmentation.serve.fetch_s": "s",
    "segmentation.serve.jobs": "count",
    "segmentation.serve.exec_cpu_s": "s",
    "segmentation.serve.shuffle_bytes": "B",
    "sources.catalog.load_table.jobs": "count",
    **{f"sources.writers.{t}.files_per_batch": "count" for t in TABLES},
    **{f"sources.writers.{t}.bytes_per_batch": "B" for t in TABLES},
    "operators.hll_state.state_rows": "count",
    "operators.hll_state.bytes_per_state_row": "B/row",
    "segmentation.compact_states.bytes_rewritten": "B",
    "spark.exec.speedup_vs_1core": "ratio",
    "trace.overhead_pct": "%",
}

# Odd, so that with traced and untraced operations alternating, compactions
# land on both kinds.
COMPACT_EVERY = 3
# The batch after whose compaction storage is read: one in the warm-up,
# which every run reaches.
STORAGE_AT_BATCH = 5
# Warm-up of the extra phases of a traced run, which run on a JVM that the
# main loop has already warmed.
PHASE_WARM = 3


# -- helpers ------------------------------------------------------------------


def _ts(us: int) -> dt.datetime:
    return dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=us)


def _data_files(path: str | None) -> dict[str, int]:
    """path -> size of every data file under a table directory (Spark's
    hidden and marker files excluded)."""
    out = {}
    for dirpath, dirnames, files in os.walk(path) if path else ():
        dirnames[:] = [d for d in dirnames if not d.startswith((".", "_"))]
        for f in files:
            if not f.startswith((".", "_")):
                p = os.path.join(dirpath, f)
                out[p] = os.path.getsize(p)
    return out


def _tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it, never below the median."""
    s = sorted(samples)
    idx = max(len(s) // 2, len(s) - 11)
    return s[idx], 100.0 * (idx + 1) / len(s)


def _median(values) -> float:
    values = [v for v in values if v is not None]
    return statistics.median(values) if values else 0.0


def _mean(values) -> float:
    values = [v for v in values if v is not None]
    return statistics.fmean(values) if values else 0.0


def _dur(span: dict) -> float:
    return span["end"] - span["start"]


def _by_name(spans: list[dict]) -> dict[str, list[dict]]:
    out = collections.defaultdict(list)
    for s in spans:
        out[s["name"]].append(s)
    return out


def _span_table(spans: list[dict]) -> dict[str, dict]:
    """Per span name: how many, and the median of each counter."""
    table = {}
    for name, group in _by_name(spans).items():
        row = {"count": len(group), "wall_p50_s": _median(_dur(s) for s in group)}
        for key in ("jobs", "tasks", "no_job_s", "exec_run_s", "exec_cpu_s",
                    "shuffle_bytes", "spill_bytes", "catalyst_s"):
            if any(key in s for s in group):
                row[f"{key}_p50"] = _median(s.get(key) for s in group)
        table[name] = row
    return table


def _peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python process plus the JVM it drives."""
    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    with open(f"/proc/{spark.sparkContext._gateway.proc.pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                kb += int(line.split()[1])
    return kb / 1024.0


class Ctx:
    """What every workload shares: the session, the tracer, a work dir, the
    segment definition and the event-log column roles."""

    def __init__(self, spark, tracer, work: str, seed: int):
        from pyspark.sql import types as T

        from clickhouse_segments_tutorial_spark.plans.segmentation_queries import SPEC
        from clickhouse_segments_tutorial_spark.schemas import EVENTS
        from clickhouse_segments_tutorial_spark.segmentation.spec import EventLog

        self.spark, self.tracer, self.work, self.seed = spark, tracer, work, seed
        self.spec = SPEC
        self.log = EventLog(
            user="user_id", event="event_type", message="event_id", time="ts",
            processing_time="processing_time",
        )
        self.stream_schema = T.StructType(
            EVENTS.fields + [T.StructField("processing_time", T.TimestampType(), True)]
        )


def _oracle(name: str) -> str:
    from clickhouse_segments_tutorial_spark.plans.segmentation_queries import QUERIES

    return {q.name: q.oracle for q in QUERIES}[name]


def _serve_metrics(build: list[dict], fetch: list[dict]) -> dict:
    return {
        "segmentation.serve.build_s": _median(_dur(s) for s in build),
        # the tracker counts whole milliseconds: a mean keeps the digits
        "segmentation.serve.catalyst_s": _mean(s.get("catalyst_s") for s in fetch),
        "segmentation.serve.fetch_s": _median(_dur(s) for s in fetch),
        "segmentation.serve.jobs": _median(a["jobs"] + b["jobs"] for a, b in zip(build, fetch)),
        "segmentation.serve.exec_cpu_s": _median(s["exec_cpu_s"] for s in fetch),
        "segmentation.serve.shuffle_bytes": _median(s["shuffle_bytes"] for s in fetch),
    }


def _update_metrics(update: list[dict]) -> dict:
    return {
        "segmentation.update.wall_p50_s": _median(_dur(s) for s in update),
        "segmentation.update.jobs": _median(s["jobs"] for s in update),
        "segmentation.update.tasks": _median(s["tasks"] for s in update),
        "segmentation.update.no_job_s": _median(s["no_job_s"] for s in update),
        "segmentation.update.exec_cpu_s": _median(s["exec_cpu_s"] for s in update),
    }


# -- workloads ----------------------------------------------------------------
#
# A workload's ``cycle()`` runs one operation and returns (freshness,
# busy, events): freshness is hand-over -> membership fetched, busy adds
# the maintenance the operation triggers after its fetch.


class _Segmenting:
    """Shared by the two cascades. Batches are generated lazily, each just
    before it is handed over and outside the timed region; every fetched
    membership is kept and checked against the batches handed over so far."""

    EVENTS_PER_BATCH = 20_000
    USERS = 20_000
    # batch latency falls steeply over the first batches of a fresh JVM
    # (class loading, code generation, JIT tier-up), so these run untimed
    WARM = 7
    ORACLE = "segment_eventtime_members"

    def __init__(self, ctx: Ctx):
        from perfbench import gen

        self.ctx = ctx
        self.dir = os.path.join(ctx.work, "run")
        self.batches = gen.iter_batches(gen.LogParams(
            seed=ctx.seed, batches=1_000_000, events_per_batch=self.EVENTS_PER_BATCH,
            users=self.USERS,
        ))
        self.seg = self._segmenter(os.path.join(self.dir, "seg"))
        self.files: list[str] = []
        self.events = 0
        self.results: list[tuple[int, list, list]] = []
        self.writes: list[dict[str, tuple[int, int]]] = []
        self.rewritten: list[int] = []
        self.stored = 0.0
        self._seen: dict[str, dict[str, int]] = {t: {} for t in TABLES}

    def setup(self, warm: int | None = None) -> list[float]:
        return [self.cycle()[0] for _ in range(self.WARM if warm is None else warm)]

    def cycle(self) -> tuple[float, float, int]:
        import pyarrow.parquet as pq

        b = len(self.files)
        path = os.path.join(self.dir, "in", f"b{b:05d}", "events.parquet")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        table = next(self.batches)
        pq.write_table(table, path)
        self.files.append(path)
        self.events += table.num_rows

        tr = self.ctx.tracer
        t0 = time.perf_counter()
        with tr.span("operation", b, spark_jobs=False):
            self._update(path, b)
            with tr.span("serve.build", b):
                df = self.seg.members_with_last_event_time().select("user_id", "last_event_time")
            with tr.span("serve.fetch", b) as fetch_span:
                rows = [tuple(r) for r in df.collect()]
        fresh = time.perf_counter() - t0
        self._maintain(b)
        busy = time.perf_counter() - t0
        tr.catalyst(fetch_span, df)
        self.results.append((len(self.files), df.columns, rows))
        self._account(b)
        return fresh, busy, table.num_rows

    def _maintain(self, b: int) -> None:
        pass

    def _account(self, b: int):
        """Files and bytes each table gained in this operation."""
        new = {}
        for t in TABLES:
            files = _data_files(self._table_path(t))
            added = [s for p, s in files.items() if p not in self._seen[t]]
            new[t] = (len(added), sum(added))
            self._seen[t] = files
        self.writes.append(new)
        if (b + 1) % COMPACT_EVERY == 0:
            self.rewritten.append(new["states"][1])
            if b <= STORAGE_AT_BATCH:
                self.stored = self._stored_bytes() / self.events

    def _stored_bytes(self) -> int:
        return sum(sum(files.values()) for files in self._seen.values())

    def storage_per_event(self) -> float:
        """Table bytes per event ingested, read right after the compaction of
        batch ``STORAGE_AT_BATCH`` (or the last one before it in a shorter
        run), so that every run reads the same point of the grow-and-compact
        cycle whatever number of batches it got through."""
        return self.stored or self._stored_bytes() / self.events

    def check(self) -> list[str]:
        from perfbench import check

        oracle = _oracle(self.ORACLE)
        errors = []
        for n_files, cols, rows in self.results:
            want_cols, want = check.reference_rows(self.files[:n_files], oracle)
            err = check.diff(cols, rows, want_cols, want)
            if err:
                errors.append(f"after batch {n_files - 1}: {err}")
        return errors

    def layer_metrics(self, spans: list[dict]) -> dict:
        import pyarrow.parquet as pq

        by = _by_name(spans)
        out = {**_update_metrics(by[self.UPDATE]), **_serve_metrics(by["serve.build"], by["serve.fetch"])}
        for t in TABLES:
            out[f"sources.writers.{t}.files_per_batch"] = _median(w[t][0] for w in self.writes)
            out[f"sources.writers.{t}.bytes_per_batch"] = _median(w[t][1] for w in self.writes)
        states = _data_files(self._table_path("states"))
        rows = sum(pq.ParquetFile(p).metadata.num_rows for p in states)
        out["operators.hll_state.state_rows"] = rows
        out["operators.hll_state.bytes_per_state_row"] = sum(states.values()) / rows if rows else 0.0
        out["segmentation.compact_states.bytes_rewritten"] = _median(self.rewritten)
        return out


class CascadeIngest(_Segmenting):
    UPDATE = "process_batch"

    def _segmenter(self, workdir: str):
        from clickhouse_segments_tutorial_spark.segmentation import EventTimeSegmenter

        return EventTimeSegmenter(self.ctx.spark, workdir, self.ctx.spec, self.ctx.log)

    def _table_path(self, table: str) -> str:
        return {
            "states": self.seg.states_path,
            "changelog": self.seg.changelog_path,
            "assignments": self.seg.assignments_path,
        }[table]

    def _update(self, path: str, b: int) -> None:
        from clickhouse_segments_tutorial_spark.sources.catalog import load_table
        from perfbench.gen import BATCH_SPAN_US, P0_US

        tr = self.ctx.tracer
        with tr.span("load_table", b):
            events = load_table(self.ctx.spark, os.path.dirname(path), "events")
        with tr.span("process_batch", b):
            self.seg.process_batch(
                events,
                lower_bound=_ts(P0_US + b * BATCH_SPAN_US),
                now=_ts(P0_US + (b + 1) * BATCH_SPAN_US),
            )

    def _maintain(self, b: int) -> None:
        # background maintenance in the live system: it delays the next
        # hand-over, not the membership of this one
        if (b + 1) % COMPACT_EVERY == 0:
            with self.ctx.tracer.span("compact_states", b):
                self.seg.compact_states()

    def layer_metrics(self, spans):
        out = super().layer_metrics(spans)
        out["sources.catalog.load_table.jobs"] = _median(
            s["jobs"] for s in _by_name(spans)["load_table"]
        )
        return out


class StreamIngest(_Segmenting):
    UPDATE = "run_available_now"

    def _segmenter(self, workdir: str):
        from clickhouse_segments_tutorial_spark.streaming.hll_cascade import (
            HllCascadeStreamingSegmenter,
        )

        return HllCascadeStreamingSegmenter(
            self.ctx.spark, workdir, self.ctx.spec, self.ctx.log,
            schema=self.ctx.stream_schema, compact_every=COMPACT_EVERY,
        )

    def _table_path(self, table: str) -> str | None:
        # the streaming cascade keeps no changelog table: the users of a
        # micro-batch are its changelog
        return {"states": self.seg.states_path, "assignments": self.seg.assignments_path}.get(table)

    def _update(self, path: str, b: int) -> None:
        staged = os.path.join(self.seg.events_dir, f".part-{b:05d}.parquet")
        shutil.copyfile(path, staged)
        # the rename is the hand-over: the file source skips dot-files
        os.replace(staged, os.path.join(self.seg.events_dir, f"part-{b:05d}.parquet"))
        with self.ctx.tracer.span("run_available_now", b):
            self.seg.run_available_now()


class FullRecompute:
    BATCHES = 10
    EVENTS_PER_BATCH = 200_000
    USERS = 200_000
    WARM = 6
    ORACLE = "segment_idempotent_members"

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.results: list[tuple[list, list]] = []
        self.n = 0

    def setup(self, warm: int | None = None) -> list[float]:
        from perfbench import gen

        params = gen.LogParams(
            seed=self.ctx.seed, batches=self.BATCHES,
            events_per_batch=self.EVENTS_PER_BATCH, users=self.USERS,
        )
        self.dir = gen.write_log(params, os.path.join(self.ctx.work, "log"))
        self.events = self.BATCHES * self.EVENTS_PER_BATCH
        return [self.cycle()[0] for _ in range(self.WARM if warm is None else warm)]

    def cycle(self) -> tuple[float, float, int]:
        from clickhouse_segments_tutorial_spark.segmentation import (
            idempotent_assignments, serve_segment,
        )
        from clickhouse_segments_tutorial_spark.segmentation.spec import CORPUS_EVENTS
        from clickhouse_segments_tutorial_spark.sources.catalog import load_table

        tr, i = self.ctx.tracer, self.n
        self.n += 1
        t0 = time.perf_counter()
        with tr.span("operation", i, spark_jobs=False):
            with tr.span("load_table", i):
                events = load_table(self.ctx.spark, self.dir, "events")
            with tr.span("recompute.build", i):
                assignments = idempotent_assignments(events, self.ctx.spec, CORPUS_EVENTS)
            with tr.span("serve.build", i):
                df = serve_segment(assignments)
            with tr.span("serve.fetch", i) as span:
                rows = [tuple(r) for r in df.collect()]
        elapsed = time.perf_counter() - t0
        tr.catalyst(span, df)
        self.results.append((df.columns, rows))
        return elapsed, elapsed, self.events

    def _log_files(self) -> dict[str, int]:
        return _data_files(os.path.join(self.dir, "events.parquet"))

    def storage_per_event(self) -> float:
        # a full recompute has to keep the whole log: that is its state
        return sum(self._log_files().values()) / self.events

    def check(self) -> list[str]:
        from perfbench import check

        want_cols, want = check.reference_rows(sorted(self._log_files()), _oracle(self.ORACLE))
        errors = []
        for i, (cols, rows) in enumerate(self.results):
            err = check.diff(cols, rows, want_cols, want)
            if err:
                errors.append(f"call {i}: {err}")
        return errors

    def layer_metrics(self, spans: list[dict]) -> dict:
        by = _by_name(spans)
        # the update step of a recompute: load the log and build the plan
        update = [
            {"start": a["start"], "end": b["end"],
             **{k: a[k] + b[k] for k in ("jobs", "tasks", "no_job_s", "exec_cpu_s")}}
            for a, b in zip(by["load_table"], by["recompute.build"])
        ]
        return {
            **_update_metrics(update),
            **_serve_metrics(by["serve.build"], by["serve.fetch"]),
            "sources.catalog.load_table.jobs": _median(s["jobs"] for s in by["load_table"]),
        }


WORKLOADS = {
    "cascade_ingest": CascadeIngest,
    "full_recompute": FullRecompute,
}


# -- running a workload -------------------------------------------------------


def _session(master: str | None, work: str, trace: bool = False):
    from clickhouse_segments_tutorial_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        # no hsperfdata file under /tmp: the JVM writes only in the checkout
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }
    if trace:
        # the status store keeps the last 1000 jobs and stages by default;
        # a traced run reads back every one of its jobs
        conf["spark.ui.retainedJobs"] = conf["spark.ui.retainedStages"] = "1000000"
    return get_spark(
        "perfbench", master=master,
        shuffle_partitions=1 if master == "local[1]" else None, extra_conf=conf,
    )


def _measure(seconds: float, wl, tracer, trace: bool) -> dict:
    """The closed loop for ``seconds``. With ``trace``, every other
    operation is traced."""
    fresh, busy, traced, events, failed_op = [], 0.0, [], 0, None
    deadline = time.perf_counter() + seconds
    while time.perf_counter() < deadline:
        tracer.enabled = trace and len(fresh) % 2 == 0
        try:
            f, b, n = wl.cycle()
        except Exception as exc:  # a failed operation: counted, and the loop stops
            failed_op = f"operation {len(fresh)}: {type(exc).__name__}: {exc}"
            break
        fresh.append(f)
        traced.append(tracer.enabled)
        busy += b
        events += n
    tracer.enabled = False
    off = [f for f, t in zip(fresh, traced) if not t]
    return {
        "fresh": fresh, "untraced": off, "failed_op": failed_op,
        "freshness_p50_s": _median(off),
        "traced_p50_s": _median(f for f, t in zip(fresh, traced) if t),
        "ingest_events_per_s": events / busy if busy else 0.0,
    }


def _checked(wl, m: dict) -> tuple[list[str], int]:
    """(errors, operations attempted) of a workload after ``_measure``: its
    wrong results plus the failed operation, if one stopped the loop."""
    errors = wl.check() + ([m["failed_op"]] if m["failed_op"] else [])
    return errors, len(wl.results) + (1 if m["failed_op"] else 0)


def _one_core(args, work: str) -> tuple[float, list[str], int]:
    """freshness_p50_s of the same workload and seed on a ``local[1]``
    context. It runs after the main run in the same JVM, so its code is
    at least as warm: the ratio it gives understates the speedup of more
    cores rather than overstating it.
    Returns (freshness_p50_s, errors, operations attempted)."""
    from perfbench.spans import Tracer

    spark = _session("local[1]", work)
    try:
        tracer = Tracer(spark)
        wl = WORKLOADS[args.workload](Ctx(spark, tracer, os.path.join(work, "1core"), args.seed))
        wl.setup(PHASE_WARM)
        m = _measure(args.seconds / 2, wl, tracer, trace=False)
        errors, attempted = _checked(wl, m)
        return m["freshness_p50_s"], [f"one core: {e}" for e in errors], attempted
    finally:
        spark.stop()


def _streaming_twin(args, spark, work: str) -> tuple[dict, list[str], int]:
    """The streaming layer, measured in cascade_ingest's traced run: the same
    seeded batches handed to ``HllCascadeStreamingSegmenter`` (one file, one
    ``run_available_now`` and one serve per operation), every other
    operation traced and every fetched membership checked.
    Returns (summary, errors, operations attempted)."""
    from perfbench.spans import Tracer

    tracer = Tracer(spark)
    twin = StreamIngest(Ctx(spark, tracer, os.path.join(work, "twin"), args.seed))
    twin.setup(PHASE_WARM)
    m = _measure(args.seconds / 2, twin, tracer, trace=True)
    tracer.attribute()
    errors, attempted = _checked(twin, m)
    summary = {
        "operations": len(m["fresh"]),
        "freshness_p50_s": m["freshness_p50_s"],
        "ingest_events_per_s": m["ingest_events_per_s"],
        "per_layer": twin.layer_metrics(tracer.spans),
        "spans_by_name": _span_table(tracer.spans),
    }
    return summary, [f"streaming twin: {e}" for e in errors], attempted


def run(args, work: str) -> dict:
    from perfbench.spans import Tracer

    t0 = time.perf_counter()
    spark = _session(None, work, trace=bool(args.trace))
    gateway = spark.sparkContext._gateway
    jvm = gateway.proc
    try:
        spark.range(1).count()
        tracer = Tracer(spark)
        wl = WORKLOADS[args.workload](Ctx(spark, tracer, work, args.seed))
        session_s = time.perf_counter() - t0
        warm = wl.setup()
        setup_s = time.perf_counter() - t0

        m = _measure(args.seconds, wl, tracer, bool(args.trace))
        peak_rss_mb = _peak_rss_mb(spark)
        errors, attempted = _checked(wl, m)
        tail, tail_pct = _tail(m["untraced"]) if m["untraced"] else (0.0, 0.0)
        e2e = {
            "setup_s": setup_s,
            "freshness_p50_s": m["freshness_p50_s"],
            "ingest_events_per_s": m["ingest_events_per_s"],
            "storage_bytes_per_event": wl.storage_per_event(),
        }
        info = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "operations": len(m["fresh"]), "freshness_tail_s": tail,
            "tail_percentile": tail_pct, "tail_samples": len(m["untraced"]),
            "session_s": session_s, "warm_s": warm, "peak_rss_mb": peak_rss_mb,
            "freshness_s": m["fresh"], "end_to_end": e2e,
        }
        if args.trace:
            tracer.attribute()
            layers = dict.fromkeys(PER_LAYER, 0.0)
            layers.update(wl.layer_metrics(tracer.spans))
            layers["trace.overhead_pct"] = 100.0 * (m["traced_p50_s"] / m["freshness_p50_s"] - 1.0)
            info["spans_by_name"] = _span_table(tracer.spans)
            if isinstance(wl, CascadeIngest):
                twin, twin_errors, twin_attempted = _streaming_twin(args, spark, work)
                info["streaming_twin"] = twin
                errors += twin_errors
                attempted += twin_attempted
            spark.stop()
            one_core_p50, one_core_errors, one_core_attempted = _one_core(args, work)
            layers["spark.exec.speedup_vs_1core"] = one_core_p50 / m["freshness_p50_s"]
            errors += one_core_errors
            attempted += one_core_attempted
            info["per_layer"] = layers
            metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
        else:
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
        info["failed_ratio"] = len(errors) / max(1, attempted)
        for e in errors:
            print(f"perfbench: wrong result in {args.workload}: {e}", file=sys.stderr)
        if args.trace:
            out_dir = os.path.join(ROOT, ".bench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.write(os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json"), info)
        print(f"perfbench: {json.dumps(info)}", file=sys.stderr)
        return {
            "correct": not errors and attempted > 0,
            "attempted": attempted,
            "failed": len(errors),
            "metrics": metrics,
        }
    finally:
        from pyspark.sql import SparkSession

        active = SparkSession.getActiveSession()
        if active is not None:
            active.stop()
        gateway.shutdown()  # also stops the callback server foreachBatch started
        jvm.stdin.close()  # the gateway JVM exits at the end of its stdin
        jvm.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not math.isfinite(args.seconds) or args.seconds <= 0:
        ap.error("--seconds must be a positive number")
    sys.path.insert(0, ROOT)
    try:
        import clickhouse_segments_tutorial_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine package is missing: {exc}", file=sys.stderr)
        return 2

    # everything Spark, PySpark and tempfile write stays inside the checkout
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = tmp
    tempfile.tempdir = tmp
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
