"""The benchmark's workloads. Each is a closed loop with one client: the
next operation starts when the previous one has finished.

``uba_interactive`` runs registry rows over the generated ``events``
table; an operation is one row's construction plus a noop-sink
materialization. ``events_ingest`` repeats scheduled incremental jobs;
an operation is one job: drop the next file, run the streaming queries
to their sinks on an ``availableNow`` trigger, refresh the retention
dashboard from the sink.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from eventlog import Span

# uba_interactive: row -> family. 8 of the 72 events-only rows of
# queries_uba.py, queries_stats.py and the event rows of queries.py,
# chosen from their measured steady latency on local[4] over sf0.1:
# the 69 with an oracle, sorted by latency, fall into 8 strata of 8-9
# rows, and each stratum gives the row at its middle, except that retention_count and
# retention_sum (the paper's product) stand for their strata and
# survival_curve (0.43 s, next to the middle row's 0.44 s) stands for
# stratum 1, so that queries_stats.py is represented. See README.md for
# how the subset compares with all 72 rows.
UBA_ROWS = {
    "cohort_retention_weekly": "retention",
    "survival_curve": "stats",
    "event_transitions": "paths",
    "sessionize": "session",
    "retention_count": "retention",
    "funnel_steps_any": "funnel",
    "funnel_exclusion": "funnel",
    "retention_sum": "retention",
}

# events_ingest: the events table is cut into files of FILE_DAYS days;
# a job drops one file, a pipeline ingests all of them in order. The
# retention window (days 0-6) is final in the sink at a pipeline's end.
FILE_DAYS = 5
WARM_JOBS = 2
LATE_SHARE = 0.3  # of the rows in a file's last hour, moved to the next file
RETENTION_START = "2024-01-01"
RETENTION_MAX_UNIT = 6


@dataclass
class Op:
    """One timed operation: its latency and its component spans."""

    name: str
    family: str
    latency_s: float
    spans: list[Span]
    files_read: int = 0  # sink files the dashboard refresh read


@dataclass
class Outcome:
    ops: list[Op] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    streams: list[dict] = field(default_factory=list)  # one per ingest job
    loop_start: float = 0.0  # epoch seconds the timed loop began
    ctx: Ctx | None = None

    def fail(self, what: str) -> None:
        self.failed += 1
        self.failures.append(what[:300])


class Ctx:
    """Session, directories and span bookkeeping for one loop."""

    def __init__(self, spark, data_dir: str, work: str, seed: int, traced: bool):
        self.spark = spark
        self.data_dir = data_dir
        self.work = work
        self.seed = seed
        self.traced = traced
        self._n = 0

    @contextmanager
    def span(self, layer: str, name: str, into: list):
        """Time a call into a layer; when traced, tag its Spark jobs with
        the span id as job group."""
        sid = f"{layer}-{self._n:05d}"
        self._n += 1
        sc = self.spark.sparkContext
        if self.traced:
            sc.setJobGroup(sid, f"{layer}:{name}")
        s = Span(sid, layer, name, time.time())
        try:
            yield s
        finally:
            s.end = time.time()
            if self.traced:
                sc.setLocalProperty("spark.jobGroup.id", None)
            into.append(s)


# --- uba_interactive -----------------------------------------------------


def _row_op(ctx: Ctx, fn, name: str, family: str) -> Op:
    spans: list[Span] = []
    with ctx.span("queries", name, spans):
        sdf = fn(ctx.spark, ctx.data_dir)
    with ctx.span("spark", name, spans):
        sdf.write.format("noop").mode("overwrite").save()
    return Op(name, family, spans[-1].end - spans[0].start, spans)


def uba_interactive(ctx: Ctx, seconds: float, out: Outcome, check: bool) -> None:
    """Each row's first execution in the session is untimed: it warms
    the row's plan and, when ``check``, its output is compared with the
    row's oracle. The timed loop runs whole passes (every row once, in a
    seeded order) until ``seconds`` have passed, so each run measures
    the same mix of rows."""
    from check import frame_mismatch, oracle_connection
    from datafusion_uba_spark.queries import REGISTRY

    rng = random.Random(ctx.seed)
    rows = list(UBA_ROWS)
    con = oracle_connection(ctx.data_dir, ("events",)) if check else None
    rng.shuffle(rows)
    for name in rows:
        fn, oracle = REGISTRY[name]
        out.attempted += 1
        try:
            sdf = fn(ctx.spark, ctx.data_dir)
            if con is None:
                sdf.write.format("noop").mode("overwrite").save()
                continue
            bad = frame_mismatch(sdf.toPandas(), con.sql(oracle).df())
        except Exception as exc:  # noqa: BLE001 - counted, loop goes on
            bad = f"{type(exc).__name__}: {exc}"
        if bad:
            out.fail(f"{name}: {bad}")
    if con is not None:
        con.close()

    out.loop_start = time.time()
    deadline = time.monotonic() + seconds
    while time.monotonic() < deadline:
        rng.shuffle(rows)
        for name in rows:
            out.attempted += 1
            try:
                out.ops.append(_row_op(ctx, REGISTRY[name][0], name, UBA_ROWS[name]))
            except Exception as exc:  # noqa: BLE001
                out.fail(f"{name}: {type(exc).__name__}: {exc}")


# --- events_ingest -------------------------------------------------------


def split_event_files(data_dir: str, out_dir: str, seed: int) -> list[str]:
    """Cut ``events`` into time-ordered files of FILE_DAYS days. A seeded
    share of each file's last-hour rows moves into the next file: late,
    but inside both streaming watermarks (2 hours and 2 days)."""
    import numpy as np
    import pyarrow.parquet as pq

    import datagen

    tbl = pq.read_table(os.path.join(data_dir, "events.parquet"))
    us = tbl.column("ts").cast("int64").to_numpy()
    start = datagen.epoch_us(datagen.EVENTS_START)
    span = FILE_DAYS * 86_400 * 1_000_000
    part = (us - start) // span
    n_files = int(part.max()) + 1
    in_last_hour = (us - start) % span >= span - 3_600 * 1_000_000
    rng = np.random.default_rng([seed, 2])
    late = in_last_hour & (part < n_files - 1) & (rng.random(len(us)) < LATE_SHARE)
    part = part + late
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for i in range(n_files):
        p = os.path.join(out_dir, f"events-{i:03d}.parquet")
        pq.write_table(tbl.filter(part == i), p)
        paths.append(p)
    return paths


def _progress(q) -> list[dict]:
    return [
        {
            "rows": p["numInputRows"],
            "ms": dict(p["durationMs"]),
            "state_rows": sum(s.get("numRowsTotal", 0) for s in p.get("stateOperators", [])),
            "state_bytes": sum(s.get("memoryUsedBytes", 0) for s in p.get("stateOperators", [])),
            "dropped": sum(
                s.get("numRowsDroppedByWatermark", 0) for s in p.get("stateOperators", [])
            ),
        }
        for p in q.recentProgress
    ]


class _Epoch:
    """One ingest pipeline from empty: source dir, sinks, checkpoints."""

    def __init__(self, ctx: Ctx, tag: str):
        self.root = os.path.join(ctx.work, "ingest", tag)
        self.src = os.path.join(self.root, "landing")
        os.makedirs(self.src)
        self.files = 0

    def path(self, name: str) -> str:
        return os.path.join(self.root, name)


def _ingest_job(ctx: Ctx, ep: _Epoch, file: str, out: Outcome) -> tuple[Op, list]:
    """One scheduled job: drop the next file, run both streaming queries
    (concurrently, as one application would) to their parquet sinks on
    an ``availableNow`` trigger, then refresh the retention dashboard
    from the flags sink. Returns the operation and the refreshed
    retention matrix."""
    from pyspark.sql import functions as F

    from datafusion_uba_spark.operators.retention import flags_to_stats, retention_sum
    from datafusion_uba_spark.streaming import (
        hourly_event_counts,
        stream_events,
        streaming_user_day_flags,
    )

    born = F.col("event_type") == "signup"
    target = F.col("event_type") == "purchase"
    builds = {
        "flags": lambda ev: streaming_user_day_flags(ev, born, target),
        "hourly": hourly_event_counts,
    }
    shutil.copy(file, ep.src)
    ep.files += 1
    spans: list[Span] = []
    with ctx.span("streaming", "ingest", spans) as s:
        queries = {
            name: build(stream_events(ctx.spark, ep.src))
            .writeStream.format("parquet")
            .option("path", ep.path(f"{name}_sink"))
            .option("checkpointLocation", ep.path(f"{name}_ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
            for name, build in builds.items()
        }
        for name, q in queries.items():
            if not q.awaitTermination(120):
                q.stop()
                raise TimeoutError(f"{name} stream did not finish")
    out.streams.append(
        {"wall_s": s.wall_s, "queries": {n: _progress(q) for n, q in queries.items()}}
    )

    sink = ep.path("flags_sink")
    files = sum(n.endswith(".parquet") for n in os.listdir(sink))
    with ctx.span("queries", "refresh", spans):
        sdf = retention_sum(
            flags_to_stats(ctx.spark.read.parquet(sink), RETENTION_START, RETENTION_MAX_UNIT)
        )
    with ctx.span("spark", "refresh", spans):
        matrix = sdf.collect()[0]["retention"]
    op = Op("ingest_job", "ingest", spans[-1].end - spans[0].start, spans, files)
    return op, matrix


def _batch_retention(ctx: Ctx):
    from pyspark.sql import functions as F

    from datafusion_uba_spark.operators.retention import retention
    from datafusion_uba_spark.sources import load_table

    ev = load_table(ctx.spark, ctx.data_dir, "events")
    day = F.datediff(F.to_date("ts"), F.lit(RETENTION_START).cast("date"))
    return retention(
        ev,
        F.col("event_type") == "signup",
        F.col("event_type") == "purchase",
        RETENTION_MAX_UNIT,
        day,
        group_by="user_id",
    ).collect()[0]["retention"]


def events_ingest(ctx: Ctx, seconds: float, out: Outcome, check: bool) -> None:
    """Whole pipelines (every file, in order, from an empty sink) until
    ``seconds`` have passed; the pipeline running at the deadline is
    finished, so each run times the same mix of pipeline positions. The
    sink's retention is checked against batch ``retention()`` at the end
    of every pipeline (``check`` is unused: every loop checks)."""
    files = split_event_files(ctx.data_dir, os.path.join(ctx.work, "event_files"), ctx.seed)
    want = _batch_retention(ctx)

    def job(ep: _Epoch, timed: bool):
        out.attempted += 1
        try:
            op, matrix = _ingest_job(ctx, ep, files[ep.files], out)
        except Exception as exc:  # noqa: BLE001 - counted, loop goes on
            out.fail(f"job {ep.files}: {type(exc).__name__}: {exc}")
            return None
        if timed:
            out.ops.append(op)
        return matrix

    # untimed warm jobs on a throwaway pipeline: first stream starts,
    # codegen, the first sink writes and state-store loads
    warm = _Epoch(ctx, "warm")
    for _ in range(WARM_JOBS):
        job(warm, timed=False)
    del out.streams[:]

    out.loop_start = time.time()
    deadline = time.monotonic() + seconds
    epochs = 0
    while time.monotonic() < deadline:
        ep = _Epoch(ctx, f"e{epochs}")
        epochs += 1
        for _ in files:
            matrix = job(ep, timed=True)
            if matrix is None:
                return
        # the sink's retention must equal batch retention() over the
        # same events once the whole window has been ingested
        out.attempted += 1
        if matrix != want:
            out.fail(f"epoch {ep.root}: sink retention {matrix} != batch {want}")


WORKLOADS = {
    "uba_interactive": (uba_interactive, ("events",)),
    "events_ingest": (events_ingest, ("events",)),
}
