"""Benchmark command.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Generates the workload's inputs from the
seed, sets up a Spark session through ``session.get_spark`` (SETUPS
times in fresh JVMs when untraced, for ``setup_s``), checks the outputs
on each row's untimed first execution, then runs the closed loop for
``--seconds``. The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``). The
line before it (``perfbench-detail ...``) records the environment, host
contention, setup samples, per-row latencies and any failures.

All state (inputs, warehouse, Spark local dirs, temp files, sinks,
checkpoints, event logs) lives in a fresh directory under
``perfbench/.work`` that is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SHUFFLE_PARTITIONS = 4
TAIL_BEYOND = 10  # samples the tail percentile must leave above it
SETUPS = 2  # fresh-JVM setups in an untraced run; setup_s is their median
PROBE_REPS = 3  # calls per direct sources probe in a traced run
# keep the JVMs' temp files inside the run's directory (HotSpot writes
# its perf-data file to /tmp whatever java.io.tmpdir says)
JVM_OPTS = "-XX:-UsePerfData -Djava.io.tmpdir={tmp}"

E2E_UNITS = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "queries_per_s": "1/s",
}

# every per-layer metric and its unit; a traced run reports all of them
# on every workload (0 where a layer is not exercised)
PER_LAYER_UNITS = {
    "session.get_spark_s": "s",
    "session.warmup_s": "s",
    "sources.load_table_s": "s",
    "sources.load_table_jobs": "count",
    "sources.scan_s.parquet": "s",
    "sources.scan_s.orc": "s",
    "sources.scan_s.avro_py": "s",
    "sources.scan_s.s3_py": "s",
    "sources.input_bytes": "bytes",
    "sources.input_rows": "count",
    "sources.sink_files": "count",
    "queries.construct_s": "s",
    "queries.construct_jobs": "count",
    "queries.construct_share": "ratio",
    "spark.execute_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.busy_ratio": "ratio",
    "python.total_s": "s",
    "python.boot_s": "s",
    "python.init_s": "s",
    "python.bytes_sent": "bytes",
    "python.bytes_received": "bytes",
    "streaming.start_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.commit_offsets_s": "s",
    "streaming.planning_s": "s",
    "streaming.batch_p50_s": "s",
    "streaming.batch_tail_s": "s",
    "streaming.ingest_rows_per_s": "rows/s",
    "streaming.state_rows": "count",
    "streaming.state_bytes": "bytes",
    "streaming.late_rows_dropped": "count",
    "family.retention.wall_s": "s",
    "family.funnel.wall_s": "s",
    "family.session.wall_s": "s",
    "family.stats.wall_s": "s",
    "family.paths.wall_s": "s",
    "host.peak_rss_mb": "MB",
    "trace.overhead_s": "s",
    "trace.overhead_share": "ratio",
}


def pin_env(work: str) -> dict:
    """Fix what the program reads from its environment, before pyspark
    is imported: the package on the Python workers' path, one core per
    task slot, a driver heap sized to the host, and every temp/state
    directory under ``work``."""
    sys.path[:0] = [ROOT, HERE]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        total_mb = int(fh.readline().split()[1]) // 1024
    driver_mb = min(4096, total_mb // 4)
    dirs = {k: os.path.join(work, k) for k in ("tmp", "warehouse", "local", "eventlog")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEM=f"{driver_mb}m",
        TMPDIR=dirs["tmp"],
        SPARK_WAREHOUSE_DIR=dirs["warehouse"],
        SPARK_LOCAL_DIRS=dirs["local"],
        # spark-submit's launcher JVM: no hsperfdata file under /tmp
        SPARK_LAUNCHER_OPTS=JVM_OPTS.format(tmp=dirs["tmp"]),
    )
    return {
        "cpus": cpus,
        "driver_mem_mb": driver_mb,
        "dirs": dirs,
        "work": work,
        "data_dir": os.path.join(work, "data"),
    }


def _identity(batches):
    yield from batches


def start_session(env: dict, event_log: bool = False):
    """``get_spark`` plus warmup (codegen and the Python worker
    daemon); returns the session and its timings."""
    t0 = time.perf_counter()
    from datafusion_uba_spark.session import get_spark

    t1 = time.perf_counter()
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": JVM_OPTS.format(tmp=env["dirs"]["tmp"]),
        # explicit either way: the session builder keeps options between
        # sessions of one process
        "spark.eventLog.enabled": str(event_log).lower(),
        "spark.eventLog.compress": "false",
        "spark.eventLog.dir": env["dirs"]["eventlog"],
    }
    spark = get_spark(
        app_name="perfbench", shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf
    )
    t2 = time.perf_counter()
    n = env["cpus"]
    spark.range(0, 200_000, numPartitions=n).selectExpr("id % 97 AS k", "id").groupBy(
        "k"
    ).sum("id").collect()
    spark.range(0, 10_000, numPartitions=1).mapInPandas(_identity, "id long").collect()
    t3 = time.perf_counter()
    return spark, {"import_s": t1 - t0, "get_spark_s": t2 - t1, "warmup_s": t3 - t2}


def stop_session(spark) -> None:
    """Stop the session, end the driver JVM and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway exits on stdin EOF
        try:
            proc.wait(60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _tail(values: list[float]) -> tuple[float, float]:
    """The highest percentile with TAIL_BEYOND samples above it, but at
    least the 75th (with fewer than 4 * TAIL_BEYOND samples the 75th has
    fewer above it); returns (value, percentile)."""
    xs = sorted(values)
    pct = max(75.0, 100.0 * (1 - TAIL_BEYOND / len(xs)))
    return xs[math.ceil(len(xs) * pct / 100.0) - 1], pct


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def run_loop(env, spark, workload, seed, seconds, tag, check):
    from workloads import Ctx, Outcome

    out = Outcome()
    out.ctx = Ctx(spark, env["data_dir"], os.path.join(env["work"], tag), seed, tag == "traced")
    os.makedirs(out.ctx.work)
    workload(out.ctx, seconds, out, check)
    return out


def end_to_end(out, setup) -> tuple[dict, dict]:
    lat = [op.latency_s for op in out.ops]
    tail, pct = _tail(lat)
    metrics = {
        "setup_s": setup["setup_s"],
        "latency_p50_s": _median(lat),
        "latency_tail_s": tail,
        # completed operations per second of loop time
        "queries_per_s": len(lat) / (out.ops[-1].spans[-1].end - out.loop_start),
    }
    return metrics, {"tail_percentile": pct, "latency_samples": len(lat)}


def per_layer(env, out, untraced, session_timing, probes, peak_rss_mb) -> dict:
    """Per-layer metrics of a traced loop (see README.md for the map to
    end-to-end metrics)."""
    from eventlog import attribute, event_log_files

    log = event_log_files(env["dirs"]["eventlog"])
    spans = [s for op in out.ops for s in op.spans] + probes["spans"]
    stats = attribute(log, spans)
    n_ops = max(len(out.ops), 1)

    def total(key, sel=lambda s: True):
        return sum(stats[s.span_id].counters.get(key, 0.0) for s in spans if sel(s))

    in_op = {s.span_id for op in out.ops for s in op.spans}
    is_op = lambda s: s.span_id in in_op  # noqa: E731
    construct = [s for op in out.ops for s in op.spans if s.layer == "queries"]
    execute = [s for op in out.ops for s in op.spans if s.layer == "spark"]
    ex_ids = {s.span_id for s in execute}
    latency = sum(op.latency_s for op in out.ops)
    traced_p50 = _median([op.latency_s for op in out.ops])
    untraced_p50 = _median([op.latency_s for op in untraced.ops])
    loads = [s for s in probes["spans"] if s.name == "load_table"]
    m = {
        "session.get_spark_s": session_timing["get_spark_s"],
        "session.warmup_s": session_timing["warmup_s"],
        "sources.load_table_s": _median([s.wall_s for s in loads]),
        "sources.load_table_jobs": sum(stats[s.span_id].jobs for s in loads) / len(loads),
        **{f"sources.scan_s.{k}": v for k, v in probes["scan_s"].items()},
        "sources.input_bytes": total("input_bytes", is_op) / n_ops,
        "sources.input_rows": total("input_rows", is_op) / n_ops,
        "sources.sink_files": _median([op.files_read for op in out.ops]),
        "queries.construct_s": sum(s.wall_s for s in construct) / n_ops,
        "queries.construct_jobs": sum(stats[s.span_id].jobs for s in construct) / n_ops,
        "queries.construct_share": sum(s.wall_s for s in construct) / max(latency, 1e-9),
        "spark.execute_s": sum(s.wall_s for s in execute) / n_ops,
        "spark.jobs": sum(stats[i].jobs for i in in_op) / n_ops,
        "spark.stages": sum(stats[i].stages for i in in_op) / n_ops,
        "spark.tasks": sum(stats[i].tasks for i in in_op) / n_ops,
        "spark.task_run_s": total("task_run_ms", is_op) / 1e3 / n_ops,
        "spark.task_cpu_s": total("task_cpu_ns", is_op) / 1e9 / n_ops,
        "spark.gc_s": total("gc_ms", is_op) / 1e3 / n_ops,
        "spark.shuffle_write_bytes": total("shuffle_write_bytes", is_op) / n_ops,
        "spark.shuffle_read_bytes": total("shuffle_read_bytes", is_op) / n_ops,
        "spark.spill_bytes": total("spill_bytes", is_op) / n_ops,
        "spark.busy_ratio": total("task_run_ms", lambda s: s.span_id in ex_ids)
        / 1e3
        / max(sum(s.wall_s for s in execute) * env["cpus"], 1e-9),
        # the Python-worker boundary, summed over every traced span
        "python.total_s": total("python.total_ms") / 1e3,
        "python.boot_s": total("python.boot_ms") / 1e3,
        "python.init_s": total("python.init_ms") / 1e3,
        "python.bytes_sent": total("python.bytes_sent"),
        "python.bytes_received": total("python.bytes_received"),
        **streaming_metrics(out),
        "host.peak_rss_mb": peak_rss_mb,
        "trace.overhead_s": traced_p50 - untraced_p50,
        "trace.overhead_share": (traced_p50 - untraced_p50) / max(untraced_p50, 1e-9),
    }
    for fam in ("retention", "funnel", "session", "stats", "paths"):
        m[f"family.{fam}.wall_s"] = _median(
            [op.latency_s for op in out.ops if op.family == fam]
        )
    return m


def streaming_metrics(out) -> dict:
    """From ``StreamingQuery.recentProgress`` of every ingest job."""
    batches = [b for job in out.streams for qb in job["queries"].values() for b in qb]
    data = [b for b in batches if b["rows"] > 0]
    ms = lambda k: _median([b["ms"].get(k, 0) for b in data]) / 1e3  # noqa: E731
    trigger = [b["ms"].get("triggerExecution", 0) / 1e3 for b in data]
    # a job's fixed cost: its streaming wall time beyond the longest
    # query's summed trigger executions (start, stop, scheduling)
    starts = [
        job["wall_s"]
        - max(sum(b["ms"].get("triggerExecution", 0) for b in qb) for qb in job["queries"].values())
        / 1e3
        for job in out.streams
    ]
    last = [qb[-1] for qb in out.streams[-1]["queries"].values() if qb] if out.streams else []
    rows = sum(b["rows"] for b in batches)
    wall = sum(job["wall_s"] for job in out.streams)
    return {
        "streaming.start_s": _median(starts),
        "streaming.add_batch_s": ms("addBatch"),
        "streaming.wal_commit_s": ms("walCommit"),
        "streaming.commit_offsets_s": ms("commitOffsets"),
        "streaming.planning_s": ms("queryPlanning"),
        "streaming.batch_p50_s": _median(trigger),
        "streaming.batch_tail_s": _tail(trigger)[0] if trigger else 0.0,
        "streaming.ingest_rows_per_s": rows / wall if wall else 0.0,
        "streaming.state_rows": sum(b["state_rows"] for b in last),
        "streaming.state_bytes": sum(b["state_bytes"] for b in last),
        "streaming.late_rows_dropped": sum(b["dropped"] for b in batches),
    }


def source_probes(env, ctx) -> dict:
    """Direct calls into ``sources``, PROBE_REPS times each:
    ``load_table`` on the table both workloads read, and one fixed table
    (``customer``) scanned as parquet, ORC, Avro (Python codec) and S3
    (Python client)."""
    from datafusion_uba_spark import sources
    from datafusion_uba_spark.sources.avro_py import read_avro_py, write_avro_py
    from datafusion_uba_spark.sources.s3_local import LocalS3Server
    from datafusion_uba_spark.sources.s3_py import S3Client, read_parquet_s3_py

    spark, spans, scan_s = ctx.spark, [], {}
    for _ in range(PROBE_REPS):
        with ctx.span("sources", "load_table", spans):
            sources.load_table(spark, env["data_dir"], "events")
    cust = os.path.join(env["data_dir"], "customer.parquet")
    twins = os.path.join(ctx.work, "twins")
    spark.read.parquet(cust).write.orc(os.path.join(twins, "orc"))
    write_avro_py(spark.read.parquet(cust), os.path.join(twins, "avro"))
    srv = LocalS3Server()
    with open(cust, "rb") as fh:
        S3Client(srv.endpoint, srv.access_key, srv.secret_key).put_object(
            "bench", "customer/part-0.parquet", fh.read()
        )
    ddl = "c_custkey long, c_name string, c_nationkey int, c_acctbal double, c_mktsegment string"
    readers = {
        "parquet": lambda: sources.read_parquet(spark, cust),
        "orc": lambda: sources.read_orc(spark, os.path.join(twins, "orc")),
        "avro_py": lambda: read_avro_py(spark, os.path.join(twins, "avro"), ddl),
        "s3_py": lambda: read_parquet_s3_py(
            spark, srv.endpoint, "bench", "customer/", srv.access_key, srv.secret_key, ddl
        ),
    }
    try:
        for fmt, read in readers.items():
            times = []
            for _ in range(PROBE_REPS):
                with ctx.span("sources", f"scan.{fmt}", spans) as s:
                    read().write.format("noop").mode("overwrite").save()
                times.append(s.wall_s)
            scan_s[fmt] = _median(times)
    finally:
        srv.close()
    return {"spans": spans, "scan_s": scan_s}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    work = os.path.join(HERE, ".work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's state is still there
            pass


def _run(args, work: str) -> int:
    env = pin_env(work)
    from host import Contention, PeakRss, process_age_s
    from workloads import WORKLOADS

    workload, tables = WORKLOADS[args.workload]  # KeyError: unknown workload
    contention = Contention()

    spark, timing = start_session(env, event_log=bool(args.trace))
    timing["setup_s"] = process_age_s()

    import datagen

    datagen.write_tables(
        env["data_dir"], args.seed, tables + (("customer",) if args.trace else ())
    )
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "env": {
            "cpus": env["cpus"],
            "driver_mem_mb": env["driver_mem_mb"],
            "shuffle_partitions": SHUFFLE_PARTITIONS,
        },
        "setup": timing,
    }

    if not args.trace:
        # setup_s: the median of SETUPS setups, each in a fresh JVM. The
        # process start and imports before the first session are paid
        # once and counted in every sample.
        before = timing["setup_s"] - timing["get_spark_s"] - timing["warmup_s"]
        samples = [timing["setup_s"]]
        for _ in range(SETUPS - 1):
            stop_session(spark)
            spark, t = start_session(env)
            samples.append(before + t["get_spark_s"] + t["warmup_s"])
        timing["setup_s"] = _median(samples)
        timing["samples_s"] = samples
        out = run_loop(env, spark, workload, args.seed, args.seconds, "untraced", check=True)
        stop_session(spark)
        metrics, tail = end_to_end(out, timing)
        units = E2E_UNITS
        attempted, failed, failures = out.attempted, out.failed, out.failures
        detail.update(tail)
    else:
        # half the time traced (this session writes the event log), then
        # half untraced in a second session of the same JVM; their
        # difference is the tracing overhead. Both halves warm their
        # session before timing; the untraced one runs in the JVM the
        # traced one has already warmed, so the bias is towards a larger
        # overhead.
        half = args.seconds / 2
        traced = run_loop(env, spark, workload, args.seed, half, "traced", check=True)
        probes = source_probes(env, traced.ctx)
        spark.stop()
        spark, _ = start_session(env)
        with PeakRss() as rss:
            out = run_loop(env, spark, workload, args.seed, half, "untraced", check=False)
        stop_session(spark)
        metrics = per_layer(env, traced, out, timing, probes, rss.peak_mb)
        units = PER_LAYER_UNITS
        attempted = out.attempted + traced.attempted
        failed = out.failed + traced.failed
        failures = out.failures + traced.failures
        detail["traced_ops"] = len(traced.ops)

    detail.update(
        contention=contention.report(),
        failures=failures,
        row_p50_s={
            name: _median([op.latency_s for op in out.ops if op.name == name])
            for name in sorted({op.name for op in out.ops})
        },
        latencies_s=[round(op.latency_s, 4) for op in out.ops],
    )
    print("perfbench-detail " + json.dumps(detail))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
