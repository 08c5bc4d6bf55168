"""Pins the event-log parser on a two-stage query.

    python3 -m pytest perfbench/test_eventlog.py -q

A grouped aggregate over 4 input partitions into 2 shuffle partitions
is one job of two stages (map side: 4 tasks, reduce side: 2 tasks) with
AQE off. The span that ran it must get exactly that, plus the shuffle
bytes the map side wrote and the reduce side read.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

from eventlog import Span, attribute, event_log_files  # noqa: E402


@pytest.fixture(scope="module")
def traced(tmp_path_factory):
    from pyspark.sql import SparkSession

    from workloads import Ctx

    log_dir = str(tmp_path_factory.mktemp("eventlog"))
    spark = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-eventlog-test")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.dir", log_dir)
        .getOrCreate()
    )
    ctx = Ctx(spark, "", "", 0, traced=True)
    spans: list[Span] = []
    with ctx.span("spark", "two_stage", spans):
        spark.range(0, 10_000, numPartitions=4).selectExpr("id % 10 AS k").groupBy(
            "k"
        ).count().collect()
    with ctx.span("spark", "untagged", spans):
        # a job without our job group (as a streaming query's own thread
        # starts them) is attributed by time
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", "elsewhere")
        spark.range(0, 100, numPartitions=3).count()
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    spark.stop()
    return spans, attribute(event_log_files(log_dir), spans)


def test_two_stage_query_attributed_to_its_span(traced):
    spans, stats = traced
    st = stats[spans[0].span_id]
    assert (st.jobs, st.stages, st.tasks) == (1, 2, 6)
    written = st.counters["shuffle_write_bytes"]
    assert written > 0 and st.counters["shuffle_read_bytes"] == written
    assert st.counters["input_rows"] == 10_000  # range() counts as input
    assert st.counters["task_run_ms"] >= 0 and st.counters["task_cpu_ns"] > 0


def test_job_outside_any_job_group_attributed_by_time(traced):
    spans, stats = traced
    st = stats[spans[1].span_id]
    assert st.jobs >= 1 and st.tasks >= 3


def test_rolling_log_parts_read_in_order(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    for n in (10, 2, 1):
        (d / f"events_{n}_local-1").write_text(json.dumps({"n": n}) + "\n")
    (d / "appstatus_local-1").write_text("")
    files = event_log_files(str(tmp_path))
    assert [os.path.basename(f).split("_")[1] for f in files] == ["1", "2", "10"]
