"""SparkSession factory with scale-aware defaults.

Mirrors the reference's session role (`SessionContext` in
examples/retention.rs:78 of the reference): one object holding catalog +
config. The defaults here are chosen for the local[N] test harness but
every knob is the one you would tune on a real cluster:

- ``spark.sql.shuffle.partitions`` sized to cores locally; on a cluster
  this should be ~2-3x total executor cores (or left to AQE coalescing).
- AQE on: runtime re-planning handles skewed joins and coalesces small
  shuffle partitions — important at 100 TB where static planning guesses
  wrong.
- Arrow on: every Python<->JVM boundary (createDataFrame/toPandas/
  pandas_udf) is Arrow-batched.
- Codegen cache sized to the query working set: a query's generated
  classes are compiled once per JVM, not once per execution. The rule is
  ``spark.sql.codegen.cache.maxEntries`` >= the distinct classes one
  pass over the registry compiles. Spark's default of 100 is below what
  8 interactive event rows cycle through (~130), so the LRU evicted
  each class before its next use and every warm execution recompiled.
  One pass over all 198 registry rows at sf0.001 with an unbounded
  cache compiled 2,400 distinct classes, hence 4096; a second pass
  compiled 69 (rows whose generated code differs per call) where the
  100-entry cache recompiled 3,410. Cost against the 100-entry cache
  after both passes: +89 MB of live heap and +23 MB of metaspace. The
  conf is static: a session that already exists (or one not built
  here) keeps its value, and Spark only warns.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "datafusion-uba-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults."""
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or "32"
    shuffle = shuffle_partitions or int(cpus)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        # Un-zoned parquet TIMESTAMP(isAdjustedToUTC=false) columns would
        # otherwise read as TIMESTAMP_NTZ on Spark 4, which breaks every
        # unix_micros() call site. With this off (the pre-3.4 behavior),
        # they read as TIMESTAMP interpreted in the session TZ (UTC here)
        # — the same instant semantics the reference's reader and the
        # DuckDB oracle use on these files.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        # saveAsTable's default warehouse is ./spark-warehouse — keep
        # managed tables (write_bucketed) out of the source tree
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_WAREHOUSE_DIR", "/tmp/uba-spark-warehouse"),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def configure_s3a(
    spark: SparkSession,
    endpoint: str,
    access_key: str,
    secret_key: str,
    path_style_access: bool = True,
) -> SparkSession:
    """Configure the Hadoop s3a connector on a live session (MinIO/S3).

    Equivalent of the reference's object-store registration
    (tests/test_with_minio.rs:81-85): an S3 URL plus credentials become a
    readable filesystem, after which ``spark.read.parquet("s3a://…")``
    behaves like any listing table.
    """
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    hconf.set("fs.s3a.endpoint", endpoint)
    hconf.set("fs.s3a.access.key", access_key)
    hconf.set("fs.s3a.secret.key", secret_key)
    hconf.set("fs.s3a.path.style.access", "true" if path_style_access else "false")
    hconf.set("fs.s3a.connection.ssl.enabled", "false")
    hconf.set("fs.s3a.impl", "org.apache.hadoop.fs.s3a.S3AFileSystem")
    return spark
