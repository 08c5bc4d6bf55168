"""Data-source plumbing: the rebuild of the reference's source surface.

Reference surface (SURVEY.md §2.2 S1-S8):
  - in-memory tables        examples/retention.rs:78-82   → memtable()
  - Parquet file/dir        examples/retention_parquet.rs:14-20 → read_parquet()
  - partitioned CSV dir     tests/sqllogictests/src/setup.rs:86-118 → read_csv_dir()
  - Avro (feature-gated)    tests/sqllogictests/src/setup.rs:33-62 → read_avro()
  - Parquet on S3/MinIO     tests/test_with_minio.rs:72-92 → session.configure_s3a + read_parquet("s3a://…")
  - result re-registration  examples/retention.rs:37-38   → register()

Plus the driver-testdata loader, which normalizes timestamp layout
drift — the real-world condition at 100 TB, where a producer fleet
never writes one uniform physical type. Layouts seen so far from the
driver generator, all handled:

  - INT64 TIMESTAMP(NANOS): Spark's reader rejects it by default; we
    flip ``spark.sql.legacy.parquet.nanosAsLong`` and rebuild proper
    timestamps with integer nanos→micros arithmetic (never via double —
    1e18 nanos overflows a double mantissa).
  - un-zoned ``timestamp[us]`` (isAdjustedToUTC=false): Spark 4 would
    infer TIMESTAMP_NTZ, which ``unix_micros`` rejects at analysis
    time. We disable ``spark.sql.parquet.inferTimestampNTZ.enabled``
    so it reads as TIMESTAMP under the UTC session TZ, and
    belt-and-braces cast any residual ``timestamp_ntz`` column (a
    session that didn't come through get_spark()) to ``timestamp``.

The reference reads parquet self-describing and "just works"
(examples/retention_parquet.rs:14-20); this loader is the Spark-side
equivalent contract.
"""

from __future__ import annotations

import hashlib
import logging
import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Event-time columns per testdata table (TESTDATA.md corpus). Their
# physical parquet type has drifted across driver generations (INT64
# nanos, then un-zoned timestamp[us]); load_table normalizes every
# layout to Spark TIMESTAMP.
_TIME_COLS: dict[str, tuple[str, ...]] = {
    "events": ("ts",),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}


def memtable(
    spark: SparkSession,
    rows: Sequence,
    schema: T.StructType | str,
    partitions: int | None = None,
    name: str | None = None,
) -> DataFrame:
    """In-memory table — the reference's MemTable (examples/retention.rs:81).

    The reference models partitions as Vec<Vec<RecordBatch>>; here the
    equivalent knob is ``repartition(n)``.
    """
    df = spark.createDataFrame(rows, schema)
    if partitions:
        df = df.repartition(partitions)
    if name:
        df.createOrReplaceTempView(name)
    return df


def read_parquet(spark: SparkSession, path: str, **options) -> DataFrame:
    """Parquet scan over a file, directory, or object-store URL.

    Directory + extension filtering (the reference's ListingTable with
    ``.parquet`` suffix, tests/test_with_minio.rs:89-92) maps to the
    ``pathGlobFilter`` option. Filter pushdown / row-group pruning are
    Catalyst defaults.
    """
    reader = spark.read
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.parquet(path)


def read_csv_dir(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str,
    header: bool = False,
    **options,
) -> DataFrame:
    """Partitioned CSV directory with explicit schema (setup.rs:86-118)."""
    reader = spark.read.schema(schema).option("header", str(header).lower())
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.csv(path)


def read_avro(spark: SparkSession, path: str) -> DataFrame:
    """Avro multi-file table (setup.rs:33-62), jar-backed fast path.
    Needs the spark-avro package on the classpath; raises a clear
    error when absent (the reference feature-gates Avro the same way).
    On a jar-less client use ``sources.avro_py.read_avro_py`` — the
    dependency-free container codec over binaryFile + mapInPandas."""
    try:
        return spark.read.format("avro").load(path)
    except Exception as exc:  # pragma: no cover - depends on classpath
        raise RuntimeError(
            "Avro source requires the org.apache.spark:spark-avro package "
            "on the Spark classpath (reference gates this behind the "
            "'avro' feature flag too); for a jar-less read use "
            "datafusion_uba_spark.sources.avro_py.read_avro_py"
        ) from exc


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str | None = None,
    **options,
) -> DataFrame:
    """Newline-delimited JSON (the training-data interchange default).

    Pass an explicit ``schema`` in production: schema inference reads
    the data TWICE (a full extra pass at 100 TB) and types drift with
    whatever the sampled lines happen to contain. Malformed lines land
    in ``_corrupt_record`` (Spark's default PERMISSIVE mode) instead of
    failing the job; pass mode='FAILFAST' to make them fatal.
    """
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.json(path)


def read_orc(spark: SparkSession, path: str, **options) -> DataFrame:
    """ORC scan (directory or file). Unlike Avro, ORC is built into
    Spark — no extra jars — and keeps parquet-grade pushdown: predicate
    filters reach the reader as ORC search arguments and stripe-level
    min/max stats prune, so an ORC-resident corpus gets the same
    scan-side story as the parquet tables. Beyond the reference's
    source list (its DataFusion core has no ORC reader); included
    because mixed parquet/ORC estates are the common migration state.
    """
    reader = spark.read
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.orc(path)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: str | list[str],
    mode: str = "overwrite",
    fmt: str = "parquet",
) -> None:
    """Hive-style partitioned directory layout (``.../day=2024-01-01/``)
    — the other half of the 100 TB storage story next to
    ``write_bucketed``: bucketing amortizes SHUFFLES, partitioning
    amortizes SCANS. A query filtering on a partition column prunes
    whole directories at planning time (PartitionFilters in the scan
    node — pinned by tests/test_sources.py::
    test_write_partitioned_prunes_directories), so a day-bounded
    query over years of events lists one directory, not the table.
    Choose partition columns with bounded cardinality (day, region —
    never user_id: millions of tiny directories kill the listing)."""
    pc = [partition_cols] if isinstance(partition_cols, str) else list(partition_cols)
    df.write.mode(mode).format(fmt).partitionBy(*pc).save(path)


def register(df: DataFrame, name: str, cache: bool = False) -> DataFrame:
    """Re-register a (result) DataFrame as a queryable table
    (examples/retention.rs:37-38). ``cache=True`` materializes it like
    the reference's collected MemTable."""
    if cache:
        df = df.cache()
    df.createOrReplaceTempView(name)
    return df


def _orphan_location(spark: SparkSession, table: str) -> str | None:
    """The warehouse directory ``table`` would occupy if it were a
    managed table — but ONLY under a local ``file:`` warehouse (never
    reach into s3a/hdfs paths another deployment may own)."""
    from urllib.parse import urlparse

    wh_uri = urlparse(str(spark.conf.get("spark.sql.warehouse.dir")))
    if wh_uri.scheme not in ("", "file"):
        return None
    # layout: wh/tbl | wh/db.db/tbl | wh/db.db/tbl for catalog.db.tbl
    # (the catalog segment names the metastore, not a directory)
    parts = table.lower().split(".")
    if len(parts) >= 2:
        rel = os.path.join(parts[-2] + ".db", parts[-1])
    else:
        rel = parts[-1]
    cand = os.path.join(wh_uri.path, rel)
    return cand if os.path.isdir(cand) else None


def drop_table_and_orphan(spark: SparkSession, table: str) -> None:
    """Make ``table`` re-creatable through the catalog: drop it if
    known (resolves the REAL location — qualified names, custom
    warehouses — and removes managed data with it). Unlike rounds ≤8
    this NEVER deletes a warehouse directory preemptively: in the
    shared-/tmp-warehouse multi-session scenario, a directory merely
    unknown to THIS session's derby metastore can be a live table
    owned by a concurrent session (r8 ADVICE — data-loss hazard).
    Stale-orphan recovery now happens only inside
    :func:`save_table_recovering_orphan`, AFTER ``saveAsTable``
    itself proves the location is unclaimable by failing with
    LOCATION_ALREADY_EXISTS."""
    spark.sql(f"DROP TABLE IF EXISTS {table}")


# A warehouse directory younger than this is treated as potentially
# LIVE (a concurrent session mid-pipeline), not a stale orphan. Real
# orphans are leftovers of dead runs — minutes to days old.
ORPHAN_GRACE_SECONDS = 600


def _orphan_looks_live(cand: str, grace: float = ORPHAN_GRACE_SECONDS) -> bool:
    """True if ``cand`` shows signs of belonging to a LIVE concurrent
    session: an in-flight Spark write (``_temporary`` staging dir), or
    any file/dir mtime within the grace window."""
    import time

    if os.path.isdir(os.path.join(cand, "_temporary")):
        return True
    now = time.time()
    try:
        newest = os.stat(cand).st_mtime
        for root, dirs, files in os.walk(cand):
            for n in dirs + files:
                newest = max(newest, os.stat(os.path.join(root, n)).st_mtime)
    except OSError:
        return True  # racing a concurrent delete/write: do not touch
    return now - newest < grace


def save_table_recovering_orphan(save, spark: SparkSession, table: str) -> None:
    """Run ``save()`` (a ``saveAsTable`` thunk); if it fails with
    LOCATION_ALREADY_EXISTS and the location looks STALE, clear it and
    retry ONCE. The orphan case is a location outliving its metastore
    entry: each session's derby metastore lives in its launching cwd
    while the warehouse dir is shared /tmp, so a table written by a
    session with a different cwd — or one that died mid-write — leaves
    a directory this session's catalog doesn't know, and saveAsTable
    refuses even in overwrite mode. Because metastores are PER-SESSION,
    that refusal alone cannot distinguish a dead run's leftovers from a
    live concurrent session's same-named table (r9 ADVICE): before the
    rmtree the directory must also look stale — no ``_temporary``
    staging dir (an in-flight write) and no mtime within
    ``ORPHAN_GRACE_SECONDS``. A recent or in-flight directory re-raises
    the original error instead of clobbering possibly-live data; use a
    different table name (or wait out the grace window) in that case.
    Only local ``file:`` warehouses are ever recovered. Shared by
    write_bucketed and the index-metadata writers
    (operators.pq.pq_build_index)."""
    import shutil

    from pyspark.errors import AnalysisException, SparkRuntimeException

    # Spark 4 raises the location conflict as SparkRuntimeException from
    # the DataFrame writer and AnalysisException from some SQL paths —
    # catch both, match on the error class string.
    try:
        save()
        return
    except (AnalysisException, SparkRuntimeException) as exc:
        if "LOCATION_ALREADY_EXISTS" not in str(exc):
            raise
        cand = _orphan_location(spark, table)
        if cand is None or _orphan_looks_live(cand):
            raise
    shutil.rmtree(cand, ignore_errors=True)
    save()


def staged_swap_tables(spark: SparkSession, builds) -> None:
    """Build catalog tables under staging names, then swap them in —
    the index-rebuild safety primitive (r9 ADVICE: pq_build_index used
    to drop the LIVE index before encoding, so a failed build — bad
    column, bad model, executor loss — destroyed the previously
    working index; now a failure anywhere in the build phase leaves
    the live tables untouched).

    ``builds`` is a list of ``(live_name, write_fn)`` pairs;
    ``write_fn(staging_name)`` must write the staged table (using
    write_bucketed / save_table_recovering_orphan as appropriate).
    Phase 1 writes every staged table; only after ALL succeed does
    phase 2 drop the live tables (list order) and rename the staged
    ones in (REVERSE list order — callers list the data table first
    and its metadata companion last, so metadata is restored before
    data and any crash window leaves a missing-data-table state that
    fails loudly, never a live mismatched pair; same discipline as the
    r8 drop/meta/codes ordering, with the destruction moved after the
    build). The swap itself is catalog-metadata work (ALTER TABLE
    RENAME moves the managed directory), seconds not hours — the
    crash window shrinks from the whole encode to the rename."""
    import shutil

    staged: list[tuple[str, str]] = []
    try:
        for live, write_fn in builds:
            stage = live + "__stage"
            drop_table_and_orphan(spark, stage)
            write_fn(stage)
            staged.append((stage, live))
    except Exception:
        # best-effort staging cleanup; the LIVE tables are untouched
        for stage, _ in staged:
            try:
                spark.sql(f"DROP TABLE IF EXISTS {stage}")
            except Exception:
                # cleanup must not mask the original build failure;
                # log the leftover stage so an operator can drop it
                logging.getLogger(__name__).warning(
                    "staged_swap_tables: could not drop staging "
                    "table %s during rollback; drop it manually",
                    stage,
                    exc_info=True,
                )
        raise
    for _, live in staged:
        drop_table_and_orphan(spark, live)
        # a stale orphan directory at the destination would fail the
        # rename; clear it under the same liveness rules as recovery
        cand = _orphan_location(spark, live)
        if cand is not None and not _orphan_looks_live(cand):
            shutil.rmtree(cand, ignore_errors=True)
    for stage, live in reversed(staged):
        try:
            spark.sql(f"ALTER TABLE {stage} RENAME TO {live}")
        except Exception as exc:
            # Phase 2 failed AFTER the live tables were dropped — the
            # data is safe but stranded under staging names (r10 review
            # finding: don't leave the operator guessing). Nothing is
            # deleted here; name the recovery explicitly.
            remaining = [
                f"ALTER TABLE {s} RENAME TO {l}"
                for s, l in reversed(staged)
                if spark.catalog.tableExists(s)
            ]
            raise RuntimeError(
                f"staged_swap_tables: rename {stage!r} -> {live!r} failed "
                f"after the previous live tables were dropped; the NEW "
                f"data is intact under its staging name(s). Finish the "
                f"swap manually: {'; '.join(remaining)}"
            ) from exc
        # RENAME moves the managed directory and updates the TABLE
        # location, but each PARTITION's registered location still
        # points at the old staging path — a renamed PARTITIONED table
        # reads EMPTY until the partition metadata is re-synced (drop
        # the stale entries, re-discover under the new location; covers
        # the __HIVE_DEFAULT_PARTITION__ NULL partition too)
        try:
            if any(
                c.isPartition for c in spark.catalog.listColumns(live)
            ):
                spark.sql(f"MSCK REPAIR TABLE {live} SYNC PARTITIONS")
        except Exception as exc:
            # like the rename-failure branch: later tables in the
            # reversed loop have already had their live names dropped
            # and are still stranded under staging names — an operator
            # following this message must finish THOSE renames too,
            # not just this table's re-sync
            remaining = [
                f"ALTER TABLE {st} RENAME TO {lv}"
                for st, lv in reversed(staged)
                if spark.catalog.tableExists(st)
            ]
            steps = [f"MSCK REPAIR TABLE {live} SYNC PARTITIONS"] + [
                r + f"; MSCK REPAIR TABLE <renamed> SYNC PARTITIONS "
                "(if partitioned)"
                for r in remaining
            ]
            raise RuntimeError(
                f"staged_swap_tables: {live!r} was renamed in but its "
                "partition metadata re-sync failed; all staged data is "
                "intact. Finish manually, in order: "
                + "; ".join(steps)
            ) from exc


from contextlib import contextmanager


@contextmanager
def dynamic_partition_overwrite(spark: SparkSession):
    """Scope spark.sql.sources.partitionOverwriteMode=dynamic: inside
    the block an ``insertInto`` overwrite replaces ONLY the partitions
    present in the written frame, never the others — the partial-
    rewrite primitive every partitioned-store maintainer here uses
    (rollup_refresh, scd2_apply_table, cdc_store_apply, cdc_vacuum,
    erasure_apply). One copy of the save/set/restore dance."""
    prev = spark.conf.get(
        "spark.sql.sources.partitionOverwriteMode", "static"
    )
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def drop_partition(
    spark: SparkSession, table: str, col: str, value
) -> None:
    """ALTER TABLE ... DROP IF EXISTS PARTITION with TYPED literal
    quoting: ints/floats bare, everything else (str, date, timestamp)
    single-quoted with embedded quotes doubled. NULL partition values
    are rejected loudly — Spark's DROP PARTITION cannot address the
    __HIVE_DEFAULT_PARTITION__ by value, and a str(None) would either
    no-op or hit a legitimate partition whose value is the literal
    string 'None'."""
    if value is None:
        raise ValueError(
            f"drop_partition: cannot drop the NULL partition of "
            f"{table!r} by value; handle NULL-partition rows with a "
            f"full rewrite"
        )
    if isinstance(value, bool) or not isinstance(value, (int, float)):
        lit = "'" + str(value).replace("'", "''") + "'"
    else:
        lit = str(value)
    spark.sql(
        f"ALTER TABLE {table} DROP IF EXISTS PARTITION ({col} = {lit})"
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: str | list[str],
    n_buckets: int,
    sort_cols: str | list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` as a BUCKETED (and optionally sort-within-bucket)
    parquet table in the session catalog — the shuffle-amortization
    primitive for 100 TB fact tables.

    A join or aggregation keyed on ``bucket_cols`` between tables
    bucketed the same way needs NO exchange: Spark matches the
    bucketing to the required hash partitioning and plans a zero-
    shuffle SortMergeJoin (asserted by
    tests/test_sources.py::test_bucketed_join_has_no_shuffle). Write
    once, join/aggregate shuffle-free forever after — at 100 TB the
    single biggest cost you can delete from a recurring pipeline.
    ``sort_cols`` additionally pre-sorts within buckets so the merge
    phase skips its sort (events by (user_id) bucketed + ts-sorted is
    the retention/sessionize sweet spot).
    """
    bc = [bucket_cols] if isinstance(bucket_cols, str) else list(bucket_cols)
    spark = df.sparkSession
    if mode == "overwrite":
        drop_table_and_orphan(spark, table)
    w = df.write.mode(mode).format("parquet").bucketBy(n_buckets, *bc)
    if sort_cols is not None:
        sc = [sort_cols] if isinstance(sort_cols, str) else list(sort_cols)
        w = w.sortBy(*sc)
    save_table_recovering_orphan(lambda: w.saveAsTable(table), spark, table)


def compact_parquet_dir(
    spark: SparkSession,
    path: str,
    target_mb: int = 128,
    sort_within_by: list[str] | None = None,
) -> dict:
    """Bin-pack a parquet directory's small files into ~``target_mb``
    outputs — the recurring maintenance job every streaming/incremental
    sink needs (a per-trigger file stream or dynamic-partition refresh
    leaves thousands of KB-sized files; at 100 TB the NameNode/listing
    pressure and per-file open cost dominate scans long before the
    bytes do).

    The output file count is sized from the directory's ACTUAL bytes
    (sum of data-file sizes, not a row-count guess), then written with
    ``coalesce`` — a narrow, shuffle-free repack; pass
    ``sort_within_by`` to additionally sortWithinPartitions for
    row-group skipping locality (that path repartitions, paying one
    shuffle for long-term scan pruning).

    Crash safety: the repack writes under ``<path>.__stage`` and swaps
    by rename only after the write lands (previous data stays live
    under ``<path>.__old`` until the swap completes, then is removed)
    — a failed build leaves the original directory untouched, the
    staged-swap discipline of the index builders.

    Returns {"files_before", "files_after", "bytes", "rows"}.
    """
    import math
    import os
    import shutil

    def data_files(p: str) -> list[str]:
        out = []
        for root, _, names in os.walk(p):
            for n in names:
                if not n.startswith(("_", ".")) and not n.endswith(".crc"):
                    out.append(os.path.join(root, n))
        return out

    before = data_files(path)
    if not before:
        raise ValueError(f"compact_parquet_dir: no data files under {path}")
    total = sum(os.path.getsize(f) for f in before)
    n_out = max(1, math.ceil(total / (target_mb * 1024 * 1024)))
    df = spark.read.parquet(path)
    rows = df.count()
    stage, old = f"{path}.__stage", f"{path}.__old"
    shutil.rmtree(stage, ignore_errors=True)
    if sort_within_by:
        w = df.repartition(n_out).sortWithinPartitions(*sort_within_by)
    else:
        w = df.coalesce(n_out)
    w.write.mode("overwrite").parquet(stage)
    # verify the repack before touching the live directory
    if spark.read.parquet(stage).count() != rows:
        raise RuntimeError(
            f"compact_parquet_dir: staged repack of {path} row-count "
            "mismatch; original left untouched, stage kept for inspection"
        )
    shutil.rmtree(old, ignore_errors=True)
    os.rename(path, old)
    os.rename(stage, path)
    shutil.rmtree(old)
    return {
        "files_before": len(before),
        "files_after": len(data_files(path)),
        "bytes": total,
        "rows": rows,
    }


def _utc_nanos(date_str: str) -> int:
    """Epoch nanos of a UTC midnight date string."""
    from datetime import datetime, timezone

    dt = datetime.fromisoformat(date_str).replace(tzinfo=timezone.utc)
    return int(dt.timestamp()) * 1_000_000_000


def _naive_dt(date_str: str):
    """Naive datetime of a date string (interpreted in the UTC session
    TZ when bound as a Spark timestamp literal)."""
    from datetime import datetime

    return datetime.fromisoformat(date_str)


# Reader confs that change the inferred parquet type mapping and that
# load_table does not pin; part of the schema-reuse key.
_UNPINNED_PARQUET_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
)
# path -> (footer key, inferred StructType); see _read_parquet_reusing_schema.
# Process-wide because load_table is a free function; sharing it cannot
# change a result, since the schema is a function of the key alone.
_INFERRED_SCHEMAS: dict[str, tuple[tuple, T.StructType]] = {}


def _footer_key(spark: SparkSession, path: str) -> tuple | None:
    """Key of the schema Spark infers for ``path``: a digest of the
    parquet footer (where the schema lives) plus the unpinned reader
    confs. None when ``path`` is not an absolute local single parquet
    file — directories, relative paths and other filesystems keep
    Spark's own inference.

    Not (size, mtime): file timestamps advance in jiffy-sized steps, so
    an in-place rewrite within a few ms can keep both."""
    if path.startswith("file:"):
        local = path[len("file:") :]
        if local.startswith("//"):  # file:///abs; no authority allowed
            local = local[2:] if local.startswith("///") else ""
    elif ":" in path.split("/", 1)[0]:  # another scheme: s3a://, hdfs://
        return None
    elif (
        spark._jsc.hadoopConfiguration()
        .get("fs.defaultFS", "file:///")
        .startswith("file:")
    ):
        local = path
    else:
        return None
    if not os.path.isabs(local):
        return None
    try:
        with open(local, "rb") as fh:
            fh.seek(-8, os.SEEK_END)
            tail = fh.read(8)
            if tail[4:] != b"PAR1":
                return None
            n = int.from_bytes(tail[:4], "little")
            fh.seek(-8 - n, os.SEEK_END)
            footer = fh.read(n)
    except (OSError, ValueError):  # directory, missing, shorter than 8 bytes
        return None
    confs = tuple(spark.conf.get(k) for k in _UNPINNED_PARQUET_CONFS)
    return hashlib.blake2b(footer, digest_size=16).digest(), confs


def _read_parquet_reusing_schema(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without the schema-inference job
    after the first call on a local file: the StructType Spark inferred
    is passed back through ``spark.read.schema`` for as long as the
    file's footer key is unchanged (~1 ms to read in Python, against a
    ~70 ms inference job). The key is taken before and after inference
    and the schema kept only if both agree, so a rewrite racing the
    inference is never cached under a footer it was not inferred
    from."""
    key = _footer_key(spark, path)
    hit = _INFERRED_SCHEMAS.get(path)
    if key is not None and hit is not None and hit[0] == key:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    if key is not None and _footer_key(spark, path) == key:
        _INFERRED_SCHEMAS[path] = (key, df.schema)
    return df


def load_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    date_bounds: dict[str, tuple[str, str]] | None = None,
) -> DataFrame:
    """Load one driver-testdata table with proper timestamp types,
    normalizing whatever physical time layout the producer wrote.

    ``date_bounds={"ts": ("2024-01-01", "2024-01-08")}`` applies a
    half-open [start, end) date window ON THE RAW SCAN COLUMN, *before*
    any rebuild, in whichever representation the file uses. This
    matters at scale: a predicate over a rebuilt expression (e.g.
    ``timestamp_micros(ts DIV 1000)``) cannot be pushed into the
    parquet scan (Catalyst won't invert the expression), but a plain
    comparison against the scan column — bigint vs bigint literal, or
    timestamp vs timestamp literal — reaches PushedFilters and prunes
    row groups: the difference between scanning a day and scanning
    100 TB. (The reference leans on the same mechanism: row-group
    pruning enabled in tests/test_with_minio.rs:88.)
    Pinned by tests/test_plan_audit.py::test_date_bounds_pushed_to_scan.

    A local single-file table launches no Spark job after its first
    load: the inferred schema is reused while the file's parquet footer
    is unchanged (``_read_parquet_reusing_schema``).
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Read un-zoned parquet timestamps as TIMESTAMP (session TZ), not
    # TIMESTAMP_NTZ — unix_micros() et al. reject NTZ at analysis time.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    # Day-bucketing (to_date on rebuilt timestamps) must agree with the
    # timezone-naive DuckDB oracle regardless of the host TZ — the
    # driver's own SparkSession does not go through get_spark().
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = _read_parquet_reusing_schema(spark, f"{sf_dir}/{name}.parquet")
    dtypes = dict(df.dtypes)
    for c, (start, end) in (date_bounds or {}).items():
        if dtypes.get(c) == "bigint":
            df = df.where(
                (F.col(c) >= _utc_nanos(start)) & (F.col(c) < _utc_nanos(end))
            )
        elif dtypes.get(c) in ("timestamp", "timestamp_ntz"):
            # Naive-datetime literals: under the UTC session TZ these
            # are the same instants as _utc_nanos, and a plain
            # col-vs-literal comparison pushes into the parquet scan.
            lo, hi = (F.lit(_naive_dt(start)), F.lit(_naive_dt(end)))
            if dtypes[c] == "timestamp_ntz":
                lo, hi = (
                    lo.cast("timestamp_ntz"),
                    hi.cast("timestamp_ntz"),
                )
            df = df.where((F.col(c) >= lo) & (F.col(c) < hi))
    for c in _TIME_COLS.get(name, ()):
        if dtypes.get(c) == "bigint":
            # integer nanos → micros; DIV keeps it in bigint space
            df = df.withColumn(c, F.expr(f"timestamp_micros({c} DIV 1000)"))
    # Belt-and-braces: a session that didn't set inferTimestampNTZ=false
    # before its first read can still surface NTZ columns — cast every
    # one to TIMESTAMP (NTZ→LTZ cast interprets the naive value in the
    # UTC session TZ, the same instants as the config path).
    for c, dt in dtypes.items():
        if dt == "timestamp_ntz":
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def compact_parquet(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    target_file_mb: int = 512,
    sort_cols: str | list[str] | None = None,
) -> int:
    """Small-files compaction: rewrite a parquet directory into files
    of ~``target_file_mb`` — the recurring maintenance job of any
    long-running ingest (streaming sinks and hourly batch appends both
    accrete kilobyte files; a 100 TB table fragmented into millions of
    them pays file-open and listing costs that dwarf the actual read,
    and row-group-sized files defeat parquet's columnar skipping).

    File count comes from the ACTUAL on-disk bytes (Hadoop
    ContentSummary of the source), not a row-count guess, so the
    output honors the target under any compression ratio.
    ``sort_cols`` switches the reshape to a range-repartition +
    within-file sort — clustering the rewrite by a scan predicate's
    column (e.g. ts) so min/max row-group stats prune after
    compaction. Returns the number of files targeted.
    """
    import math

    jpath = spark._jvm.org.apache.hadoop.fs.Path(src_path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    total_bytes = fs.getContentSummary(jpath).getLength()
    n_files = max(1, math.ceil(total_bytes / (target_file_mb * 1024 * 1024)))
    df = spark.read.parquet(src_path)
    if sort_cols is not None:
        sc = [sort_cols] if isinstance(sort_cols, str) else list(sort_cols)
        df = df.repartitionByRange(n_files, *sc).sortWithinPartitions(*sc)
    else:
        df = df.repartition(n_files)
    df.write.mode("overwrite").parquet(dst_path)
    return n_files
