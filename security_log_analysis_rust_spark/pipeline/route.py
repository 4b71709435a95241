"""Routing/sink stage: dedup + the sink writers.

The reference routes parsed rows into Postgres tables with
``INSERT ... ON CONFLICT DO NOTHING`` against the unique key
``(service, server, datetime, host)`` (``migrations/V03__intrusion_log.sql:10``,
``src/models.rs:429-448``) after a sort + adjacent-dedup pass
(``src/parse_logs.rs:198-202``). Spark has no unique constraints, so the same
exactly-once semantics are built from one writer per sink:

* :func:`append_dedup` is the one intrusion-sink writer (O8 -> K1). Every
  caller (ingest split, stream batch, ``import``, ``POST /intrusion_log``)
  passes raw rows and gets back the appended count. It keeps one row per
  unique key with :func:`dedup_intrusions` — deterministic keep-first,
  ordered by (username NULLS FIRST, url, line_no, id), where the
  reference's keep-first is insert-order dependent (SURVEY.md §7.4.3) —
  gives each row without an id a uuid (:func:`to_intrusion_log`), then
  anti-joins against the sink, replacing ON CONFLICT DO NOTHING. The
  anti-join, the row count and the write are one action: the count is a
  ``DataFrame.observe`` on the write itself.
* :func:`write_systemd` is the one systemd-sink writer. That table has no
  unique key, so it needs no dedup: it overwrites one directory per ingest
  split (``split=<id>``) or stream batch (``batch=<id>``).

Layout: the intrusion sink is partitioned by month(datetime)
(:data:`MONTH_COL`), and every writer goes through :func:`_write_months`,
which clusters rows by month before the write. One write adds one file per
month it touches (more only for a month past AQE's advisory partition size)
— the analog of the reference's one ``intrusion_log_{year}_{month}.parquet``
per month (``src/polars_analysis.rs:145-146``). ``compact_intrusion_log``
rewrites each month directory holding several files (one per append) back
into that layout.

Every rewrite in place — a sink month, a legacy sink's migration, a dim
table (``dims.overwrite_dim``) — is staged beside the live copy and put in
by the one rename-aside :func:`swap_dir`; :func:`recover_sink`, run by every
read and write of a sink or dim, repairs a swap cut short.

Every read of either sink declares its schema from ``schemas.py``
(:func:`_read_stored`, :func:`read_systemd_sink`), so no read starts
Spark's parquet schema-inference job.

Scale: the dedup shuffles once on the unique key — the same shuffle a
``groupBy`` would need; AQE handles skewed hosts. The anti-join reads only
the sink's key columns (column pruning) and can be restricted to the
incremental datetime range via ``since``.
"""

from __future__ import annotations

import glob
import os
import shutil
from typing import Optional

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from ..schemas import INTRUSION_LOG_SCHEMA, SYSTEMD_LOG_MESSAGES_SCHEMA

#: intrusion_log unique key (migrations/V03__intrusion_log.sql:10)
UNIQUE_KEY = ["service", "server", "datetime", "host"]


def dedup_intrusions(events: DataFrame) -> DataFrame:
    """Keep one row per unique key, deterministically (K1/O5/O8).

    Implemented as ``groupBy(key).agg(min_by(row, order))`` rather than a
    ``row_number`` window: the hash aggregate gets map-side partial
    combining, so the shuffle carries ~unique-keys rows instead of every
    event — the window variant's sort was the pipeline's worst-scaling
    stage (1.7x from 8->32 cores vs 5x for the parse).

    Order = (username ASC NULLS FIRST, url, line_no, id), each tie-break
    used when ``events`` has the column: deterministic keep-first; NULL is
    encoded below '' so the winner is reproducible.
    """
    ord_fields = [
        F.col("username").isNotNull().cast("int"),  # NULL (0) sorts first
        F.coalesce(F.col("username"), F.lit("")),
    ]
    for c in ("url", "line_no", "id"):
        if c in events.columns:
            ord_fields.append(F.col(c))
    payload = F.struct(*[F.col(c) for c in events.columns])
    picked = events.groupBy(*UNIQUE_KEY).agg(
        F.min_by(payload, F.struct(*ord_fields)).alias("__row")
    )
    return picked.select("__row.*")


def to_intrusion_log(deduped: DataFrame) -> DataFrame:
    """:func:`append_dedup`'s projection to the sink schema. A row keeps the
    ``id`` it carries; a row without one gets a random uuid4
    (``src/parse_logs.rs:46``; ids are excluded from all equality checks)."""
    uuid = F.expr("uuid()")
    return deduped.select(
        (F.coalesce("id", uuid) if "id" in deduped.columns else uuid).alias("id"),
        "service",
        "server",
        "datetime",
        "host",
        "username",
    )


def write_systemd(systemd: DataFrame, path: str) -> int:
    """The one systemd-sink writer: parsed systemd rows, projected to the
    sink schema (``migrations/V07__log_messages.sql``; ``processed_time``
    starts NULL, V08), overwrite the directory ``path`` — one per ingest
    split or stream batch, so a re-run replaces its rows instead of
    duplicating them. Returns the row count, observed on the write itself
    (no second job)."""
    rows = systemd.select(
        F.expr("uuid()").alias("id"),
        "log_level",
        "log_unit",
        "log_message",
        "log_timestamp",
        F.lit(None).cast("timestamp").alias("processed_time"),
    )
    seen = Observation()
    rows.observe(seen, F.count(F.lit(1)).alias("n")).write.mode("overwrite").parquet(path)
    return seen.get["n"]


def read_sink(
    spark: SparkSession, path: str, schema, since: Optional[str] = None
) -> DataFrame:
    """Read a parquet sink table projected to ``schema``'s columns (drops the
    physical partition column); empty DataFrame if it doesn't exist yet.
    The read declares ``schema`` (:func:`_read_stored`).

    ``since`` (ISO date or timestamp) keeps only ``datetime >= since`` via
    :func:`sink_month_filter`, applied before the projection drops
    :data:`MONTH_COL`, so the scan skips the older month directories.

    Runs :func:`recover_sink` first: a crash between the two renames of
    :func:`swap_dir` leaves the live dir absent with its ``_old.`` aside
    holding the data — without this, a pure read path would see "no sink"
    until some write-path entry point happened to repair it."""
    recover_sink(path)
    if not os.path.exists(path):
        return spark.createDataFrame([], schema)
    df = _read_stored(spark, path, schema)
    if since is not None:
        df = sink_month_filter(df, since)
    return df.select(*[f.name for f in schema.fields])


#: intrusion sink partition column: month(datetime), written as 'yyyy-MM'
MONTH_COL = "dt_month"


def _read_stored(
    spark: SparkSession, path: str, schema=INTRUSION_LOG_SCHEMA
) -> DataFrame:
    """The sink at ``path`` as stored, read with the declared ``schema``
    plus :data:`MONTH_COL` as a string partition column when ``path`` has
    month directories (a legacy flat sink has none).

    Declaring the schema skips Spark's parquet schema inference, a job that
    reads file footers on every ``spark.read.parquet``. Spark still types
    each column by the file, so this holds only while every writer writes
    the declared schema (``tests/test_sink_layout.py`` checks each one)."""
    if glob.glob(os.path.join(path, f"{MONTH_COL}=*")):
        schema = StructType([*schema.fields, StructField(MONTH_COL, StringType())])
    return spark.read.schema(schema).parquet(path)


def read_systemd_sink(spark: SparkSession, path: str) -> DataFrame:
    """The systemd sink (one ``split=<id>`` directory per ingest split, or
    one part-file) read with its declared schema; no partition column."""
    return (
        spark.read.schema(SYSTEMD_LOG_MESSAGES_SCHEMA)
        .option("recursiveFileLookup", "true")
        .parquet(path)
    )


def sink_month_filter(df: DataFrame, since: str) -> DataFrame:
    """Prune a month-partitioned sink read to ``datetime >= since``.

    The coarse predicate on :data:`MONTH_COL` is what Spark turns into
    *partition pruning* (directories skipped, zero IO); the exact predicate
    on ``datetime`` then applies within the boundary month.
    """
    month = str(since)[:7]
    if MONTH_COL in df.columns:
        df = df.filter(F.col(MONTH_COL) >= F.lit(month))
    return df.filter(F.col("datetime") >= F.lit(since))


def _write_months(df: DataFrame, path: str, mode: str) -> int:
    """The one intrusion-sink writer: ``df`` (carrying :data:`MONTH_COL`)
    written ``partitionBy(MONTH_COL)`` after a ``REBALANCE(MONTH_COL)``.
    Returns the number of rows written.

    The rebalance hashes each month to one shuffle partition; AQE then
    merges small partitions up to the advisory size and splits a month
    larger than it. So a write adds one file per month, not one per
    (task, month) — and unlike ``repartition(MONTH_COL)``, a huge month is
    not confined to a single task. The count is observed on the write
    itself (no second job). It sits above the rebalance on purpose: below
    it, AQE replaces an empty shuffle stage, observer included, with an
    empty relation, and an empty write would report no count at all.
    """
    seen = Observation()
    (
        df.hint("rebalance", MONTH_COL)
        .observe(seen, F.count(F.lit(1)).alias("n"))
        .write.mode(mode)
        .partitionBy(MONTH_COL)
        .parquet(path)
    )
    return seen.get["n"]


def _remove(path: str) -> None:
    """Delete ``path``, a directory or a single file."""
    if os.path.isdir(path):
        shutil.rmtree(path)
    else:
        os.remove(path)


def swap_dir(live: str, tmp: str) -> None:
    """Replace ``live`` (a directory, or a single parquet file such as a
    synthetic dim) with the directory ``tmp`` via rename-aside.

    Order matters for crash safety: the live copy is renamed aside (never
    deleted while it is the only copy), the new dir moved in, and only then
    is the old copy removed. Every intermediate state is recoverable by
    :func:`recover_sink` — a crash can leave a leftover, never data loss.
    The aside name is ``_old.<name>`` (underscore prefix = invisible to
    Spark's file listing, so a concurrent partitioned read never sees it).
    """
    parent, name = os.path.split(os.path.normpath(live))
    aside = os.path.join(parent, "_old." + name)
    if os.path.exists(aside):  # leftover from a crashed *completed* swap
        _remove(aside)
    os.rename(live, aside)
    os.rename(tmp, live)
    _remove(aside)


def _rewrite_month(sink_path: str, month: str, rows: DataFrame) -> None:
    """Replace the ``month`` directory with ``rows`` (all of that month,
    carrying :data:`MONTH_COL`) in the clustered layout.

    The rows are staged under ``.tmp.dt_month=<month>`` (dot prefix =
    invisible to Spark's listing) and swapped in by :func:`swap_dir`; a
    crash leaves the old month or the new one, and :func:`recover_sink`
    removes the staging dir."""
    stage = os.path.join(sink_path, f".tmp.{MONTH_COL}={month}")
    part = f"{MONTH_COL}={month}"
    _write_months(rows, stage, "overwrite")
    swap_dir(os.path.join(sink_path, part), os.path.join(stage, part))
    shutil.rmtree(stage)


def recover_sink(sink_path: str) -> None:
    """Repair leftovers of a crashed :func:`swap_dir` / migration.

    Invariants restored: if the live path (sink root, month partition or
    dim table) is missing but its ``_old.`` aside exists, the aside IS the pre-swap
    data — rename it back. If both exist, the swap completed — drop the
    aside. A ``.tmp`` with no live sink and no aside means a legacy
    (pre-rename-aside) crash stranded the whole history in the tmp: fail
    loudly instead of silently starting a fresh sink.
    """
    parent, name = os.path.split(os.path.normpath(sink_path))
    aside = os.path.join(parent, "_old." + name)
    tmp = sink_path + ".tmp"
    if os.path.exists(aside):
        if os.path.exists(sink_path):
            _remove(aside)
        else:
            os.rename(aside, sink_path)
    if os.path.exists(tmp):
        if os.path.exists(sink_path):
            shutil.rmtree(tmp)  # unswapped rewrite; source state intact
        else:
            raise RuntimeError(
                f"sink {sink_path} is missing but {tmp} exists: a legacy "
                "migration crashed mid-swap. Inspect and rename the .tmp "
                "back manually; refusing to start a fresh sink."
            )
    if os.path.isdir(sink_path):
        for md_aside in glob.glob(os.path.join(sink_path, f"_old.{MONTH_COL}=*")):
            live = os.path.join(
                sink_path, os.path.basename(md_aside)[len("_old.") :]
            )
            if os.path.exists(live):
                shutil.rmtree(md_aside)
            else:
                os.rename(md_aside, live)
        for md_tmp in glob.glob(os.path.join(sink_path, f".tmp.{MONTH_COL}=*")):
            shutil.rmtree(md_tmp)  # month rewrites stage next to the live dir


def _migrate_unpartitioned_sink(spark: SparkSession, sink_path: str) -> bool:
    """One-time atomic rewrite of a legacy flat sink into the
    month-partitioned layout.

    Appending ``partitionBy(dt_month)`` files next to flat part-files would
    succeed and then brick every subsequent read ('Conflicting directory
    structures detected'), so the legacy layout is detected (data files at
    the sink root) and rewritten via the rename-aside swap (a crash leaves
    either the legacy layout or the new one — never a missing sink).
    Returns True if a migration happened.
    """
    root_files = [
        p for p in glob.glob(os.path.join(sink_path, "*.parquet")) if os.path.isfile(p)
    ]
    if not root_files:
        return False
    flat = spark.read.schema(INTRUSION_LOG_SCHEMA).parquet(*root_files)
    flat = flat.withColumn(MONTH_COL, F.date_format("datetime", "yyyy-MM"))
    month_dirs = sorted(glob.glob(os.path.join(sink_path, f"{MONTH_COL}=*")))
    if month_dirs:  # already-mixed sink: keep both halves
        part = (
            spark.read.schema(flat.schema)
            .option("basePath", sink_path)
            .parquet(*month_dirs)
        )
        flat = flat.unionByName(part)
    tmp = sink_path + ".tmp"
    _write_months(flat, tmp, "overwrite")
    swap_dir(sink_path, tmp)
    return True


def append_dedup(
    spark: SparkSession,
    sink_path: str,
    rows: DataFrame,
    since: Optional[str] = None,
) -> int:
    """The one intrusion-sink writer, the ON CONFLICT DO NOTHING analog:
    ``rows`` (which may repeat a unique key, and may carry ``id``, ``url``
    and ``line_no``) are deduplicated by :func:`dedup_intrusions`, given an
    id where they have none and projected by :func:`to_intrusion_log`; rows
    whose key already exists in the sink are dropped and the rest appended.
    Returns the number of appended rows.

    The sink is written partitioned by month(datetime) (:data:`MONTH_COL`),
    so the ``since`` bound (ISO timestamp; callers pass the batch's
    min(datetime)) prunes the anti-join's sink scan to the incremental
    months via partition pruning — a 100 TB sink is never fully re-scanned
    per split. Correctness: every new row has ``datetime >= since``, so any
    conflicting sink row lies in the pruned range by construction.

    One action: the dedup, the anti-join, the count and the write run as
    one query (the sink's files are listed when it is planned, and new
    files are committed only when it ends). An append of 0 rows adds no
    data file, and leaves no sink directory where there was none — Spark's
    empty partitioned write would leave one holding only ``_SUCCESS``,
    which no read can infer a schema from.
    """
    recover_sink(sink_path)
    existed = os.path.exists(sink_path)
    new_rows = to_intrusion_log(dedup_intrusions(rows))
    if existed:
        _migrate_unpartitioned_sink(spark, sink_path)
        existing = read_sink(spark, sink_path, INTRUSION_LOG_SCHEMA, since=since)
        new_rows = new_rows.join(existing.select(*UNIQUE_KEY), UNIQUE_KEY, "left_anti")
    n = _write_months(
        new_rows.withColumn(MONTH_COL, F.date_format("datetime", "yyyy-MM")),
        sink_path,
        "append",
    )
    if not n and not existed:
        shutil.rmtree(sink_path)
    return n


def cleanup_intrusion_log(spark: SparkSession, sink_path: str) -> int:
    """``cleanup_intrusion_log`` analog (``src/host_country_metadata.rs:
    179-214``): delete duplicate sink rows on the unique key, keeping the
    max-id row (the reference deletes ``a.id < b.id``). Returns the number
    of removed rows.

    Partition-scoped: ``datetime`` is part of the unique key and
    :data:`MONTH_COL` = month(datetime), so duplicate rows always share a
    month partition. The dup scan reads only key columns (column-pruned),
    and ONLY the month directories that actually contain duplicates are
    rewritten (:func:`_rewrite_month`); every other month keeps its
    original part-files untouched. This is the plain-parquet analog of
    a table-format partition-level rewrite — a 100 TB sink with a few dirty
    months rewrites a few months, not 100 TB.
    """
    recover_sink(sink_path)
    _migrate_unpartitioned_sink(spark, sink_path)  # legacy flat sink
    df = _read_stored(spark, sink_path)

    dup_months = (
        df.groupBy(*UNIQUE_KEY)
        .agg(F.count(F.lit(1)).alias("__n"), F.first(MONTH_COL).alias("__m"))
        .filter(F.col("__n") > 1)
        .groupBy("__m")
        .agg(F.sum(F.col("__n") - 1).alias("__extra"))
        .collect()
    )
    if not dup_months:
        return 0
    removed = 0
    payload = F.struct(*[F.col(c) for c in df.columns])
    for r in dup_months:
        month, extra = r["__m"], int(r["__extra"])
        part = df.filter(F.col(MONTH_COL) == month)  # partition-pruned scan
        deduped = (
            part.groupBy(*UNIQUE_KEY)
            .agg(F.max_by(payload, F.col("id")).alias("__row"))
            .select("__row.*")
        )
        _rewrite_month(sink_path, month, deduped)
        removed += extra
    spark.catalog.refreshByPath(sink_path)  # drop stale FileStatus entries
    return removed


def compact_intrusion_log(spark: SparkSession, sink_path: str) -> int:
    """Rewrite every month directory that holds more than one data file
    (one per earlier append, or the older one-file-per-task layout) into
    the clustered layout of :func:`_write_months`, each month swapped in
    by :func:`_rewrite_month`. Rows are unchanged. Returns the number of
    months rewritten; a month already at one file is not touched."""
    recover_sink(sink_path)
    if not os.path.exists(sink_path):
        return 0
    _migrate_unpartitioned_sink(spark, sink_path)
    months = [
        os.path.basename(d).split("=", 1)[1]
        for d in sorted(glob.glob(os.path.join(sink_path, f"{MONTH_COL}=*")))
        if len(glob.glob(os.path.join(d, "*.parquet"))) > 1
    ]
    if not months:
        return 0
    df = _read_stored(spark, sink_path)
    for month in months:
        _rewrite_month(sink_path, month, df.filter(F.col(MONTH_COL) == month))
    spark.catalog.refreshByPath(sink_path)
    return len(months)
