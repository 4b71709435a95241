"""File-based log sources — the reference's CLI ingest surfaces.

* ``read_log_files`` = S1+S2+S3 (``src/parse_logs.rs:143-171``): glob
  expansion with transparent ``.gz`` decompression (the Spark text source
  decompresses by extension natively) and the per-file mtime **year** carried
  as a column (the ssh syslog format has no year).
* ``parse_auth_glob`` = ``parse_all_log_files`` (``:143-204``): parse + sort
  + unique-key dedup + optional high watermark (F5).
* ``read_journald_json`` = S4 (``:261-302``): JSONL batch source.
* ``export_json`` / ``import_json`` = K7/S9 (``src/parse_opts.rs:232-297``).
"""

from __future__ import annotations

import glob as _glob
import os
from datetime import datetime, timezone
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..parsing.exprs import invalid_user_expr
from ..pipeline.parse import ssh_ts_expr, tokens_expr
from ..schemas import INTRUSION_LOG_SCHEMA


def read_log_files(spark: SparkSession, log_prefix: str) -> DataFrame:
    """Glob ``{log_prefix}*`` into (line, year) rows.

    Year = file mtime year, resolved driver-side during file listing
    (a metadata operation, same as the reference) and joined in via
    ``input_file_name()`` — the data path stays distributed.
    """
    files = sorted(_glob.glob(log_prefix + "*"))
    if not files:
        return spark.createDataFrame([], "line string, year int")
    years = [
        (
            os.path.basename(f),
            datetime.fromtimestamp(os.path.getmtime(f), tz=timezone.utc).year,
        )
        for f in files
    ]
    year_df = F.broadcast(
        spark.createDataFrame(years, "fname string, year int")
    )
    # join on basename — input_file_name() is a file:// URI; basenames are
    # unique within one glob prefix
    lines = (
        spark.read.text(files)
        .withColumnRenamed("value", "line")
        .withColumn("fname", F.element_at(F.split(F.input_file_name(), "/"), -1))
    )
    return lines.join(year_df, "fname", "left").select("line", "year")


def parse_auth_lines(lines: DataFrame) -> DataFrame:
    """(line, year) -> parsed ssh events (P2 over arbitrary files)."""
    line = F.col("line")
    df = (
        lines.filter(line.contains("sshd") & line.contains("Invalid user"))
        .withColumn("toks", tokens_expr(line))
        .filter(F.size("toks") >= 10)
        .withColumn("datetime", ssh_ts_expr(F.col("year")))
        .withColumn("ex", invalid_user_expr(line))
        .filter(F.col("datetime").isNotNull() & F.col("ex.host").isNotNull())
    )
    return df.select(
        "datetime",
        F.col("ex.host").alias("host"),
        F.col("ex.username").alias("username"),
    )


def parse_auth_glob(
    spark: SparkSession,
    log_prefix: str,
    service: str = "ssh",
    server: str = "home.ddboline.net",
    max_datetime: Optional[str] = None,
) -> DataFrame:
    """``parse_all_log_files`` analog: glob -> parse -> watermark filter ->
    unique-key dedup -> intrusion rows without ids (``route.append_dedup``,
    the sink's one writer, gives each appended row its uuid)."""
    from ..pipeline.route import dedup_intrusions

    ev = parse_auth_lines(read_log_files(spark, log_prefix)).select(
        F.lit(service).alias("service"),
        F.lit(server).alias("server"),
        "datetime",
        "host",
        "username",
    )
    if max_datetime is not None:
        ev = ev.filter(F.col("datetime") > F.lit(max_datetime))
    return dedup_intrusions(ev)


def read_journald_json(spark: SparkSession, path: str) -> DataFrame:
    """S4: journald JSONL lines (kept raw; routed by
    ``streaming.journald_stream.route_journald``, the line router's
    journald kinds, over the (url, warc_ts, line_no, line) frame).

    ``line_no`` is the DETERMINISTIC per-file line index (``wholetext`` +
    ``posexplode``), not ``monotonically_increasing_id()`` — mid values
    change with partitioning/retries, which made the dedup tiebreak
    (url, line_no) unstable. Tradeoff: each file is read by one task;
    journald export files are size-bounded by rotation, so per-file
    parallelism (many files) is the natural unit here anyway.
    """
    return (
        spark.read.text(path, wholetext=True)
        .select(
            F.input_file_name().alias("url"),
            F.posexplode(F.split("value", "\n")).alias("line_no", "line"),
        )
        .filter(F.length("line") > 0)
        .withColumn("line_no", F.col("line_no").cast("long"))
        .withColumn("warc_ts", F.current_timestamp())
        .select("url", "warc_ts", "line_no", "line")
    )


def export_json(df: DataFrame, path: str, limit: int = 1000) -> None:
    """K7 (``src/parse_opts.rs:261-297``): filtered rows -> JSON, limit 1000."""
    df.limit(limit).write.mode("overwrite").json(path)


def import_json(spark: SparkSession, path: str) -> DataFrame:
    """S9 (``src/parse_opts.rs:232-259``): JSON -> intrusion_log rows."""
    return spark.read.schema(INTRUSION_LOG_SCHEMA).json(path)
