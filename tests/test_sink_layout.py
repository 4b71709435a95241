"""Month-clustered intrusion-sink layout: every write adds one file per
month it touches, an empty append adds nothing, and ``compact`` folds a
month's many files into one, crash-safely."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from security_log_analysis_rust_spark.pipeline.route import (
    MONTH_COL,
    append_dedup,
    compact_intrusion_log,
    read_sink,
)
from security_log_analysis_rust_spark.schemas import INTRUSION_LOG_SCHEMA

#: 2024-05-01 00:00:00 UTC
_T0 = 1714521600


def _rows(spark, lo: int, hi: int):
    """Intrusion rows ``lo..hi-1``, one per hour from 2024-05-01: 3,000
    rows span five months."""
    return spark.range(lo, hi).select(
        F.expr("uuid()").alias("id"),
        F.lit("ssh").alias("service"),
        F.lit("home.ddboline.net").alias("server"),
        F.timestamp_seconds(F.lit(_T0) + F.col("id") * 3600).alias("datetime"),
        F.concat(F.lit("10.0."), (F.col("id") % 250).cast("string"), F.lit(".1")).alias("host"),
        F.when(F.col("id") % 3 == 0, F.lit(None)).otherwise(F.lit("u")).alias("username"),
    )


def _files_by_month(sink: str) -> dict:
    return {
        os.path.basename(d): set(glob.glob(os.path.join(d, "*.parquet")))
        for d in glob.glob(os.path.join(sink, f"{MONTH_COL}=*"))
    }


def _multiset(spark, sink: str) -> list:
    return sorted(tuple(r) for r in read_sink(spark, sink, INTRUSION_LOG_SCHEMA).collect())


def test_append_adds_at_most_one_file_per_month(spark, tmp_path):
    sink = str(tmp_path / "intrusion_log")
    assert append_dedup(spark, sink, _rows(spark, 0, 2000)) == 2000
    first = _files_by_month(sink)
    assert len(first) >= 2, "rows must span several months"
    assert all(len(f) == 1 for f in first.values()), first

    # overlapping second batch: 1,000 keys already in the sink are dropped
    assert append_dedup(
        spark, sink, _rows(spark, 1000, 3000), since="2024-06-01 00:00:00"
    ) == 1000
    second = _files_by_month(sink)
    for month, files in second.items():
        assert len(files - first.get(month, set())) <= 1, (month, files)
    assert read_sink(spark, sink, INTRUSION_LOG_SCHEMA).count() == 3000


def test_empty_append_adds_no_file_and_no_sink(spark, tmp_path):
    sink = str(tmp_path / "intrusion_log")
    # nothing to append into a missing sink: it stays missing, reads empty
    assert append_dedup(spark, sink, _rows(spark, 0, 0)) == 0
    assert not os.path.exists(sink)
    assert read_sink(spark, sink, INTRUSION_LOG_SCHEMA).count() == 0

    assert append_dedup(spark, sink, _rows(spark, 0, 500)) == 500
    before = _files_by_month(sink)
    # every key already present: 0 appended, no data file added
    assert append_dedup(spark, sink, _rows(spark, 0, 500)) == 0
    assert _files_by_month(sink) == before
    assert read_sink(spark, sink, INTRUSION_LOG_SCHEMA).count() == 500


def _fragmented_sink(spark, sink: str) -> None:
    """The pre-clustering layout: up to 8 files per month per write, and a
    second write on top."""
    for lo, hi in ((0, 1500), (1500, 3000)):
        (
            _rows(spark, lo, hi)
            .withColumn(MONTH_COL, F.date_format("datetime", "yyyy-MM"))
            .repartition(8)
            .write.mode("append")
            .partitionBy(MONTH_COL)
            .parquet(sink)
        )


def test_compact_leaves_one_file_per_month(spark, tmp_path):
    sink = str(tmp_path / "intrusion_log")
    _fragmented_sink(spark, sink)
    before = _files_by_month(sink)
    assert all(len(f) > 1 for f in before.values())
    rows = _multiset(spark, sink)

    assert compact_intrusion_log(spark, sink) == len(before)
    after = _files_by_month(sink)
    assert after.keys() == before.keys()
    assert all(len(f) == 1 for f in after.values()), after
    assert _multiset(spark, sink) == rows
    assert not [p for p in os.listdir(sink) if p.startswith((".tmp.", "_old."))]

    # already compact: nothing is rewritten
    assert compact_intrusion_log(spark, sink) == 0
    assert _files_by_month(sink) == after


def test_compact_crash_between_renames_is_repaired_on_read(spark, tmp_path, monkeypatch):
    """A crash after the live month is renamed aside but before the
    compacted copy is moved in leaves the month missing; the next read
    restores it from the aside and drops the staging copy."""
    sink = str(tmp_path / "intrusion_log")
    _fragmented_sink(spark, sink)
    rows = _multiset(spark, sink)

    real_rename = os.rename
    calls = []

    def crash_on_second_rename(src, dst):
        calls.append(src)
        if len(calls) == 2:
            raise OSError("injected crash")
        real_rename(src, dst)

    monkeypatch.setattr(os, "rename", crash_on_second_rename)
    with pytest.raises(OSError, match="injected crash"):
        compact_intrusion_log(spark, sink)
    monkeypatch.undo()
    assert [p for p in os.listdir(sink) if p.startswith("_old.")], "crash window not hit"

    assert _multiset(spark, sink) == rows  # read_sink runs recover_sink
    assert not [p for p in os.listdir(sink) if p.startswith((".tmp.", "_old."))]
    assert compact_intrusion_log(spark, sink) > 0
    assert _multiset(spark, sink) == rows


def _types(schema) -> list:
    """``(name, type)`` per column: a schema with nullability ignored."""
    return [(f.name, f.dataType) for f in schema.fields]


def test_writers_write_the_declared_schemas(spark, tmp_path):
    """Owned tables are read with the schemas ``schemas.py`` declares, but
    Spark types a parquet column by the file. So each writer must write
    exactly the declared schema: what Spark infers from its output equals
    the declaration, nullability aside."""
    import json
    from datetime import datetime

    from pyspark.sql.types import StringType

    from security_log_analysis_rust_spark.pipeline.checkpoint import run_incremental
    from security_log_analysis_rust_spark.pipeline.dims import merge_host_country
    from security_log_analysis_rust_spark.schemas import (
        COUNTRY_CODE_SCHEMA,
        HOST_COUNTRY_SCHEMA,
        SYSTEMD_LOG_MESSAGES_SCHEMA,
    )
    from security_log_analysis_rust_spark.synth.dims import write_dims

    # both sinks: append_dedup and the per-split systemd write
    ssh = "Jun 12 10:00:00 host sshd[1]: Invalid user bob from 1.2.3.4 port 22"
    journald = json.dumps({"__REALTIME_TIMESTAMP": "1655046591494032",
                           "MESSAGE": "disk error", "UNIT": "a.service"})
    pages = str(tmp_path / "pages")
    spark.createDataFrame(
        [("https://a/log", datetime(2022, 6, 12), f"{ssh}\n{journald}")],
        "url string, warc_ts timestamp, text string",
    ).coalesce(1).write.parquet(pages)
    sink = str(tmp_path / "sink")
    run_incremental(spark, pages, sink, files_per_split=1, filters=())
    intr = spark.read.parquet(os.path.join(sink, "intrusion_log")).schema
    assert _types(intr) == _types(INTRUSION_LOG_SCHEMA) + [(MONTH_COL, StringType())]
    sysd = spark.read.option("recursiveFileLookup", "true").parquet(
        os.path.join(sink, "systemd_log_messages")
    ).schema
    assert _types(sysd) == _types(SYSTEMD_LOG_MESSAGES_SCHEMA)

    # the synthetic dims writer
    dims = str(tmp_path / "dims")
    write_dims(dims)
    for name, declared in (("host_country", HOST_COUNTRY_SCHEMA),
                           ("country_code", COUNTRY_CODE_SCHEMA)):
        got = spark.read.parquet(os.path.join(dims, f"{name}.parquet")).schema
        assert _types(got) == _types(declared), name

    # the dim's one writer
    updates = spark.createDataFrame([("203.0.113.9", "AQ", None, None)],
                                    HOST_COUNTRY_SCHEMA)
    assert merge_host_country(spark, dims, updates) == 1
    hc_path = os.path.join(dims, "host_country.parquet")
    assert _types(spark.read.parquet(hc_path).schema) == _types(HOST_COUNTRY_SCHEMA)
