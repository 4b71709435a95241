"""Spark-pipeline golden tests over the reference's own fixture files.

The reference fixtures are consumed in place (read-only) — same inputs,
same outputs as ``/root/reference/src/parse_logs.rs:575-650``.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from conftest import REFERENCE_AUTH_LOG, REFERENCE_SYSTEMD_JSON

from security_log_analysis_rust_spark.parsing.exprs import invalid_user_expr
from security_log_analysis_rust_spark.pipeline.parse import level_expr
from security_log_analysis_rust_spark.pipeline.route import dedup_intrusions
from security_log_analysis_rust_spark.schemas import JOURNALD_SCHEMA
from security_log_analysis_rust_spark.sources.logfiles import parse_auth_lines


def _auth_events(spark):
    """parse_log_file semantics (S1/S3 -> P2) through ``parse_auth_lines``,
    with every line's year pinned to 2023."""
    lines = spark.read.text(REFERENCE_AUTH_LOG).select(
        F.col("value").alias("line"), F.lit(2023).alias("year")
    )
    return parse_auth_lines(lines)


@pytest.mark.skipif(not os.path.exists(REFERENCE_AUTH_LOG), reason="fixture absent")
def test_spark_auth_log_20_events(spark):
    assert _auth_events(spark).count() == 20


@pytest.mark.skipif(not os.path.exists(REFERENCE_AUTH_LOG), reason="fixture absent")
def test_spark_auth_log_18_after_dedup(spark):
    ev = _auth_events(spark).select(
        F.lit("ssh").alias("service"),
        F.lit("home.ddboline.net").alias("server"),
        "datetime",
        "host",
        "username",
    )
    # reference pipeline dedup (O5) keyed like the DB unique constraint (O8)
    assert dedup_intrusions(ev).count() == 18


@pytest.mark.skipif(not os.path.exists(REFERENCE_SYSTEMD_JSON), reason="fixture absent")
def test_spark_systemd_24_errors(spark):
    lines = spark.read.text(REFERENCE_SYSTEMD_JSON).withColumnRenamed("value", "line")
    lines = lines.filter(F.length(F.trim("line")) > 0)
    rec = F.from_json("line", JOURNALD_SCHEMA)
    df = lines.select(
        level_expr(F.col("line")).alias("log_level"),
        F.timestamp_micros(
            rec["__REALTIME_TIMESTAMP"].try_cast("long")
        ).alias("log_timestamp"),
    )
    rows = df.collect()
    assert len(rows) == 24
    assert all(r.log_level == "error" for r in rows)
    assert all(r.log_timestamp is not None for r in rows)


@pytest.mark.skipif(not os.path.exists(REFERENCE_SYSTEMD_JSON), reason="fixture absent")
def test_spark_journald_routing_matches_oracle_on_reference_fixture(spark):
    """Full S4 routing (source -> blacklist -> ssh/nginx/systemd split) over
    the reference's own journald fixture, row-compared against the
    pure-Python oracle — the independent anchor on non-synthetic data."""
    from security_log_analysis_rust_spark.parsing.core import parse_journald_line
    from security_log_analysis_rust_spark.sources.logfiles import read_journald_json
    from security_log_analysis_rust_spark.streaming.journald_stream import (
        route_journald,
    )

    lines = read_journald_json(spark, REFERENCE_SYSTEMD_JSON)
    intr, sysd = route_journald(lines)
    got_intr = sorted(
        (r.service, r.host, r.username, r.datetime.replace(tzinfo=None))
        for r in intr.collect()
    )
    got_sysd = sorted(
        (r.log_level, r.log_unit, r.log_message,
         r.log_timestamp.replace(tzinfo=None))
        for r in sysd.collect()
    )

    exp_intr, exp_sysd = [], []
    with open(REFERENCE_SYSTEMD_JSON) as f:
        for raw in f:
            raw = raw.strip()
            if not raw:
                continue
            out = parse_journald_line(raw)
            if out is None:
                continue
            if out["kind"] == "intrusion":
                exp_intr.append(
                    (out["service"], out["host"], out["username"],
                     out["datetime"].replace(tzinfo=None))
                )
            else:
                exp_sysd.append(
                    (out["log_level"], out["log_unit"], out["log_message"],
                     out["log_timestamp"].replace(tzinfo=None))
                )
    assert got_intr == sorted(exp_intr)
    assert got_sysd == sorted(exp_sysd)
    assert len(got_sysd) > 0  # fixture routes into the systemd sink


def test_spark_journald_golden_single(spark):
    line = (
        '{"__REALTIME_TIMESTAMP":"1655046591494032",'
        '"MESSAGE":"Invalid user ark from 43.154.144.211 port 42608"}'
    )
    df = spark.createDataFrame([(line,)], "line string").select(
        invalid_user_expr(F.get_json_object("line", "$.MESSAGE")).alias("ex")
    )
    row = df.collect()[0]
    assert row.ex.host == "43.154.144.211"
    assert row.ex.username == "ark"


def test_udf_all_null_batch(spark):
    """An all-null message column extracts to all-null fields."""
    df = spark.createDataFrame([("noise",), ("more noise",)], "line string")
    out = df.select(
        invalid_user_expr(F.when(F.lit(False), F.col("line"))).alias("ex")
    ).collect()
    assert all(r.ex.host is None and r.ex.username is None for r in out)


def test_extract_events_without_filters_keeps_every_journald_line(spark):
    """filters=() blacklists nothing: a line the default filters drop is
    routed like any other."""
    from datetime import datetime

    from security_log_analysis_rust_spark.pipeline.parse import extract_events

    lines = [
        '{"__REALTIME_TIMESTAMP":"1655046591494032","MESSAGE":"disk error",'
        '"UNIT":"a.service"}',
        '{"__REALTIME_TIMESTAMP":"1655046592494032","MESSAGE":"error: '
        'kex_exchange_identification: read: Connection reset","UNIT":"sshd.service"}',
    ]
    pages = spark.createDataFrame(
        [("https://home.ddboline.net/journal", datetime(2022, 6, 12), "\n".join(lines))],
        "url string, warc_ts timestamp, text string",
    )
    assert extract_events(pages)["systemd"].count() == 1  # default filters
    assert extract_events(pages, filters=())["systemd"].count() == 2


def test_apache_host_truncated_by_bytes_like_core(spark):
    """CLF hosts are cut to 60 BYTES, as ``core.parse_log_line_apache``
    specifies: 30 two-byte characters fill the limit, so ``.com`` is cut
    off and the line drops (it was emitted under a 60-character cut); a cut
    through a multi-byte character drops the line too (core raises). The
    parse agrees with core."""
    from datetime import datetime

    from security_log_analysis_rust_spark.parsing.core import parse_log_line_apache
    from security_log_analysis_rust_spark.pipeline.parse import extract_events

    rest = ' - - [12/Jun/2022:10:00:00 +0000] "GET / HTTP/1.1" 200 512'
    hosts = ["é" * 30 + ".com", "e" * 30 + ".com", "a" + "é" * 30 + ".com",
             "é" * 20 + ".com"]
    lines = [h + rest for h in hosts]

    def core(line):
        try:
            r = parse_log_line_apache(line)
        except ValueError:  # cut inside a character -> pipeline drop
            return None
        return r and r.host

    expected = sorted(h for h in map(core, lines) if h is not None)
    assert expected == sorted(["e" * 30 + ".com", "é" * 20 + ".com"])
    pages = spark.createDataFrame(
        [("https://example.org/access", datetime(2022, 6, 12), "\n".join(lines))],
        "url string, warc_ts timestamp, text string",
    )
    got = sorted(r.host for r in extract_events(pages)["events"].collect())
    assert got == expected
