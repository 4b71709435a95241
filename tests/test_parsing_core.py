"""Golden parity tests for the pure-Python parse core.

Every assertion mirrors a reference unit test in
``/root/reference/src/parse_logs.rs:528-650`` (same inputs => same outputs).
The reference's CI ran in America/New_York; its ssh goldens assert the
UTC hour after local->UTC conversion, so those cases pass tz explicitly.
"""

from __future__ import annotations

import json
import os
from datetime import timezone
from zoneinfo import ZoneInfo

import pytest

from security_log_analysis_rust_spark.parsing.core import (
    journald_datetime,
    line_contains_level,
    parse_journald_line,
    parse_log_line_apache,
    parse_log_line_ssh,
    parse_log_message,
    parse_nginx_message,
    truncate_bytes,
)

from conftest import REFERENCE_AUTH_LOG, REFERENCE_SYSTEMD_JSON

NY = ZoneInfo("America/New_York")


# --- parse_log_line_ssh goldens (parse_logs.rs:528-554) --------------------

def test_ssh_golden_triples():
    line = (
        "Jun 24 00:07:25 dilepton-tower sshd[15932]: Invalid user test from "
        "36.110.50.217 port 28898\n"
    )
    r = parse_log_line_ssh(2019, line, tz=NY)
    assert r.user == "test"
    assert r.host == "36.110.50.217"
    assert r.timestamp.hour == 4

    line = (
        "Apr 19 07:40:45 dilepton-tower sshd[72399]: Invalid user admin1 from "
        "196.189.241.98 port 40113\n"
    )
    r = parse_log_line_ssh(2021, line, tz=NY)
    assert r.user == "admin1"
    assert r.host == "196.189.241.98"
    assert r.timestamp.hour == 11

    line = (
        "May 17 03:10:32 ip-172-31-78-8 sshd[1205097]: Invalid user admin from "
        "106.54.145.68 port 52542"
    )
    r = parse_log_line_ssh(2020, line, tz=NY)
    assert r.user == "admin"
    assert r.host == "106.54.145.68"
    assert r.timestamp.hour == 7


# --- parse_log_line_apache goldens (parse_logs.rs:556-573) ------------------

def test_apache_goldens():
    line = (
        '\n            82.73.86.33 - - [30/Jun/2019:18:02:14 -0400] '
        '"GET /db/db-admin/index.php?lang=en HTTP/1.1" 404 458 "-" "Mozilla/5.0"\n'
    )
    r = parse_log_line_apache(line)
    assert r.user is None
    assert r.host == "82.73.86.33"
    assert r.timestamp.hour == 22

    line = (
        '67.250.95.88 - - [17/May/2020:01:49:57 +0000] '
        '"GET /garmin/fitbit/heartrate_plots HTTP/1.1" 200 7457 "x" "y"'
    )
    r = parse_log_line_apache(line)
    assert r.user is None
    assert r.host == "67.250.95.88"
    assert r.timestamp.hour == 1


# --- golden fixture counts (parse_logs.rs:575-604) --------------------------

@pytest.mark.skipif(not os.path.exists(REFERENCE_AUTH_LOG), reason="fixture absent")
def test_auth_log_20_parsed_events():
    results = []
    with open(REFERENCE_AUTH_LOG) as f:
        for line in f:
            r = parse_log_line_ssh(2023, line, tz=timezone.utc)
            if r is not None:
                results.append(r)
    assert len(results) == 20


@pytest.mark.skipif(not os.path.exists(REFERENCE_AUTH_LOG), reason="fixture absent")
def test_auth_log_18_after_sort_dedup():
    # parse_all_log_files semantics (parse_logs.rs:198-202): sort by datetime,
    # drop *adjacent* rows equal on (datetime, host, username), keep-first.
    results = []
    with open(REFERENCE_AUTH_LOG) as f:
        for line in f:
            r = parse_log_line_ssh(2023, line, tz=timezone.utc)
            if r is not None:
                results.append(r)
    results.sort(key=lambda r: r.timestamp)
    deduped = []
    for r in results:
        if deduped and (
            deduped[-1].timestamp == r.timestamp
            and deduped[-1].host == r.host
            and deduped[-1].user == r.user
        ):
            continue
        deduped.append(r)
    assert len(deduped) == 18


# --- journald goldens (parse_logs.rs:615-650) --------------------------------

def test_journald_ssh_golden():
    line = (
        '{"__REALTIME_TIMESTAMP":"1655046591494032",'
        '"_SOURCE_REALTIME_TIMESTAMP":"1655046591493997",'
        '"__CURSOR":"s=5726468a2162439e9e18a191202b1a7b;i=28e9c",'
        '"__MONOTONIC_TIMESTAMP":"14776358446",'
        '"MESSAGE":"Invalid user ark from 43.154.144.211 port 42608",'
        '"_BOOT_ID":"e8ee305cff53408da12356a3876792ba"}'
    )
    r = parse_journald_line(line)
    assert r["kind"] == "intrusion"
    assert r["service"] == "ssh"
    assert r["host"] == "43.154.144.211"
    assert r["username"] == "ark"
    ts = journald_datetime("1655046591494032")
    assert r["datetime"] == ts
    assert ts.microsecond == 494032


@pytest.mark.skipif(not os.path.exists(REFERENCE_SYSTEMD_JSON), reason="fixture absent")
def test_systemd_fixture_24_errors():
    n = 0
    with open(REFERENCE_SYSTEMD_JSON) as f:
        for line in f:
            line = line.strip()
            if not line:
                continue
            assert line_contains_level(line) == "error"
            rec = json.loads(line)
            journald_datetime(rec["__REALTIME_TIMESTAMP"])
            n += 1
    assert n == 24


# --- byte-level edge cases (parse_logs.rs:58-84) -----------------------------

def test_parse_log_message_edges():
    # username containing spaces: split is on literal "Invalid user " and
    # " from ", NOT whitespace tokens
    assert parse_log_message("x sshd: Invalid user a b c from 1.2.3.4 port 5")[1] == "a b c"
    # empty username
    host, user = parse_log_message("x sshd: Invalid user  from 1.2.3.4 port 5")
    assert user == "" and host == "1.2.3.4"
    # >15-byte username truncates
    host, user = parse_log_message(
        "x: Invalid user abcdefghijklmnopqrstuvwxyz from 1.2.3.4 port 5"
    )
    assert user == "abcdefghijklmno"
    # host split on literal "port" (no spaces) then trim
    host, _ = parse_log_message("x: Invalid user u from 1.2.3.4port 5")
    assert host == "1.2.3.4"
    # multiple " from " -> host is the segment between 1st and 2nd
    host, user = parse_log_message("x: Invalid user u from 1.2.3.4 from 5.6.7.8 port 9")
    assert user == "u" and host == "1.2.3.4"
    # multiple "Invalid user " markers -> user segment between 1st and 2nd
    host, user = parse_log_message(
        "x: Invalid user a from 1.2.3.4 port 7 Invalid user b from 5.6.7.8 port 9"
    )
    assert user == "a" and host == "1.2.3.4"
    # host without '.' -> None
    assert parse_log_message("x: Invalid user u from localhost port 5") is None
    # no "Invalid user " -> None
    assert parse_log_message("Failed password for root from 1.2.3.4") is None
    # "Invalid user" present but no " from " -> error (reference Err path)
    with pytest.raises(ValueError):
        parse_log_message("x: Invalid user abc port 5")


def test_host_truncation_then_dot_check():
    # reference order (parse_logs.rs:78-83): truncate to 60 bytes, then
    # require '.' in the *truncated* host
    long_host = "a" * 70 + ".example.com"
    assert parse_log_message(f"x: Invalid user u from {long_host} port 5") is None
    dotted = "a.b" + "c" * 70
    host, _ = parse_log_message(f"x: Invalid user u from {dotted} port 5")
    assert host == ("a.b" + "c" * 57)
    assert len(host.encode()) == 60


def test_nginx_message_strict_ipv4():
    assert parse_nginx_message("a b 1.2.3.4 rest") == "1.2.3.4"
    assert parse_nginx_message("a b 1.2.3.04 rest") is None  # leading zero
    assert parse_nginx_message("a b 999.2.3.4 rest") is None
    assert parse_nginx_message("a b") is None
    assert parse_nginx_message("a b example.com x") is None


def test_level_classifier_order():
    assert line_contains_level("some error happened") == "error"
    assert line_contains_level("ERRor") == "error"
    assert line_contains_level("a warning") == "warn"
    assert line_contains_level("an info line") == "info"
    assert line_contains_level("debugging") == "debug"
    assert line_contains_level("nothing here") is None
    # 'err' beats 'warn' regardless of position
    assert line_contains_level("warn then err") == "error"
    # min-level gate
    assert line_contains_level("warn", level="error") is None
    assert line_contains_level("err", level="error") == "error"
    # faithful quirk (models.rs:574): `level<1 && contains("debug") ||
    # contains("DEBUG")` — at min-level=info, "DEBUG" still classifies
    assert line_contains_level("DEBUG", level="info") == "debug"
    assert line_contains_level("debug", level="info") is None
    # but the enclosing level<2 gate still excludes it at warn/error
    assert line_contains_level("DEBUG", level="error") is None


def test_truncate_bytes():
    assert truncate_bytes("abc", 15) == "abc"
    assert truncate_bytes("a" * 20, 15) == "a" * 15


def test_hypothesis_exprs_match_core_oracle(spark):
    """Property: the JVM expression (parsing/exprs.py) and the pure-Python
    oracle (parsing/core.py) agree on parse_log_message for arbitrary ASCII
    lines, so the pipeline's extraction can't drift from the spec on any
    marker/edge combination. Hypothesis draws the lines; they are checked
    in one Spark job rather than one job per example."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from pyspark.sql import functions as F

    from security_log_analysis_rust_spark.parsing.core import parse_log_message
    from security_log_analysis_rust_spark.parsing.exprs import invalid_user_expr

    piece = st.text(
        alphabet=st.characters(min_codepoint=32, max_codepoint=126), max_size=24
    )
    marker = st.sampled_from(
        ["Invalid user ", " from ", "port", ".", "sshd", "Invalid user "]
    )
    line = st.lists(st.one_of(piece, marker), max_size=10).map("".join)

    def oracle(s):
        try:
            r = parse_log_message(s)
        except ValueError:  # reference Err path -> pipeline drop
            return (None, None)
        return r if r is not None else (None, None)

    drawn = []

    @settings(max_examples=300, deadline=None, database=None)
    @given(st.lists(line, min_size=1, max_size=32))
    def draw(lines):
        drawn.extend(lines)

    draw()
    df = spark.createDataFrame(list(enumerate(drawn)), "i long, msg string")
    rows = df.select("i", invalid_user_expr(F.col("msg")).alias("ex")).collect()
    got = {r.i: (r.ex.host, r.ex.username) for r in rows}
    bad = [
        (s, got[i], oracle(s)) for i, s in enumerate(drawn) if got[i] != oracle(s)
    ]
    assert not bad, bad[:5]


def test_jvm_expr_matches_core(spark):
    """Differential: the pure-JVM expression (parsing/exprs.py, the parse
    path) and the pure-Python core oracle agree on parse_log_message over
    every edge shape, byte truncation of non-ASCII fields included."""
    from pyspark.sql import functions as F

    from security_log_analysis_rust_spark.parsing.core import parse_log_message
    from security_log_analysis_rust_spark.parsing.exprs import invalid_user_expr

    cases = [
        "Invalid user admin from 1.2.3.4 port 22",
        "Invalid user  from 1.2.3.4 port 22",                  # empty user
        "Invalid user a b c from 9.9.9.9 port 1",              # spaces in user
        "Invalid user x from hostnodot port 2",                # dot-less host
        "Invalid user x from 1.2.3.4port5",                    # port glued
        "Invalid user x from 1.2.3.4",                         # no port
        "no marker at all",
        "Invalid user trailing",                               # no ' from '
        "Invalid user a Invalid user b from 1.1.1.1 port 3",   # marker twice
        "Invalid user " + "u" * 40 + " from " + "1." * 40 + "2 port 9",  # truncation
        "Invalid user x from  1.2.3.4  port 22",               # extra spaces
        "",
        "Invalid user " + "é" * 7 + " from 1.2.3.4 port 1",    # 14-byte user
        "Invalid user " + "é" * 8 + " from 1.2.3.4 port 1",    # cut inside é
        "Invalid user x from " + "é" * 30 + ".com port 1",     # '.' cut off
        "Invalid user x from a" + "é" * 30 + ".com port 1",    # cut inside é
    ]

    def core(s):
        try:
            r = parse_log_message(s)
        except ValueError:  # Err path or a cut inside a character -> drop
            return (None, None)
        return r if r is not None else (None, None)

    expected = [core(s) for s in cases]
    df = spark.createDataFrame([(i, s) for i, s in enumerate(cases)], "i long, msg string")
    rows = df.select("i", invalid_user_expr(F.col("msg")).alias("ex")).orderBy("i").collect()
    got_jvm = [(r.ex.host, r.ex.username) for r in rows]
    assert got_jvm == expected
