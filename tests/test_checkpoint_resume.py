"""Kill/resume correctness: a killed run resumes without recomputing
completed splits and produces sinks identical to an uninterrupted run
(BASELINE.md 'Resume')."""

from __future__ import annotations

import pytest

from conftest import TESTDATA_SF_SMALL

from security_log_analysis_rust_spark.pipeline.checkpoint import (
    metrics,
    read_sinks,
    run_incremental,
)
from security_log_analysis_rust_spark.synth import ensure_synthetic


@pytest.fixture(scope="module")
def pages_dir():
    return ensure_synthetic(TESTDATA_SF_SMALL)["pages"]


def _sink_signature(spark, sink_dir):
    intr, sysd = read_sinks(spark, sink_dir)
    intr_rows = sorted(
        (r.service, r.server, r.datetime, r.host, r.username)
        for r in intr.collect()
    )
    sysd_rows = sorted(
        (r.log_level, r.log_unit, r.log_message, r.log_timestamp)
        for r in sysd.collect()
    )
    return intr_rows, sysd_rows


def test_kill_and_resume_matches_clean_run(spark, tmp_path_factory, pages_dir):
    clean = str(tmp_path_factory.mktemp("clean"))
    killed = str(tmp_path_factory.mktemp("killed"))

    r = run_incremental(spark, pages_dir, clean, files_per_split=2)
    assert r.splits_completed == r.splits_total > 1

    # killed run: crash after 2 splits
    with pytest.raises(RuntimeError, match="injected failure"):
        run_incremental(spark, pages_dir, killed, files_per_split=2, fail_after_splits=2)
    m = metrics(killed)
    assert m["splits"] == 2

    # resume: completed splits are skipped, the rest run
    r2 = run_incremental(spark, pages_dir, killed, files_per_split=2)
    assert r2.splits_skipped == 2
    assert r2.splits_completed == r2.splits_total - 2

    assert _sink_signature(spark, killed) == _sink_signature(spark, clean)


def test_rerun_is_noop(spark, tmp_path_factory, pages_dir):
    sink = str(tmp_path_factory.mktemp("noop"))
    run_incremental(spark, pages_dir, sink, files_per_split=3)
    before = _sink_signature(spark, sink)
    r = run_incremental(spark, pages_dir, sink, files_per_split=3)
    assert r.splits_completed == 0 and r.splits_skipped == r.splits_total
    assert _sink_signature(spark, sink) == before


def test_resume_with_different_layout_refuses(spark, tmp_path_factory, pages_dir):
    """Changing files_per_split across a resume would give the per-split
    systemd overwrite dirs overlapping line ranges; the manifests record the
    layout and a mismatched resume is refused (ADVICE r1)."""
    sink = str(tmp_path_factory.mktemp("layout"))
    run_incremental(spark, pages_dir, sink, files_per_split=2)
    with pytest.raises(ValueError, match="files_per_split"):
        run_incremental(spark, pages_dir, sink, files_per_split=3)
    # same layout still resumes fine
    r = run_incremental(spark, pages_dir, sink, files_per_split=2)
    assert r.splits_completed == 0 and r.splits_skipped == r.splits_total


def test_watermark_rerun_appends_nothing_then_newer_rows(
    spark, tmp_path_factory, pages_dir
):
    """F5 high-watermark semantics: with watermark=True a re-run of the same
    input appends nothing (everything <= sink max per service/server), and a
    strictly newer event still lands."""
    import json as _json
    import os

    from pyspark.sql import functions as F

    sink = str(tmp_path_factory.mktemp("wm"))
    run_incremental(spark, pages_dir, sink, files_per_split=8)
    intr_path = os.path.join(sink, "intrusion_log")
    n0 = spark.read.parquet(intr_path).count()

    # wipe manifests so the same splits re-run, exercising the watermark
    import glob

    for p in glob.glob(os.path.join(sink, "_manifests", "*.json")):
        os.remove(p)
    r = run_incremental(spark, pages_dir, sink, files_per_split=8, watermark=True)
    assert r.rows["intrusion_appended"] == 0
    assert spark.read.parquet(intr_path).count() == n0

    # a synthetic strictly-newer journald event does land
    newer = tmp_path_factory.mktemp("wm_new")
    line = _json.dumps({
        "__REALTIME_TIMESTAMP": "2524608000000000",  # 2050-01-01
        "MESSAGE": "Invalid user zed from 203.0.113.50 port 2222",
        "UNIT": "ssh.service",
    })
    spark.createDataFrame(
        [("file:///wm_new", 0)], "url string, line_no long"
    ).select(
        F.col("url"), F.current_timestamp().alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        F.lit(line).alias("text"), F.lit("en").alias("lang"),
    ).select("url", "warc_ts", "html", "text", "lang").write.parquet(
        str(newer / "pages")
    )
    r2 = run_incremental(spark, str(newer / "pages"), sink,
                         files_per_split=8, watermark=True)
    assert r2.rows["intrusion_appended"] == 1


def test_cleanup_intrusion_log_removes_duplicates(
    spark, tmp_path_factory, pages_dir
):
    """cleanup_intrusion_log (host_country_metadata.rs:179-214): duplicate
    unique-key rows are deleted in place, keeping one per key."""
    import os

    from pyspark.sql import functions as F

    from security_log_analysis_rust_spark.pipeline.route import (
        UNIQUE_KEY,
        cleanup_intrusion_log,
    )

    sink = str(tmp_path_factory.mktemp("cleanup"))
    run_incremental(spark, pages_dir, sink, files_per_split=4)
    intr_path = os.path.join(sink, "intrusion_log")
    clean = spark.read.parquet(intr_path)
    n = clean.count()
    # inject duplicates behind the anti-join's back (fresh ids, same keys)
    dupes = clean.limit(25).withColumn("id", F.expr("uuid()"))
    dupes.write.mode("append").partitionBy("dt_month").parquet(intr_path)
    assert spark.read.parquet(intr_path).count() == n + 25

    removed = cleanup_intrusion_log(spark, intr_path)
    assert removed == 25
    after = spark.read.parquet(intr_path)
    assert after.count() == n
    assert after.select(*UNIQUE_KEY).distinct().count() == n


def test_crash_between_write_and_manifest_is_idempotent(
    spark, tmp_path_factory, pages_dir
):
    """Simulate the torn state: sink written but manifest missing."""
    import glob
    import os

    sink = str(tmp_path_factory.mktemp("torn"))
    run_incremental(spark, pages_dir, sink, files_per_split=2)
    clean_sig = _sink_signature(spark, sink)
    # tear off the last manifest => its split re-runs on resume
    manifests = sorted(glob.glob(os.path.join(sink, "_manifests", "*.json")))
    os.remove(manifests[-1])
    r = run_incremental(spark, pages_dir, sink, files_per_split=2)
    assert r.splits_completed == 1
    assert _sink_signature(spark, sink) == clean_sig


def test_watermarks_folded_from_manifests_not_sink(
    spark, tmp_path_factory, pages_dir, monkeypatch
):
    """VERDICT r2 #4: the per-split watermark state comes from folding the
    committed manifests, not from re-aggregating the (100 TB) sink. The
    fold equals the sink aggregate exactly, and a watermark run over a
    manifest-complete sink never touches the sink-aggregate fallback."""
    import os

    from pyspark.sql import functions as F

    from security_log_analysis_rust_spark.pipeline import checkpoint as cp

    sink = str(tmp_path_factory.mktemp("wmfold"))
    run_incremental(spark, pages_dir, sink, files_per_split=4)

    manifest_dir = os.path.join(sink, "_manifests")
    folded = cp.fold_watermarks(cp._read_manifests(manifest_dir))
    agg = cp._sink_watermarks(spark, os.path.join(sink, "intrusion_log"))
    assert folded == agg  # manifests carry the exact sink high watermark

    def boom(*a, **k):  # the fallback must not run when manifests cover
        raise AssertionError("sink watermark aggregate called despite manifests")

    monkeypatch.setattr(cp, "_sink_watermarks", boom)
    r = run_incremental(spark, pages_dir, sink, files_per_split=4, watermark=True)
    assert r.splits_skipped == r.splits_total  # same input: all skipped

    # new strictly-newer input: processed with the folded watermark only
    import json as _json

    newer = tmp_path_factory.mktemp("wmfold_new")
    line = _json.dumps({
        "__REALTIME_TIMESTAMP": "2524608000000000",
        "MESSAGE": "Invalid user fold from 203.0.113.77 port 2222",
        "UNIT": "ssh.service",
    })
    spark.createDataFrame(
        [("file:///wmfold_new", 0)], "url string, line_no long"
    ).select(
        F.col("url"), F.current_timestamp().alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        F.lit(line).alias("text"), F.lit("en").alias("lang"),
    ).write.parquet(str(newer / "pages"))
    r2 = run_incremental(spark, str(newer / "pages"), sink,
                         files_per_split=4, watermark=True)
    assert r2.rows["intrusion_appended"] == 1


def test_append_to_legacy_unpartitioned_sink_migrates(spark, tmp_path_factory):
    """ADVICE r2: a sink written before month-partitioning (flat part-files
    at the root) is migrated once — atomically — instead of being bricked by
    a mixed append ('Conflicting directory structures')."""
    import glob
    import os

    from pyspark.sql import functions as F

    from security_log_analysis_rust_spark.pipeline.route import (
        MONTH_COL,
        append_dedup,
    )

    sink = str(tmp_path_factory.mktemp("legacy") / "intrusion_log")
    legacy = spark.createDataFrame(
        [("a", "ssh", "home.ddboline.net", "2024-06-01 10:00:00", "1.2.3.4", "u1"),
         ("b", "ssh", "home.ddboline.net", "2024-07-02 11:00:00", "5.6.7.8", None)],
        "id string, service string, server string, datetime string, "
        "host string, username string",
    ).withColumn("datetime", F.col("datetime").cast("timestamp"))
    legacy.write.parquet(sink)  # flat, unpartitioned (the pre-r2 layout)
    assert glob.glob(os.path.join(sink, "*.parquet"))

    new = spark.createDataFrame(
        [("c", "ssh", "home.ddboline.net", "2024-07-03 12:00:00", "9.9.9.9", None),
         # duplicate key of an existing legacy row: must be dropped
         ("d", "ssh", "home.ddboline.net", "2024-06-01 10:00:00", "1.2.3.4", "u1")],
        "id string, service string, server string, datetime string, "
        "host string, username string",
    ).withColumn("datetime", F.col("datetime").cast("timestamp"))
    n = append_dedup(spark, sink, new)
    assert n == 1

    # fully partitioned now: no flat files, months as directories, readable
    assert not glob.glob(os.path.join(sink, "*.parquet"))
    months = {os.path.basename(p) for p in glob.glob(os.path.join(sink, f"{MONTH_COL}=*"))}
    assert months == {f"{MONTH_COL}=2024-06", f"{MONTH_COL}=2024-07"}
    back = spark.read.parquet(sink)
    assert back.count() == 3
    assert back.filter(F.col("host") == "9.9.9.9").count() == 1


def _part_file_sig(sink_dir):
    """(inode, mtime_ns, size) per data file, keyed by relative path."""
    import glob
    import os

    sig = {}
    for p in glob.glob(os.path.join(sink_dir, "**", "*.parquet"), recursive=True):
        st = os.stat(p)
        sig[os.path.relpath(p, sink_dir)] = (st.st_ino, st.st_mtime_ns, st.st_size)
    return sig


def test_cleanup_rewrites_only_affected_months(spark, tmp_path_factory, pages_dir):
    """Partition-scoped maintenance: cleanup must rewrite ONLY the dt_month
    directories that contain duplicate keys; every other month keeps its
    original part-files (same inode + mtime). VERDICT r3 'Next round' #1."""
    import os

    from pyspark.sql import functions as F

    from security_log_analysis_rust_spark.pipeline.route import (
        MONTH_COL,
        UNIQUE_KEY,
        cleanup_intrusion_log,
    )

    sink = str(tmp_path_factory.mktemp("scoped"))
    run_incremental(spark, pages_dir, sink, files_per_split=4)
    intr_path = os.path.join(sink, "intrusion_log")
    clean = spark.read.parquet(intr_path)
    n = clean.count()
    months = sorted(r[MONTH_COL] for r in clean.select(MONTH_COL).distinct().collect())
    assert len(months) >= 2, "fixture must span several months"
    dirty = months[0]

    # no duplicates yet: cleanup is a no-op that touches NOTHING
    sig0 = _part_file_sig(intr_path)
    assert cleanup_intrusion_log(spark, intr_path) == 0
    assert _part_file_sig(intr_path) == sig0

    # inject duplicates into exactly one month
    dupes = (
        clean.filter(F.col(MONTH_COL) == dirty).limit(10)
        .withColumn("id", F.expr("uuid()"))
    )
    dupes.write.mode("append").partitionBy(MONTH_COL).parquet(intr_path)
    sig1 = _part_file_sig(intr_path)

    removed = cleanup_intrusion_log(spark, intr_path)
    assert removed == 10
    after = spark.read.parquet(intr_path)
    assert after.count() == n
    assert after.select(*UNIQUE_KEY).distinct().count() == n

    sig2 = _part_file_sig(intr_path)
    prefix = f"{MONTH_COL}={dirty}{os.sep}"
    untouched1 = {k: v for k, v in sig1.items() if not k.startswith(prefix)}
    untouched2 = {k: v for k, v in sig2.items() if not k.startswith(prefix)}
    assert untouched1 == untouched2, "clean months were rewritten"
    dirty2 = {k for k in sig2 if k.startswith(prefix)}
    assert dirty2 and dirty2.isdisjoint({k for k in sig1 if k.startswith(prefix)})


def test_recover_sink_crash_states(spark, tmp_path_factory, pages_dir):
    """ADVICE r3: a crash mid-swap must never strand the sink. recover_sink
    restores the rename-aside copy, discards stale tmps, and refuses to
    silently start fresh over a legacy stranded .tmp."""
    import os
    import shutil

    from security_log_analysis_rust_spark.pipeline.route import (
        MONTH_COL,
        recover_sink,
    )

    sink = str(tmp_path_factory.mktemp("recover"))
    run_incremental(spark, pages_dir, sink, files_per_split=4)
    intr_path = os.path.join(sink, "intrusion_log")
    n = spark.read.parquet(intr_path).count()

    # (a) crash after rename-aside, before tmp moved in: sink gone, aside full
    aside = os.path.join(sink, "_old.intrusion_log")
    os.rename(intr_path, aside)
    recover_sink(intr_path)
    assert os.path.isdir(intr_path) and not os.path.exists(aside)
    assert spark.read.parquet(intr_path).count() == n

    # (b) stale whole-sink tmp next to a live sink: discarded
    os.makedirs(intr_path + ".tmp")
    recover_sink(intr_path)
    assert not os.path.exists(intr_path + ".tmp")

    # (c) month-dir aside with live month dir missing: restored
    months = sorted(
        d for d in os.listdir(intr_path) if d.startswith(f"{MONTH_COL}=")
    )
    live = os.path.join(intr_path, months[0])
    os.rename(live, os.path.join(intr_path, "_old." + months[0]))
    recover_sink(intr_path)
    assert os.path.isdir(live)
    assert spark.read.parquet(intr_path).count() == n

    # (d) legacy stranded .tmp with NO live sink: loud failure, not fresh start
    os.rename(intr_path, intr_path + ".tmp")
    with pytest.raises(RuntimeError, match="refusing"):
        recover_sink(intr_path)
    os.rename(intr_path + ".tmp", intr_path)


def test_read_sink_self_heals_after_crash(spark, tmp_path_factory, pages_dir):
    """ADVICE r4: a PURE READ after a crash mid-swap must see the data —
    read_sink runs recover_sink itself instead of waiting for a write-path
    entry point to repair the sink."""
    import os

    from security_log_analysis_rust_spark.pipeline.route import read_sink
    from security_log_analysis_rust_spark.schemas import INTRUSION_LOG_SCHEMA

    sink = str(tmp_path_factory.mktemp("readheal"))
    run_incremental(spark, pages_dir, sink, files_per_split=4)
    intr_path = os.path.join(sink, "intrusion_log")
    n = spark.read.parquet(intr_path).count()
    # crash window: live dir renamed aside, replacement never moved in
    os.rename(intr_path, os.path.join(sink, "_old.intrusion_log"))
    got = read_sink(spark, intr_path, INTRUSION_LOG_SCHEMA)
    assert got.count() == n
    assert os.path.isdir(intr_path)


def test_manifest_systemd_rows_counted_on_the_write(spark, tmp_path_factory):
    """Each manifest's ``rows.systemd`` is the row count its split wrote,
    observed on the write itself — 0 for a split holding no systemd line."""
    import glob
    import json
    import os
    from datetime import datetime

    root = tmp_path_factory.mktemp("sysd_count")
    pages = str(root / "pages")
    ssh = "Jun 12 10:00:00 host sshd[1]: Invalid user bob from 1.2.3.4 port 22"
    journald = "\n".join(
        json.dumps({
            "__REALTIME_TIMESTAMP": str(1655046591494032 + i),
            "MESSAGE": f"disk error {i}",
            "UNIT": "a.service",
        })
        for i in range(3)
    )
    for url, text in [("https://a/auth", ssh), ("https://b/journal", journald)]:
        spark.createDataFrame(
            [(url, datetime(2022, 6, 12), text)],
            "url string, warc_ts timestamp, text string",
        ).coalesce(1).write.mode("append").parquet(pages)

    sink = str(root / "sink")
    r = run_incremental(spark, pages, sink, files_per_split=1, filters=())
    assert r.splits_completed == 2
    counts = []
    for p in glob.glob(os.path.join(sink, "_manifests", "*.json")):
        with open(p) as f:
            m = json.load(f)
        split_dir = os.path.join(
            sink, "systemd_log_messages", f"split={m['split_id']}"
        )
        counts.append((m["rows"]["systemd"], spark.read.parquet(split_dir).count()))
    assert sorted(counts) == [(0, 0), (3, 3)]
    assert r.rows["systemd"] == 3 and r.rows["intrusion_appended"] == 1
