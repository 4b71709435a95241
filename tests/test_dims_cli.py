"""Tests for dim upsert / whois classifier / predicate builder, and the CLI."""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

import pytest
from conftest import REPO_ROOT, TESTDATA_SF_SMALL

from security_log_analysis_rust_spark.pipeline.dims import (
    build_event_filters,
    classify_whois_line,
    enrich_new_hosts,
    upsert_host_country,
)
from security_log_analysis_rust_spark.synth import ensure_synthetic


def test_upsert_host_country(spark):
    schema = "host string, code string, ipaddr string, created_at timestamp"
    existing = spark.createDataFrame(
        [("1.1.1.1", "US", None, None), ("2.2.2.2", "CN", None, None)], schema
    )
    updates = spark.createDataFrame(
        [("2.2.2.2", "RU", None, None), ("3.3.3.3", "NL", None, None)], schema
    )
    got = {r.host: r.code for r in upsert_host_country(existing, updates).collect()}
    assert got == {"1.1.1.1": "US", "2.2.2.2": "RU", "3.3.3.3": "NL"}


def test_enrich_new_hosts_cache_through(spark):
    paths = ensure_synthetic(TESTDATA_SF_SMALL)
    pages = spark.read.parquet(paths["pages"])
    hc = spark.read.parquet(paths["host_country"])
    from security_log_analysis_rust_spark.pipeline.parse import extract_events
    from security_log_analysis_rust_spark.pipeline.enrich import dangling_hosts

    events = extract_events(pages)["events"]
    n_missing = dangling_hosts(events, hc).count()
    assert n_missing > 0  # synthetic dims leave ~1/7 dangling on purpose
    hc2 = enrich_new_hosts(events, hc, resolver=lambda h: "ZZ")
    assert hc2.count() == hc.count() + n_missing
    assert dangling_hosts(events, hc2).count() == 0


def test_enrich_new_hosts_scales_without_driver_collect(spark):
    """10k dangling hosts resolve distributed (mapInPandas), never via a
    driver-side list (VERDICT r1 #8)."""
    from pyspark.sql import functions as F

    events = spark.range(10_000).select(
        F.concat(F.lit("10.0."), (F.col("id") / 256).cast("int").cast("string"),
                 F.lit("."), (F.col("id") % 256).cast("string")).alias("host")
    )
    empty_dim = spark.createDataFrame(
        [], "host string, code string, ipaddr string, created_at timestamp"
    )
    out = enrich_new_hosts(events, empty_dim, resolver=lambda h: "ZZ")
    assert out.count() == 10_000
    assert out.filter(out.code == "ZZ").count() == 10_000


def test_classify_whois_line():
    # golden classifier cases (host_country_metadata.rs:148,219-241):
    # caller uppercases, then case-sensitive token/substring matching
    assert classify_whois_line("address is in KOREA somewhere") == "KR"
    assert classify_whois_line("host.example.br") == "BR"  # ends_with .BR
    assert classify_whois_line("brazil host.br.example") is None  # not a suffix
    assert classify_whois_line("Comcast Cable Communications") == "US"
    assert classify_whois_line("netname: HINET-NET") == "TW"
    assert classify_whois_line("ns1.provider.jp") == "JP"  # contains .JP
    assert classify_whois_line("x.jp.example.com") == "JP"  # contains, not suffix
    assert classify_whois_line("country: NL") == "NL"
    assert classify_whois_line("Country:      RUS") == "RUS"  # full token kept
    assert classify_whois_line("the country: NL") is None  # must be 1st token
    assert classify_whois_line("%ERROR 201 query rate exceeded") is None
    assert classify_whois_line("nothing useful") is None


def test_build_event_filters(spark):
    paths = ensure_synthetic(TESTDATA_SF_SMALL)
    from security_log_analysis_rust_spark.pipeline.parse import extract_events

    ev = extract_events(spark.read.parquet(paths["pages"]))["events"].cache()
    assert build_event_filters(ev, service="ssh").count() > 0
    both = build_event_filters(
        ev, service="ssh", min_datetime="2024-03-01", max_datetime="2024-09-01"
    )
    rows = both.select("service", "datetime").collect()
    assert all(r.service == "ssh" for r in rows)
    assert all(
        "2024-03-01" <= r.datetime.strftime("%Y-%m-%d") <= "2024-09-01" for r in rows
    )


def test_import_and_post_keep_the_dedup_winner(spark, tmp_path, capsys):
    """``import --table intrusion_log`` and ``POST /intrusion_log`` hand
    their rows to ``append_dedup``: of two rows with one unique key, both
    keep the ``dedup_intrusions`` winner (the lower username; the lower id
    when the usernames tie), and an imported row without an id gets one."""
    from security_log_analysis_rust_spark.cli import _dispatch
    from security_log_analysis_rust_spark.http_api import SecurityLogApp
    from security_log_analysis_rust_spark.pipeline.route import read_sink
    from security_log_analysis_rust_spark.schemas import INTRUSION_LOG_SCHEMA

    key = {"service": "ssh", "server": "home.ddboline.net", "host": "198.51.100.7"}
    rows = [
        {**key, "datetime": "2024-03-01T10:00:00Z", "username": "zed"},
        {**key, "datetime": "2024-03-01T10:00:00Z", "username": "amy"},
        {**key, "datetime": "2024-03-02T10:00:00Z", "username": "bob", "id": "id-b"},
        {**key, "datetime": "2024-03-02T10:00:00Z", "username": "bob", "id": "id-a"},
    ]
    src = tmp_path / "in"
    src.mkdir()
    (src / "rows.json").write_text("\n".join(json.dumps(r) for r in rows))

    def kept(sink):
        got = read_sink(spark, os.path.join(sink, "intrusion_log"), INTRUSION_LOG_SCHEMA)
        return {r.datetime.day: (r.username, r.id) for r in got.collect()}

    cli_sink = str(tmp_path / "cli")
    assert _dispatch(spark, argparse.Namespace(
        cmd="import", table="intrusion_log", sink=cli_sink, path=str(src))) == 0
    assert json.loads(capsys.readouterr().out.splitlines()[-1])["appended"] == 2
    post_sink = str(tmp_path / "post")
    assert SecurityLogApp(spark, post_sink, str(tmp_path)).intrusion_log_post(rows) == 2

    for sink in (cli_sink, post_sink):
        got = kept(sink)
        assert got[1][0] == "amy" and got[1][1] is not None, sink
        assert got[2] == ("bob", "id-a"), sink


def test_dim_swap_crash_keeps_the_old_dim(spark, tmp_path, monkeypatch):
    """A crash between the dim swap's renames (after the live dim is moved
    aside, before the staged one is moved in) leaves ``read_dim`` returning
    the old dim, a single synthetic file here, and the staging dir gone."""
    from security_log_analysis_rust_spark.pipeline.dims import overwrite_dim, read_dim
    from security_log_analysis_rust_spark.schemas import HOST_COUNTRY_SCHEMA
    from security_log_analysis_rust_spark.synth.dims import write_dims

    dims = str(tmp_path / "dims")
    write_dims(dims)
    path = os.path.join(dims, "host_country.parquet")
    assert os.path.isfile(path)
    before = sorted(tuple(r) for r in read_dim(spark, dims, "host_country").collect())
    new = spark.createDataFrame([("203.0.113.9", "AQ", None, None)], HOST_COUNTRY_SCHEMA)

    staged = path + ".tmp"
    real_rename, real_replace = os.rename, os.replace

    def crash_moving_staged_in(real):
        def move(src, dst, **kw):
            if os.path.normpath(src) == staged:
                raise OSError("injected crash")
            return real(src, dst, **kw)
        return move

    monkeypatch.setattr(os, "rename", crash_moving_staged_in(real_rename))
    monkeypatch.setattr(os, "replace", crash_moving_staged_in(real_replace))
    with pytest.raises(OSError, match="injected crash"):
        overwrite_dim(new, path)
    monkeypatch.undo()

    after = sorted(tuple(r) for r in read_dim(spark, dims, "host_country").collect())
    assert after == before
    assert sorted(os.listdir(dims)) == ["country_code.parquet", "host_country.parquet"]
    overwrite_dim(new, path)
    assert [r.host for r in read_dim(spark, dims, "host_country").collect()] == ["203.0.113.9"]


def test_cli_export_import_host_country(tmp_path):
    """--table host_country roundtrip with upsert-on-import semantics
    (src/parse_opts.rs:232-297, models.rs:110-124)."""
    import glob
    import os
    import shutil

    paths = ensure_synthetic(TESTDATA_SF_SMALL)
    dims = tmp_path / "dims"
    dims.mkdir()
    shutil.copyfile(paths["host_country"], dims / "host_country.parquet")
    env = {**os.environ, "SPARK_GRAFT_SHUFFLE": "8"}

    out_json = str(tmp_path / "hc_export")
    r = subprocess.run(
        [sys.executable, "-m", "security_log_analysis_rust_spark", "--cpus", "4",
         "export", "--table", "host_country", "--sink", str(dims),
         "--path", out_json, "--limit", "1000"],
        capture_output=True, text=True, cwd=REPO_ROOT, env=env, timeout=420,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    exported = json.loads(r.stdout.strip().splitlines()[-1])
    assert exported["table"] == "host_country" and exported["exported"] > 0

    # mutate the export: update one host's code, add one brand-new host
    parts = sorted(glob.glob(f"{out_json}/part-*.json"))
    rows = [json.loads(l) for p in parts for l in open(p) if l.strip()]
    victim = rows[0]["host"]
    rows[0]["code"] = "QQ"
    rows.append({"host": "203.0.113.77", "code": "ZZ",
                 "ipaddr": None, "created_at": None})
    in_json = tmp_path / "hc_import"
    in_json.mkdir()
    with open(in_json / "rows.json", "w") as f:
        f.write("\n".join(json.dumps(x) for x in rows))

    r2 = subprocess.run(
        [sys.executable, "-m", "security_log_analysis_rust_spark", "--cpus", "4",
         "import", "--table", "host_country", "--sink", str(dims),
         "--path", str(in_json)],
        capture_output=True, text=True, cwd=REPO_ROOT, env=env, timeout=420,
    )
    assert r2.returncode == 0, r2.stderr[-2000:]
    imported = json.loads(r2.stdout.strip().splitlines()[-1])
    assert imported == {"appended": 1, "table": "host_country"}

    import duckdb

    got = dict(duckdb.sql(
        f"SELECT host, code FROM read_parquet('{dims}/host_country.parquet/*.parquet')"
    ).fetchall())
    assert got[victim] == "QQ"  # update-on-conflict
    assert got["203.0.113.77"] == "ZZ"  # insert-if-new


def test_cli_parse_and_report(tmp_path):
    """Drive the CLI surface end-to-end in a subprocess (real user entry)."""
    pages = ensure_synthetic(TESTDATA_SF_SMALL)["pages"]
    dims_dir = f"{REPO_ROOT}/data/dims"
    sink = str(tmp_path / "sink")
    env = {"SPARK_GRAFT_SHUFFLE": "8"}
    import os

    env = {**os.environ, **env}
    r = subprocess.run(
        [sys.executable, "-m", "security_log_analysis_rust_spark", "--cpus", "4",
         "parse", "--pages", pages, "--sink", sink],
        capture_output=True, text=True, cwd=REPO_ROOT, env=env, timeout=420,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    out = json.loads(r.stdout.strip().splitlines()[-1])
    assert out["completed"] > 0 and out["rows"]["intrusion_appended"] > 0

    html = str(tmp_path / "report.html")
    r2 = subprocess.run(
        [sys.executable, "-m", "security_log_analysis_rust_spark", "--cpus", "4",
         "report", "--sink", sink, "--dims", dims_dir, "--html", html],
        capture_output=True, text=True, cwd=REPO_ROOT, env=env, timeout=420,
    )
    assert r2.returncode == 0, r2.stderr[-2000:]
    assert "geochart" in open(html).read()
