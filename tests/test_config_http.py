"""Tests for config-from-env and the HTTP read surface + TTL cache."""

from __future__ import annotations

import http.client
import json
import re
import threading

import pytest

from conftest import REPO_ROOT, TESTDATA_SF_SMALL

from security_log_analysis_rust_spark.config import init_config
from security_log_analysis_rust_spark.http_api import (
    SecurityLogApp,
    TimedSizedCache,
    attempts_query_key,
    serve,
)
from security_log_analysis_rust_spark.synth import ensure_synthetic


# --------------------------------------------------------------------------
# config (src/config.rs:79-151)
# --------------------------------------------------------------------------

def test_config_defaults():
    cfg = init_config(env={})
    assert len(cfg.systemd_log_filters) == 4
    assert cfg.systemd_log_filters[0] == "kex_exchange_identification"
    assert cfg.alert_log_level == "error"
    assert cfg.s3_bucket == "security-log-analysis-backup"


def test_config_systemd_log_filters_env():
    """The reference's golden test (config.rs:118-151): a 5-filter list."""
    env = {
        "SYSTEMD_LOG_FILTERS": (
            "kex_exchange_identification,"
            "error: maximum authentication attempts exceeded for invalid user,"
            "Disconnected from invalid user,"
            "Failed password for invalid user,"
            "SSL_read() failed (SSL: error:0A000126:SSL routines::unexpected "
            "eof while reading) while keepalive"
        )
    }
    cfg = init_config(env=env)
    assert len(cfg.systemd_log_filters) == 5
    assert cfg.systemd_log_filters[0] == "kex_exchange_identification"
    assert cfg.systemd_log_filters[1] == (
        "error: maximum authentication attempts exceeded for invalid user"
    )
    assert cfg.systemd_log_filters[2] == "Disconnected from invalid user"
    assert cfg.systemd_log_filters[3] == "Failed password for invalid user"
    assert cfg.systemd_log_filters[4] == (
        "SSL_read() failed (SSL: error:0A000126:SSL routines::unexpected "
        "eof while reading) while keepalive"
    )


def test_config_systemd_log_filters_drop_empty_entries():
    """An empty entry would match, and so drop, every journald line: an
    empty variable means no filters, and stray commas add none."""
    assert init_config(env={"SYSTEMD_LOG_FILTERS": ""}).systemd_log_filters == ()
    cfg = init_config(env={"SYSTEMD_LOG_FILTERS": "a,,b"})
    assert cfg.systemd_log_filters == ("a", "b")


def test_config_env_file_and_override(tmp_path, monkeypatch):
    d = tmp_path / "security_log_analysis_rust_spark"
    d.mkdir()
    (d / "config.env").write_text(
        "ALERT_LOG_LEVEL=warn\nALERT_BUFFER_SIZE=123\nSERVER='cloud.ddboline.net'\n"
    )
    monkeypatch.chdir(tmp_path)  # no ./config.env here
    cfg = init_config(env={}, config_dir=str(tmp_path))
    assert cfg.alert_log_level == "warn"
    assert cfg.alert_buffer_size == 123
    assert cfg.server == "cloud.ddboline.net"
    # real env wins over the file (dotenvy semantics)
    cfg2 = init_config(env={"ALERT_LOG_LEVEL": "info"}, config_dir=str(tmp_path))
    assert cfg2.alert_log_level == "info"


def test_systemd_log_filters_env_reaches_pipeline(spark, tmp_path, monkeypatch):
    """SYSTEMD_LOG_FILTERS from the environment drives the F6 blacklist in
    the incremental pipeline (config.rs -> parse wiring): a filter matching
    every journald line ('__REALTIME_TIMESTAMP') blanks the systemd sink."""
    from security_log_analysis_rust_spark.pipeline.checkpoint import run_incremental

    pages = ensure_synthetic(TESTDATA_SF_SMALL)["pages"]
    base = str(tmp_path / "base")
    r1 = run_incremental(spark, pages, base, files_per_split=8)
    assert r1.rows["systemd"] > 0

    monkeypatch.setenv("SYSTEMD_LOG_FILTERS", "__REALTIME_TIMESTAMP")
    blanked = str(tmp_path / "blanked")
    r2 = run_incremental(spark, pages, blanked, files_per_split=8)
    assert r2.rows["systemd"] == 0


# --------------------------------------------------------------------------
# TTL cache (TimedSizedCache analog)
# --------------------------------------------------------------------------

def test_timed_sized_cache_ttl_and_eviction():
    c = TimedSizedCache(size=2, lifespan=10.0)
    calls = []

    def make(v):
        def f():
            calls.append(v)
            return v
        return f

    assert c.get_or("a", make("A"), now=0.0) == "A"
    assert c.get_or("a", make("A2"), now=5.0) == "A"  # within TTL: cached
    assert c.get_or("a", make("A3"), now=11.0) == "A3"  # expired: recompute
    c.get_or("b", make("B"), now=11.0)
    c.get_or("c", make("C"), now=11.0)  # evicts oldest ('a')
    assert c.get_or("a", make("A4"), now=12.0) == "A4"
    assert calls == ["A", "A3", "B", "C", "A4"]


def test_attempts_query_key_matches_reference_display():
    # AttemptsQuery Display (security_log_http.rs:86-99)
    assert attempts_query_key(None, None, None) == "q:\n"
    assert attempts_query_key("ssh", "home.ddboline.net", 30) == "q:\ns=s\nl=h\nn=30\n"
    assert attempts_query_key("nginx", "cloud.ddboline.net", None) == "q:\ns=n\nl=c\n"


# --------------------------------------------------------------------------
# HTTP server over a real sink
# --------------------------------------------------------------------------

@pytest.fixture(scope="module")
def served_app(spark, tmp_path_factory):
    from security_log_analysis_rust_spark.pipeline.checkpoint import run_incremental
    from security_log_analysis_rust_spark.pipeline.enrich import enrich_events
    from security_log_analysis_rust_spark.pipeline.export import export_monthly
    from security_log_analysis_rust_spark.pipeline.route import read_sink
    from security_log_analysis_rust_spark.schemas import INTRUSION_LOG_SCHEMA
    import os
    import shutil

    paths = ensure_synthetic(TESTDATA_SF_SMALL)
    work = tmp_path_factory.mktemp("http")
    sink = str(work / "sink")
    dims = str(work / "dims")
    export = str(work / "export")
    os.makedirs(dims)
    # private dims copy: the cleanup endpoint rewrites host_country.parquet
    shutil.copyfile(paths["host_country"], f"{dims}/host_country.parquet")
    shutil.copyfile(paths["country_code"], f"{dims}/country_code.parquet")

    run_incremental(spark, paths["pages"], sink, files_per_split=4)
    intr = read_sink(spark, f"{sink}/intrusion_log", INTRUSION_LOG_SCHEMA)
    hc = spark.read.parquet(f"{dims}/host_country.parquet")
    cc = spark.read.parquet(f"{dims}/country_code.parquet")
    export_monthly(
        enrich_events(intr, hc, cc).select(
            "service", "server", "datetime", "host", "username", "code", "country"
        ),
        export,
    )

    app = SecurityLogApp(
        spark, sink, dims, export_dir=export,
        resolver=lambda h: "ZZ", as_of="2024-12-31",
    )
    srv = serve(app, port=0)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield app, srv.server_address[1]
    srv.shutdown()


def _get(port, path):
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    conn.request("GET", path)
    r = conn.getresponse()
    body = r.read().decode()
    conn.close()
    return r.status, body


def test_intrusion_attempts_geochart_and_cache(served_app):
    app, port = served_app
    calls0 = app.compute_calls
    status, body = _get(port, "/security_log/intrusion_attempts?ndays=365000")
    assert status == 200
    assert "[['Country', 'Number']," in body
    # geochart row format: ["CC", n]
    assert re.search(r'\["[^"]+", \d+\]', body)
    assert app.compute_calls == calls0 + 1
    # second hit: served from the TTL cache, no recompute
    status2, body2 = _get(port, "/security_log/intrusion_attempts?ndays=365000")
    assert status2 == 200 and body2 == body
    assert app.compute_calls == calls0 + 1
    # different normalized query = different cache entry
    _get(port, "/security_log/intrusion_attempts?ndays=365001")
    assert app.compute_calls == calls0 + 2


def test_intrusion_attempts_all_reads_export(served_app):
    app, port = served_app
    status, body = _get(port, "/security_log/intrusion_attempts/all")
    assert status == 200
    assert "[['Country', 'Number']," in body
    # unfiltered /all sees every service; the cached default view only ssh
    status2, _ = _get(port, "/security_log/intrusion_attempts/all")
    assert status2 == 200


def test_map_script_served(served_app):
    _, port = served_app
    status, body = _get(port, "/security_log/map_script.js")
    assert status == 200 and "geochart" in body


def test_log_messages_pagination_and_delete(served_app):
    app, port = served_app
    status, body = _get(port, "/security_log/log_messages?log_level=error&limit=5")
    assert status == 200
    out = json.loads(body)
    assert out["pagination"]["limit"] == 5
    assert out["pagination"]["total"] >= len(out["data"]) > 0
    assert all(r["log_level"] == "error" for r in out["data"])

    victim = out["data"][0]["id"]
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    conn.request("DELETE", f"/security_log/log_messages/{victim}")
    r = conn.getresponse()
    assert r.status == 200
    assert f"deleted {victim}, 1 modified" in r.read().decode()
    conn.close()
    _, body2 = _get(port, "/security_log/log_messages?log_level=error&limit=5")
    out2 = json.loads(body2)
    assert out2["pagination"]["total"] == out["pagination"]["total"] - 1
    assert all(r["id"] != victim for r in out2["data"])


def test_intrusion_log_get_and_post(served_app):
    app, port = served_app
    status, body = _get(port, "/security_log/intrusion_log?service=ssh&limit=3")
    assert status == 200
    out = json.loads(body)
    assert out["pagination"]["total"] > 0 and len(out["data"]) == 3
    assert all(r["service"] == "ssh" for r in out["data"])

    # POST: one genuinely new row + one duplicate of an existing row
    existing = out["data"][0]
    new_row = {
        "service": "ssh", "server": "home.ddboline.net",
        "datetime": "2031-01-01T00:00:00Z", "host": "198.51.100.9",
        "username": "mallory",
    }
    payload = json.dumps({"updates": [new_row, {
        k: existing[k] for k in ("service", "server", "datetime", "host", "username")
    }]})
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    conn.request("POST", "/security_log/intrusion_log", body=payload,
                 headers={"Content-Type": "application/json"})
    r = conn.getresponse()
    assert r.status == 200
    assert r.read().decode() == "Inserts 1"  # duplicate suppressed
    conn.close()


def test_host_country_get_and_post(served_app):
    app, port = served_app
    status, body = _get(port, "/security_log/host_country?limit=5&offset=2")
    assert status == 200
    out = json.loads(body)
    assert out["pagination"]["total"] > 0 and len(out["data"]) == 5
    hosts = [r["host"] for r in out["data"]]
    assert hosts == sorted(hosts)

    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    conn.request(
        "POST", "/security_log/host_country",
        body=json.dumps([{"host": "203.0.113.200", "code": "AQ"},
                         {"host": hosts[0], "code": "QQ"}]),
        headers={"Content-Type": "application/json"},
    )
    r = conn.getresponse()
    assert r.status == 200
    assert r.read().decode() == "Inserts 1"  # one new host, one update
    conn.close()
    _, body2 = _get(port, "/security_log/host_country?limit=10000")
    got = {r["host"]: r["code"] for r in json.loads(body2)["data"]}
    assert got["203.0.113.200"] == "AQ"
    assert got[hosts[0]] == "QQ"  # upsert updated the existing host


def test_cleanup_resolves_dangling_hosts(served_app, spark):
    app, port = served_app
    status, body = _get(port, "/security_log/cleanup")
    assert status == 200
    new_rows = json.loads(body)
    assert len(new_rows) > 0  # synthetic dims leave hosts dangling on purpose
    assert all(r["code"] == "ZZ" for r in new_rows)
    # second cleanup: nothing dangling anymore
    status2, body2 = _get(port, "/security_log/cleanup")
    assert status2 == 200 and json.loads(body2) == []


def test_malformed_query_param_returns_http_error(served_app):
    """ADVICE r2: ?ndays=abc must produce an HTTP error response (param
    parsing inside the handler's error path), not a dropped connection."""
    _, port = served_app
    status, body = _get(port, "/security_log/intrusion_attempts?ndays=abc")
    assert status == 500
    assert "error" in body


def test_pages_at_the_edges(served_app, spark):
    """Each paginated route is one action whose total is observed on the
    page query; the total must hold where the page is empty: no match, an
    offset past the end, and ``limit=0`` (whose query never runs)."""
    from pyspark.sql import functions as F

    from security_log_analysis_rust_spark.pipeline.dims import build_event_filters

    app, _ = served_app
    ssh = build_event_filters(app._intrusions(), service="ssh").count()
    errors = app._systemd().filter(F.col("log_level") == "error").count()
    hosts = app._dims()[0].count()
    assert ssh and errors and hosts
    for call, n in [
        (lambda **kw: app.intrusion_log_get(service="ssh", **kw), ssh),
        (lambda **kw: app.log_messages(log_level="error", **kw), errors),
        (app.host_country_get, hosts),
    ]:
        for offset, limit, rows in [(0, 3, 3), (n + 5, 10, 0), (0, 0, 0), (n - 1, 10, 1)]:
            out = call(offset=offset, limit=limit)
            assert out["pagination"] == {"total": n, "offset": offset, "limit": limit}
            assert len(out["data"]) == rows
    empty = {"pagination": {"total": 0, "offset": 0, "limit": 10}, "data": []}
    assert app.intrusion_log_get(service="no-such-service") == empty
    assert app.log_messages(log_unit="no-such.service") == empty


def test_pages_of_a_missing_sink_are_empty(spark, tmp_path):
    """Before the first ingest the intrusion sink does not exist and
    ``read_sink`` answers an empty frame: every page is empty, total 0."""
    app = SecurityLogApp(spark, str(tmp_path / "sink"), str(tmp_path / "dims"))
    for offset, limit in [(0, 10), (20, 10), (0, 0)]:
        assert app.intrusion_log_get(offset=offset, limit=limit) == {
            "pagination": {"total": 0, "offset": offset, "limit": limit},
            "data": [],
        }


@pytest.mark.parametrize("query", ["offset=-1", "limit=-5"])
def test_negative_page_bounds_return_http_error(served_app, query):
    _, port = served_app
    for route in ("intrusion_log", "log_messages", "host_country"):
        status, body = _get(port, f"/security_log/{route}?{query}")
        assert status == 500
        assert "must be >= 0" in body


def test_none_resolver_skips_dangling_hosts(spark, tmp_path_factory):
    """ADVICE r2: without a real whois resolver, /cleanup must not persist
    fabricated country codes — unresolved hosts stay dangling."""
    import shutil

    from security_log_analysis_rust_spark.pipeline.checkpoint import run_incremental
    from security_log_analysis_rust_spark.pipeline.enrich import dangling_hosts
    from security_log_analysis_rust_spark.pipeline.route import read_sink
    from security_log_analysis_rust_spark.schemas import INTRUSION_LOG_SCHEMA

    paths = ensure_synthetic(TESTDATA_SF_SMALL)
    work = tmp_path_factory.mktemp("noresolver")
    sink, dims = str(work / "sink"), str(work / "dims")
    import os

    os.makedirs(dims)
    shutil.copyfile(paths["host_country"], f"{dims}/host_country.parquet")
    shutil.copyfile(paths["country_code"], f"{dims}/country_code.parquet")
    run_incremental(spark, paths["pages"], sink, files_per_split=8)

    intr = read_sink(spark, f"{sink}/intrusion_log", INTRUSION_LOG_SCHEMA)
    hc0 = spark.read.parquet(f"{dims}/host_country.parquet")
    n_dangling = dangling_hosts(intr, hc0).count()
    assert n_dangling > 0  # precondition

    app = SecurityLogApp(spark, sink, dims, resolver=None)
    assert app.cleanup() == []  # nothing resolved, nothing upserted
    hc1 = spark.read.parquet(f"{dims}/host_country.parquet")
    assert hc1.count() == hc0.count()
    assert dangling_hosts(intr, hc1).count() == n_dangling


def test_cleanup_resolves_each_dangling_host_once(spark, tmp_path_factory):
    """/cleanup calls the resolver once per dangling host: the rows it
    returns are the rows it persists, with no second resolver pass for the
    write. The resolver runs in Python workers, so it counts its calls by
    appending to a file."""
    import os
    import shutil

    from security_log_analysis_rust_spark.pipeline.checkpoint import run_incremental
    from security_log_analysis_rust_spark.pipeline.dims import read_dim
    from security_log_analysis_rust_spark.pipeline.enrich import dangling_hosts
    from security_log_analysis_rust_spark.pipeline.route import read_sink
    from security_log_analysis_rust_spark.schemas import INTRUSION_LOG_SCHEMA

    paths = ensure_synthetic(TESTDATA_SF_SMALL)
    work = tmp_path_factory.mktemp("cleanup_once")
    sink, dims = str(work / "sink"), str(work / "dims")
    os.makedirs(dims)
    shutil.copyfile(paths["host_country"], f"{dims}/host_country.parquet")
    shutil.copyfile(paths["country_code"], f"{dims}/country_code.parquet")
    run_incremental(spark, paths["pages"], sink, files_per_split=8)
    intr = read_sink(spark, f"{sink}/intrusion_log", INTRUSION_LOG_SCHEMA)
    dangling = {r.host for r in dangling_hosts(intr, read_dim(spark, dims, "host_country")).collect()}
    assert dangling  # precondition

    calls = str(work / "calls.log")

    def resolver(host):
        with open(calls, "a") as f:
            f.write(host + "\n")
        return "ZZ"

    new_rows = SecurityLogApp(spark, sink, dims, resolver=resolver).cleanup()
    with open(calls) as f:
        called = f.read().split()
    assert sorted(called) == sorted(dangling)  # once each
    assert {r["host"] for r in new_rows} == dangling
    hc = {r.host: r.code for r in read_dim(spark, dims, "host_country").collect()}
    assert all(hc[h] == "ZZ" for h in dangling)


def test_delete_rewrites_only_affected_files(served_app, spark):
    """File-scoped DELETE (VERDICT r3 #1): removing one row rewrites only
    the part-file(s) that contain it; all other sink files keep their
    inode/mtime."""
    import glob as _glob
    import os

    from pyspark.sql import functions as F

    app, _ = served_app
    sink = app._systemd_path()

    def sig():
        out = {}
        for p in _glob.glob(os.path.join(sink, "**", "*.parquet"), recursive=True):
            st = os.stat(p)
            out[os.path.relpath(p, sink)] = (st.st_ino, st.st_mtime_ns, st.st_size)
        return out

    df = app._systemd()
    victim, vfile = (
        df.select("id", F.input_file_name().alias("f")).limit(1).collect()[0]
    )
    vrel = os.path.relpath(vfile.removeprefix("file:"), sink)
    before = sig()
    n_before = df.count()
    assert app.delete_log_message(victim) == 1
    after = sig()
    assert app._systemd().count() == n_before - 1
    assert app._systemd().filter(F.col("id") == victim).count() == 0
    untouched_b = {k: v for k, v in before.items() if k != vrel}
    untouched_a = {k: v for k, v in after.items() if k != vrel}
    assert untouched_b == untouched_a, "unrelated sink files were rewritten"
    assert before[vrel] != after.get(vrel)


def test_delete_handles_spaced_paths_and_sweeps_stale_cow(spark, tmp_path):
    """input_file_name() returns a percent-encoded file: URI; a sink path
    with spaces must still resolve to the on-disk part-file. A temp dir
    stranded by a crash mid-swap is swept at the next delete call."""
    import glob as _glob
    import os

    from pyspark.sql import functions as F

    sink = str(tmp_path / "sink dir with spaces")
    sysd = os.path.join(sink, "systemd_log_messages")
    rows = [(f"id-{i}", f"msg {i}") for i in range(6)]
    spark.createDataFrame(rows, "id string, log_message string").repartition(
        2
    ).write.parquet(sysd)
    app = SecurityLogApp(spark, sink, str(tmp_path / "dims"))
    # stranded temp dir from a hypothetical earlier crash
    part = _glob.glob(os.path.join(sysd, "part-*.parquet"))[0]
    stale = os.path.join(sysd, "." + os.path.basename(part) + ".cow")
    os.makedirs(stale)
    with open(os.path.join(stale, "leftover"), "w") as fh:
        fh.write("x")

    assert app.delete_log_message("id-3") == 1
    remaining = app._systemd()
    assert remaining.count() == 5
    assert remaining.filter(F.col("id") == "id-3").count() == 0
    assert not os.path.exists(stale), "stale .cow dir must be swept"
    assert not _glob.glob(os.path.join(sysd, "**", ".*.cow"), recursive=True)
