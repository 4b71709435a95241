"""HTTP read surface — ``src/security_log_http.rs`` re-expressed over the
Spark engine, served with the stdlib ``http.server`` (the engine is the
product; the HTTP layer is a thin adapter, exactly as warp is in the
reference).

Routes (reference ``get_path``, security_log_http.rs:589-605):

* ``GET /security_log/intrusion_attempts[?service&location&ndays]`` — per-
  country counts from the live sink, rendered as the geochart page; result
  body cached in a 100-entry/3600 s TTL cache keyed by the normalized query
  (``AttemptsQuery``'s Display, ``:86-99``). Defaults ssh/home/30
  (``:102-122``).
* ``GET /security_log/intrusion_attempts/all[?...]`` — same body computed
  from the monthly parquet export (``read_parquet_files``), separate cache;
  no defaults — absent params mean unfiltered (``:163-186``).
* ``GET /security_log/map_script.js`` — the static geochart script.
* ``GET /security_log/log_messages[?log_level&log_unit&min_date&max_date&
  offset&limit]`` — paginated systemd messages (``:520-565``).
* ``DELETE /security_log/log_messages/{id}`` (``:567-586``).
* ``GET /security_log/cleanup`` — resolve dangling hosts through the
  configured resolver, once each, and upsert the dim
  (``host_country_cleanup``, ``:440-461``).
* ``POST /security_log/intrusion_log`` and ``POST /security_log/host_country``
  (``:313-328``, ``:410-428``).

The mutating routes and the CLI's ``import`` hand their rows to each
table's one writer: ``route.append_dedup`` or ``dims.merge_host_country``.

Fixed Spark job costs, not data, set these requests' latency, so each read
runs as few jobs as it can:

* the sinks and dims are read with their declared schemas
  (``route.read_sink``, ``route.read_systemd_sink``, ``dims.read_dims``), so
  no read starts Spark's parquet schema-inference job;
* a paginated request (intrusion rows, log messages, host countries) is one
  action: its total is an ``Observation`` on the filtered rows under the
  page query (``aggregate.observed_page``), not a second ``count()``. A
  negative ``offset`` or ``limit`` is an error before any job runs.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
from collections import OrderedDict
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Callable, Optional
from urllib.parse import parse_qs, urlparse

from pyspark.sql import functions as F

_SERVICE_ABBR = {"ssh": "s", "apache": "a", "nginx": "n"}
_HOST_ABBR = {"home.ddboline.net": "h", "cloud.ddboline.net": "c"}
_HOST_ALIAS = {"home": "home.ddboline.net", "cloud": "cloud.ddboline.net"}


class TimedSizedCache:
    """The ``cached::TimedSizedCache`` analog: at most ``size`` entries, each
    valid for ``lifespan`` seconds, oldest-inserted evicted first."""

    def __init__(self, size: int = 100, lifespan: float = 3600.0):
        self.size = size
        self.lifespan = lifespan
        self._d: OrderedDict = OrderedDict()
        self.hits = 0
        self.misses = 0

    def get_or(self, key: str, compute: Callable[[], str], now: Optional[float] = None):
        t = time.monotonic() if now is None else now
        entry = self._d.get(key)
        if entry is not None and entry[0] > t:
            self.hits += 1
            return entry[1]
        self.misses += 1
        value = compute()
        self._d[key] = (t + self.lifespan, value)
        self._d.move_to_end(key)
        while len(self._d) > self.size:
            self._d.popitem(last=False)
        return value


def attempts_query_key(
    service: Optional[str], location: Optional[str], ndays: Optional[int]
) -> str:
    """``AttemptsQuery``'s Display (security_log_http.rs:86-99) — the cache
    key normalization."""
    parts = ["q:"]
    if service is not None:
        parts.append(f"s={_SERVICE_ABBR.get(service, service)}")
    if location is not None:
        parts.append(f"l={_HOST_ABBR.get(location, location)}")
    if ndays is not None:
        parts.append(f"n={ndays}")
    return "\n".join(parts) + "\n"


def geochart_body(country_counts) -> str:
    """``[['Country', 'Number'],["CC", n],...]`` — byte format of
    security_log_http.rs:116-121."""
    results = ",".join(
        f'["{r["country"]}", {int(r["count"])}]' for r in country_counts
    )
    return f"[['Country', 'Number'],{results}]"


_INDEX_HTML = """<!DOCTYPE html>
<html><head><meta charset="utf-8"><title>Intrusion Attempts</title>
<script src="https://www.gstatic.com/charts/loader.js"></script>
<script src="/security_log/map_script.js"></script></head>
<body><div id="regions_div" style="width:900px;height:500px"
 data-counts="__DATA__"></div>
<script>drawRegionsMap(__DATA__);</script></body></html>
"""

MAP_SCRIPT_JS = """google.charts.load('current', {'packages': ['geochart']});
function drawRegionsMap(rows) {
  var data = google.visualization.arrayToDataTable(rows);
  var chart = new google.visualization.GeoChart(
      document.getElementById('regions_div'));
  chart.draw(data, {});
}
"""


class SecurityLogApp:
    """The engine-facing application state (``AppState`` analog)."""

    def __init__(
        self,
        spark,
        sink_dir: str,
        dims_dir: str,
        export_dir: Optional[str] = None,
        resolver: Optional[Callable[[str], Optional[str]]] = None,
        as_of: Optional[str] = None,
    ):
        self.spark = spark
        self.sink_dir = sink_dir
        self.dims_dir = dims_dir
        self.export_dir = export_dir
        self.resolver = resolver
        #: deterministic 'now' anchor for ndays filters (None = wall clock)
        self.as_of = as_of
        self.cache = TimedSizedCache(100, 3600.0)
        self.cache_all = TimedSizedCache(100, 3600.0)
        self.compute_calls = 0
        # Mutating endpoints rewrite live sink/dim directories with a
        # rename-aside swap; a concurrent read mid-swap would see vanished
        # parquet files and two writers would clobber each other's .tmp.
        # The stdlib layer is a thin adapter, so requests are serialized
        # wholesale (single-flight) rather than building a reader/writer
        # protocol the table format would own at scale.
        import threading

        self.lock = threading.RLock()

    # -- data access ---------------------------------------------------------

    def _intrusions(self, since: Optional[str] = None):
        from .pipeline.route import read_sink
        from .schemas import INTRUSION_LOG_SCHEMA

        return read_sink(
            self.spark,
            os.path.join(self.sink_dir, "intrusion_log"),
            INTRUSION_LOG_SCHEMA,
            since=since,
        )

    def _dims(self):
        from .pipeline.dims import read_dims

        return read_dims(self.spark, self.dims_dir)

    def _systemd_path(self) -> str:
        return os.path.join(self.sink_dir, "systemd_log_messages")

    def _systemd(self):
        from .pipeline.route import read_systemd_sink

        return read_systemd_sink(self.spark, self._systemd_path())

    def country_count(
        self,
        service: Optional[str],
        location: Optional[str],
        ndays: Optional[int],
        defaults: bool = True,
    ):
        """get_country_count_recent (reports.rs:8-35): per-country counts."""
        self.compute_calls += 1
        df = self.country_count_df(service, location, ndays, defaults)
        return [r.asDict() for r in df.collect()]

    def country_count_df(
        self,
        service: Optional[str],
        location: Optional[str],
        ndays: Optional[int],
        defaults: bool = True,
    ):
        """The DataFrame :meth:`country_count` collects. With ``ndays`` the
        sink read is month-pruned to :func:`ndays_since`'s bound."""
        from .pipeline.aggregate import ndays_since, per_country_counts
        from .pipeline.enrich import enrich_events

        if defaults:  # security_log_http.rs:113-115
            service = service or "ssh"
            location = location or "home.ddboline.net"
            ndays = 30 if ndays is None else ndays
        hc, cc = self._dims()
        return per_country_counts(
            enrich_events(
                self._intrusions(ndays_since(ndays, self.as_of)), hc, cc, how="inner"
            ),
            service=service,
            server=location,
            ndays=ndays,
            as_of=self.as_of,
        )

    def country_count_all(
        self,
        service: Optional[str],
        location: Optional[str],
        ndays: Optional[int],
    ):
        """read_parquet_files analog: aggregate the monthly export; absent
        params mean unfiltered."""
        from .pipeline.aggregate import per_country_counts

        self.compute_calls += 1
        df = self.spark.read.parquet(self.export_dir)
        df = df.filter(F.col("country").isNotNull())
        return [
            r.asDict()
            for r in per_country_counts(
                df, service=service, server=location, ndays=ndays,
                as_of=self.as_of,
            ).collect()
        ]

    def attempts_body(self, service, location, ndays) -> str:
        key = attempts_query_key(service, location, ndays)
        return self.cache.get_or(
            key, lambda: geochart_body(self.country_count(service, location, ndays))
        )

    def attempts_body_all(self, service, location, ndays) -> str:
        key = attempts_query_key(service, location, ndays)
        return self.cache_all.get_or(
            key,
            lambda: geochart_body(self.country_count_all(service, location, ndays)),
        )

    def intrusion_log_get(
        self,
        service: Optional[str] = None,
        server: Optional[str] = None,
        offset: int = 0,
        limit: int = 10,
    ) -> dict:
        """intursion_log_get (security_log_http.rs:240-283): filtered +
        paginated intrusion rows with a total."""
        from .pipeline.aggregate import observed_page
        from .pipeline.dims import build_event_filters

        df = build_event_filters(self._intrusions(), service=service, server=server)
        page = observed_page(df, offset, limit)
        return _page_body(page, offset, limit, ("datetime",))

    def intrusion_log_post(self, updates: list) -> int:
        """intrusion_log_post (security_log_http.rs:313-328): dedup-insert a
        batch of rows through ``route.append_dedup``; returns the number
        actually appended."""
        from .pipeline.route import append_dedup

        rows = [
            (
                u.get("id"),
                u["service"],
                u["server"],
                u["datetime"].replace("T", " ").replace("Z", ""),
                u["host"],
                u.get("username"),
            )
            for u in updates
        ]
        df = self.spark.createDataFrame(
            rows, "id string, service string, server string, datetime string, "
            "host string, username string"
        ).withColumn("datetime", F.col("datetime").cast("timestamp"))
        return append_dedup(
            self.spark, os.path.join(self.sink_dir, "intrusion_log"), df
        )

    def host_country_get(self, offset: int = 0, limit: int = 10) -> dict:
        """host_country_get (security_log_http.rs:404-438)."""
        from .pipeline.aggregate import observed_page

        hc, _ = self._dims()
        page = observed_page(hc, offset, limit, order=["host"])
        return _page_body(page, offset, limit, ("created_at",))

    def host_country_post(self, entries: list) -> int:
        """host_country_post (security_log_http.rs:410-428 post): per-row
        upsert through ``dims.merge_host_country``; returns the number of
        NEW hosts."""
        from .pipeline.dims import merge_host_country
        from .schemas import HOST_COUNTRY_SCHEMA

        rows = [(e["host"], e["code"], e.get("ipaddr"), None) for e in entries]
        updates = self.spark.createDataFrame(rows, HOST_COUNTRY_SCHEMA)
        return merge_host_country(self.spark, self.dims_dir, updates)

    def log_messages(
        self,
        log_level: Optional[str] = None,
        log_unit: Optional[str] = None,
        min_date: Optional[str] = None,
        max_date: Optional[str] = None,
        offset: int = 0,
        limit: int = 10,
    ) -> dict:
        """get_log_messages (security_log_http.rs:520-565): filtered,
        paginated, with a total for the Pagination header."""
        from .pipeline.aggregate import observed_page

        df = self._systemd()
        if log_level is not None:
            df = df.filter(F.col("log_level") == log_level)
        if log_unit is not None:
            df = df.filter(F.col("log_unit") == log_unit)
        if min_date is not None:
            df = df.filter(F.col("log_timestamp") >= F.lit(min_date))
        if max_date is not None:
            df = df.filter(F.col("log_timestamp") <= F.lit(max_date))
        page = observed_page(df, offset, limit, order=["log_timestamp", "id"])
        return _page_body(page, offset, limit, ("log_timestamp", "processed_time"))

    def delete_log_message(self, msg_id: str) -> int:
        """SystemdLogMessages::delete analog (security_log_http.rs:567-586),
        file-scoped copy-on-write: locate the part-file(s) containing the
        row via ``input_file_name``, rewrite ONLY those files, and swap each
        replacement in with an atomic per-file ``os.replace``. Every other
        part-file of the sink is untouched — the plain-parquet analog of a
        table-format row DELETE, and the only plan that survives a 100 TB
        sink (one row deleted = one file rewritten, not one sink)."""
        import glob
        from urllib.parse import unquote, urlparse

        from .pipeline.route import read_systemd_sink

        # sweep temp dirs stranded by a crash mid-swap in an earlier call:
        # they are invisible to Spark (dot prefix) but would collide with
        # the next rewrite of the same part-file
        root = self._systemd_path()
        for stale in glob.glob(os.path.join(root, "**", ".*.cow"), recursive=True):
            if os.path.isdir(stale):
                shutil.rmtree(stale, ignore_errors=True)

        df = self._systemd()
        hit_files = [
            r["__f"]
            for r in df.filter(F.col("id") == msg_id)
            .select(F.input_file_name().alias("__f"))
            .distinct()
            .collect()
        ]
        n = 0
        for uri in hit_files:
            # input_file_name() returns a percent-encoded file: URI — paths
            # with spaces/UTF-8 must be unquoted or os.replace misses
            fpath = unquote(urlparse(uri).path) if uri.startswith("file:") else uri
            one = read_systemd_sink(self.spark, fpath)
            keep = one.filter(F.col("id") != msg_id).persist()
            kept = keep.count()
            n += one.count() - kept
            if kept == 0:
                keep.unpersist()
                os.remove(fpath)
                continue
            # dot prefix: invisible to Spark's listing while being written
            tmp = os.path.join(
                os.path.dirname(fpath), "." + os.path.basename(fpath) + ".cow"
            )
            keep.coalesce(1).write.mode("overwrite").parquet(tmp)
            keep.unpersist()
            parts = glob.glob(os.path.join(tmp, "part-*.parquet"))
            os.replace(parts[0], fpath)
            # drop Hadoop's checksum sidecar: it still matches the OLD bytes
            crc = os.path.join(
                os.path.dirname(fpath), "." + os.path.basename(fpath) + ".crc"
            )
            if os.path.exists(crc):
                os.remove(crc)
            shutil.rmtree(tmp)
        if hit_files:
            # drop the cached FileStatus (old length) of the replaced files
            self.spark.catalog.refreshByPath(self._systemd_path())
        return n

    def cleanup(self) -> list:
        """host_country_cleanup (security_log_http.rs:440-461): resolve
        dangling hosts, upsert the dim, return the new rows. Each dangling
        host is resolved once: the response is collected from the resolver's
        output, and that collected result is what ``dims.merge_host_country``
        writes."""
        from .pipeline.dims import merge_host_country, resolve_hosts
        from .pipeline.enrich import dangling_hosts
        from .schemas import HOST_COUNTRY_SCHEMA

        hc, _ = self._dims()
        resolved = resolve_hosts(
            dangling_hosts(self._intrusions(), hc), self.resolver
        ).collect()
        if not resolved:  # nothing resolved (e.g. no live whois): no rewrite
            return []
        merge_host_country(
            self.spark,
            self.dims_dir,
            self.spark.createDataFrame(resolved, HOST_COUNTRY_SCHEMA),
        )
        return [r.asDict() for r in resolved]


def _page_body(page, offset: int, limit: int, ts_cols) -> dict:
    """The JSON body of a paginated route: ``page`` is ``(total, rows)``
    from ``aggregate.observed_page``; ``ts_cols`` are rendered ISO-8601."""
    total, rows = page
    data = []
    for r in rows:
        d = r.asDict()
        for c in ts_cols:
            if d.get(c) is not None:
                d[c] = d[c].isoformat()
        data.append(d)
    return {
        "pagination": {"total": total, "offset": offset, "limit": limit},
        "data": data,
    }


def _qp(qs: dict, name: str) -> Optional[str]:
    v = qs.get(name)
    return v[0] if v else None


def make_handler(app: SecurityLogApp):
    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):  # quiet test output
            pass

        def _send(self, body: str, ctype: str = "text/html", status: int = 200):
            data = body.encode()
            self.send_response(status)
            self.send_header("Content-Type", ctype)
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        # single-flight: see SecurityLogApp.lock. The lock is taken AFTER
        # the request line/headers are read (not around handle_one_request),
        # so an idle keep-alive connection can't hold it.
        def do_GET(self):
            with app.lock:
                self._do_get()

        def do_POST(self):
            with app.lock:
                self._do_post()

        def do_DELETE(self):
            with app.lock:
                self._do_delete()

        def _do_get(self):
            u = urlparse(self.path)
            try:  # param parsing inside the error path: ?ndays=abc must
                # produce an HTTP error response, not a dropped connection
                qs = parse_qs(u.query)
                service = _qp(qs, "service")
                location = _HOST_ALIAS.get(
                    _qp(qs, "location") or "", _qp(qs, "location")
                )
                ndays = _qp(qs, "ndays")
                ndays = int(ndays) if ndays is not None else None
                if u.path == "/security_log/intrusion_attempts":
                    body = app.attempts_body(service, location, ndays)
                    self._send(_INDEX_HTML.replace("__DATA__", body))
                elif u.path == "/security_log/intrusion_attempts/all":
                    body = app.attempts_body_all(service, location, ndays)
                    self._send(_INDEX_HTML.replace("__DATA__", body))
                elif u.path == "/security_log/map_script.js":
                    self._send(MAP_SCRIPT_JS, ctype="text/javascript")
                elif u.path == "/security_log/intrusion_log":
                    out = app.intrusion_log_get(
                        service=service,
                        server=_qp(qs, "server"),
                        offset=int(_qp(qs, "offset") or 0),
                        limit=int(_qp(qs, "limit") or 10),
                    )
                    self._send(json.dumps(out), ctype="application/json")
                elif u.path == "/security_log/host_country":
                    out = app.host_country_get(
                        offset=int(_qp(qs, "offset") or 0),
                        limit=int(_qp(qs, "limit") or 10),
                    )
                    self._send(json.dumps(out), ctype="application/json")
                elif u.path == "/security_log/log_messages":
                    out = app.log_messages(
                        log_level=_qp(qs, "log_level"),
                        log_unit=_qp(qs, "log_unit"),
                        min_date=_qp(qs, "min_date"),
                        max_date=_qp(qs, "max_date"),
                        offset=int(_qp(qs, "offset") or 0),
                        limit=int(_qp(qs, "limit") or 10),
                    )
                    self._send(json.dumps(out), ctype="application/json")
                elif u.path == "/security_log/cleanup":
                    self._send(json.dumps(app.cleanup()), ctype="application/json")
                else:
                    self._send("not found", status=404)
            except Exception as e:  # 500 with the message, like warp's reject
                self._send(f"error: {e}", status=500)

        def _do_post(self):
            length = int(self.headers.get("Content-Length") or 0)
            try:
                body = json.loads(self.rfile.read(length) or b"{}")
                if self.path == "/security_log/intrusion_log":
                    n = app.intrusion_log_post(body.get("updates", []))
                    self._send(f"Inserts {n}")
                elif self.path == "/security_log/host_country":
                    entries = body if isinstance(body, list) else body.get("updates", [])
                    n = app.host_country_post(entries)
                    self._send(f"Inserts {n}")
                else:
                    self._send("not found", status=404)
            except Exception as e:
                self._send(f"error: {e}", status=500)

        def _do_delete(self):
            m = re.fullmatch(r"/security_log/log_messages/([^/]+)", self.path)
            if not m:
                self._send("not found", status=404)
                return
            try:
                n = app.delete_log_message(m.group(1))
                self._send(f"deleted {m.group(1)}, {n} modified")
            except Exception as e:
                self._send(f"error: {e}", status=500)

    return Handler


def serve(app: SecurityLogApp, port: int = 0) -> ThreadingHTTPServer:
    """Bind and return the server (port 0 = ephemeral); caller drives
    ``serve_forever`` (typically in a thread)."""
    return ThreadingHTTPServer(("127.0.0.1", port), make_handler(app))
