"""CLI — the reference's subcommand surface (``src/parse_opts.rs:34-87``)
re-expressed over the Spark engine. A user of the reference can run the same
verbs::

    python -m security_log_analysis_rust_spark parse   --pages DIR --sink DIR
    python -m security_log_analysis_rust_spark db      --sink DIR --out DIR
    python -m security_log_analysis_rust_spark read    --out DIR [--service s]
    python -m security_log_analysis_rust_spark export  --sink DIR --path P [--table T]
    python -m security_log_analysis_rust_spark import  --sink DIR --path P [--table T]
    python -m security_log_analysis_rust_spark report  --sink DIR --html P
    python -m security_log_analysis_rust_spark compact --sink DIR
    python -m security_log_analysis_rust_spark serve   --sink DIR --dims DIR
    python -m security_log_analysis_rust_spark daemon  --in DIR --sink DIR

parse  = incremental checkpointed ingest (E1 analog)
db     = monthly enriched parquet export (E2 step 1, K5)
read   = per-country counts from the export, top-10 print (E2 step 2, A2/O3)
export/import = JSON out/in, --table intrusion_log|host_country (K7/S9)
report = per-country counts + geochart HTML (E3/K8)
compact = rewrite each intrusion month holding several files as one file
serve  = HTTP read API + TTL result cache (security_log_http.rs analog)
daemon = streaming journald follow (S5)
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import functions as F


def _spark(args):
    from .session import get_spark

    return get_spark(app_name="security-log-analysis", cpus=args.cpus)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(prog="security_log_analysis_rust_spark")
    ap.add_argument("--cpus", type=int, default=None)
    sub = ap.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("parse", help="incremental checkpointed ingest")
    p.add_argument("--pages", required=True)
    p.add_argument("--sink", required=True)
    p.add_argument("--files-per-split", type=int, default=4)
    p.add_argument("--watermark", action="store_true")

    p = sub.add_parser("db", help="monthly enriched parquet export")
    p.add_argument("--sink", required=True)
    p.add_argument("--dims", required=True, help="dir with host_country/country_code parquet")
    p.add_argument("--out", required=True)

    p = sub.add_parser("read", help="per-country counts from the export")
    p.add_argument("--out", required=True)
    p.add_argument("--service", default=None)
    p.add_argument("--server", default=None)

    p = sub.add_parser("export", help="table rows -> JSON (limit 1000)")
    p.add_argument("--sink", required=True,
                   help="sink dir (intrusion_log) or dims dir (host_country)")
    p.add_argument("--path", required=True)
    p.add_argument("--limit", type=int, default=1000)
    p.add_argument("--table", default="intrusion_log",
                   choices=["intrusion_log", "host_country"])

    p = sub.add_parser("import", help="JSON -> table (dedup append / upsert)")
    p.add_argument("--sink", required=True,
                   help="sink dir (intrusion_log) or dims dir (host_country)")
    p.add_argument("--path", required=True)
    p.add_argument("--table", default="intrusion_log",
                   choices=["intrusion_log", "host_country"])

    p = sub.add_parser("report", help="per-country counts + geochart HTML")
    p.add_argument("--sink", required=True)
    p.add_argument("--dims", required=True)
    p.add_argument("--html", default=None)

    p = sub.add_parser("cleanup", help="dedupe the intrusion sink in place")
    p.add_argument("--sink", required=True)

    p = sub.add_parser("compact", help="one file per intrusion-sink month")
    p.add_argument("--sink", required=True)

    p = sub.add_parser("serve", help="HTTP read API (security_log_http.rs)")
    p.add_argument("--sink", required=True)
    p.add_argument("--dims", required=True)
    p.add_argument("--export", default=None, help="monthly export dir for /all")
    p.add_argument("--port", type=int,
                   default=4086)  # reference default (security_log_http.rs:609-612)
    p.add_argument(
        "--placeholder-resolver", action="store_true",
        help="resolve dangling hosts to the placeholder country 'ZZ' during "
             "/cleanup (testing only). Default: unresolved hosts are SKIPPED, "
             "like the reference's failed whois lookups — a fabricated code "
             "would be persisted into host_country and the host could never "
             "be re-resolved with real data.",
    )

    p = sub.add_parser("daemon", help="streaming journald follow")
    p.add_argument("--input", required=True)
    p.add_argument("--sink", required=True)
    p.add_argument("--server", default="home.ddboline.net")
    p.add_argument("--follow", action="store_true", help="keep tailing")
    p.add_argument(
        "--journalctl", action="store_true",
        help="spawn `journalctl -f -o json` and spool it into --input "
             "(parse_logs.rs:306-326); the stream then tails the spool",
    )
    p.add_argument("--journalctl-bin", default="journalctl")

    args = ap.parse_args(argv)
    spark = _spark(args)
    try:
        return _dispatch(spark, args)
    finally:
        spark.stop()


def _dispatch(spark, args) -> int:
    if args.cmd == "parse":
        from .pipeline.checkpoint import metrics, run_incremental

        r = run_incremental(
            spark,
            args.pages,
            args.sink,
            files_per_split=args.files_per_split,
            watermark=args.watermark,
        )
        print(json.dumps({"completed": r.splits_completed, "skipped": r.splits_skipped,
                          "rows": r.rows, "metrics": metrics(args.sink)}))
        return 0

    if args.cmd == "db":
        import os

        from .pipeline.dims import read_dims
        from .pipeline.enrich import enrich_events
        from .pipeline.export import export_monthly
        from .pipeline.route import read_sink
        from .schemas import INTRUSION_LOG_SCHEMA

        intr = read_sink(
            spark, os.path.join(args.sink, "intrusion_log"), INTRUSION_LOG_SCHEMA
        )
        hc, cc = read_dims(spark, args.dims)
        enriched = enrich_events(intr, hc, cc).select(
            "service", "server", "datetime", "host", "username", "code", "country"
        )
        export_monthly(enriched, args.out)
        print(json.dumps({"exported": spark.read.parquet(args.out).count()}))
        return 0

    if args.cmd == "read":
        from .pipeline.aggregate import per_country_counts

        df = spark.read.parquet(args.out)
        pc = per_country_counts(
            df.filter(F.col("country").isNotNull()),
            service=args.service,
            server=args.server,
        )
        for r in pc.limit(10).collect():  # O3 top-10 print
            print(f"{r['country']}\t{r['count']}")
        return 0

    if args.cmd == "export":
        # --table per src/parse_opts.rs:262-297 (both tables, limit 1000)
        import os

        from .sources.logfiles import export_json
        from .pipeline.dims import read_dim
        from .pipeline.route import read_sink
        from .schemas import INTRUSION_LOG_SCHEMA

        if args.table == "host_country":
            df = read_dim(spark, args.sink, "host_country")
        else:
            df = read_sink(
                spark, os.path.join(args.sink, "intrusion_log"), INTRUSION_LOG_SCHEMA
            )
        export_json(df, args.path, limit=args.limit)
        print(json.dumps({"exported": min(args.limit, df.count()),
                          "table": args.table}))
        return 0

    if args.cmd == "import":
        # --table per src/parse_opts.rs:232-260: intrusion_log -> ON CONFLICT
        # DO NOTHING analog; host_country -> per-row upsert (models.rs:110-124)
        if args.table == "host_country":
            from .pipeline.dims import merge_host_country
            from .schemas import HOST_COUNTRY_SCHEMA

            updates = spark.read.schema(HOST_COUNTRY_SCHEMA).json(args.path)
            n = merge_host_country(spark, args.sink, updates)
        else:
            import os

            from .pipeline.route import append_dedup
            from .sources.logfiles import import_json

            # append_dedup also collapses within-batch duplicates on the
            # unique key, as the reference's sequential INSERT ... ON
            # CONFLICT does implicitly, and ids rows that carry none
            rows = import_json(spark, args.path)
            n = append_dedup(spark, os.path.join(args.sink, "intrusion_log"), rows)
        print(json.dumps({"appended": n, "table": args.table}))
        return 0

    if args.cmd == "report":
        import os

        from .pipeline.aggregate import per_country_counts
        from .pipeline.dims import read_dims
        from .pipeline.enrich import enrich_events
        from .pipeline.export import country_report_html
        from .pipeline.route import read_sink
        from .schemas import INTRUSION_LOG_SCHEMA

        intr = read_sink(
            spark, os.path.join(args.sink, "intrusion_log"), INTRUSION_LOG_SCHEMA
        )
        hc, cc = read_dims(spark, args.dims)
        pc = per_country_counts(enrich_events(intr, hc, cc, how="inner"))
        if args.html:
            country_report_html(pc, args.html)
            print(json.dumps({"html": args.html}))
        else:
            for r in pc.limit(10).collect():
                print(f"{r['country']}\t{r['count']}")
        return 0

    if args.cmd == "cleanup":
        import os

        from .pipeline.route import cleanup_intrusion_log

        n = cleanup_intrusion_log(spark, os.path.join(args.sink, "intrusion_log"))
        print(json.dumps({"removed": n}))
        return 0

    if args.cmd == "compact":
        import os

        from .pipeline.route import compact_intrusion_log

        n = compact_intrusion_log(spark, os.path.join(args.sink, "intrusion_log"))
        print(json.dumps({"months_compacted": n}))
        return 0

    if args.cmd == "serve":
        from .http_api import SecurityLogApp, serve

        # no live whois in this sandbox: by default every dangling host
        # resolves to None (skipped — the reference's failed-lookup path,
        # host_country_metadata.rs), so nothing fabricated is ever upserted
        # into host_country. --placeholder-resolver opts into 'ZZ' for tests.
        resolver = None
        if args.placeholder_resolver:
            from .pipeline.dims import classify_whois_line

            resolver = lambda h: classify_whois_line(f"country: ZZ # {h}")  # noqa: E731
        app = SecurityLogApp(
            spark, args.sink, args.dims, export_dir=args.export,
            resolver=resolver,
        )
        srv = serve(app, port=args.port)
        print(json.dumps({"serving": srv.server_address[1]}), flush=True)
        srv.serve_forever()
        return 0

    if args.cmd == "daemon":
        from .streaming.journald_stream import start_journald_ingest

        follower = None
        if args.journalctl:
            from .sources.journalctl import follow_journalctl

            follower = follow_journalctl(args.input, binary=args.journalctl_bin)
        try:
            q = start_journald_ingest(
                spark,
                args.input,
                args.sink,
                available_now=not args.follow,
                server=args.server,
            )
            q.awaitTermination()
        finally:
            if follower is not None:
                follower.stop()
        print(json.dumps({"stopped": True}))
        return 0

    return 2


if __name__ == "__main__":
    sys.exit(main())
