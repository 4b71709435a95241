"""The three workloads. Each builds its seeded inputs and references (not
measured), sets the program up (``setup_s``: session start plus an
unmeasured warm-up), measures, checks every output, and returns a
:class:`Outcome`.

* ``ingest``: ``pipeline.checkpoint.run_incremental`` over a page draw
  into an empty sink: the write side (parse, route).
* ``report``: one closed-loop client calling ``SecurityLogApp``'s
  ``country_count``, ``intrusion_log_get`` and ``log_messages`` against a
  sink built during set-up: the read side (route's reader, enrich,
  aggregate, http_api).
* ``corpus``: one pass of the training-data operators behind the corpus
  queries, over a document and embedding draw: the ``textops`` layers.

Each measured region is a fixed amount of work, whatever ``--seconds``
says, so a faster program is measured on the same requests and documents.
"""

from __future__ import annotations

import glob
import json
import os
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext
from dataclasses import dataclass, field
from statistics import median, quantiles

from common import AS_OF, Clock, driver_pid, fresh_dir, start_spark, stop_spark, vm_hwm_mb
from inputs import PageDraw, draw_corpus, ensure_dims, rng_for
from spans import PROBE, EventLog, Tracer

FILES_PER_SPLIT = 4          # the CLI default
INGEST_PAGES = 3200          # 8 files, 2 splits, ~0.13 M lines
WARMUP_PAGES = 50            # one small split
REPORT_PAGES = 400           # one file, one split
REPORT_BLOCKS = 5            # of one request per kind
CORPUS_DOCS, CORPUS_VECS = 800, 320
WARMUP_DOCS, WARMUP_VECS = 100, 64
#: operator parameters, as ``bench.py`` runs them
CORPUS_PARAMS = {
    "exactsubstr_min_len": 3,
    "semdedup_threshold": 0.35,
    "semdedup_target_cluster": 256,
    "classifier_dim": 4096,
    "classifier_lr": 2.0,
    "classifier_iters": 5,
    "classifier_l2": 1e-4,
}

#: spans whose Spark metrics are reported, per call
SPARK_SPANS = (
    "parse", "route.append", "checkpoint.split",
    "http_api.country_count", "http_api.intrusion_log_get", "http_api.log_messages",
    "corpus.training_corpus", "corpus.minhash_lsh", "corpus.jaccard",
    "ann.top1", "ann.lsh_topk", "exactsubstr", "semdedup", "classifier",
)
SPARK_FIELDS = ("jobs", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                "gc_s", "task_skew")
KINDS = ("ssh", "apache", "jssh", "jnginx", "systemd")
REQUEST_KINDS = ("country_count", "intrusion_log_get", "log_messages")

#: per-layer metric -> unit; every traced run reports all of them (0 where
#: the workload does not reach the layer)
PER_LAYER = {
    "session.start_s": "s",
    "parse.self_s": "s",
    "parse.lines_in": "count",
    **{f"parse.rows_out.{k}": "count" for k in KINDS},
    "parse.lines_dropped": "count",
    "route.append_s": "s",
    "route.rows_attempted": "count",
    "route.rows_appended": "count",
    "route.appended_ratio": "ratio",
    "route.files_written": "count",
    "route.antijoin_files_scanned": "count",
    "route.systemd_write_s": "s",
    "route.sink_files": "count",
    "route.read_sink_s": "s",
    "checkpoint.split_s": "s",
    "checkpoint.overhead_s": "s",
    "enrich.broadcast_s": "s",
    "enrich.broadcast_bytes": "bytes",
    **{f"aggregate.exchanges.{k}": "count" for k in REQUEST_KINDS},
    "aggregate.shuffle_write_bytes": "bytes",
    **{f"http_api.{k}_s": "s" for k in REQUEST_KINDS},
    "http_api.dims_read_s": "s",
    "corpus.training_corpus_s": "s",
    "textops.cluster_s": "s",
    "corpus.minhash_lsh_s": "s",
    "corpus.jaccard_s": "s",
    "ann.top1_s": "s",
    "ann.lsh_topk_s": "s",
    "exactsubstr.self_s": "s",
    "semdedup.self_s": "s",
    "classifier.self_s": "s",
    **{f"{span}.{f}": ("s" if f == "gc_s" else "ratio" if f == "task_skew"
                       else "count" if f == "jobs" else "bytes")
       for span in SPARK_SPANS for f in SPARK_FIELDS},
}

#: end-to-end metric -> unit (DESIGN.md says what each means per workload)
END_TO_END = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "latency_p50_s": "s",
    "latency_p90_s": "s",
}


@dataclass
class Outcome:
    e2e: dict
    attempted: int
    failed: int
    problems: list = field(default_factory=list)
    layers: dict = field(default_factory=dict)
    notes: dict = field(default_factory=dict)
    trace: tuple | None = None  # (Tracer, EventLog) of a traced run


def _run_incremental(spark, pages_dir: str, sink_dir: str):
    """The CLI's ``parse`` job with the journald filters passed explicitly
    (otherwise they come from ``./config.env`` or the environment)."""
    from security_log_analysis_rust_spark.parsing.core import DEFAULT_SYSTEMD_LOG_FILTERS
    from security_log_analysis_rust_spark.pipeline import checkpoint

    report = checkpoint.run_incremental(
        spark, pages_dir, sink_dir, files_per_split=FILES_PER_SPLIT,
        filters=DEFAULT_SYSTEMD_LOG_FILTERS,
    )
    if report.splits_completed != report.splits_total or report.splits_skipped:
        raise RuntimeError(f"incremental run did not process every split: {report}")
    return report


def _parquet_files(root: str) -> list:
    return glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True)


def _split_durations(sink_dir: str) -> list:
    out = []
    for p in sorted(glob.glob(os.path.join(sink_dir, "_manifests", "*.json"))):
        with open(p) as f:
            out.append(json.load(f)["duration_sec"])
    return out


def _latencies(e2e: dict, values: list) -> None:
    """p50 and p90, linearly interpolated between the closest ranks."""
    e2e["latency_p50_s"] = median(values)
    e2e["latency_p90_s"] = (quantiles(values, n=10, method="inclusive")[8]
                            if len(values) > 1 else values[0])


class Session:
    """The Spark session of one run, with the set-up clock and, when
    tracing, the event-log directory and the tracer."""

    def __init__(self, workload: str, traced: bool):
        self.clock = Clock()
        self.event_dir = fresh_dir("events", workload) if traced else None
        self.spark = start_spark(self.event_dir)
        self.start_s = self.clock.elapsed()
        self.pid = driver_pid(self.spark)
        self.traced = traced
        self.tracer = None

    def begin_trace(self) -> Tracer | None:
        """Start recording spans: called once set-up is over."""
        if self.traced:
            self.tracer = Tracer(self.spark.sparkContext)
        return self.tracer

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    def finish(self):
        """Peak RSS, then stop; returns (rss MB, event log or None)."""
        rss = vm_hwm_mb(self.pid)
        if self.tracer:
            self.tracer.unwrap_all()
        stop_spark(self.spark)
        return rss, (EventLog(self.event_dir) if self.tracer else None)


# -- ingest ------------------------------------------------------------------------

def ingest(seed: int, traced: bool) -> Outcome:
    import duckdb

    draw = PageDraw(seed, "ingest", INGEST_PAGES, fresh_dir("ingest", "pages"))
    warm = PageDraw(seed, "ingest-warmup", WARMUP_PAGES, fresh_dir("ingest", "warm-pages"))
    expected = draw.expected()

    s = Session("ingest", traced)
    _run_incremental(s.spark, warm.dir, fresh_dir("ingest", "warm-sink"))
    setup_s = s.clock.elapsed()

    sink = fresh_dir("ingest", "sink")
    problems = []
    if s.begin_trace():
        _trace_ingest(s.tracer, draw, sink)
    clock = Clock()
    try:
        with s.span("checkpoint.run"):
            try:
                report = _run_incremental(s.spark, draw.dir, sink)
            finally:
                if s.tracer and s.tracer.stack[-1].name == "checkpoint.split":
                    s.tracer.close(s.tracer.stack[-1])
        wall = clock.elapsed()
    except Exception as exc:  # a failed run is reported, not hidden
        problems.append(f"run_incremental raised {type(exc).__name__}: {exc}")
        report, wall = None, clock.elapsed()
    steal = clock.steal_share()
    rss, log = s.finish()

    splits = -(-draw.n_files // FILES_PER_SPLIT)
    failed = splits - (report.splits_completed if report else 0)
    if report:
        con = duckdb.connect()
        intr = dict(con.sql(
            "SELECT service || '|' || server, count(*) FROM read_parquet("
            f"'{sink}/intrusion_log/*/*.parquet', hive_partitioning = false) GROUP BY 1"
        ).fetchall())
        sysd = dict(con.sql(
            "SELECT log_level, count(*) FROM read_parquet("
            f"'{sink}/systemd_log_messages/*/*.parquet', hive_partitioning = false) GROUP BY 1"
        ).fetchall())
        con.close()
        got = {"intrusion": dict(sorted(intr.items())), "systemd": dict(sorted(sysd.items()))}
        if got != expected:
            problems.append(f"sink differs from the oracle: got {got}, want {expected}")
            failed = splits

    e2e = {"setup_s": setup_s, "throughput_per_s": draw.lines / wall, "peak_rss_mb": rss}
    _latencies(e2e, _split_durations(sink) or [wall])
    out = Outcome(e2e, splits, failed, problems)
    out.notes = {"lines": draw.lines, "pages": INGEST_PAGES, "splits": splits,
                 "measured_s": wall, "cpu_steal_share": steal,
                 "intrusion_rows": sum(expected["intrusion"].values()),
                 "systemd_rows": sum(expected["systemd"].values())}
    if log:
        out.layers = _ingest_layers(s, log)
        out.trace = (s.tracer, log)
    return out


def _trace_ingest(tracer: Tracer, draw: PageDraw, sink: str) -> None:
    from security_log_analysis_rust_spark.pipeline import checkpoint
    from security_log_analysis_rust_spark.pipeline.route import MONTH_COL

    # the split loop calls _split_id first: a split span runs from that call
    # to the next one, or to the end of the run
    original_split_id = checkpoint._split_id

    def split_id(files):
        if tracer.stack[-1].name == "checkpoint.split":
            tracer.close(tracer.stack[-1])
        sid = original_split_id(files)
        tracer.open("checkpoint.split", trace=f"split:{sid}")
        return sid

    tracer.patch(checkpoint, "_split_id", split_id)

    def parse_after(span, out, args, _kw):
        files = [os.path.basename(f) for f in args[0].inputFiles()]
        span.attrs["lines_in"] = sum(draw.file_lines[f] for f in files)
        span.attrs["rows_out"] = {
            r["kind"]: r["count"] for r in out["parsed"].groupBy("kind").count().collect()
        }

    def append_before(span, args, kw):
        intr_path, new_rows, since = args[1], args[2], kw.get("since")
        with tracer.span(PROBE + "count"):
            span.attrs["rows_attempted"] = new_rows.count()
        files = _parquet_files(intr_path)
        span.attrs["files_before"] = len(files)
        month = str(since)[:7] if since else ""
        span.attrs["antijoin_files"] = sum(
            1 for f in files if f"{MONTH_COL}=" in f
            and f.split(f"{MONTH_COL}=")[1][:7] >= month
        )

    def append_after(span, n, args, _kw):
        span.attrs["rows_appended"] = n
        span.attrs["files_written"] = len(_parquet_files(args[1])) - span.attrs["files_before"]

    tracer.wrap(checkpoint, "extract_events", "parse", after=parse_after)
    tracer.wrap(checkpoint, "append_dedup", "route.append",
                before=append_before, after=append_after)


def _ingest_layers(s: Session, log: EventLog) -> dict:
    t = s.tracer
    selft = t.self_times()
    kids = t.children()
    m = {"session.start_s": s.start_s}
    parse = t.by_name("parse")
    appends = t.by_name("route.append")
    splits = t.by_name("checkpoint.split")
    n = max(1, len(splits))
    m["parse.self_s"] = sum(selft[x.id] for x in parse) / n
    m["parse.lines_in"] = sum(x.attrs["lines_in"] for x in parse)
    for k in KINDS:
        m[f"parse.rows_out.{k}"] = sum(x.attrs["rows_out"].get(k, 0) for x in parse)
    m["parse.lines_dropped"] = m["parse.lines_in"] - sum(
        m[f"parse.rows_out.{k}"] for k in KINDS)
    m["route.append_s"] = sum(selft[x.id] for x in appends) / n
    m["route.rows_attempted"] = sum(x.attrs["rows_attempted"] for x in appends)
    m["route.rows_appended"] = sum(x.attrs["rows_appended"] for x in appends)
    m["route.appended_ratio"] = m["route.rows_appended"] / max(1, m["route.rows_attempted"])
    m["route.files_written"] = median([x.attrs["files_written"] for x in appends])
    m["route.antijoin_files_scanned"] = sum(x.attrs["antijoin_files"] for x in appends)
    sysd = 0.0
    for sp in splits:
        # the split's own jobs after its append are the systemd count + write
        ends = [c.end for c in kids.get(sp.id, []) if c.name == "route.append"]
        after = max(ends) if ends else sp.end
        sysd += sum(j["end"] - j["start"] for j in log.jobs_of({sp.id})
                    if j["start"] >= after and j["end"] is not None)
    m["route.systemd_write_s"] = sysd / n
    m["checkpoint.split_s"] = sum(x.duration - t.probe_time(x) for x in splits) / n
    m["checkpoint.overhead_s"] = sum(selft[x.id] for x in splits) / n - m["route.systemd_write_s"]
    return m


# -- report ------------------------------------------------------------------------

def make_blocks(seed: int, n: int) -> list:
    """``n`` seeded blocks of one request of each kind, in seeded order with
    seeded parameters. The traffic is synthetic (no record of dashboard
    traffic exists): equal shares of the three kinds, and parameters drawn
    uniformly from each method's filter options, ``None`` being the
    method's default. Whole blocks keep the mix, and so which kinds the
    percentiles fall on, independent of the seed."""
    from security_log_analysis_rust_spark.parsing.core import SERVERS

    rng = rng_for(seed, "requests")

    def pick(options):
        return options[int(rng.integers(0, len(options)))]

    blocks = []
    for _ in range(n):
        block = []
        for i in rng.permutation(len(REQUEST_KINDS)):
            kind = REQUEST_KINDS[i]
            if kind == "country_count":
                kw = {"service": pick([None, "ssh", "apache", "nginx"]),
                      "location": pick([None, *SERVERS]),
                      "ndays": pick([None, 30, 90, 180, 365])}
            elif kind == "intrusion_log_get":
                kw = {"service": pick([None, "ssh", "apache", "nginx"]),
                      "server": pick([None, *SERVERS]),
                      "offset": int(rng.integers(0, 20)) * 10,
                      "limit": pick([10, 20, 50])}
            else:
                month = int(rng.integers(1, 12))
                kw = {"log_level": pick([None, "error", "warn", "info", "debug"]),
                      "log_unit": pick([None, "myapp.service", "nginx.service"]),
                      "min_date": pick([None, f"2024-{month:02d}-01"]),
                      "max_date": pick([None, f"2024-{month + 1:02d}-15"]),
                      "offset": int(rng.integers(0, 10)) * 10,
                      "limit": pick([10, 20, 50])}
            block.append((kind, kw))
        blocks.append(block)
    return blocks


def report(seed: int, traced: bool) -> Outcome:
    from security_log_analysis_rust_spark.http_api import SecurityLogApp
    from oracles import SinkOracle

    draw = PageDraw(seed, "report", REPORT_PAGES, fresh_dir("report", "pages"))
    dims = ensure_dims()
    blocks = make_blocks(seed, REPORT_BLOCKS)
    warmup = [
        ("country_count", {"service": None, "location": None, "ndays": None}),
        ("intrusion_log_get", {"service": None, "server": None, "offset": 0, "limit": 10}),
        ("log_messages", {"log_level": None, "log_unit": None, "min_date": None,
                          "max_date": None, "offset": 0, "limit": 10}),
    ]

    s = Session("report", traced)
    sink = fresh_dir("report", "sink")
    _run_incremental(s.spark, draw.dir, sink)
    app = SecurityLogApp(s.spark, sink, dims, as_of=AS_OF)
    for kind, kw in warmup:
        getattr(app, kind)(**kw)
    setup_s = s.clock.elapsed()

    if s.begin_trace():
        _trace_report(s.tracer)
    requests, answers, latencies, problems = [], [], [], []
    clock = Clock()
    for block in blocks:
        for kind, kw in block:
            t0 = time.perf_counter()
            try:
                answers.append(getattr(app, kind)(**kw))
            except Exception as exc:
                answers.append(exc)
            latencies.append(time.perf_counter() - t0)
            requests.append((kind, kw))
    wall, steal = clock.elapsed(), clock.steal_share()
    rss, log = s.finish()

    n = len(latencies)
    oracle = SinkOracle(sink, dims, AS_OF)
    failed = 0
    try:
        for (kind, kw), got in zip(requests, answers):
            if isinstance(got, Exception):
                problems.append(f"{kind}({kw}) raised {got!r}")
                failed += 1
            elif got != getattr(oracle, kind)(**kw):
                problems.append(f"{kind}({kw}) differs from DuckDB")
                failed += 1
    finally:
        oracle.close()

    e2e = {"setup_s": setup_s, "throughput_per_s": n / wall, "peak_rss_mb": rss}
    _latencies(e2e, latencies)
    out = Outcome(e2e, n, failed, problems)
    per_kind = {k: [lat for (kind, _), lat in zip(requests, latencies) if kind == k]
                for k in REQUEST_KINDS}
    out.notes = {"requests": n, "measured_s": wall, "cpu_steal_share": steal,
                 "sink_pages": REPORT_PAGES,
                 "p50_s_by_kind": {k: median(v) for k, v in per_kind.items() if v}}
    if log:
        out.layers = _report_layers(s, log, sink)
        out.trace = (s.tracer, log)
    return out


def _trace_report(tracer: Tracer) -> None:
    from security_log_analysis_rust_spark import http_api
    from security_log_analysis_rust_spark.pipeline import route

    for kind in REQUEST_KINDS:
        tracer.wrap(http_api.SecurityLogApp, kind, f"http_api.{kind}")
    tracer.wrap(http_api.SecurityLogApp, "_dims", "http_api.dims_read")
    tracer.wrap(route, "read_sink", "route.read_sink")


def _report_layers(s: Session, log: EventLog, sink: str) -> dict:
    t = s.tracer
    m = {"session.start_s": s.start_s}
    m["route.sink_files"] = len(_parquet_files(os.path.join(sink, "intrusion_log"))) + \
        len(_parquet_files(os.path.join(sink, "systemd_log_messages")))
    m["route.read_sink_s"] = median([x.duration for x in t.by_name("route.read_sink")] or [0])
    m["http_api.dims_read_s"] = median([x.duration for x in t.by_name("http_api.dims_read")] or [0])
    for kind in REQUEST_KINDS:
        spans = t.by_name(f"http_api.{kind}")
        m[f"http_api.{kind}_s"] = median([x.duration for x in spans] or [0])
        m[f"aggregate.exchanges.{kind}"] = max(
            [sum(log.exchanges(x) for x in log.executions_of(t.subtree_ids(sp))) for sp in spans]
            or [0])
    cc = t.by_name("http_api.country_count")
    m["enrich.broadcast_s"] = sum(log.broadcast_job_s(t.subtree_ids(x)) for x in cc) / max(1, len(cc))
    m["enrich.broadcast_bytes"] = sum(
        log.broadcast_bytes(e) for x in cc for e in log.executions_of(t.subtree_ids(x))
    ) / max(1, len(cc))
    agg = cc + t.by_name("http_api.intrusion_log_get")
    m["aggregate.shuffle_write_bytes"] = sum(
        log.spark_metrics(t.subtree_ids(x))["shuffle_write_bytes"] for x in agg) / max(1, len(agg))
    return m


# -- corpus ------------------------------------------------------------------------

def _corpus_ops(spark, sf: str, n_vecs: int, clf_iters: int) -> list:
    """(span name, thunk) per operator; each thunk consumes its output."""
    import __spark_entry__ as E
    from pyspark.sql import functions as F
    from security_log_analysis_rust_spark.textops.classifier import (
        pareto_select,
        score_docs_classifier,
        train_classifier,
    )
    from security_log_analysis_rust_spark.textops.exactsubstr import exact_substr_dedup
    from security_log_analysis_rust_spark.textops.semdedup import semdedup

    p = CORPUS_PARAMS
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    emb = spark.read.parquet(f"{sf}/embeddings.parquet").select("vec_id", "embedding")

    def classifier():
        src = docs.select("doc_id", "source", "text")
        model = train_classifier(
            src.withColumn("label", F.col("source").isin("src0", "src1").cast("int")),
            dim=p["classifier_dim"], lr=p["classifier_lr"],
            iters=clf_iters, l2=p["classifier_l2"],
        )
        return model, pareto_select(score_docs_classifier(src, model)).toPandas()

    return [
        ("corpus.training_corpus", lambda: E.q_docs_training_corpus(spark, sf).toPandas()),
        ("corpus.minhash_lsh", lambda: E.q_docs_minhash_lsh(spark, sf).toPandas()),
        ("corpus.jaccard", lambda: E.q_docs_jaccard_pairs(spark, sf).toPandas()),
        ("ann.top1", lambda: E.q_emb_top1(spark, sf).toPandas()),
        ("ann.lsh_topk", lambda: E.q_emb_topk_lsh(spark, sf).toPandas()),
        ("exactsubstr", lambda: exact_substr_dedup(
            docs.select("doc_id", "text"), min_len=p["exactsubstr_min_len"]).toPandas()),
        ("semdedup", lambda: semdedup(
            emb, threshold=p["semdedup_threshold"], n_centroids=None, n_vectors=n_vecs,
            target_cluster=p["semdedup_target_cluster"]).toPandas()),
        ("classifier", classifier),
    ]


def _corpus_pass(s: Session, ops: list) -> tuple:
    """One pass over the operators: (outputs, wall seconds per operator)."""
    outputs, times = {}, []
    with s.span("corpus.pass"):
        for name, thunk in ops:
            with s.span(name):
                t0 = time.perf_counter()
                outputs[name] = thunk()
                times.append(time.perf_counter() - t0)
    return outputs, times


def corpus(seed: int, traced: bool) -> Outcome:
    from oracles import CorpusOracle, normalize

    sf = draw_corpus(seed, "corpus", CORPUS_DOCS, CORPUS_VECS)
    warm_sf = draw_corpus(seed, "corpus-warmup", WARMUP_DOCS, WARMUP_VECS)
    oracle = CorpusOracle(sf, CORPUS_PARAMS)
    oracle.prepare()

    s = Session("corpus", traced)
    # one classifier iteration warms the same code as five; the operators
    # warm up concurrently (four threads), which only shortens set-up
    with ThreadPoolExecutor(4) as pool:
        for f in [pool.submit(thunk) for _, thunk in
                  _corpus_ops(s.spark, warm_sf, WARMUP_VECS, clf_iters=1)]:
            f.result()
    setup_s = s.clock.elapsed()

    if s.begin_trace():
        from security_log_analysis_rust_spark.textops import cluster

        s.tracer.wrap(cluster, "connected_components", "textops.cluster")
    ops = _corpus_ops(s.spark, sf, CORPUS_VECS, CORPUS_PARAMS["classifier_iters"])
    outputs, times, problems = {}, [], []
    clock = Clock()
    try:
        outputs, times = _corpus_pass(s, ops)
    except Exception as exc:  # a failed pass is reported, not hidden
        problems.append(f"corpus pass raised {type(exc).__name__}: {exc}")
    wall, steal = clock.elapsed(), clock.steal_share()
    rss, log = s.finish()

    failed = 0 if outputs else len(ops)
    try:
        if outputs:
            model, kept = outputs.pop("classifier")
            clf_problems = oracle.classifier_check(model, normalize(kept))
            failed += bool(clf_problems)
            problems += clf_problems
            reference = oracle.frames()
            for name, frame in outputs.items():
                if normalize(frame) != reference[name]:
                    problems.append(f"{name} differs from DuckDB")
                    failed += 1
    finally:
        oracle.close()

    e2e = {"setup_s": setup_s, "peak_rss_mb": rss, "throughput_per_s": CORPUS_DOCS / wall}
    _latencies(e2e, times or [wall])
    out = Outcome(e2e, len(ops), failed, problems)
    out.notes = {"docs": CORPUS_DOCS, "vectors": CORPUS_VECS, "measured_s": wall,
                 "cpu_steal_share": steal,
                 "operator_s": dict(zip((name for name, _ in ops), times))}
    if log:
        out.layers = _corpus_layers(s)
        out.trace = (s.tracer, log)
    return out


def _corpus_layers(s: Session) -> dict:
    t = s.tracer
    selft = t.self_times()
    m = {"session.start_s": s.start_s}
    names = {"corpus.training_corpus": "corpus.training_corpus_s",
             "textops.cluster": "textops.cluster_s",
             "corpus.minhash_lsh": "corpus.minhash_lsh_s",
             "corpus.jaccard": "corpus.jaccard_s",
             "ann.top1": "ann.top1_s", "ann.lsh_topk": "ann.lsh_topk_s",
             "exactsubstr": "exactsubstr.self_s", "semdedup": "semdedup.self_s",
             "classifier": "classifier.self_s"}
    for span, metric in names.items():
        m[metric] = median([selft[x.id] for x in t.by_name(span)] or [0])
    return m


WORKLOADS = {"ingest": ingest, "report": report, "corpus": corpus}


def spark_span_metrics(tracer: Tracer, log: EventLog) -> dict:
    """``<span>.<field>`` per SPARK_SPANS name: the mean per call of the
    span's jobs (its own and its descendants'), and the median task skew."""
    m = {}
    for name in SPARK_SPANS:
        rows = [log.spark_metrics(tracer.subtree_ids(x)) for x in tracer.by_name(name)]
        for f in SPARK_FIELDS:
            vals = [r[f] for r in rows]
            if not vals:
                m[f"{name}.{f}"] = 0
            elif f == "task_skew":
                m[f"{name}.{f}"] = median(vals)
            else:
                m[f"{name}.{f}"] = sum(vals) / len(vals)
    return m
