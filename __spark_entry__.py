"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes every implemented operator from SURVEY.md §2 as a
(spark, sf_dir) -> DataFrame callable; ``oracle_sql()`` gives the equivalent
DuckDB SQL over the same parquet inputs (an independent second
implementation, not a shared code path). Column names/aliases match exactly.

Pipeline queries run over the deterministic synthetic pages table
(input_hint schema) generated on demand under ``data/``; text/dedup/
similarity queries run over the driver's ``documents``/``embeddings``/
``events`` testdata views.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.abspath(__file__))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

#: the driver's correctness pass runs at this scale
ORACLE_SF_DIR = "/root/testdata/sf0.01"

SERVERS = ("home.ddboline.net", "cloud.ddboline.net")
AS_OF = "2024-12-31"  # deterministic anchor replacing the reference's now()
NDAYS = 180


# --------------------------------------------------------------------------
# shared Spark-side builders
# --------------------------------------------------------------------------

def _prep(spark: SparkSession, sf_dir: str) -> dict:
    from security_log_analysis_rust_spark.session import configure
    from security_log_analysis_rust_spark.synth import ensure_synthetic

    configure(spark)
    return ensure_synthetic(sf_dir)


def _pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(_prep(spark, sf_dir)["pages"])


def _dims(spark: SparkSession, sf_dir: str):
    from security_log_analysis_rust_spark.pipeline.dims import read_dims

    paths = _prep(spark, sf_dir)
    return read_dims(spark, os.path.dirname(paths["host_country"]))


def _events(spark, sf_dir) -> DataFrame:
    from security_log_analysis_rust_spark.pipeline.parse import extract_events

    return extract_events(_pages(spark, sf_dir))["events"]


def _routed(spark, sf_dir, *kinds) -> DataFrame:
    """The parse router's rows of the routing ``kinds``."""
    from security_log_analysis_rust_spark.pipeline.parse import extract_events

    routed = extract_events(_pages(spark, sf_dir))["routed"]
    return routed.filter(F.col("kind").isin(*kinds))


def _systemd(spark, sf_dir) -> DataFrame:
    from security_log_analysis_rust_spark.pipeline.parse import extract_events

    return extract_events(_pages(spark, sf_dir))["systemd"]


def _intrusion(spark, sf_dir) -> DataFrame:
    from security_log_analysis_rust_spark.pipeline.route import dedup_intrusions

    return dedup_intrusions(_events(spark, sf_dir)).select(
        "service", "server", "datetime", "host", "username"
    )


def _enriched(spark, sf_dir, how="left") -> DataFrame:
    from security_log_analysis_rust_spark.pipeline.enrich import enrich_events

    hc, cc = _dims(spark, sf_dir)
    return enrich_events(_intrusion(spark, sf_dir), hc, cc, how=how)


_EVENT_PROJ = ["url", "service", "server", "datetime", "host", "username"]


def _docs(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def _evtbl(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "events.parquet"))


def _emb(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))


#: corpus-size cache for the auto-sized ANN queries: the auto paths share
#: one count job per sf_dir instead of re-counting per query. Keyed by
#: (path, mtime, size) so an in-process regeneration of embeddings.parquet
#: at the same path invalidates the entry instead of silently sizing n_bits
#: from a stale count while the SQL oracle counts live.
_EMB_COUNT_CACHE: dict = {}


def _emb_count(spark, sf_dir) -> int:
    path = os.path.join(sf_dir, "embeddings.parquet")
    try:
        st = os.stat(path)
        key = (path, st.st_mtime_ns, st.st_size)
    except OSError:
        key = (path, None, None)
    if key not in _EMB_COUNT_CACHE:
        for stale in [k for k in _EMB_COUNT_CACHE if k[0] == path]:
            del _EMB_COUNT_CACHE[stale]
        _EMB_COUNT_CACHE[key] = _emb(spark, sf_dir).count()
    return _EMB_COUNT_CACHE[key]


# --- document text helpers (Spark side) ------------------------------------

def _doc_tokens():
    return F.split(F.lower(F.trim(F.col("text"))), r"\W+")


def _spread_small_input(df: DataFrame) -> DataFrame:
    from security_log_analysis_rust_spark.textops.util import spread_small_input

    return spread_small_input(df)


def _doc_shingle_expr():
    """The distinct word-3-gram shingle ARRAY over the bound ``__toks``
    token-array attribute."""
    t = F.col("__toks")
    return F.when(
        F.size(t) >= 3,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size(t) - 3),
                lambda i: F.concat_ws(
                    " ", F.get(t, i), F.get(t, i + 1), F.get(t, i + 2)
                ),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


def _doc_token_arrays(docs: DataFrame) -> DataFrame:
    """(doc_id, __toks): token array materialized beside an explode-barrier
    so the 3-gram lambda slices a bound attribute instead of re-running the
    ``split(lower(trim(text)))`` once per ``F.get`` per shingle."""
    from security_log_analysis_rust_spark.textops.util import explode_barrier

    docs = _spread_small_input(docs)
    return docs.select(
        "doc_id", _doc_tokens().alias("__toks"), explode_barrier().alias("__b")
    )


def _doc_shingles(docs: DataFrame) -> DataFrame:
    """Distinct word-3-gram shingles per doc (shared by jaccard + minhash),
    one row per (doc, shingle).

    The shingle-array expression stays INLINE in the explode (r6):
    exploding it as a materialized attribute makes the generator "cheap",
    so InferFiltersFromGenerate infers a ``size(arr) > 0`` filter that
    predicate pushdown then re-substitutes all the way to the scan —
    re-evaluating the whole shingle build (split included) per doc in the
    filter, measured 15x slower. With the non-cheap inline generator the
    rule skips the inference entirely."""
    return _doc_token_arrays(docs).select(
        "doc_id", F.explode(_doc_shingle_expr()).alias("sh")
    )


# --------------------------------------------------------------------------
# queries
# --------------------------------------------------------------------------

def q_ssh_events(spark, sf_dir):
    return _routed(spark, sf_dir, "ssh").select(*_EVENT_PROJ)


def q_apache_events(spark, sf_dir):
    return _routed(spark, sf_dir, "apache").select(*_EVENT_PROJ)


def q_journald_events(spark, sf_dir):
    from security_log_analysis_rust_spark.pipeline.parse import JOURNALD_KINDS

    return _routed(spark, sf_dir, *JOURNALD_KINDS).select(*_EVENT_PROJ)


def q_journald_running_totals(spark, sf_dir):
    """Batch twin of the stateful streaming operator
    ``streaming.journald_stream.stateful_attempt_totals``: lifetime per-host
    running attempt totals, emitted per event. The stream folds counts into
    the state store per micro-batch; the batch expression of the same
    semantics is a cumulative count window. RANGE framing (not ROWS) makes
    ties on datetime deterministic — all peers share the same total — so
    the result is oracle-comparable. A pytest differential additionally
    pins stream-final == max(running_total) per host on a shared input."""
    from security_log_analysis_rust_spark.pipeline.parse import JOURNALD_KINDS

    intr = _routed(spark, sf_dir, *JOURNALD_KINDS)
    w = (
        Window.partitionBy("host")
        .orderBy("datetime")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return intr.select(
        "host", "datetime", F.count(F.lit(1)).over(w).alias("running_total")
    )


def q_systemd_messages(spark, sf_dir):
    return _systemd(spark, sf_dir).select(
        "url", "log_level", "log_unit", "log_message", "log_timestamp"
    )


def q_intrusion_log(spark, sf_dir):
    return _intrusion(spark, sf_dir)


def q_enriched_export(spark, sf_dir):
    return _enriched(spark, sf_dir, how="left").select(
        "service", "server", "datetime", "host", "username", "code", "country"
    )


def q_per_country(spark, sf_dir):
    from security_log_analysis_rust_spark.pipeline.aggregate import per_country_counts

    return per_country_counts(_enriched(spark, sf_dir, how="inner"))


def q_per_country_recent(spark, sf_dir):
    from security_log_analysis_rust_spark.pipeline.aggregate import per_country_counts

    return per_country_counts(
        _enriched(spark, sf_dir, how="inner"),
        service="ssh",
        server=SERVERS[0],
        ndays=NDAYS,
        as_of=AS_OF,
    )


def q_top10_countries(spark, sf_dir):
    from security_log_analysis_rust_spark.pipeline.aggregate import top_k_countries

    return top_k_countries(_enriched(spark, sf_dir, how="inner"), k=10)


def q_per_host(spark, sf_dir):
    from security_log_analysis_rust_spark.pipeline.aggregate import per_host_counts

    return per_host_counts(_intrusion(spark, sf_dir))


def q_per_host_salted(spark, sf_dir):
    """Same result as per_host via the explicit two-stage salted aggregation
    (north_rule skew handling) — checked against the same oracle."""
    from security_log_analysis_rust_spark.pipeline.aggregate import salted_count

    return salted_count(_intrusion(spark, sf_dir), key="host")


def q_per_day(spark, sf_dir):
    from security_log_analysis_rust_spark.pipeline.aggregate import per_day_counts

    return per_day_counts(_intrusion(spark, sf_dir))


def q_year_month(spark, sf_dir):
    from security_log_analysis_rust_spark.pipeline.aggregate import year_month_counts

    return year_month_counts(_intrusion(spark, sf_dir))


def q_dangling_hosts(spark, sf_dir):
    from security_log_analysis_rust_spark.pipeline.enrich import dangling_hosts

    hc, _ = _dims(spark, sf_dir)
    return dangling_hosts(_intrusion(spark, sf_dir), hc)


def q_watermarks(spark, sf_dir):
    return (
        _intrusion(spark, sf_dir)
        .groupBy("service", "server")
        .agg(F.max("datetime").alias("max_datetime"))
    )


def q_overall_watermark(spark, sf_dir):
    intr = _intrusion(spark, sf_dir)
    per = (
        intr.filter(F.col("service").isin("ssh", "nginx"))
        .groupBy("server", "service")
        .agg(F.max("datetime").alias("mx"))
    )
    return per.groupBy("server").agg(F.min("mx").alias("watermark"))


def q_pagination(spark, sf_dir):
    from security_log_analysis_rust_spark.pipeline.aggregate import paginate

    return paginate(_intrusion(spark, sf_dir), offset=50, limit=25)


# --- testdata-table queries (events / documents / embeddings) ---------------

def q_events_daily(spark, sf_dir):
    return (
        _evtbl(spark, sf_dir)
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("count"))
    )


def q_events_user_first(spark, sf_dir):
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        _evtbl(spark, sf_dir)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("ts").alias("first_ts"),
            F.col("event_type").alias("first_type"),
        )
    )


def q_events_type_stats(spark, sf_dir):
    return _evtbl(spark, sf_dir).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("count"),
        F.round(F.sum("value"), 3).alias("sum_value"),
        F.round(F.min("value"), 3).alias("min_value"),
        F.round(F.max("value"), 3).alias("max_value"),
    )


SESSION_GAP_MIN = 30


def q_events_sessions(spark, sf_dir):
    """Gap-based sessionization (classic log-pipeline op): a new session
    starts when a user's inter-event gap exceeds SESSION_GAP_MIN minutes.
    One shuffle on user_id; both windows share the same partitioning."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # ts is TIMESTAMP_NTZ; route through timestamp for the epoch-seconds cast
    epoch = F.col("ts").cast("timestamp").cast("long")
    gap_s = epoch - F.lag(epoch).over(w)
    new_s = F.when(
        gap_s.isNull() | (gap_s > SESSION_GAP_MIN * 60), 1
    ).otherwise(0)
    running = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        _evtbl(spark, sf_dir)
        .withColumn("__new", new_s)
        .withColumn("session_no", F.sum("__new").over(running).cast("int"))
        .select("user_id", "event_id", "ts", "session_no")
    )


def q_events_quantiles(spark, sf_dir):
    """Exact per-type value quantiles (percentile = sort + linear
    interpolation, the quantile_cont definition)."""
    def q(p, name):
        return F.round(F.percentile("value", F.lit(p)), 6).alias(name)

    return _evtbl(spark, sf_dir).groupBy("event_type").agg(
        q(0.5, "p50"), q(0.9, "p90"), q(0.99, "p99")
    )


def q_docs_token_stats(spark, sf_dir):
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.size(F.split(F.trim("text"), r"\s+")).alias("n_tokens"),
        F.length("text").cast("int").alias("n_chars"),
    )


#: BPE-ish pre-tokenization classes (the GPT-2 pre-tokenizer's letter-run /
#: digit-run / punctuation-run split, reduced to a regex subset that Java
#: regex (Spark) and RE2 (DuckDB) interpret identically)
BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def q_docs_token_bpe(spark, sf_dir):
    """Token counting, BPE-ish: counts pre-tokenizer units rather than
    whitespace words — the number an LLM-training cost estimate wants."""
    toks = F.regexp_extract_all("text", F.lit(BPE_TOKEN_RE), 0)
    return _docs(spark, sf_dir).select(
        "doc_id", F.size(toks).alias("n_bpe_tokens")
    )


#: winnowing parameters (Schleimer et al., SIGMOD'03): char k-grams, window w
WINNOW_K = 8
WINNOW_W = 4


def q_docs_winnow(spark, sf_dir):
    """Rolling-hash document fingerprints via winnowing (SIGMOD'03) —
    implementation in textops.winnow: 40-bit md5 gram hashes, 20-bit
    shard-local position packing (exact rightmost-min tie-break via a plain
    array_min), transparent sharding for docs beyond the position range.
    The oracle mirrors packing AND sharding."""
    from security_log_analysis_rust_spark.textops.winnow import winnow_fingerprints

    docs = _spread_small_input(_docs(spark, sf_dir))
    return winnow_fingerprints(docs, k=WINNOW_K, w=WINNOW_W)


def q_docs_fingerprint(spark, sf_dir):
    norm = F.regexp_replace(F.lower(F.trim("text")), r"\s+", " ")
    return _docs(spark, sf_dir).select("doc_id", F.md5(norm).alias("fingerprint"))


def q_docs_exact_dedup(spark, sf_dir):
    fp = F.md5(F.substring("text", 1, 80))
    return (
        _docs(spark, sf_dir)
        .groupBy(fp.alias("prefix_fp"))
        .agg(
            F.count(F.lit(1)).alias("dup_count"),
            F.min("doc_id").alias("representative"),
        )
    )


def _marker_count(p: str):
    """Occurrences of the space-padded word ``p`` in the lower-cased
    ``text``, itself padded with a space at each end."""
    t = F.concat(F.lit(" "), F.lower("text"), F.lit(" "))
    return (
        (F.length(t) - F.length(F.replace(t, F.lit(p), F.lit(" "))))
        / (len(p) - 1)
    ).cast("int")


def _langid_scores():
    """The (en, de, fr) marker-word scores of ``text``."""
    return tuple(
        _marker_count(a) + _marker_count(b) + _marker_count(c)
        for a, b, c in (
            (" the ", " and ", " of "),
            (" der ", " und ", " die "),
            (" le ", " et ", " la "),
        )
    )


def _quality_parts():
    """(n_tokens, stopword_count, punct_count) of ``text``: whitespace
    tokens, ``the`` markers, and characters neither alphanumeric nor
    space."""
    n = F.size(F.split(F.trim("text"), r"\s+"))
    punct = F.length(F.regexp_replace("text", r"[a-zA-Z0-9\s]", "")).cast("int")
    return n, _marker_count(" the "), punct


def _quality_gate(n, stop, punct):
    """The heuristic quality gate over :func:`_quality_parts`."""
    return (n >= 5) & (punct * 5 < n) & (stop > 0)


def _dup_2gram_frac(toks):
    """Fraction of the adjacent token pairs of the array ``toks`` that
    repeat an earlier pair (0 for fewer than two tokens)."""
    bi = F.zip_with(
        F.slice(toks, 1, F.size(toks) - 1),
        F.slice(toks, 2, F.size(toks) - 1),
        lambda a, b: F.concat(a, F.lit("\x01"), b),
    )
    return F.when(F.size(toks) <= 1, F.lit(0.0)).otherwise(
        F.round(1 - F.size(F.array_distinct(bi)) / (F.size(toks) - 1), 6)
    )


def q_docs_langid(spark, sf_dir):
    en, de, fr = _langid_scores()
    df = _docs(spark, sf_dir).select(
        "doc_id", en.alias("en_score"), de.alias("de_score"), fr.alias("fr_score")
    )
    guess = (
        F.when(
            (F.col("en_score") >= F.col("de_score"))
            & (F.col("en_score") >= F.col("fr_score")),
            "en",
        )
        .when(F.col("de_score") >= F.col("fr_score"), "de")
        .otherwise("fr")
    )
    return df.select("doc_id", "en_score", "de_score", "fr_score", guess.alias("guess_lang"))


def q_docs_quality(spark, sf_dir):
    n, stop, punct = _quality_parts()
    df = _docs(spark, sf_dir).select(
        "doc_id",
        n.alias("n_tokens"),
        stop.alias("stopword_count"),
        punct.alias("punct_count"),
    )
    return df.withColumn(
        "is_quality",
        _quality_gate(
            F.col("n_tokens"), F.col("stopword_count"), F.col("punct_count")
        ),
    )


def q_docs_repetition(spark, sf_dir):
    """Repetition signals (Gopher-style quality filters, Rae et al. 2021):
    per doc the type-token ratio, the most-frequent-token mass, and the
    duplicate-2-gram fraction — the standard screens for degenerate /
    looping text in a training corpus.

    Scale: the token mode is an explode + two hash aggregates (map-side
    combining both times; NEVER a per-doc quadratic HOF over the token
    array), and the 2-gram stats are linear-size array expressions. One
    narrow shuffle on (doc_id, tok), one on doc_id."""
    docs = _spread_small_input(_docs(spark, sf_dir))
    toks = F.split(F.lower(F.trim("text")), r"\s+")
    arr = docs.select("doc_id", toks.alias("toks"))
    bi_stats = arr.select(
        "doc_id", _dup_2gram_frac(F.col("toks")).alias("dup_2gram_frac")
    )
    tc = (
        arr.select("doc_id", F.explode("toks").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per = tc.groupBy("doc_id").agg(
        F.sum("c").cast("int").alias("n_tokens"),
        F.count(F.lit(1)).cast("int").alias("n_distinct_tokens"),
        F.max("c").alias("__top"),
    )
    return per.join(bi_stats, "doc_id").select(
        "doc_id",
        "n_tokens",
        "n_distinct_tokens",
        F.round(F.col("n_distinct_tokens") / F.col("n_tokens"), 6).alias("ttr"),
        F.round(F.col("__top") / F.col("n_tokens"), 6).alias("top_token_frac"),
        "dup_2gram_frac",
    )


def q_docs_contamination(spark, sf_dir):
    """Cross-document shingle-sharing score (the train/test-decontamination
    signal, e.g. GPT-3 appendix C / PaLM dedup reports): for each doc, the
    fraction of its distinct word-3-gram shingles that also appear in at
    least one OTHER document.

    Scale: shingle document-frequency is one hash aggregate over the
    exploded shingles (map-side combining); the per-doc fraction is a
    second aggregate — no self-join, no pair blowup, linear in corpus
    shingle volume."""
    sh = _doc_shingles(_docs(spark, sf_dir))
    # examined r6, left as a join: replacing df_counts+join with a
    # collect_list-and-explode would save the second shingle pass locally
    # but loses the map-side-combined count AND AQE's skew-join handling —
    # a boilerplate shingle would buffer all its occurrences in one task.
    # The join is the skew-safe 100 TB shape.
    df_counts = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    return (
        sh.join(df_counts, "sh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_shingles"),
            F.sum((F.col("df") > 1).cast("int")).cast("int").alias("shared_shingles"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "shared_shingles",
            F.round(F.col("shared_shingles") / F.col("n_shingles"), 6).alias(
                "shared_frac"
            ),
        )
    )


#: docs_training_corpus repetition thresholds — sited from the sf0.01
#: signal distribution (top_token_frac p90 ~ 0.14, dup_2gram_frac p90 ~
#: 0.065) so the filters actually bite on the synthetic corpus; a real
#: deployment would tune these per-corpus exactly the same way.
TRAIN_TOP_TOKEN_MAX = 0.12
TRAIN_DUP_2GRAM_MAX = 0.05


def q_docs_training_corpus(spark, sf_dir):
    """The END-TO-END data-pipeline query: raw corpus in, training-ready
    corpus out. Composes the full filter stack the way a real run would —
    language ID == 'en', heuristic quality gate, repetition screens
    (top-token mass, duplicate-2-gram fraction), and near-dup removal
    (keep-min-per-cluster over the MinHash-LSH components).

    Scale: each stage is the already-scale-audited operator; the
    composition is four inner joins on doc_id (all shuffle on the same key
    — AQE coalesces) over per-doc signal frames that are tiny relative to
    the text itself."""
    kept = q_docs_dedup_kept(spark, sf_dir)

    # r6: the three signal frames (langid == 'en', quality gate, repetition
    # screens) used to be three INDEPENDENT scans of the documents table
    # joined back on doc_id, with the repetition branch alone costing an
    # explode + two shuffled aggregates + a join (plans/r06/
    # training_corpus_before.txt). Every signal the composition filters on
    # is a pure per-doc function of the text, so the whole stack is fused
    # into ONE map-only pass over one scan. Row-for-row equivalence with
    # the joined formulation (verified by xxhash64 set-equality at sf0.01 /
    # sf0.1 and the unchanged DuckDB oracle):
    #
    # * langid: ``guess_lang == 'en'`` iff ``en >= de AND en >= fr`` (the
    #   first WHEN branch; null scores fall through to 'fr' there and to a
    #   null predicate here — dropped either way);
    # * quality: ``is_quality`` copied verbatim;
    # * repetition: ``top_token_frac`` needs the mode count that
    #   ``q_docs_repetition`` gets from the (doc_id, tok) aggregate — but
    #   max-count == max run length of the SORTED token array, a linear
    #   fold (O(n log n) sort per doc, all JVM, no shuffle); ``n_tokens``
    #   (the exploded-token count) == size(toks); ``dup_2gram_frac`` is
    #   copied verbatim. Docs with NULL text have no repetition row (the
    #   explode drops them, so the inner join dropped them) — here every
    #   predicate is null on null text and the barrier drops them too.
    #
    # Rows drop at an explode-barrier, as in pipeline/parse.py, so the
    # token split is evaluated once per doc.
    from security_log_analysis_rust_spark.textops.util import explode_barrier

    d = _spread_small_input(_docs(spark, sf_dir))
    en, de, fr = _langid_scores()
    lang_ok = (en >= de) & (en >= fr)
    qual_ok = _quality_gate(*_quality_parts())

    toks = F.col("__toks")
    dup2 = _dup_2gram_frac(toks)

    def _run(acc, x):
        return F.when(x == acc["prev"], acc["run"] + F.lit(1)).otherwise(
            F.lit(1)
        )

    top = F.aggregate(
        F.array_sort(toks),
        F.struct(
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
            F.lit(None).cast("string").alias("prev"),
        ),
        lambda acc, x: F.struct(
            _run(acc, x).alias("run"),
            F.greatest(acc["best"], _run(acc, x)).alias("best"),
            x.alias("prev"),
        ),
        lambda acc: acc["best"],
    )
    rep_ok = (F.round(top / F.size(toks), 6) <= TRAIN_TOP_TOKEN_MAX) & (
        dup2 <= TRAIN_DUP_2GRAM_MAX
    )

    sig = (
        d.withColumn("__lq", lang_ok & qual_ok)
        .withColumn("__toks", F.split(F.lower(F.trim("text")), r"\s+"))
        .withColumn("__keep", explode_barrier(F.col("__lq") & rep_ok))
        .select("doc_id", "source", "n_chars")
    )
    return sig.join(kept, "doc_id").select("doc_id", "source", "n_chars")


#: unanchored IPv4 for in-text scrubbing — a regex subset Java regex
#: (Spark) and RE2 (DuckDB) interpret identically (incl. \b)
_IPV4_INLINE = (
    r"\b((25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\.){3}"
    r"(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\b"
)
_USER_INLINE = r"Invalid user \S+"


def q_pages_pii_scrub(spark, sf_dir):
    """PII redaction over the raw pages (a standard pre-training scrub
    pass): count and replace embedded IPv4 addresses and 'Invalid user
    <name>' tokens, emitting per-page match counts plus the md5 of the
    scrubbed text (so the oracle certifies the REPLACEMENT bytes, not just
    the counts). Pure JVM regexp expressions — a map-only stage at any
    scale."""
    text = F.coalesce(F.col("text"), F.lit(""))
    scrubbed = F.regexp_replace(
        F.regexp_replace(text, _IPV4_INLINE, "<IP>"),
        _USER_INLINE,
        "Invalid user <USER>",
    )
    return _pages(spark, sf_dir).select(
        "url",
        F.size(F.regexp_extract_all(text, F.lit(_IPV4_INLINE), 0)).alias("n_ipv4"),
        F.size(F.regexp_extract_all(text, F.lit(_USER_INLINE), 0)).alias("n_users"),
        F.md5(scrubbed).alias("scrub_md5"),
    )


def q_corpus_vocab_topk(spark, sf_dir):
    """Corpus-wide vocabulary head: the 100 most frequent whitespace tokens
    with counts — the first statistic a tokenizer-training run computes.
    One explode + hash aggregate (map-side combining), deterministic order
    (count desc, token asc)."""
    toks = F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("tok")
    return (
        _spread_small_input(_docs(spark, sf_dir))
        .select(toks)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("tok"))
        .limit(100)
    )


def q_docs_split(spark, sf_dir):
    """Deterministic hash-based train/val/test assignment (98/1/1): the
    reproducible split every dataset build needs — a doc's split depends
    only on its id (stable across runs, machines, and re-shards), via an
    md5-derived uniform bucket in [0, 10000). No sampling state, no
    ordering dependence; at 100 TB this is a pure map."""
    bucket = (
        F.conv(F.substring(F.md5(F.concat(F.col("doc_id").cast("string"),
                                          F.lit(":split"))), 1, 8), 16, 10)
        .cast("long") % 10000
    )
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.when(bucket < 9800, "train")
        .when(bucket < 9900, "val")
        .otherwise("test")
        .alias("split"),
    )


def q_corpus_source_stats(spark, sf_dir):
    """Per-source corpus accounting (the dataset-card numbers): doc count,
    char volume, mean/min/max doc length per source shard."""
    return _docs(spark, sf_dir).groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


#: document-frequency cap for the shingle self-join: a shingle present in
#: more than DF_CAP documents is boilerplate and would contribute |df|^2
#: candidate rows (the hot-shingle quadratic blowup). Dropping it bounds the
#: join's per-key fan-out; the oracle applies the identical cap. Recall
#: contract: intersections are counted over sub-cap shingles only, while set
#: sizes stay exact — pairs held together ONLY by boilerplate shingles are
#: not reported.
JACCARD_DF_CAP = 100


def _group_pairs(grouped_ids):
    """All ordered (a_id < b_id) pairs within one group's sorted id array —
    the self-join-free candidate generator: ``groupBy(key).collect_list``
    then explode C(n,2) combinations. Group size is bounded (DF cap /
    LSH-bucket size), so the explode is bounded too; vs a key self-join this
    saves one full shuffle + the join itself."""
    return F.flatten(
        F.transform(
            grouped_ids,
            lambda x, i: F.transform(
                F.slice(grouped_ids, i + 2, F.size(grouped_ids)),
                lambda y: F.struct(x.alias("a_id"), y.alias("b_id")),
            ),
        )
    )


def q_docs_jaccard_pairs(spark, sf_dir):
    # r6 (guide §2.3 "shuffle keys and metadata instead of payloads"): each
    # shingle row carries its doc's shingle count (sz == size of the
    # distinct-shingle array, the value the former separate groupBy pass
    # computed by re-exploding and re-shuffling the whole shingle table),
    # and the count rides through the group/pair pipeline — the sza/szb
    # joins disappear entirely. sz is a pure function of doc_id, so
    # grouping pairs by (id, sz) pairs groups exactly like (id) alone, and
    # array_sort on (doc_id, sz) structs orders by doc_id exactly as the
    # plain id sort did (ids are distinct within a shingle group).
    # the shingle array is built ONCE per doc behind a generated-output
    # barrier: explode(array(expr)) emits the array as a GENERATED value,
    # so the size() projection and the row explode below both read an
    # attribute, and any inferred/inferred-join filter binds to that
    # attribute instead of being re-substituted down to the scan
    arrays = _doc_token_arrays(_docs(spark, sf_dir)).select(
        "doc_id", F.explode(F.array(_doc_shingle_expr())).alias("__sh_arr")
    )
    sh = arrays.select(
        "doc_id",
        F.size("__sh_arr").cast("long").alias("sz"),
        F.explode("__sh_arr").alias("sh"),
    )
    # ONE shuffle on the shingle key; df >= 2 is a pure optimization
    # (singleton shingles can't pair), df <= JACCARD_DF_CAP is the semantic
    # cap mirrored by the oracle (bounds the C(df,2) explode per shingle).
    groups = (
        sh.groupBy("sh")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("doc_id", "sz"))
            ).alias("ids")
        )
        .filter((F.size("ids") >= 2) & (F.size("ids") <= JACCARD_DF_CAP))
    )
    inter = (
        groups.select(F.explode(_group_pairs(F.col("ids"))).alias("p"))
        .groupBy(
            F.col("p.a_id.doc_id").alias("a_id"),
            F.col("p.a_id.sz").alias("sza"),
            F.col("p.b_id.doc_id").alias("b_id"),
            F.col("p.b_id.sz").alias("szb"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.withColumn("uni", F.col("sza") + F.col("szb") - F.col("inter"))
        .filter(F.col("inter") * 2 >= F.col("uni"))  # jaccard >= 0.5, exact ints
        .select("a_id", "b_id", "inter", "uni")
    )


def q_docs_minhash_lsh(spark, sf_dir):
    """MinHash-LSH candidate pairs: 8 minhashes (4 bands of 2) derived from
    ONE md5 per shingle.

    All 8 signature mins come from a single groupBy pass (8 min-aggregates,
    map-side combining) over ONE 128-bit hash per shingle: minhash *s* is
    the DISJOINT 4-hex-char (16-bit) window of md5(sh) at offset 4s — the
    standard one-hash-many-slices trick, 8x fewer hash evaluations than
    per-seed hashing (the hash dominated the query's cost). Disjoint slices
    of a strong hash are independent uniform draws, so a band of 2 collides
    with probability ~J^2 as LSH theory requires (overlapping windows would
    correlate the minhashes and collide with probability ~J, inflating false
    candidates). No seed explode, no broadcast of the corpus-sized bucket
    frame."""
    sh = _doc_shingles(_docs(spark, sf_dir))
    # project the hash ONCE per row; the 8 aggregates only slice it
    # (an expression inside each agg would be re-evaluated 8x).
    # The mins aggregate NUMERICALLY (r6): a string-typed min buffer forces
    # SortAggregate (two full sorts of the shingle table); a long buffer
    # gets HashAggregate. Fixed-width lowercase hex orders identically to
    # its numeric value (0-9 < a-f in ASCII), so min-as-long == min-as-
    # string, and lower(lpad(hex(...))) reconstructs the exact 4-char
    # slice the band key concatenates — buckets are bit-identical.
    hashed = sh.select("doc_id", F.md5(F.col("sh")).alias("h"))
    sig = hashed.groupBy("doc_id").agg(
        *[
            F.min(
                F.conv(F.substring(F.col("h"), 4 * s + 1, 4), 16, 10).cast(
                    "long"
                )
            ).alias(f"mh{s}")
            for s in range(8)
        ]
    )

    def _mh_str(s: int):
        return F.lower(F.lpad(F.hex(F.col(f"mh{s}")), 4, "0"))

    buckets = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(band).alias("band"),
                        F.md5(
                            F.concat_ws(
                                "|", _mh_str(2 * band), _mh_str(2 * band + 1)
                            )
                        ).alias("bucket"),
                    )
                    for band in range(4)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")
    # candidate pairs via within-bucket combinations (no self-join):
    # bucket members are near-dup clusters, so C(n,2) per bucket is small
    return (
        buckets.groupBy("band", "bucket")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") >= 2)
        .select(F.explode(_group_pairs(F.col("ids"))).alias("p"))
        .select(F.col("p.a_id").alias("a_id"), F.col("p.b_id").alias("b_id"))
        .distinct()
    )


def q_docs_dup_clusters(spark, sf_dir):
    """Near-dup CLUSTERS over the minhash-LSH pair graph: every doc labeled
    with the min doc_id of its duplicate component (pairs are transitive —
    the keep-one-per-cluster step a real dedup pipeline needs after
    candidate generation). Singletons label themselves."""
    from security_log_analysis_rust_spark.textops.cluster import (
        connected_components,
    )

    pairs = q_docs_minhash_lsh(spark, sf_dir)
    docs = _docs(spark, sf_dir).select("doc_id")
    return connected_components(docs, pairs)


def q_docs_dedup_kept(spark, sf_dir):
    """The deduplicated corpus: doc ids that survive keep-min-per-cluster
    over the minhash near-dup components — corpus in, cleaned corpus out,
    the end product of the dedup stack."""
    cc = q_docs_dup_clusters(spark, sf_dir)
    return cc.filter(F.col("cluster_id") == F.col("doc_id")).select("doc_id")


def q_emb_top1(spark, sf_dir):
    """Top-1 cosine neighbor per vector on the SCALE path: auto-sized LSH
    with k=1 (bucketed candidates, per-bucket kernel, no corpus-sized
    broadcast) — the plan you'd run at 100x. The exact all-pairs baseline
    it approximates is kept beside it as ``emb_top1_exact``."""
    from security_log_analysis_rust_spark.textops.ann import lsh_topk

    return lsh_topk(
        _emb(spark, sf_dir), k=1, n_bits=None, n_tables=ANN_TABLES,
        target_bucket=ANN_AUTO_TARGET, bank_bits=ANN_MAX_BITS,
        n_vectors=_emb_count(spark, sf_dir), dim=EMB_DIM,
    ).select("vec_id", "neighbor_id", "sim")


def q_emb_top1_exact(spark, sf_dir):
    """Brute-force cosine top-1 neighbor per vector (exact ANN baseline).

    The broadcast of the candidate side is intrinsic to an exact all-pairs
    baseline (every probe must see every candidate; the only other physical
    strategy is a cartesian shuffle, which is strictly worse) — it is NOT
    the scale path; it exists as the recall yardstick for ``emb_top1`` and
    the top-k LSH/IVF paths."""
    emb = _emb(spark, sf_dir)
    vec = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    base = emb.select("vec_id", vec.alias("v"))
    a = base.select(F.col("vec_id").alias("a_id"), F.col("v").alias("va"))
    b = base.select(F.col("vec_id").alias("b_id"), F.col("v").alias("vb"))
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = lambda c: F.sqrt(
        F.aggregate(
            F.transform(F.col(c), lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
        )
    )
    # spread the probe side across cores; the candidate side broadcasts
    # (BroadcastNestedLoopJoin), so the N x N pair explosion parallelizes
    pairs = (
        a.repartition(spark.sparkContext.defaultParallelism)
        .join(F.broadcast(b), F.col("a_id") != F.col("b_id"))
        .select(
            "a_id",
            "b_id",
            F.round(dot / (norm("va") * norm("vb")), 6).alias("sim"),
        )
    )
    w = Window.partitionBy("a_id").orderBy(F.desc("sim"), F.asc("b_id"))
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(F.col("a_id").alias("vec_id"), F.col("b_id").alias("neighbor_id"), "sim")
    )


# --- simhash / ANN (oracle-paired since r2; shared literal constants only) --

#: fixed parameters shared by the Spark queries and their oracles
SIMHASH_BANDS = 8
SIMHASH_RADIUS = 6
#: per-(band, key) bucket cap for simhash near-dups (recall contract: pairs
#: held together ONLY by over-cap buckets are not reported; mirrored in the
#: oracle). See textops.simhash.DEFAULT_BUCKET_CAP.
SIMHASH_BUCKET_CAP = 2000
ANN_K = 5
ANN_BITS = 4
ANN_TABLES = 8
EMB_DIM = 64


def q_docs_simhash(spark, sf_dir):
    from security_log_analysis_rust_spark.textops.simhash import simhash

    return simhash(_docs(spark, sf_dir))


def q_docs_simhash_dups(spark, sf_dir):
    from security_log_analysis_rust_spark.textops.simhash import simhash_near_dups

    # word-soup synthetic docs share vocabulary heavily, so distances are
    # compressed; a tight radius keeps this a near-dup (not near-half) result
    return simhash_near_dups(
        _docs(spark, sf_dir), max_hamming=SIMHASH_RADIUS,
        n_bands=SIMHASH_BANDS, bucket_cap=SIMHASH_BUCKET_CAP,
    )


def q_emb_topk_bruteforce(spark, sf_dir):
    from security_log_analysis_rust_spark.textops.ann import brute_force_topk

    return brute_force_topk(_emb(spark, sf_dir), k=ANN_K)


def q_emb_topk_lsh(spark, sf_dir):
    from security_log_analysis_rust_spark.textops.ann import lsh_topk

    return lsh_topk(
        _emb(spark, sf_dir), k=ANN_K, n_bits=ANN_BITS, n_tables=ANN_TABLES,
        dim=EMB_DIM,
    )


#: auto-sized ANN contract: plane BANK size (literals shared with the
#: oracle regardless of the resolved bit count) and the expected-bucket
#: target. The target is scaled down from the 4096 production default so the
#: auto path RESOLVES DIFFERENTLY from the pinned ANN_BITS=4 demo at test
#: scale (500 vectors / 16 -> 5 bits) — the oracle derives the same count
#: from the corpus size, so the derivation itself is correctness-gated.
ANN_MAX_BITS = 12
ANN_AUTO_TARGET = 16


def q_emb_topk_lsh_auto(spark, sf_dir):
    """The configuration you'd actually run at scale: bit count grows with
    log2(N) (textops.ann.auto_n_bits) so expected bucket size stays bounded;
    planes come from a fixed bank so the literals are reproducible."""
    from security_log_analysis_rust_spark.textops.ann import lsh_topk

    return lsh_topk(
        _emb(spark, sf_dir), k=ANN_K, n_bits=None, n_tables=ANN_TABLES,
        target_bucket=ANN_AUTO_TARGET, bank_bits=ANN_MAX_BITS,
        n_vectors=_emb_count(spark, sf_dir), dim=EMB_DIM,
    )


IVF_CENTROIDS = 16
IVF_PROBE = 4
NEAR_DUP_SIM = 0.35


def q_emb_near_dups(spark, sf_dir):
    """Embedding near-dup pairs, BOTH configurations in one result: the
    pinned-bit demo and the auto-sized (corpus-derived bit count) scale
    path, labeled by a ``variant`` column. One query certifies both code
    paths — the driver's correctness artifact caps at 50 rows, so the
    pinned/auto twins share a row instead of losing one (r4 shipped 51
    registered queries and the 51st silently had no row)."""
    from security_log_analysis_rust_spark.textops.ann import lsh_near_dups

    emb = _emb(spark, sf_dir)
    pinned = lsh_near_dups(
        emb, threshold=NEAR_DUP_SIM,
        n_bits=ANN_BITS, n_tables=ANN_TABLES, dim=EMB_DIM,
    ).select(F.lit("pinned").alias("variant"), "a_id", "b_id", "sim")
    auto = lsh_near_dups(
        emb, threshold=NEAR_DUP_SIM, n_bits=None,
        n_tables=ANN_TABLES, target_bucket=ANN_AUTO_TARGET,
        bank_bits=ANN_MAX_BITS,
        n_vectors=_emb_count(spark, sf_dir), dim=EMB_DIM,
    ).select(F.lit("auto").alias("variant"), "a_id", "b_id", "sim")
    return pinned.unionAll(auto)


def q_emb_topk_ivf(spark, sf_dir):
    """IVF top-k, BOTH configurations in one result (``variant`` column):
    the pinned 16-centroid demo and the auto-sized scale path (list count
    ~sqrt(N), textops.ann.auto_n_centroids — resolves to 32 at 500 vectors
    vs the pinned 16; the oracle derives the identical count from the
    corpus). Merged for the same 50-row driver-cap reason as
    ``q_emb_near_dups``."""
    from security_log_analysis_rust_spark.textops.ann import ivf_topk

    emb = _emb(spark, sf_dir)
    pinned = ivf_topk(
        emb, k=ANN_K, n_centroids=IVF_CENTROIDS, n_probe=IVF_PROBE
    ).select(F.lit("pinned").alias("variant"), "vec_id", "neighbor_id", "rank", "sim")
    auto = ivf_topk(
        emb, k=ANN_K, n_centroids=None, n_probe=IVF_PROBE,
        n_vectors=_emb_count(spark, sf_dir),
    ).select(F.lit("auto").alias("variant"), "vec_id", "neighbor_id", "rank", "sim")
    return pinned.unionAll(auto)


# --------------------------------------------------------------------------
# contract functions
# --------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full parse -> enrich -> dedup -> per-country counts at sf0.001."""
    return q_per_country(spark, "/root/testdata/sf0.001")


#: the driver's correctness artifact records at most this many rows: r4
#: registered 51 queries and CORRECTNESS_r04.json carried exactly 50 rows,
#: with the 51st-indexed query (emb_near_dups_auto) absent — not failed,
#: absent. Registering past the cap silently un-tests the tail, so
#: queries() asserts the bound (pinned/auto ANN twins are merged under a
#: `variant` column instead of holding separate slots).
DRIVER_QUERY_CAP = 50


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q = _queries_dict()
    assert len(q) <= DRIVER_QUERY_CAP, (
        f"{len(q)} queries registered but the driver records only "
        f"{DRIVER_QUERY_CAP} correctness rows — merge or drop before adding"
    )
    return q


def _queries_dict() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "ssh_events": q_ssh_events,
        "apache_events": q_apache_events,
        "journald_events": q_journald_events,
        "journald_running_totals": q_journald_running_totals,
        "systemd_messages": q_systemd_messages,
        "intrusion_log": q_intrusion_log,
        "enriched_export": q_enriched_export,
        "per_country": q_per_country,
        "per_country_recent": q_per_country_recent,
        "top10_countries": q_top10_countries,
        "per_host": q_per_host,
        "per_host_salted": q_per_host_salted,
        "per_day": q_per_day,
        "year_month": q_year_month,
        "dangling_hosts": q_dangling_hosts,
        "watermarks": q_watermarks,
        "overall_watermark": q_overall_watermark,
        "pagination": q_pagination,
        "events_daily": q_events_daily,
        "events_user_first": q_events_user_first,
        "events_type_stats": q_events_type_stats,
        "events_sessions": q_events_sessions,
        "events_quantiles": q_events_quantiles,
        "docs_token_stats": q_docs_token_stats,
        "docs_token_bpe": q_docs_token_bpe,
        "docs_fingerprint": q_docs_fingerprint,
        "docs_winnow": q_docs_winnow,
        "docs_exact_dedup": q_docs_exact_dedup,
        "docs_langid": q_docs_langid,
        "docs_quality": q_docs_quality,
        "docs_repetition": q_docs_repetition,
        "docs_contamination": q_docs_contamination,
        "docs_training_corpus": q_docs_training_corpus,
        "docs_split": q_docs_split,
        "pages_pii_scrub": q_pages_pii_scrub,
        "corpus_vocab_topk": q_corpus_vocab_topk,
        "corpus_source_stats": q_corpus_source_stats,
        "docs_jaccard_pairs": q_docs_jaccard_pairs,
        "docs_minhash_lsh": q_docs_minhash_lsh,
        "docs_dup_clusters": q_docs_dup_clusters,
        "docs_dedup_kept": q_docs_dedup_kept,
        "emb_top1": q_emb_top1,
        "emb_top1_exact": q_emb_top1_exact,
        "docs_simhash": q_docs_simhash,
        "docs_simhash_dups": q_docs_simhash_dups,
        "emb_topk_bruteforce": q_emb_topk_bruteforce,
        "emb_topk_lsh": q_emb_topk_lsh,
        "emb_topk_lsh_auto": q_emb_topk_lsh_auto,
        "emb_topk_ivf": q_emb_topk_ivf,
        "emb_near_dups": q_emb_near_dups,
    }


# --------------------------------------------------------------------------
# DuckDB oracle SQL (independent implementation of the same semantics)
# --------------------------------------------------------------------------

_IPV4 = (
    r"^((25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\.){3}"
    r"(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])$"
)

# NOTE: literal '{' appears in SQL; the template is joined with .replace(),
# not str.format, to avoid brace escaping.
_PIPELINE_CTE = r"""
WITH pages AS (SELECT * FROM read_parquet('@PAGES@/*.parquet')),
lines AS (
  SELECT url, warc_ts, year(warc_ts) AS yr,
         CASE WHEN substr(md5(url),32,1) IN ('0','1','2','3','4','5','6','7')
              THEN 'home.ddboline.net' ELSE 'cloud.ddboline.net' END AS server,
         unnest(string_split(coalesce(text,''), chr(10))) AS line
  FROM pages
),
cls AS (
  SELECT *,
    (starts_with(line,'{') AND contains(line,'__REALTIME_TIMESTAMP')) AS is_j,
    (contains(line,'sshd') AND contains(line,'Invalid user')) AS is_ssh
  FROM lines
),
ssh_tok AS (
  SELECT url, server, yr, line, string_split_regex(trim(line),'\s+') AS toks
  FROM cls WHERE NOT is_j AND is_ssh
),
ssh_msg AS (
  SELECT url, server,
    try_strptime(toks[1]||' '||toks[2]||' '||CAST(yr AS VARCHAR)||' '||toks[3],
                 '%b %d %Y %H:%M:%S') AS datetime,
    string_split(string_split(line, 'Invalid user ')[2], ' from ') AS seg
  FROM ssh_tok WHERE len(toks) >= 10
),
ssh_ev AS (
  SELECT url, 'ssh' AS service, server, datetime,
         substr(trim(string_split(seg[2], 'port')[1]), 1, 60) AS host,
         substr(seg[1], 1, 15) AS username
  FROM ssh_msg
  WHERE datetime IS NOT NULL AND seg[2] IS NOT NULL
    AND contains(substr(trim(string_split(seg[2],'port')[1]),1,60), '.')
),
ap_tok AS (
  SELECT url, server, line, string_split_regex(trim(line),'\s+') AS toks
  FROM cls WHERE NOT is_j AND NOT is_ssh
),
ap_ev AS (
  SELECT url, 'apache' AS service, server,
    timezone('UTC', strptime(replace(replace(toks[4]||toks[5],'[',''),']',''),
                             '%d/%b/%Y:%H:%M:%S%z')) AS datetime,
    substr(toks[1],1,60) AS host,
    CAST(NULL AS VARCHAR) AS username
  FROM ap_tok
  WHERE len(toks) >= 5 AND contains(substr(toks[1],1,60),'.')
    AND try_strptime(replace(replace(toks[4]||toks[5],'[',''),']',''),
                     '%d/%b/%Y:%H:%M:%S%z') IS NOT NULL
),
j_ok AS (
  -- CASE-guard keeps json_extract_string from ever touching non-JSON lines
  -- (DuckDB may evaluate scan projections before the is_j filter)
  SELECT url, server, line,
    json_extract_string(CASE WHEN is_j THEN line END, '$.MESSAGE') AS msg,
    json_extract_string(CASE WHEN is_j THEN line END, '$.UNIT') AS unit,
    make_timestamp(TRY_CAST(json_extract_string(CASE WHEN is_j THEN line END,
        '$."__REALTIME_TIMESTAMP"') AS BIGINT)) AS jts
  FROM cls
  WHERE is_j
    AND NOT (contains(line,'kex_exchange_identification')
          OR contains(line,'error: maximum authentication attempts exceeded for invalid user')
          OR contains(line,'Disconnected from invalid user')
          OR contains(line,'Failed password for invalid user'))
    AND TRY_CAST(json_extract_string(CASE WHEN is_j THEN line END,
        '$."__REALTIME_TIMESTAMP"') AS BIGINT) IS NOT NULL
),
jssh_msg AS (
  SELECT url, server, jts,
         string_split(string_split(msg,'Invalid user ')[2], ' from ') AS seg
  FROM j_ok WHERE contains(line, 'Invalid user ')
),
jssh_ev AS (
  SELECT url, 'ssh' AS service, server, jts AS datetime,
    substr(trim(string_split(seg[2],'port')[1]),1,60) AS host,
    substr(seg[1],1,15) AS username
  FROM jssh_msg
  WHERE seg[2] IS NOT NULL
    AND contains(substr(trim(string_split(seg[2],'port')[1]),1,60),'.')
),
jng AS (
  SELECT url, server, jts, line, msg, unit,
         string_split_regex(trim(coalesce(msg,'')),'\s+') AS mtoks
  FROM j_ok WHERE NOT contains(line,'Invalid user ')
),
jng_ev AS (
  SELECT url, 'nginx' AS service, server, jts AS datetime,
         substr(mtoks[3],1,60) AS host, CAST(NULL AS VARCHAR) AS username
  FROM jng
  WHERE contains(line,'nginx') AND len(mtoks) >= 3
    AND regexp_matches(substr(mtoks[3],1,60), '@IPV4@')
),
sysd AS (
  SELECT url,
    CASE WHEN contains(line,'err') OR contains(line,'ERR') THEN 'error'
         WHEN contains(line,'warn') OR contains(line,'WARN') THEN 'warn'
         WHEN contains(line,'info') OR contains(line,'INFO') THEN 'info'
         WHEN contains(line,'debug') OR contains(line,'DEBUG') THEN 'debug'
    END AS log_level,
    unit AS log_unit, msg AS log_message, jts AS log_timestamp
  FROM jng
  WHERE NOT (contains(line,'nginx') AND len(mtoks) >= 3
             AND regexp_matches(substr(mtoks[3],1,60), '@IPV4@'))
    AND (contains(line,'err') OR contains(line,'ERR')
         OR contains(line,'warn') OR contains(line,'WARN')
         OR contains(line,'info') OR contains(line,'INFO')
         OR contains(line,'debug') OR contains(line,'DEBUG'))
),
events AS (
  SELECT * FROM ssh_ev UNION ALL SELECT * FROM ap_ev
  UNION ALL SELECT * FROM jssh_ev UNION ALL SELECT * FROM jng_ev
),
intrusion AS (
  SELECT service, server, datetime, host, username FROM (
    SELECT *, row_number() OVER (
        PARTITION BY service, server, datetime, host
        ORDER BY username ASC NULLS FIRST, url ASC) AS rn
    FROM events) t WHERE rn = 1
),
hc AS (SELECT * FROM read_parquet('@HC@')),
cc AS (SELECT * FROM read_parquet('@CC@'))
"""

_DOC_SHINGLE_CTE = r"""
WITH toksrc AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\W+') AS toks
  FROM documents
),
shing AS (
  SELECT doc_id, unnest(list_distinct(
    CASE WHEN len(toks) >= 3
         THEN list_transform(range(1, len(toks) - 1),
                             i -> toks[i]||' '||toks[i+1]||' '||toks[i+2])
         ELSE [] END)) AS sh
  FROM toksrc
)
"""


def _docs_minhash_sql() -> str:
    return _DOC_SHINGLE_CTE + (
        ", sig AS (SELECT doc_id, t.s, "
        "min(substr(md5(sh), CAST(4 * t.s + 1 AS INT), 4)) AS mh "
        "FROM shing, range(8) t(s) GROUP BY doc_id, t.s), "
        "bands AS (SELECT doc_id, CAST(floor(s / 2) AS INT) AS band, "
        "md5(string_agg(mh, '|' ORDER BY s)) AS bucket "
        "FROM sig GROUP BY doc_id, CAST(floor(s / 2) AS INT)) "
        "SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id "
        "FROM bands a JOIN bands b "
        "ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id"
    )


def _docs_dup_clusters_sql() -> str:
    """Independent CC implementation: recursive min-label reachability over
    the same minhash pair graph (walk carries every reachable id; min per
    node = the component representative)."""
    return (
        "WITH RECURSIVE pairs AS (" + _docs_minhash_sql() + "), "
        "edges AS (SELECT a_id AS src, b_id AS dst FROM pairs "
        "UNION SELECT b_id AS src, a_id AS dst FROM pairs), "
        "walk(node, r) AS (SELECT doc_id AS node, doc_id AS r FROM documents "
        "UNION SELECT e.dst AS node, w.r FROM edges e "
        "JOIN walk w ON e.src = w.node) "
        "SELECT node AS doc_id, min(r) AS cluster_id FROM walk GROUP BY node"
    )


def _simhash_sig_cte() -> str:
    """DuckDB CTEs computing the same 64-bit simhash as textops.simhash:
    md5 token hash split into two 32-bit halves (hex cast), 64 sign-sums,
    signature assembled via HUGEINT and converted to the signed long."""
    bit_sums = ", ".join(
        f"sum(CASE WHEN (({'lo' if i < 32 else 'hi'} >> {i % 32}) & 1) = 1 "
        f"THEN 1 ELSE -1 END) AS b{i}"
        for i in range(64)
    )
    huge = " + ".join(
        f"CASE WHEN b{i} > 0 THEN CAST('{1 << i}' AS HUGEINT) "
        "ELSE CAST('0' AS HUGEINT) END"
        for i in range(64)
    )
    signed = (
        "CASE WHEN u >= CAST('9223372036854775808' AS HUGEINT) "
        "THEN u - CAST('18446744073709551616' AS HUGEINT) ELSE u END"
    )
    return (
        r"WITH tok AS (SELECT doc_id, unnest(list_distinct("
        r"string_split_regex(lower(trim(text)), '\W+'))) AS tok FROM documents), "
        "th AS (SELECT doc_id, "
        "TRY_CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) AS hi, "
        "TRY_CAST('0x' || substr(md5(tok), 9, 8) AS BIGINT) AS lo "
        "FROM tok WHERE length(tok) > 0), "
        f"bits AS (SELECT doc_id, {bit_sums} FROM th GROUP BY doc_id), "
        f"hsum AS (SELECT doc_id, {huge} AS u FROM bits), "
        f"sig AS (SELECT doc_id, CAST({signed} AS BIGINT) AS simhash FROM hsum)"
    )


def _simhash_dups_sql() -> str:
    """Mirror of textops.simhash.near_dups_from_sigs: combination-block keys
    (every r=2 pair of 8-bit blocks -> 16-bit keys, Manku WWW'07) and the
    same over-cap bucket drop (SIMHASH_BUCKET_CAP)."""
    from security_log_analysis_rust_spark.textops.simhash import band_combos

    width = 64 // SIMHASH_BANDS
    band_rows = ", ".join(
        f"({ci}, CAST('{1 << (combo[0] * width)}' AS HUGEINT), "
        f"CAST('{1 << (combo[1] * width)}' AS HUGEINT))"
        for ci, combo in enumerate(band_combos(SIMHASH_BANDS, SIMHASH_RADIUS))
    )
    blk = "CAST((u // {d}) % {m} AS BIGINT)".format
    key = (
        f"{blk(d='d1', m=1 << width)} * {1 << width} + {blk(d='d2', m=1 << width)}"
    )
    return _simhash_sig_cte() + (
        ", uns AS (SELECT doc_id, simhash, CASE WHEN simhash < 0 "
        "THEN CAST(simhash AS HUGEINT) + CAST('18446744073709551616' AS HUGEINT) "
        "ELSE CAST(simhash AS HUGEINT) END AS u FROM sig), "
        f"bd(band, d1, d2) AS (VALUES {band_rows}), "
        "bands AS (SELECT doc_id, simhash, band, "
        f"{key} AS key FROM uns CROSS JOIN bd), "
        "bc AS (SELECT band, key, count(*) AS n FROM bands GROUP BY 1, 2), "
        "bok AS (SELECT bands.* FROM bands JOIN bc USING (band, key) "
        f"WHERE bc.n <= {SIMHASH_BUCKET_CAP}), "
        "cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id, "
        "a.simhash AS sa, b.simhash AS sb FROM bok a JOIN bok b "
        "ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id) "
        "SELECT a_id, b_id, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming "
        f"FROM cand WHERE bit_count(xor(sa, sb)) <= {SIMHASH_RADIUS}"
    )


def _docs_winnow_sql() -> str:
    """Mirror of textops.winnow.winnow_fingerprints: shard offsets (overlap
    k+w-2), per-shard 40-bit-md5 x 20-bit-position packed keys, window mins,
    DISTINCT across shards."""
    from security_log_analysis_rust_spark.textops.winnow import POS_MOD, SHARD_CHARS

    ov = WINNOW_K + WINNOW_W - 2
    step = SHARD_CHARS - ov
    return (
        f"WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents "
        f"WHERE length(text) >= {ov + 1}), "
        f"shards AS (SELECT doc_id, text, n, "
        f"unnest(range(0, greatest(n - {ov}, 1), {step})) AS o FROM d), "
        "ks AS (SELECT doc_id, list_transform("
        f"range(1, least({SHARD_CHARS}, n - o) - {WINNOW_K} + 2), "
        f"p -> TRY_CAST('0x' || substr(md5(substr(text, CAST(o + p AS INT), {WINNOW_K})), 1, 10) "
        f"AS BIGINT) * {POS_MOD} + ({POS_MOD - 1} - p)) AS keys FROM shards), "
        "mins AS (SELECT doc_id, list_transform("
        f"range(1, len(keys) - {WINNOW_W} + 2), "
        f"j -> list_min(keys[CAST(j AS INT):CAST(j + {WINNOW_W} - 1 AS INT)]) // {POS_MOD}) AS fps "
        "FROM ks) "
        "SELECT DISTINCT doc_id, fp FROM "
        "(SELECT doc_id, unnest(fps) AS fp FROM mins) t"
    )


_EMB_V_CTE = (
    "WITH v AS (SELECT vec_id, "
    "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings)"
)

_EMB_SIM = (
    "round(list_sum(list_transform(list_zip(a.e, b.e), z -> z[1] * z[2])) / "
    "(sqrt(list_sum(list_transform(a.e, x -> x * x))) * "
    "sqrt(list_sum(list_transform(b.e, x -> x * x)))), 6)"
)


def _emb_topk_bruteforce_sql() -> str:
    return _EMB_V_CTE + (
        f", pairs AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id, {_EMB_SIM} AS sim "
        "FROM v a, v b WHERE a.vec_id != b.vec_id) "
        "SELECT a_id AS vec_id, b_id AS neighbor_id, CAST(rn AS INT) AS rank, sim "
        "FROM (SELECT *, row_number() OVER (PARTITION BY a_id "
        "ORDER BY sim DESC, b_id ASC) AS rn FROM pairs) t "
        f"WHERE rn <= {ANN_K}"
    )


def _lsh_bucket_cte(auto_target: int | None = None) -> str:
    """Shared CTEs: v + seeded hyperplane literals + per-(tbl) buckets —
    same constants as textops.ann.seeded_planes (shared deterministic
    literals; independent implementations).

    ``auto_target``: mirror the auto-sized path — embed the full
    ANN_MAX_BITS plane bank and derive the live bit count from the corpus
    size inside SQL (least(greatest(4, ceil(log2(N / target))), bank) =
    textops.ann.auto_n_bits capped at the bank, exactly as lsh_topk caps
    it), filtering the bank to the first n bits. The least() keeps the
    pairing contract exact at EVERY corpus size — past the bank's design
    range both sides degrade to bank_bits together."""
    from security_log_analysis_rust_spark.textops.ann import seeded_planes

    gen_bits = ANN_MAX_BITS if auto_target else ANN_BITS
    planes = seeded_planes(ANN_TABLES, gen_bits, EMB_DIM, seed=7)
    rows = ", ".join(
        f"({t}, {b}, CAST([{', '.join(repr(x) for x in planes[t][b])}] AS DOUBLE[]))"
        for t in range(ANN_TABLES)
        for b in range(gen_bits)
    )
    nb_cte, bit_filter = "", ""
    if auto_target:
        nb_cte = (
            ", nb AS (SELECT least(greatest(4, CAST(ceil(log2("
            f"greatest(count(*), 1) / {auto_target}.0)) AS INT)), "
            f"{ANN_MAX_BITS}) AS n FROM embeddings)"
        )
        bit_filter = " WHERE bit < (SELECT n FROM nb)"
    return _EMB_V_CTE + nb_cte + (
        f", planes(tbl, bit, plane) AS (VALUES {rows}), "
        "bits AS (SELECT vec_id, tbl, CASE WHEN "
        "list_sum(list_transform(list_zip(e, plane), z -> z[1] * z[2])) > 0 "
        f"THEN (1 << bit) ELSE 0 END AS bv FROM v CROSS JOIN planes{bit_filter}), "
        "buckets AS (SELECT vec_id, tbl, CAST(sum(bv) AS BIGINT) AS bucket "
        "FROM bits GROUP BY 1, 2)"
    )


def _emb_topk_lsh_sql(auto_target: int | None = None, k: int = ANN_K,
                      with_rank: bool = True) -> str:
    """``k``/``with_rank`` parametrize the top-1 flavor (emb_top1 is the
    auto-sized LSH path at k=1, rank column dropped to keep the historical
    top1 shape)."""
    rank_col = "CAST(rn AS INT) AS rank, " if with_rank else ""
    return _lsh_bucket_cte(auto_target) + (
        ", cand AS (SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id "
        "FROM buckets a JOIN buckets b ON a.tbl = b.tbl AND a.bucket = b.bucket "
        "AND a.vec_id != b.vec_id), "
        f"sims AS (SELECT a_id, b_id, {_EMB_SIM} AS sim FROM cand "
        "JOIN v a ON cand.a_id = a.vec_id JOIN v b ON cand.b_id = b.vec_id) "
        f"SELECT a_id AS vec_id, b_id AS neighbor_id, {rank_col}sim "
        "FROM (SELECT *, row_number() OVER (PARTITION BY a_id "
        "ORDER BY sim DESC, b_id ASC) AS rn FROM sims) t "
        f"WHERE rn <= {k}"
    )


def _emb_near_dups_sql(auto_target: int | None = None) -> str:
    return _lsh_bucket_cte(auto_target) + (
        ", cand AS (SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id "
        "FROM buckets a JOIN buckets b ON a.tbl = b.tbl AND a.bucket = b.bucket "
        "AND a.vec_id < b.vec_id) "
        f"SELECT a_id, b_id, {_EMB_SIM} AS sim FROM cand "
        "JOIN v a ON cand.a_id = a.vec_id JOIN v b ON cand.b_id = b.vec_id "
        f"WHERE {_EMB_SIM} >= {NEAR_DUP_SIM}"
    )


def _emb_topk_ivf_sql(auto: bool = False) -> str:
    """IVF oracle: same md5-sampled centroids, rounded centroid ranking,
    n_probe lists, exact cosine within probed lists. ``auto`` mirrors
    textops.ann.auto_n_centroids — the list count is derived from the
    corpus size inside SQL."""
    seed = 7
    if auto:
        cent = (
            ", nc AS (SELECT greatest(16, CAST(pow(2, ceil(log2(ceil(sqrt("
            "greatest(count(*), 1)))))) AS INT)) AS n FROM embeddings), "
            "cent AS (SELECT cvid, cv, CAST(rn - 1 AS INT) AS cid FROM ("
            "SELECT vec_id AS cvid, e AS cv, row_number() OVER (ORDER BY "
            f"md5(CAST(vec_id AS VARCHAR) || ':{seed}'), vec_id) AS rn FROM v) t "
            "WHERE rn <= (SELECT n FROM nc)), "
        )
    else:
        cent = (
            ", cent AS (SELECT vec_id AS cvid, e AS cv, "
            f"CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR) || ':{seed}'), "
            f"vec_id) - 1 AS INT) AS cid FROM v "
            f"ORDER BY md5(CAST(vec_id AS VARCHAR) || ':{seed}'), vec_id "
            f"LIMIT {IVF_CENTROIDS}), "
        )
    return _EMB_V_CTE + cent + (
        "scored AS (SELECT v.vec_id, cent.cid, "
        "round(list_sum(list_transform(list_zip(v.e, cent.cv), z -> z[1] * z[2])) / "
        "(sqrt(list_sum(list_transform(v.e, x -> x * x))) * "
        "sqrt(list_sum(list_transform(cent.cv, x -> x * x)))), 6) AS csim "
        "FROM v CROSS JOIN cent), "
        "ranked AS (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id "
        "ORDER BY csim DESC, cid ASC) AS crank FROM scored), "
        "members AS (SELECT cid, vec_id FROM ranked WHERE crank = 1), "
        f"probes AS (SELECT cid, vec_id FROM ranked WHERE crank <= {IVF_PROBE}), "
        "cand AS (SELECT DISTINCT p.vec_id AS a_id, m.vec_id AS b_id "
        "FROM probes p JOIN members m ON p.cid = m.cid AND p.vec_id != m.vec_id), "
        f"sims AS (SELECT a_id, b_id, {_EMB_SIM} AS sim FROM cand "
        "JOIN v a ON cand.a_id = a.vec_id JOIN v b ON cand.b_id = b.vec_id) "
        "SELECT a_id AS vec_id, b_id AS neighbor_id, CAST(rn AS INT) AS rank, sim "
        "FROM (SELECT *, row_number() OVER (PARTITION BY a_id "
        "ORDER BY sim DESC, b_id ASC) AS rn FROM sims) t "
        f"WHERE rn <= {ANN_K}"
    )


_LANGID_SQL = (
            "WITH t AS (SELECT doc_id, ' '||lower(text)||' ' AS s FROM documents), "
            "sc AS (SELECT doc_id, "
            "CAST((length(s)-length(replace(s,' the ',' ')))/4 "
            " + (length(s)-length(replace(s,' and ',' ')))/4 "
            " + (length(s)-length(replace(s,' of ',' ')))/3 AS INT) AS en_score, "
            "CAST((length(s)-length(replace(s,' der ',' ')))/4 "
            " + (length(s)-length(replace(s,' und ',' ')))/4 "
            " + (length(s)-length(replace(s,' die ',' ')))/4 AS INT) AS de_score, "
            "CAST((length(s)-length(replace(s,' le ',' ')))/3 "
            " + (length(s)-length(replace(s,' et ',' ')))/3 "
            " + (length(s)-length(replace(s,' la ',' ')))/3 AS INT) AS fr_score "
            "FROM t) "
            "SELECT doc_id, en_score, de_score, fr_score, "
            "CASE WHEN en_score >= de_score AND en_score >= fr_score THEN 'en' "
            "WHEN de_score >= fr_score THEN 'de' ELSE 'fr' END AS guess_lang FROM sc"
)

_QUALITY_SQL = (
            r"WITH q AS (SELECT doc_id, "
            r"CAST(len(string_split_regex(trim(text), '\s+')) AS INT) AS n_tokens, "
            "CAST((length(' '||lower(text)||' ') - "
            "length(replace(' '||lower(text)||' ', ' the ', ' ')))/4 AS INT) "
            "AS stopword_count, "
            r"CAST(length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) AS INT) "
            "AS punct_count FROM documents) "
            "SELECT doc_id, n_tokens, stopword_count, punct_count, "
            "(n_tokens >= 5 AND punct_count * 5 < n_tokens AND stopword_count > 0) "
            "AS is_quality FROM q"
)

_REPETITION_SQL = (
            r"WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), "
            r"'\s+') AS l FROM documents), "
            "tok AS (SELECT doc_id, unnest(l) AS tok FROM t), "
            "tc AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY 1, 2), "
            "per AS (SELECT doc_id, CAST(sum(c) AS INT) AS n_tokens, "
            "CAST(count(*) AS INT) AS n_distinct_tokens, max(c) AS top_cnt "
            "FROM tc GROUP BY 1), "
            "bi AS (SELECT doc_id, CASE WHEN len(l) <= 1 THEN 0.0 ELSE "
            "round(1 - len(list_distinct(list_transform(range(1, len(l)), "
            "i -> l[i] || chr(1) || l[i+1]))) / CAST(len(l) - 1 AS DOUBLE), 6) "
            "END AS dup_2gram_frac FROM t) "
            "SELECT p.doc_id, p.n_tokens, p.n_distinct_tokens, "
            "round(p.n_distinct_tokens / CAST(p.n_tokens AS DOUBLE), 6) AS ttr, "
            "round(p.top_cnt / CAST(p.n_tokens AS DOUBLE), 6) AS top_token_frac, "
            "b.dup_2gram_frac "
            "FROM per p JOIN bi b ON p.doc_id = b.doc_id"
)


def _pipeline_sql(select: str) -> str:
    from security_log_analysis_rust_spark.synth import ensure_synthetic

    paths = ensure_synthetic(ORACLE_SF_DIR)
    return (
        (_PIPELINE_CTE + select)
        .replace("@PAGES@", paths["pages"])
        .replace("@HC@", paths["host_country"])
        .replace("@CC@", paths["country_code"])
        .replace("@IPV4@", _IPV4)
    )


def oracle_sql() -> dict[str, str]:
    P = _pipeline_sql
    recent = (
        f"a.service = 'ssh' AND a.server = '{SERVERS[0]}' "
        f"AND a.datetime >= (DATE '{AS_OF}' - INTERVAL {NDAYS} DAY)"
    )
    return {
        "ssh_events": P(
            "SELECT url, service, server, datetime, host, username FROM ssh_ev"
        ),
        "apache_events": P(
            "SELECT url, service, server, datetime, host, username FROM ap_ev"
        ),
        "journald_events": P(
            "SELECT url, service, server, datetime, host, username FROM jssh_ev "
            "UNION ALL SELECT url, service, server, datetime, host, username FROM jng_ev"
        ),
        "journald_running_totals": P(
            "SELECT host, datetime, COUNT(*) OVER ("
            "PARTITION BY host ORDER BY datetime "
            "RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
            ") AS running_total FROM ("
            "SELECT host, datetime FROM jssh_ev "
            "UNION ALL SELECT host, datetime FROM jng_ev)"
        ),
        "systemd_messages": P(
            "SELECT url, log_level, log_unit, log_message, log_timestamp FROM sysd"
        ),
        "intrusion_log": P("SELECT * FROM intrusion"),
        "enriched_export": P(
            "SELECT a.service, a.server, a.datetime, a.host, a.username, b.code, c.country "
            "FROM intrusion a LEFT JOIN hc b ON a.host = b.host "
            "LEFT JOIN cc c ON b.code = c.code"
        ),
        "per_country": P(
            "SELECT c.country, count(*) AS count "
            "FROM intrusion a JOIN hc b ON a.host = b.host JOIN cc c ON b.code = c.code "
            "GROUP BY c.country"
        ),
        "per_country_recent": P(
            "SELECT c.country, count(*) AS count "
            "FROM intrusion a JOIN hc b ON a.host = b.host JOIN cc c ON b.code = c.code "
            f"WHERE {recent} GROUP BY c.country"
        ),
        "top10_countries": P(
            "SELECT c.country, count(*) AS count "
            "FROM intrusion a JOIN hc b ON a.host = b.host JOIN cc c ON b.code = c.code "
            "GROUP BY c.country ORDER BY count DESC, c.country ASC LIMIT 10"
        ),
        "per_host": P(
            "SELECT host, count(*) AS count FROM intrusion GROUP BY host"
        ),
        "per_host_salted": P(
            "SELECT host, count(*) AS count FROM intrusion GROUP BY host"
        ),
        "per_day": P(
            "SELECT CAST(datetime AS DATE) AS day, count(*) AS count "
            "FROM intrusion GROUP BY 1"
        ),
        "year_month": P(
            "SELECT CAST(year(datetime) AS INT) AS year, "
            "CAST(month(datetime) AS INT) AS month, count(*) AS count "
            "FROM intrusion GROUP BY 1, 2"
        ),
        "dangling_hosts": P(
            "SELECT DISTINCT a.host FROM intrusion a "
            "LEFT JOIN hc b ON a.host = b.host WHERE b.host IS NULL"
        ),
        "watermarks": P(
            "SELECT service, server, max(datetime) AS max_datetime "
            "FROM intrusion GROUP BY 1, 2"
        ),
        "overall_watermark": P(
            "SELECT server, min(mx) AS watermark FROM ("
            "SELECT server, service, max(datetime) AS mx FROM intrusion "
            "WHERE service IN ('ssh','nginx') GROUP BY 1, 2) t GROUP BY server"
        ),
        "pagination": P(
            "SELECT * FROM intrusion "
            "ORDER BY datetime DESC, host ASC, service ASC, server ASC "
            "LIMIT 25 OFFSET 50"
        ),
        "events_daily": (
            "SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS count "
            "FROM events GROUP BY 1, 2"
        ),
        "events_user_first": (
            "SELECT user_id, ts AS first_ts, event_type AS first_type FROM ("
            "SELECT *, row_number() OVER (PARTITION BY user_id "
            "ORDER BY ts ASC, event_id ASC) AS rn FROM events) t WHERE rn = 1"
        ),
        "events_type_stats": (
            "SELECT event_type, count(*) AS count, "
            "round(sum(value), 3) AS sum_value, "
            "round(min(value), 3) AS min_value, "
            "round(max(value), 3) AS max_value "
            "FROM events GROUP BY event_type"
        ),
        "events_sessions": (
            "WITH g AS (SELECT user_id, event_id, ts, "
            "CASE WHEN lag(ts) OVER w IS NULL OR "
            f"epoch(ts) - epoch(lag(ts) OVER w) > {SESSION_GAP_MIN * 60} "
            "THEN 1 ELSE 0 END AS new_s FROM events "
            "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)) "
            "SELECT user_id, event_id, ts, CAST(sum(new_s) OVER ("
            "PARTITION BY user_id ORDER BY ts, event_id "
            "ROWS UNBOUNDED PRECEDING) AS INT) AS session_no FROM g"
        ),
        "events_quantiles": (
            "SELECT event_type, "
            "round(quantile_cont(value, 0.5), 6) AS p50, "
            "round(quantile_cont(value, 0.9), 6) AS p90, "
            "round(quantile_cont(value, 0.99), 6) AS p99 "
            "FROM events GROUP BY event_type"
        ),
        "docs_token_stats": (
            r"SELECT doc_id, CAST(len(string_split_regex(trim(text), '\s+')) AS INT) "
            "AS n_tokens, CAST(length(text) AS INT) AS n_chars FROM documents"
        ),
        "docs_token_bpe": (
            r"SELECT doc_id, CAST(len(regexp_extract_all(text, "
            r"'[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INT) AS n_bpe_tokens "
            "FROM documents"
        ),
        "docs_fingerprint": (
            r"SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) "
            "AS fingerprint FROM documents"
        ),
        "docs_winnow": _docs_winnow_sql(),
        "docs_exact_dedup": (
            "SELECT md5(substr(text, 1, 80)) AS prefix_fp, count(*) AS dup_count, "
            "min(doc_id) AS representative FROM documents GROUP BY 1"
        ),
        "docs_langid": _LANGID_SQL,
        "docs_quality": _QUALITY_SQL,
        "docs_repetition": _REPETITION_SQL,
        "docs_training_corpus": (
            "SELECT d.doc_id, d.source, d.n_chars FROM documents d "
            "JOIN (SELECT doc_id FROM (" + _docs_dup_clusters_sql() + ") t "
            "WHERE cluster_id = doc_id) kept ON d.doc_id = kept.doc_id "
            "JOIN (SELECT doc_id FROM (" + _LANGID_SQL + ") l "
            "WHERE guess_lang = 'en') lang ON d.doc_id = lang.doc_id "
            "JOIN (SELECT doc_id FROM (" + _QUALITY_SQL + ") q "
            "WHERE is_quality) qual ON d.doc_id = qual.doc_id "
            "JOIN (SELECT doc_id FROM (" + _REPETITION_SQL + ") r "
            f"WHERE top_token_frac <= {TRAIN_TOP_TOKEN_MAX} "
            f"AND dup_2gram_frac <= {TRAIN_DUP_2GRAM_MAX}) rep "
            "ON d.doc_id = rep.doc_id"
        ),
        "docs_contamination": _DOC_SHINGLE_CTE + (
            ", freq AS (SELECT sh, count(*) AS df FROM shing GROUP BY 1) "
            "SELECT s.doc_id, CAST(count(*) AS INT) AS n_shingles, "
            "CAST(sum(CASE WHEN f.df > 1 THEN 1 ELSE 0 END) AS INT) "
            "AS shared_shingles, "
            "round(sum(CASE WHEN f.df > 1 THEN 1 ELSE 0 END) / "
            "CAST(count(*) AS DOUBLE), 6) AS shared_frac "
            "FROM shing s JOIN freq f ON s.sh = f.sh GROUP BY s.doc_id"
        ),
        "pages_pii_scrub": P(
            "SELECT url, "
            f"CAST(len(regexp_extract_all(coalesce(text, ''), '{_IPV4_INLINE}')) AS INT) AS n_ipv4, "
            f"CAST(len(regexp_extract_all(coalesce(text, ''), '{_USER_INLINE}')) AS INT) AS n_users, "
            "md5(regexp_replace(regexp_replace(coalesce(text, ''), "
            f"'{_IPV4_INLINE}', '<IP>', 'g'), "
            f"'{_USER_INLINE}', 'Invalid user <USER>', 'g')) AS scrub_md5 "
            "FROM pages"
        ),
        "corpus_vocab_topk": (
            r"SELECT tok, count(*) AS cnt FROM (SELECT unnest("
            r"string_split_regex(lower(trim(text)), '\s+')) AS tok "
            "FROM documents) GROUP BY tok "
            "ORDER BY cnt DESC, tok ASC LIMIT 100"
        ),
        "docs_split": (
            "WITH b AS (SELECT doc_id, "
            "CAST(('0x' || substr(md5(doc_id::varchar || ':split'), 1, 8))"
            "::BIGINT AS BIGINT) % 10000 AS bucket FROM documents) "
            "SELECT doc_id, CASE WHEN bucket < 9800 THEN 'train' "
            "WHEN bucket < 9900 THEN 'val' ELSE 'test' END AS split FROM b"
        ),
        "corpus_source_stats": (
            # CAST the sum: DuckDB sums int32 into HUGEINT, which pandas
            # materializes as float64 — the driver's value hash then sees
            # 7949.0 vs Spark's 7949 (reference likewise casts counts to
            # i64: /root/reference/src/polars_analysis.rs:243-249)
            "SELECT source, count(*) AS n_docs, "
            "CAST(sum(n_chars) AS BIGINT) AS total_chars, "
            "round(avg(n_chars), 6) AS avg_chars, min(n_chars) AS min_chars, "
            "max(n_chars) AS max_chars FROM documents GROUP BY source"
        ),
        "docs_jaccard_pairs": _DOC_SHINGLE_CTE + (
            ", sizes AS (SELECT doc_id, count(*) AS sz FROM shing GROUP BY 1), "
            # document-frequency cap mirrors JACCARD_DF_CAP: intersections
            # count sub-cap shingles only; sizes stay exact
            "freq AS (SELECT sh, count(*) AS df FROM shing GROUP BY 1), "
            f"shk AS (SELECT s.doc_id, s.sh FROM shing s JOIN freq f "
            f"ON s.sh = f.sh WHERE f.df <= {JACCARD_DF_CAP}), "
            "pairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter "
            "FROM shk a JOIN shk b ON a.sh = b.sh AND a.doc_id < b.doc_id "
            "GROUP BY 1, 2) "
            "SELECT a_id, b_id, inter, sa.sz + sb.sz - inter AS uni "
            "FROM pairs JOIN sizes sa ON a_id = sa.doc_id "
            "JOIN sizes sb ON b_id = sb.doc_id "
            "WHERE inter * 2 >= sa.sz + sb.sz - inter"
        ),
        "docs_minhash_lsh": _docs_minhash_sql(),
        "docs_dup_clusters": _docs_dup_clusters_sql(),
        "docs_dedup_kept": (
            "SELECT doc_id FROM (" + _docs_dup_clusters_sql() + ") t "
            "WHERE cluster_id = doc_id"
        ),
        "emb_top1": _emb_topk_lsh_sql(
            auto_target=ANN_AUTO_TARGET, k=1, with_rank=False
        ),
        "emb_top1_exact": (
            "WITH v AS (SELECT vec_id, "
            "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings), "
            "pairs AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id, "
            "round(list_sum(list_transform(list_zip(a.e, b.e), "
            "z -> z[1] * z[2])) / "
            "(sqrt(list_sum(list_transform(a.e, x -> x * x))) * "
            "sqrt(list_sum(list_transform(b.e, x -> x * x)))), 6) AS sim "
            "FROM v a, v b WHERE a.vec_id != b.vec_id) "
            "SELECT a_id AS vec_id, b_id AS neighbor_id, sim FROM ("
            "SELECT *, row_number() OVER (PARTITION BY a_id "
            "ORDER BY sim DESC, b_id ASC) AS rn FROM pairs) t WHERE rn = 1"
        ),
        "docs_simhash": _simhash_sig_cte() + " SELECT doc_id, simhash FROM sig",
        "docs_simhash_dups": _simhash_dups_sql(),
        "emb_topk_bruteforce": _emb_topk_bruteforce_sql(),
        "emb_topk_lsh": _emb_topk_lsh_sql(),
        "emb_topk_lsh_auto": _emb_topk_lsh_sql(auto_target=ANN_AUTO_TARGET),
        # pinned/auto twins share one query (variant column) so the full
        # surface fits the driver's 50-row artifact cap — see queries()
        "emb_topk_ivf": (
            "SELECT 'pinned' AS variant, * FROM (" + _emb_topk_ivf_sql() + ") "
            "UNION ALL "
            "SELECT 'auto' AS variant, * FROM (" + _emb_topk_ivf_sql(auto=True) + ")"
        ),
        "emb_near_dups": (
            "SELECT 'pinned' AS variant, * FROM (" + _emb_near_dups_sql() + ") "
            "UNION ALL "
            "SELECT 'auto' AS variant, * FROM ("
            + _emb_near_dups_sql(auto_target=ANN_AUTO_TARGET) + ")"
        ),
    }
