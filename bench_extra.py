#!/usr/bin/env python3
"""Round-6 optimization instrumentation (bench.py is FROZEN for measurement;
this file holds the extra benchmarks the optimization guide §1 calls for).

Modes:

* ``--plans OUTDIR [--suffix before|after]`` — write ``.explain("formatted")``
  for every headline bench query (q1-q9) plus the heavy extras to
  ``OUTDIR/<query>_<suffix>.txt``.
* ``--isolate`` — time each headline query against the noop sink (guide
  §1.4: computes every column, discards the result; separates computation
  from the ``count()``/``collect()`` the frozen bench uses), best of
  ``--trials``. Prints one JSON line.
* ``--extras`` — time the non-headline bench extras (training corpus, c4,
  bloom, exactsubstr, semdedup, classifier, shard, html) exactly as the
  frozen bench invokes them, best of ``--trials``.

Every job is labeled via ``setJobDescription`` (guide §1.5).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)


def _spark(cpus: int, shuffle: int):
    from security_log_analysis_rust_spark.session import get_spark

    return get_spark(
        app_name=f"sla-bench-extra-{cpus}", cpus=cpus, shuffle_partitions=shuffle
    )


def _headline_queries(spark, sf_dir):
    """The same nine query DataFrames the frozen bench times, as thunks."""
    from pyspark.sql import functions as F  # noqa: F401

    import __spark_entry__ as E
    from security_log_analysis_rust_spark.pipeline.aggregate import (
        per_country_counts,
        per_day_counts,
        per_host_counts,
    )
    from security_log_analysis_rust_spark.pipeline.dims import read_dims
    from security_log_analysis_rust_spark.pipeline.enrich import enrich_events
    from security_log_analysis_rust_spark.pipeline.parse import extract_events
    from security_log_analysis_rust_spark.pipeline.route import dedup_intrusions
    from security_log_analysis_rust_spark.synth import ensure_synthetic

    paths = ensure_synthetic(sf_dir)
    pages = spark.read.parquet(paths["pages"])
    hc, cc = read_dims(spark, os.path.dirname(paths["host_country"]))
    out = extract_events(pages)
    events, systemd = out["events"], out["systemd"]
    return {
        "q1_parse_route": lambda: dedup_intrusions(events),
        "q2_per_country": lambda: per_country_counts(
            enrich_events(dedup_intrusions(events), hc, cc, how="inner")
        ),
        "q3_per_host": lambda: per_host_counts(events),
        "q4_per_day": lambda: per_day_counts(events),
        "q5_systemd_route": lambda: systemd,
        "q6_minhash_lsh": lambda: E.q_docs_minhash_lsh(spark, sf_dir),
        "q7_emb_top1": lambda: E.q_emb_top1(spark, sf_dir),
        "q8_jaccard": lambda: E.q_docs_jaccard_pairs(spark, sf_dir),
        "q9_ann_lsh": lambda: E.q_emb_topk_lsh(spark, sf_dir),
    }


def write_plans(spark, sf_dir: str, outdir: str, suffix: str) -> None:
    import contextlib
    import io

    os.makedirs(outdir, exist_ok=True)
    for name, thunk in _headline_queries(spark, sf_dir).items():
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            thunk().explain("formatted")
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(buf.getvalue())
        print(f"# wrote {path}", file=sys.stderr)


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def run_isolate(spark, sf_dir: str, trials: int) -> dict:
    qs = _headline_queries(spark, sf_dir)
    # warm python workers / shuffle machinery once (mirrors frozen bench)
    from pyspark.sql import functions as F

    spark.range(1).mapInPandas(lambda batches: batches, "id long").collect()
    spark.range(64).repartition(8).groupBy((F.col("id") % 4).alias("k")).count().collect()

    best: dict = {}
    samples: dict = {name: [] for name in qs}
    for _ in range(trials):
        for name, thunk in qs.items():
            spark.sparkContext.setJobDescription(f"isolate:{name}")
            t0 = time.time()
            _noop(thunk())
            dt = round(time.time() - t0, 3)
            samples[name].append(dt)
            best[name] = min(best.get(name, 1e9), dt)
            spark.sparkContext.setJobDescription(None)
    return {"best": best, "samples": samples, "total_best": round(sum(best.values()), 3)}


def run_extras(spark, sf_dir: str, trials: int) -> dict:
    """Time the frozen bench's extras exactly as bench.py invokes them."""
    from pyspark.sql import functions as F

    import __spark_entry__ as E
    from security_log_analysis_rust_spark.synth import ensure_synthetic
    from security_log_analysis_rust_spark.textops.bloom import (
        bloom_build,
        bloom_filter_new,
    )
    from security_log_analysis_rust_spark.textops.c4 import c4_clean
    from security_log_analysis_rust_spark.textops.classifier import (
        pareto_select,
        score_docs_classifier,
        train_classifier,
    )
    from security_log_analysis_rust_spark.textops.exactsubstr import (
        exact_substr_dedup,
    )
    from security_log_analysis_rust_spark.textops.html import extract_text
    from security_log_analysis_rust_spark.textops.semdedup import semdedup
    from security_log_analysis_rust_spark.textops.shard import shuffle_shards

    paths = ensure_synthetic(sf_dir)
    pages = spark.read.parquet(paths["pages"])
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    docs_src = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source", "text"
    )
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    n_emb = emb.count()
    raw = pages.select("url", "html")

    def x_training_corpus():
        return E.q_docs_training_corpus(spark, sf_dir).count()

    def x_c4():
        return c4_clean(
            pages.select("url", "text"), id_col="url", min_words=1, min_lines=1,
            require_terminal_punct=False, ban_brace=False, policy_markers=(),
        ).count()

    def x_bloom():
        fps = E.q_docs_fingerprint(spark, sf_dir).select("fingerprint")
        bloom = bloom_build(fps, "fingerprint", n_bits=1 << 20, k=5)
        return bloom_filter_new(fps, "fingerprint", bloom).count()

    def x_exactsubstr():
        return exact_substr_dedup(docs, min_len=3).agg(
            F.count("*"), F.sum("n_removed")
        ).collect()[0][0]

    def x_semdedup():
        return (
            semdedup(emb, threshold=0.35, n_centroids=None,
                     n_vectors=n_emb, target_cluster=256)
            .filter(~F.col("kept")).count()
        )

    def x_classifier():
        model = train_classifier(
            docs_src.withColumn(
                "label", F.col("source").isin("src0", "src1").cast("int")
            ),
            dim=4096, lr=2.0, iters=5, l2=1e-4,
        )
        return pareto_select(score_docs_classifier(docs_src, model)).count()

    def x_shard():
        return (
            shuffle_shards(pages, n_shards=64, id_col="url")
            .agg(F.count("*"), F.max("pos")).collect()[0][0]
        )

    def x_html():
        return extract_text(raw).agg(
            F.count("*"), F.sum(F.length("extracted_text"))
        ).collect()[0][0]

    extras = {
        "training_corpus": x_training_corpus,
        "c4_clean_pages": x_c4,
        "bloom_build_probe": x_bloom,
        "exactsubstr": x_exactsubstr,
        "semdedup": x_semdedup,
        "classifier_train_score": x_classifier,
        "shuffle_shard": x_shard,
        "html_extract": x_html,
    }
    best: dict = {}
    samples: dict = {name: [] for name in extras}
    values: dict = {}
    for _ in range(trials):
        for name, thunk in extras.items():
            spark.sparkContext.setJobDescription(f"extra:{name}")
            t0 = time.time()
            values[name] = thunk()
            dt = round(time.time() - t0, 3)
            samples[name].append(dt)
            best[name] = min(best.get(name, 1e9), dt)
            spark.sparkContext.setJobDescription(None)
    return {
        "best": best,
        "samples": samples,
        "values": values,
        "total_best": round(sum(best.values()), 3),
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    ap.add_argument(
        "--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    )
    ap.add_argument("--plans", default=None, help="write explain() files here")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--isolate", action="store_true")
    ap.add_argument("--extras", action="store_true")
    ap.add_argument("--trials", type=int, default=3)
    args = ap.parse_args()

    spark = _spark(args.cpus, shuffle=max(args.cpus, 16))
    try:
        if args.plans:
            write_plans(spark, args.sf_dir, args.plans, args.suffix)
        out = {"sf": os.path.basename(os.path.normpath(args.sf_dir))}
        if args.isolate:
            out["isolate"] = run_isolate(spark, args.sf_dir, args.trials)
        if args.extras:
            out["extras"] = run_extras(spark, args.sf_dir, args.trials)
        if args.isolate or args.extras:
            print(json.dumps(out))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
