#!/usr/bin/env python3
"""Benchmark harness.

Default: run the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
``/root/testdata/sf0.1``) on ``local[$SPARK_GRAFT_CPUS]`` and print ONE JSON
line::

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {...}, "sf": ..., "docs_per_sec": ..., "lines_per_sec": ...}

``--scaling``: run the same parse -> enrich -> route -> aggregate job at two
parallelism levels (local[8] vs local[32]) over an input replicated large
enough to be compute-bound, and report throughput at both plus scaling
efficiency (the in-sandbox stand-in for the north rule's N -> 4N executor
criterion). The job writes both sinks with the ingest's own writers
(``route.append_dedup`` into ``<tmp>/intrusion_log``, ``route.write_systemd``)
and reads the intrusion sink back through ``route.read_sink``.
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
        app_name=f"sla-bench-{cpus}", cpus=cpus, shuffle_partitions=shuffle
    )


def _pipeline_dfs(spark, sf_dir, replicate: int = 1):
    from security_log_analysis_rust_spark.pipeline.dims import read_dims
    from security_log_analysis_rust_spark.pipeline.parse import extract_events
    from security_log_analysis_rust_spark.synth import ensure_synthetic

    paths = ensure_synthetic(sf_dir)
    pages = spark.read.parquet(*([paths["pages"]] * replicate))
    hc, cc = read_dims(spark, os.path.dirname(paths["host_country"]))
    out = extract_events(pages)
    return pages, out["events"], out["systemd"], hc, cc


def run_headline(spark, sf_dir: str, trials: int = 2) -> dict:
    """Each query timed end-to-end (scan -> result); ``trials`` full passes,
    best per query kept (per-trial values reported alongside).

    Best-of-N exists because this VM's noise floor is documented at
    23 s -> 71 s for the same job (BENCH.md "Noise"); a single-trial
    artifact conflates machine weather with regressions (the r3 driver
    artifact did exactly that — judge replicate adjudicated it noise).
    Plans still run cold within each trial (nothing is persisted); trial 2
    reuses only JIT/daemon warmth, which is the steady state a long-running
    cluster actually sits in.
    """
    from pyspark.sql import functions as F

    from security_log_analysis_rust_spark.pipeline.aggregate import (
        per_country_counts,
        per_day_counts,
        per_host_counts,
    )
    from security_log_analysis_rust_spark.pipeline.enrich import enrich_events
    from security_log_analysis_rust_spark.pipeline.route import dedup_intrusions

    extras = {}
    pages, events, systemd, hc, cc = _pipeline_dfs(spark, sf_dir)
    extras["pages"] = pages.count()
    extras["lines"] = pages.select(
        F.sum(F.size(F.split(F.coalesce("text", F.lit("")), "\n")))
    ).collect()[0][0]

    # infra warmup: spin up the Arrow python workers (used by q9's
    # applyInPandas kernel; the parse path is pure JVM) and shuffle
    # machinery on ONE row so the timed queries measure the query, not
    # daemon fork + JIT; plans still run cold
    spark.range(1).mapInPandas(lambda batches: batches, "id long").collect()
    spark.range(64).repartition(8).groupBy((F.col("id") % 4).alias("k")).count().collect()

    import __spark_entry__ as E

    trial_times = []
    for _t in range(trials):
        times = {}

        def timed(name, fn, times=times):
            t0 = time.time()
            r = fn()
            times[name] = round(time.time() - t0, 3)
            return r

        # q1: full parse -> dedup -> intrusion_log rows (parse+route)
        extras["intrusion_rows"] = timed(
            "q1_parse_route", lambda: dedup_intrusions(events).count()
        )
        # q2: parse -> enrich -> per-country counts (the flagship A1)
        timed(
            "q2_per_country",
            lambda: per_country_counts(
                enrich_events(dedup_intrusions(events), hc, cc, how="inner")
            ).collect(),
        )
        # q3: per-host counts (skewed key aggregation)
        timed("q3_per_host", lambda: per_host_counts(events).collect())
        # q4: per-day counts
        timed("q4_per_day", lambda: per_day_counts(events).collect())
        # q5: systemd routing
        extras["systemd_rows"] = timed(
            "q5_systemd_route", lambda: systemd.count()
        )
        # q6-q9: training-data ops on the driver's testdata tables
        timed("q6_minhash_lsh", lambda: E.q_docs_minhash_lsh(spark, sf_dir).count())
        timed("q7_emb_top1", lambda: E.q_emb_top1(spark, sf_dir).count())
        timed("q8_jaccard", lambda: E.q_docs_jaccard_pairs(spark, sf_dir).count())
        # q9: the ANN scale path (LSH buckets -> per-bucket kernel -> merge)
        timed("q9_ann_lsh", lambda: E.q_emb_topk_lsh(spark, sf_dir).count())
        trial_times.append(times)

    # extra (NOT in the headline sum, to keep round-over-round totals
    # comparable): the composed end-to-end training-corpus pipeline
    t0 = time.time()
    extras["training_corpus_rows"] = E.q_docs_training_corpus(
        spark, sf_dir
    ).count()
    extras["training_corpus_sec"] = round(time.time() - t0, 3)

    # extras: corpus-global C4 line dedup over the raw pages (log mode) and
    # the Bloom incremental-dedup probe over document fingerprints
    from security_log_analysis_rust_spark.textops.bloom import (
        bloom_build,
        bloom_filter_new,
    )
    from security_log_analysis_rust_spark.textops.c4 import c4_clean

    t0 = time.time()
    extras["c4_clean_pages_rows"] = c4_clean(
        pages.select("url", "text"),
        id_col="url",
        min_words=1,
        min_lines=1,
        require_terminal_punct=False,
        ban_brace=False,
        policy_markers=(),
    ).count()
    extras["c4_clean_pages_sec"] = round(time.time() - t0, 3)

    t0 = time.time()
    fps = E.q_docs_fingerprint(spark, sf_dir).select("fingerprint")
    bloom = bloom_build(fps, "fingerprint", n_bits=1 << 20, k=5)
    extras["bloom_new_rows"] = bloom_filter_new(
        fps, "fingerprint", bloom
    ).count()  # self-probe: 0 by the no-false-negative guarantee
    extras["bloom_build_probe_sec"] = round(time.time() - t0, 3)

    # extras: ExactSubstr span dedup over documents and SemDeDup over the
    # embeddings table (auto-sized cluster count)
    from security_log_analysis_rust_spark.textops.exactsubstr import (
        exact_substr_dedup,
    )
    from security_log_analysis_rust_spark.textops.semdedup import semdedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    t0 = time.time()
    agg = exact_substr_dedup(docs, min_len=3).agg(
        F.count("*"), F.sum("n_removed")
    ).collect()[0]
    extras["exactsubstr_docs_rows"] = agg[0]
    extras["exactsubstr_tokens_removed"] = int(agg[1] or 0)
    extras["exactsubstr_sec"] = round(time.time() - t0, 3)

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    n_emb = emb.count()
    t0 = time.time()
    extras["semdedup_dropped"] = (
        semdedup(
            emb, threshold=0.35, n_centroids=None,
            n_vectors=n_emb, target_cluster=256,
        )
        .filter(~F.col("kept"))
        .count()
    )
    extras["semdedup_sec"] = round(time.time() - t0, 3)

    # extras: quality-classifier train+score+Pareto-select over documents,
    # and the deterministic shuffle-shard output step over the raw pages
    from security_log_analysis_rust_spark.textops.classifier import (
        pareto_select,
        score_docs_classifier,
        train_classifier,
    )
    from security_log_analysis_rust_spark.textops.shard import shuffle_shards

    docs_src = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source", "text"
    )
    t0 = time.time()
    model = train_classifier(
        docs_src.withColumn(
            "label", F.col("source").isin("src0", "src1").cast("int")
        ),
        dim=4096, lr=2.0, iters=5, l2=1e-4,
    )
    extras["classifier_kept"] = pareto_select(
        score_docs_classifier(docs_src, model)
    ).count()
    extras["classifier_train_score_sec"] = round(time.time() - t0, 3)

    t0 = time.time()
    srow = (
        shuffle_shards(pages, n_shards=64, id_col="url")
        .agg(F.count("*"), F.max("pos"))
        .collect()[0]
    )
    extras["shard_rows"] = srow[0]
    extras["shard_max_pos"] = srow[1]
    extras["shuffle_shard_sec"] = round(time.time() - t0, 3)

    # extras: HTML -> text extraction over the input table's binary html
    from security_log_analysis_rust_spark.synth import ensure_synthetic
    from security_log_analysis_rust_spark.textops.html import extract_text

    raw = spark.read.parquet(
        ensure_synthetic(sf_dir)["pages"]
    ).select("url", "html")
    t0 = time.time()
    hrow = extract_text(raw).agg(
        F.count("*"), F.sum(F.length("extracted_text"))
    ).collect()[0]
    extras["html_extract_rows"] = hrow[0]
    extras["html_extract_chars"] = int(hrow[1] or 0)
    extras["html_extract_sec"] = round(time.time() - t0, 3)

    best = {k: min(t[k] for t in trial_times) for k in trial_times[0]}
    return {"times": best, "trials": trial_times, "extras": extras}


def run_parse_scaling(
    sf_dir: str, replicate: int = 340, levels=(8, 32), trials: int = 2
) -> dict:
    """Parse-stage-only scaling at a size where fixed costs are <10% of wall
    (VERDICT r1 #3: the composite at rep24 finished in ~18 s and was
    fixed-cost bound; this sizes the scan+parse stage to >=120 s at
    local[32] so the efficiency number measures the distributed work).

    One subprocess per level; per level one warm pass at replicate//8 (JIT /
    python daemons / parquet footers), then ``trials`` measured passes over
    the full input; best kept.
    """
    import subprocess

    results = {}
    for cpus in levels:
        r = subprocess.run(
            [
                sys.executable, os.path.abspath(__file__),
                "--scaling-level", str(cpus),
                "--scaling-stage", "parse",
                "--sf-dir", sf_dir,
                "--replicate", str(replicate),
                "--trials", str(trials),
            ],
            capture_output=True, text=True, cwd=REPO,
        )
        if r.returncode != 0:
            raise RuntimeError(f"parse scaling level {cpus} failed: {r.stderr[-2000:]}")
        results[f"local[{cpus}]"] = json.loads(r.stdout.strip().splitlines()[-1])
    lo, hi = f"local[{levels[0]}]", f"local[{levels[1]}]"
    ratio = levels[1] / levels[0]
    speedup = results[hi]["parse_docs_per_sec"] / results[lo]["parse_docs_per_sec"]
    results["core_ratio"] = ratio
    results["parse_speedup"] = round(speedup, 3)
    results["parse_scaling_efficiency"] = round(speedup / ratio, 3)
    return results


def run_parse_scaling_level(
    sf_dir: str, cpus: int, replicate: int, trials: int
) -> dict:
    from security_log_analysis_rust_spark.pipeline.parse import extract_events
    from security_log_analysis_rust_spark.synth import ensure_synthetic

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")
    spark = _spark(cpus, shuffle=max(cpus * 2, 16))
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024))
    try:
        paths = ensure_synthetic(sf_dir)

        def parse_count(rep):
            pages = spark.read.parquet(*([paths["pages"]] * rep))
            return extract_events(pages)["events"].count(), pages.count()

        t0 = time.time()
        parse_count(max(replicate // 8, 4))  # warm pass, not measured
        warm = time.time() - t0
        best, n_pages, times = float("inf"), 0, []
        for _ in range(trials):
            t0 = time.time()
            _, n_pages = parse_count(replicate)
            dt = time.time() - t0
            times.append(round(dt, 2))
            best = min(best, dt)
        out = {
            "parse_seconds": round(best, 2),
            "trial_seconds": times,
            "warm_seconds": round(warm, 2),
            "pages": n_pages,
            "parse_docs_per_sec": round(n_pages / best, 1),
        }
    finally:
        spark.stop()
    return out


def run_scaling(
    sf_dir: str, replicate: int = 24, levels=(8, 32), trials: int = 2,
    rounds: int = 2,
) -> dict:
    """Same job, two parallelism levels, identical input, steady-state.

    Methodology: each level runs in its OWN subprocess (py4j keeps one JVM
    per python process alive across SparkContext restarts, so measuring two
    levels in-process hands the second level the first one's GC debt). Per
    level: one unmeasured warm pass (JIT, code cache, python daemons,
    parquet footer cache), then best of ``trials`` measured runs — the
    honest stand-in for N vs 4N executors on a long-running cluster, where
    per-job cold costs amortize away; cold times are reported separately.
    """
    import subprocess

    # The sandbox VM has noisy-neighbor variance on the scale of minutes;
    # alternate the levels across rounds and keep each level's best round so
    # both levels sample the same noise distribution. (``rounds=1`` for the
    # long local[1] composite runs, where one round already exceeds 30 min.)
    results = {}
    for rnd in range(rounds):
        for cpus in levels:
            r = subprocess.run(
                [
                    sys.executable, os.path.abspath(__file__),
                    "--scaling-level", str(cpus),
                    "--sf-dir", sf_dir,
                    "--replicate", str(replicate),
                    "--trials", str(trials),
                ],
                capture_output=True, text=True, cwd=REPO,
            )
            if r.returncode != 0:
                raise RuntimeError(
                    f"scaling level {cpus} failed: {r.stderr[-2000:]}"
                )
            lvl = json.loads(r.stdout.strip().splitlines()[-1])
            key = f"local[{cpus}]"
            if key not in results or lvl["seconds"] < results[key]["seconds"]:
                best_parse = min(
                    lvl["parse_seconds"],
                    results.get(key, lvl)["parse_seconds"],
                )
                results[key] = lvl
                results[key]["parse_seconds"] = best_parse
                results[key]["parse_docs_per_sec"] = round(
                    lvl["pages"] / best_parse, 1
                )
    lo, hi = f"local[{levels[0]}]", f"local[{levels[1]}]"
    ratio = levels[1] / levels[0]
    speedup = results[hi]["docs_per_sec"] / results[lo]["docs_per_sec"]
    results["speedup"] = round(speedup, 3)
    results["core_ratio"] = ratio
    results["scaling_efficiency"] = round(speedup / ratio, 3)
    p_speedup = results[hi]["parse_docs_per_sec"] / results[lo]["parse_docs_per_sec"]
    results["parse_speedup"] = round(p_speedup, 3)
    results["parse_scaling_efficiency"] = round(p_speedup / ratio, 3)
    return results


def run_scaling_level(
    sf_dir: str, cpus: int, replicate: int = 24, trials: int = 2
) -> dict:
    """One parallelism level of the scaling benchmark (run in a fresh
    process)."""
    import shutil
    import tempfile

    from security_log_analysis_rust_spark.pipeline.aggregate import (
        per_country_counts,
    )
    from security_log_analysis_rust_spark.pipeline.enrich import enrich_events
    from security_log_analysis_rust_spark.pipeline.parse import extract_events
    from security_log_analysis_rust_spark.pipeline.route import (
        append_dedup,
        read_sink,
        write_systemd,
    )
    from security_log_analysis_rust_spark.schemas import INTRUSION_LOG_SCHEMA

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")
    spark = _spark(cpus, shuffle=max(cpus * 2, 16))
    # make input splittable enough for the widest level
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(4 * 1024 * 1024))
    try:
        pages, events, _, hc, cc = _pipeline_dfs(spark, sf_dir, replicate=replicate)
        n_pages = pages.count()

        def job():
            """The north-rule unit of work: parse -> enrich -> route ->
            aggregate, by the ingest's own writers: one persisted parse
            feeds the deduped intrusion-sink append and the systemd write,
            and the per-country aggregate reads the intrusion sink back.
            Returns the rows written to each sink."""
            out = tempfile.mkdtemp(prefix=f"bench-sink-{cpus}-")
            parsed = extract_events(pages, persist=True)
            try:
                intr_path = os.path.join(out, "intrusion_log")
                n_intr = append_dedup(spark, intr_path, parsed["events"])
                n_sys = write_systemd(
                    parsed["systemd"],
                    os.path.join(out, "systemd_log_messages", "split=0"),
                )
                intr = read_sink(spark, intr_path, INTRUSION_LOG_SCHEMA)
                per_country_counts(
                    enrich_events(intr, hc, cc, how="inner")
                ).collect()
                return n_intr, n_sys
            finally:
                parsed["parsed"].unpersist()
                shutil.rmtree(out, ignore_errors=True)

        t0 = time.time()
        n_intr, n_sys = job()  # cold pass, not measured
        cold = time.time() - t0
        best = float("inf")
        for _ in range(trials):
            t0 = time.time()
            job()
            best = min(best, time.time() - t0)
        # parse-stage-only throughput: the input-scan-bound stage that
        # dominates at the 100 TB design point
        events.count()
        parse_best = float("inf")
        for _ in range(trials):
            t0 = time.time()
            events.count()
            parse_best = min(parse_best, time.time() - t0)
        return {
            "seconds": round(best, 2),
            "cold_seconds": round(cold, 2),
            "parse_seconds": round(parse_best, 2),
            "pages": n_pages,
            "docs_per_sec": round(n_pages / best, 1),
            "parse_docs_per_sec": round(n_pages / parse_best, 1),
            "intrusion_rows": n_intr,
            "systemd_rows": n_sys,
        }
    finally:
        spark.stop()


def run_correctness(sf_dir: str, cpus: int) -> dict:
    """Self-run of the FULL queries()/oracle_sql() surface at an arbitrary
    scale factor (the driver checks sf0.01 only; partition-count-sensitive
    bugs — first/collect_list orderings, quantile interpolation — can hide
    at small scale). Reuses the driver-emulating comparator from tests/."""
    sys.path.insert(0, os.path.join(REPO, "tests"))
    import __spark_entry__ as E
    from util_compare import duck_connection, run_query_pair

    # point the self-contained pipeline oracles (pages CTE) at the same sf
    E.ORACLE_SF_DIR = sf_dir
    spark = _spark(cpus, shuffle=max(cpus, 16))
    con = duck_connection(sf_dir)
    out = {}
    try:
        qs, oracles = E.queries(), E.oracle_sql()
        for name, fn in qs.items():
            t0 = time.time()
            try:
                sql = oracles.get(name)
                if sql is None:
                    out[name] = {"ok": True, "rows_only": fn(spark, sf_dir).count()}
                else:
                    problems = run_query_pair(spark, con, fn, sql, sf_dir)
                    out[name] = {"ok": not problems}
                    if problems:
                        out[name]["problems"] = [p[:300] for p in problems]
            except Exception as exc:  # keep going; report every query
                out[name] = {"ok": False, "err": f"{type(exc).__name__}: {exc}"[:300]}
            out[name]["sec"] = round(time.time() - t0, 1)
            print(f"# {name}: {'ok' if out[name]['ok'] else 'FAIL'} "
                  f"({out[name]['sec']}s)", file=sys.stderr, flush=True)
    finally:
        con.close()
        spark.stop()
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    ap.add_argument(
        "--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    )
    ap.add_argument("--scaling", action="store_true")
    ap.add_argument("--correctness", action="store_true",
                    help="run every queries()/oracle_sql() pair at --sf-dir "
                         "and print a per-query pass/fail JSON line")
    ap.add_argument("--parse-scaling", action="store_true",
                    help="parse-stage-only scaling, sized >=120s at local[32]")
    ap.add_argument("--scaling-level", type=int, default=None,
                    help="internal: run one scaling level in this process")
    ap.add_argument("--scaling-stage", default="job",
                    choices=["job", "parse"])
    ap.add_argument("--replicate", type=int, default=None,
                    help="input replication (default: 24 for --scaling, "
                         "340 for --parse-scaling)")
    ap.add_argument("--trials", type=int, default=2)
    ap.add_argument("--levels", default="8,32",
                    help="comma-separated core counts, N and 4N (e.g. 4,16)")
    ap.add_argument("--rounds", type=int, default=2,
                    help="noise-averaging rounds for --scaling (use 1 for "
                         "the long local[1] composite runs)")
    args = ap.parse_args()
    args.levels = tuple(int(x) for x in args.levels.split(","))
    if args.replicate is None:
        args.replicate = 340 if (
            args.parse_scaling or args.scaling_stage == "parse"
        ) else 24

    if args.scaling_level is not None:
        if args.scaling_stage == "parse":
            print(json.dumps(run_parse_scaling_level(
                args.sf_dir, args.scaling_level,
                replicate=args.replicate, trials=args.trials)))
        else:
            print(json.dumps(run_scaling_level(
                args.sf_dir, args.scaling_level,
                replicate=args.replicate, trials=args.trials)))
        return

    if args.parse_scaling:
        scaling = run_parse_scaling(
            args.sf_dir, replicate=args.replicate, trials=args.trials,
            levels=args.levels,
        )
        print(json.dumps({"metric": "parse-stage scaling local[8] vs local[32]",
                          "unit": "docs/sec", "scaling": scaling}))
        return

    sf = os.path.basename(os.path.normpath(args.sf_dir))
    if args.correctness:
        res = run_correctness(args.sf_dir, args.cpus)
        n_ok = sum(1 for v in res.values() if v["ok"])
        print(json.dumps({
            "metric": "oracle-parity self-run (full query surface)",
            "unit": "queries", "sf": sf, "value": n_ok,
            "total": len(res), "queries": res,
        }))
        return

    result = {
        "metric": "parse+enrich+route+aggregate end-to-end seconds (synthetic pages pipeline + training-data ops)",
        "unit": "sec",
        "sf": sf,
    }

    if args.scaling:
        scaling = run_scaling(
            args.sf_dir, replicate=args.replicate, trials=args.trials,
            levels=args.levels, rounds=args.rounds,
        )
        result["scaling"] = scaling
        result["value"] = scaling[f"local[{args.levels[1]}]"]["seconds"]
        result["queries"] = {}
    else:
        spark = _spark(args.cpus, shuffle=max(args.cpus, 16))
        try:
            # headline gets one extra trial over the scaling default: on a
            # freshly-booted box two trials demonstrably don't reach JIT/
            # page-cache steady state (all trials ship in the artifact, and
            # first_trial_total keeps cross-round comparability)
            r = run_headline(spark, args.sf_dir, trials=max(args.trials, 3))
        finally:
            spark.stop()
        times = r["times"]
        result["queries"] = times
        result["value"] = round(sum(times.values()), 3)
        result["trials"] = r["trials"]
        # cross-round comparability (ADVICE r4): the headline 'value' is
        # best-of-N; rounds before r4 were single-trial, which maps to the
        # first (cold-ish) trial — report that total alongside
        result["first_trial_total"] = round(sum(r["trials"][0].values()), 3)
        result.update(r["extras"])
        pipeline_sec = sum(
            times[k] for k in times if k.startswith(("q1", "q2", "q3", "q4", "q5"))
        )
        result["docs_per_sec"] = round(r["extras"]["pages"] * 5 / pipeline_sec, 1)
        result["lines_per_sec"] = round(r["extras"]["lines"] * 5 / pipeline_sec, 1)

    print(json.dumps(result))


if __name__ == "__main__":
    main()
