"""Repository benchmark: one workload per invocation.

    python3 perfbench/run.py --workload {ingest,report,corpus} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout. The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the end-to-end metrics, with ``--trace 1`` the per-layer
metrics of a separate traced run. Lines before it explain the run: the
workload's own figures (``ingest_lines_per_s``, ``report_p50_s``, ...),
error rate, and when tracing the spans, their Spark metrics and the
tracing overhead against the untraced run of the same seed. A run that
prints a result exits 0 (``correct`` says whether the outputs matched their
references); without the program in the checkout it exits 2 and prints no
result. ``--seconds`` is accepted but changes nothing: each workload
measures a fixed amount of work (about 10-20 s on 4 cores), so two versions
of the program are always measured on the same work. Everything the run
writes stays under ``.perfbench/``. DESIGN.md records why each workload
exists and which layers it loads.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import time

import common


def _parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("ingest", "report", "corpus"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seed < 0 or args.seconds < 1:
        ap.error("--seed must be >= 0 and --seconds >= 1")
    return args


#: each workload's own name for its end-to-end figures
_NAMED = {
    "ingest": {"throughput_per_s": ("ingest_lines_per_s", "1/s")},
    "report": {"latency_p50_s": ("report_p50_s", "s"), "latency_p90_s": ("report_p90_s", "s"),
               "throughput_per_s": ("report_requests_per_s", "1/s")},
    "corpus": {"throughput_per_s": ("corpus_docs_per_s", "1/s")},
}


def _result_path(args) -> str:
    """Where an untraced run leaves its end-to-end figures for the traced
    run of the same seed; keyed by the workload sizes too."""
    import workloads as W

    sizes = {k: v for k, v in vars(W).items() if k.isupper() and isinstance(v, int)}
    tag = hashlib.sha256(json.dumps(sizes, sort_keys=True).encode()).hexdigest()[:8]
    return os.path.join(common.work("results"), f"{args.workload}-s{args.seed}-{tag}.json")


def main(argv=None) -> int:
    args = _parse_args(argv)
    if not common.program_present():
        print(f"perfbench: the program ({common.PACKAGE}/ and __spark_entry__.py) "
              f"is not in {common.ROOT}", file=sys.stderr)
        return 2
    os.environ["TZ"] = "UTC"
    time.tzset()
    common.pin_environment()
    import workloads as W

    out = W.WORKLOADS[args.workload](args.seed, bool(args.trace))
    e2e = {k: {"value": out.e2e[k], "unit": unit} for k, unit in W.END_TO_END.items()}
    named = {name: {"value": out.e2e[k], "unit": unit}
             for k, (name, unit) in _NAMED[args.workload].items()}
    named["peak_rss_mb"] = {"value": out.e2e["peak_rss_mb"], "unit": "MB"}
    named["error_rate"] = {"value": out.failed / out.attempted, "unit": "ratio"}
    common.note({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                 **out.notes, "named": named})
    for p in out.problems[:20]:
        common.note({"problem": p[:500]})

    if not args.trace:
        with open(_result_path(args), "w") as f:
            json.dump(out.e2e, f)
        common.emit(not out.failed and not out.problems, out.attempted, out.failed, e2e)
        return 0

    _print_trace(args, out)
    layers = {k: {"value": out.layers.get(k, 0), "unit": unit}
              for k, unit in W.PER_LAYER.items()}
    common.emit(not out.failed and not out.problems, out.attempted, out.failed, layers)
    return 0


def _print_trace(args, out) -> None:
    """Spans with parents and self times, Spark metrics per span, and the
    tracing overhead; per-layer metrics the workload does not reach are
    listed as such."""
    import workloads as W

    tracer, log = out.trace
    spark = {s.id: log.spark_metrics(tracer.subtree_ids(s)) for s in tracer.spans}
    dump = os.path.join(common.work("trace"), f"{args.workload}-s{args.seed}-spans.jsonl")
    tracer.dump(dump, spark)
    selft = tracer.self_times()
    for s in tracer.spans:
        common.note({"span": s.id, "parent": s.parent, "trace": s.trace,
                     "duration_s": round(s.duration, 6), "self_s": round(selft[s.id], 6),
                     "spark": spark[s.id],
                     **{k: v for k, v in s.attrs.items() if k != "files_before"}})
    out.layers.update(W.spark_span_metrics(tracer, log))
    unreached = sorted(k for k in W.PER_LAYER if k not in out.layers)
    common.note({"not_reached_by_this_workload": unreached,
                 "reason": "the workload does not call into these layers; reported as 0"})
    try:
        with open(_result_path(args)) as f:
            untraced = json.load(f)
    except FileNotFoundError:
        common.note({"tracing_overhead": None,
                     "reason": f"no untraced run of {args.workload} seed {args.seed} "
                               "in this checkout yet"})
        return
    common.note({"tracing_overhead": {
        k: {"traced": out.e2e[k], "untraced": untraced[k], "delta": out.e2e[k] - untraced[k]}
        for k in out.e2e}})


if __name__ == "__main__":
    sys.exit(main())
