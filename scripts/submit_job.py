"""Cluster-launch smoke job: run the full pipeline via ``spark-submit``.

Usage (the north-rule launch pattern)::

    spark-submit --master local[4] \
      --py-files data/security_log_analysis_rust_spark.zip \
      scripts/submit_job.py /root/testdata/sf0.001

On a real cluster the same command targets ``--master yarn``/``k8s`` with
``--num-executors N``; nothing in the job is local-mode-specific.
"""

from __future__ import annotations

import json
import os
import sys

from pyspark.sql import SparkSession


def main(sf_dir: str) -> None:
    spark = SparkSession.builder.appName("sla-submit-smoke").getOrCreate()
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    # --py-files puts the zip on the python path for driver and executors
    from security_log_analysis_rust_spark.pipeline.aggregate import per_country_counts
    from security_log_analysis_rust_spark.pipeline.dims import read_dims
    from security_log_analysis_rust_spark.pipeline.enrich import enrich_events
    from security_log_analysis_rust_spark.pipeline.parse import extract_events
    from security_log_analysis_rust_spark.pipeline.route import dedup_intrusions
    from security_log_analysis_rust_spark.synth import ensure_synthetic

    paths = ensure_synthetic(sf_dir)
    pages = spark.read.parquet(paths["pages"])
    hc, cc = read_dims(spark, os.path.dirname(paths["host_country"]))
    out = extract_events(pages)
    intr = dedup_intrusions(out["events"])
    top = per_country_counts(enrich_events(intr, hc, cc, how="inner")).limit(5)
    print(
        json.dumps(
            {
                "pages": pages.count(),
                "intrusion_rows": intr.count(),
                "systemd_rows": out["systemd"].count(),
                "top_countries": [[r["country"], r["count"]] for r in top.collect()],
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001")
