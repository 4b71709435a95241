"""SparkSession factory with scale-oriented defaults.

Everything here is plain public Spark configuration. The defaults are chosen
for the 100 TB design point (SURVEY.md §4, §7):

* **UTC session timezone** — the reference normalizes every timestamp to UTC
  at every boundary (``/root/reference/src/lib.rs:249-259``).
* **AQE on** (coalesce + skew-join) — attacker hosts are Zipf-distributed
  (one IP is ~900/1000 lines in the reference fixture), so runtime skew
  handling matters at scale.
* **Arrow execution on** — the ``applyInPandas``/``mapInPandas`` kernels
  (ANN top-k, dims resolution, streaming state) and ``toPandas`` move Arrow
  batches; the parse path itself runs no Python.
* **shuffle.partitions** sized for the local harness; a real cluster run
  passes ``--conf spark.sql.shuffle.partitions=<2-3x total cores>`` via
  ``spark-submit``.
"""

from __future__ import annotations

import os
import zipfile
from typing import Optional

from pyspark.sql import SparkSession

_PKG_DIR = os.path.dirname(os.path.abspath(__file__))
_REPO_ROOT = os.path.dirname(_PKG_DIR)


def _package_zip() -> str:
    """Zip this package for shipping to executors (the programmatic analog
    of ``spark-submit --py-files``). Rebuilt when sources are newer."""
    out = os.path.join(_REPO_ROOT, "data", "security_log_analysis_rust_spark.zip")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    sources = []
    for root, _, files in os.walk(_PKG_DIR):
        for f in files:
            if f.endswith(".py"):
                sources.append(os.path.join(root, f))
    if not os.path.exists(out) or os.path.getmtime(out) < max(
        os.path.getmtime(s) for s in sources
    ):
        tmp = out + f".tmp-{os.getpid()}"
        with zipfile.ZipFile(tmp, "w") as z:
            for s in sources:
                z.write(s, os.path.relpath(s, _REPO_ROOT))
        os.replace(tmp, out)
    return out


def ship_package(spark: SparkSession) -> None:
    """Make the package importable on executors (idempotent)."""
    sc = spark.sparkContext
    if not getattr(sc, "_sla_pkg_shipped", False):
        sc.addPyFile(_package_zip())
        sc._sla_pkg_shipped = True


def get_spark(
    app_name: str = "security-log-analysis-spark",
    cpus: Optional[int] = None,
    shuffle_partitions: Optional[int] = None,
    extra_conf: Optional[dict] = None,
) -> SparkSession:
    """Build (or get) a SparkSession.

    ``cpus=None`` -> ``local[$SPARK_GRAFT_CPUS]`` (default ``local[*]``).
    On a real cluster this module is not used: ``spark-submit`` owns the
    session and ``configure(spark)`` applies the same session-level settings.
    """
    if cpus is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env}]" if env else "local[*]"
    else:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let the planner pick shuffled-hash join when its size conditions
        # hold (guide §3.1/§9): the iterative joins (label propagation,
        # classifier train) and mid-size key joins skip the per-round
        # sort-merge sorts; the decision stays size-based, so this is not
        # a local-mode tune — SMJ still wins when a side is too big
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # small dims (host_country, country_code) must broadcast
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    ship_package(spark)
    return spark


def configure(spark: SparkSession) -> SparkSession:
    """Apply session-level settings to an externally-owned SparkSession
    (e.g. the driver's). Only runtime-settable confs."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
        spark.conf.set("spark.sql.join.preferSortMergeJoin", "false")
    except Exception:
        pass
    ship_package(spark)
    return spark
