"""Dimension-table maintenance: host_country upsert + whois classifier.

* ``merge_host_country`` = K3 (``src/models.rs:110-162``), the one
  ``host_country`` writer, used by ``import --table host_country``,
  ``POST /host_country`` and ``/cleanup``: it reads the dim, upserts
  (``upsert_host_country``: insert-if-new / update-if-existing, keyed on
  host) and puts the result in with ``overwrite_dim``. (The reference's
  UPDATE is missing its WHERE clause — a known bug, SURVEY.md §7.4.4; this
  implements the intended keyed upsert, i.e. Iceberg ``MERGE INTO
  host_country USING updates ON host``.)
* ``overwrite_dim`` swaps the new table in with ``route.swap_dir``, which
  ``read_dim`` repairs if cut short: a crash leaves the old dim or the new.
* ``resolve_hosts`` / ``enrich_new_hosts`` = J5 cache-through
  (``src/host_country_metadata.rs:49-101``): dangling hosts get codes from a
  resolver function — the whois/DNS network call replaced by a
  deterministic resolver.
* ``classify_whois_line`` = P8 (``src/host_country_metadata.rs:219-241``):
  the whois output line classifier, preserved as a tested pure function.
"""

from __future__ import annotations

import os
from typing import Callable, Optional, Tuple

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..schemas import COUNTRY_CODE_SCHEMA, HOST_COUNTRY_SCHEMA
from .route import recover_sink, swap_dir

_DIM_SCHEMAS = {"host_country": HOST_COUNTRY_SCHEMA, "country_code": COUNTRY_CODE_SCHEMA}


def read_dim(spark: SparkSession, dims_dir: str, name: str) -> DataFrame:
    """Dim ``name`` (``host_country`` or ``country_code``) from
    ``<dims_dir>/<name>.parquet``, read with its declared schema, so the
    read runs no schema-inference job. Runs ``recover_sink`` first, as
    ``route.read_sink`` does: a crash inside :func:`overwrite_dim`'s swap
    leaves the old dim aside, and this puts it back."""
    path = os.path.join(dims_dir, f"{name}.parquet")
    recover_sink(path)
    return spark.read.schema(_DIM_SCHEMAS[name]).parquet(path)


def read_dims(spark: SparkSession, dims_dir: str) -> Tuple[DataFrame, DataFrame]:
    """``(host_country, country_code)`` by :func:`read_dim`."""
    hc = read_dim(spark, dims_dir, "host_country")
    return hc, read_dim(spark, dims_dir, "country_code")


def overwrite_dim(df: DataFrame, path: str) -> None:
    """Replace the dim table at ``path`` (a file or a directory) with ``df``:
    write a sibling ``.tmp`` dir first (the source may be ``path`` itself),
    then swap it in with ``route.swap_dir``. The Iceberg table-commit
    analog for plain parquet."""
    tmp = path + ".tmp"
    df.write.mode("overwrite").parquet(tmp)
    swap_dir(path, tmp)


def merge_host_country(spark: SparkSession, dims_dir: str, updates: DataFrame) -> int:
    """The one ``host_country`` writer: upsert ``updates`` (rows of
    ``HOST_COUNTRY_SCHEMA``) into ``<dims_dir>/host_country.parquet`` and
    return the number of NEW hosts (the reference's counter actually counts
    updates — models.rs:110-124 returns the pre-existing row — documented
    deviation: the new-host count is the useful number)."""
    existing = read_dim(spark, dims_dir, "host_country")
    merged = upsert_host_country(existing, updates).persist()
    try:
        n_new = merged.count() - existing.count()
        overwrite_dim(merged, os.path.join(dims_dir, "host_country.parquet"))
    finally:
        merged.unpersist()
    return n_new


def upsert_host_country(existing: DataFrame, updates: DataFrame) -> DataFrame:
    """MERGE INTO analog: updates win over existing rows on the host key."""
    e = existing.withColumn("__src", F.lit(0))
    u = updates.withColumn("__src", F.lit(1))
    w = Window.partitionBy("host").orderBy(F.desc("__src"))
    return (
        e.unionByName(u, allowMissingColumns=True)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__src")
    )


def resolve_hosts(
    hosts: DataFrame, resolver: Optional[Callable[[str], Optional[str]]]
) -> DataFrame:
    """``hosts`` (a ``host`` column) -> ``host_country`` rows coded by
    ``resolver``.

    The resolver runs DISTRIBUTED via ``mapInPandas`` — the dangling set is
    unbounded at scale, so it is never collected to the driver (the
    reference's per-miss whois loop becomes a per-partition loop inside each
    Arrow batch), once per host per action on the result. Hosts the resolver
    can't classify (None) are skipped, like the reference's failed whois
    lookups; with no resolver (no live whois) every host is skipped.
    """
    import pandas as pd

    if resolver is None:
        resolver = lambda h: None  # noqa: E731

    def gen(batches):
        for pdf in batches:
            codes = pdf["host"].map(resolver)
            out = pd.DataFrame({"host": pdf["host"], "code": codes})
            yield out[out["code"].notna()]

    return hosts.mapInPandas(gen, "host string, code string").select(
        "host",
        "code",
        F.lit(None).cast("string").alias("ipaddr"),
        F.lit(None).cast("timestamp").alias("created_at"),
    )


def enrich_new_hosts(
    events: DataFrame,
    host_country: DataFrame,
    resolver: Callable[[str], Optional[str]],
) -> DataFrame:
    """Cache-through enrichment: resolve hosts missing from the dim
    (:func:`resolve_hosts`) and return the upserted dim
    (``src/host_country_metadata.rs:49-101``)."""
    from .enrich import dangling_hosts

    updates = resolve_hosts(dangling_hosts(events, host_country), resolver)
    return upsert_host_country(host_country, updates)


def classify_whois_line(line: str) -> Optional[str]:
    """P8: classify one whois output line to a country code.

    Faithful to ``src/host_country_metadata.rs:219-241`` (``process_line``)
    including its caller's ``to_uppercase`` at ``:148``: special cases
    (KOREA->KR, ends-with .BR->BR, COMCAST CABLE->US, HINET-NET->TW,
    contains .JP->JP), else the second whitespace token when the FIRST token
    is exactly ``COUNTRY:`` — kept whole (e.g. ``NLD``), not truncated.
    ``QUERY RATE`` = the reference's Break sentinel -> None (give up).
    """
    u = line.upper()
    if "QUERY RATE" in u:
        return None
    if "KOREA" in u:
        return "KR"
    if u.endswith(".BR"):
        return "BR"
    if "COMCAST CABLE" in u:
        return "US"
    if "HINET-NET" in u:
        return "TW"
    if ".JP" in u:
        return "JP"
    toks = u.split()[:2]
    if len(toks) >= 2 and toks[0] == "COUNTRY:":
        return toks[1]
    return None


def build_event_filters(
    df: DataFrame,
    service: Optional[str] = None,
    server: Optional[str] = None,
    min_datetime: Optional[str] = None,
    max_datetime: Optional[str] = None,
) -> DataFrame:
    """F7 dynamic predicate builder (``src/models.rs:322-366``) as chained
    optional filters. (The reference's SQL builder has a ``datetine`` typo
    that silently breaks max_datetime — intended semantics implemented,
    SURVEY.md §7.4.4.)"""
    if service is not None:
        df = df.filter(F.col("service") == service)
    if server is not None:
        df = df.filter(F.col("server") == server)
    if min_datetime is not None:
        df = df.filter(F.col("datetime") >= F.lit(min_datetime))
    if max_datetime is not None:
        df = df.filter(F.col("datetime") <= F.lit(max_datetime))
    return df
