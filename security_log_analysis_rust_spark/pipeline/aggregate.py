"""Aggregation stage (A1-A8 + north-star per-host/per-day counts).

All aggregates are plain ``groupBy().agg()`` — Spark's partial/final hash
aggregation reproduces the reference's hand-rolled two-phase Polars plan
(``src/polars_analysis.rs:226-284``) automatically. Counting keys are
Zipf-skewed hosts/countries; ``salted_count`` provides an explicit two-stage
salted aggregation for the worst skew (north_rule), though AQE handles the
general case.
"""

from __future__ import annotations

from datetime import date, datetime, timedelta, timezone
from typing import List, Optional, Sequence, Tuple

from pyspark.sql import DataFrame, Observation, Row
from pyspark.sql import functions as F


def per_country_counts(
    enriched: DataFrame,
    service: Optional[str] = None,
    server: Optional[str] = None,
    ndays: Optional[int] = None,
    as_of: Optional[str] = None,
) -> DataFrame:
    """A1 (``src/reports.rs:16-32``): per-country counts, count desc.

    ``ndays`` filters ``datetime >= date(as_of) - ndays`` (the reference uses
    ``now()``; an explicit ``as_of`` keeps results deterministic).

    The result holds at most one row per ``country_code`` row, so it is
    sorted in one partition: a global ``orderBy`` would add a range
    exchange and its sampling job for a few hundred rows.
    """
    df = enriched
    if service is not None:
        df = df.filter(F.col("service") == service)
    if server is not None:
        df = df.filter(F.col("server") == server)
    if ndays is not None:
        anchor = F.to_date(F.lit(as_of)) if as_of else F.current_date()
        df = df.filter(
            F.col("datetime") >= F.date_sub(anchor, ndays).cast("timestamp")
        )
    return (
        df.groupBy("country")
        .agg(F.count(F.lit(1)).alias("count"))
        .coalesce(1)
        .sortWithinPartitions(F.desc("count"), F.asc("country"))
    )


def ndays_since(ndays: Optional[int], as_of: Optional[str] = None) -> Optional[str]:
    """The ``ndays`` bound of :func:`per_country_counts` as an ISO date,
    for pruning the sink read before it: date(as_of) - ndays, else the UTC
    date today - ndays (the session clock is UTC). None when there is no
    bound, or it falls outside Python's date range (no pruning then).

    Without ``as_of`` this is computed before the query runs, so it is never
    later than the ``current_date()`` bound the query applies: the pruned
    read can only keep more rows than the exact filter, never fewer."""
    if ndays is None:
        return None
    if as_of:
        anchor = date.fromisoformat(str(as_of)[:10])
    else:
        anchor = datetime.now(timezone.utc).date()
    try:
        return (anchor - timedelta(days=ndays)).isoformat()
    except OverflowError:
        return None


def per_host_counts(events: DataFrame) -> DataFrame:
    """North-star: per-host attempt counts."""
    return (
        events.groupBy("host")
        .agg(F.count(F.lit(1)).alias("count"))
        .orderBy(F.desc("count"), F.asc("host"))
    )


def per_day_counts(events: DataFrame) -> DataFrame:
    """North-star: per-day attempt counts."""
    return (
        events.withColumn("day", F.to_date("datetime"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("count"))
        .orderBy("day")
    )


def year_month_counts(events: DataFrame) -> DataFrame:
    """A3 (``src/polars_analysis.rs:83-93``): per-(year, month) counts —
    drives the monthly export partitioning."""
    return (
        events.groupBy(
            F.year("datetime").alias("year"), F.month("datetime").alias("month")
        )
        .agg(F.count(F.lit(1)).alias("count"))
        .orderBy("year", "month")
    )


def max_datetime(
    events: DataFrame, service: Optional[str] = None, server: Optional[str] = None
) -> DataFrame:
    """A4 watermark (``src/models.rs:268-293``)."""
    df = events
    if service is not None:
        df = df.filter(F.col("service") == service)
    if server is not None:
        df = df.filter(F.col("server") == server)
    return df.agg(F.max("datetime").alias("max_datetime"))


def overall_watermark(events: DataFrame, server: str) -> DataFrame:
    """A5 (``src/models.rs:510-528``): min of the ssh-max and nginx-max.

    Documented deviation (SURVEY §7.4.4 style): the reference falls back to
    ``now_utc()`` when the ssh-max is absent (so a nginx-only server yields
    now(), and an empty server yields now()); this implementation returns the
    deterministic min-of-present-maxes — nginx-max for a nginx-only server,
    and an EMPTY result for a server with neither — because a wall-clock
    fallback would break reproducibility (every oracle comparison pins time).
    """
    per_service = (
        events.filter(F.col("server") == server)
        .filter(F.col("service").isin("ssh", "nginx"))
        .groupBy("service")
        .agg(F.max("datetime").alias("mx"))
    )
    return per_service.agg(F.min("mx").alias("watermark"))


def top_k_countries(enriched: DataFrame, k: int = 10, **kw) -> DataFrame:
    """O3 (``src/parse_opts.rs:225-229``): top-k after count-desc sort."""
    return per_country_counts(enriched, **kw).limit(k)


def paginate(
    df: DataFrame,
    offset: int = 0,
    limit: int = 20,
    order: Optional[Sequence] = None,
) -> DataFrame:
    """O1 (``src/models.rs:350-366``): ORDER BY ``order`` + OFFSET/LIMIT.

    The default order is datetime DESC with ties broken by the full key, so
    intrusion pages are deterministic (the reference's ordering is only as
    stable as Postgres makes it).
    """
    if order is None:
        order = [F.desc("datetime"), F.asc("host"), F.asc("service"), F.asc("server")]
    return df.orderBy(*order).offset(offset).limit(limit)


def observed_page(
    df: DataFrame,
    offset: int = 0,
    limit: int = 20,
    order: Optional[Sequence] = None,
) -> Tuple[int, List[Row]]:
    """``(total, rows)``: the row count of ``df`` and its :func:`paginate`
    page, from one action.

    The total is an ``Observation`` on ``df`` below the ordered
    offset/limit, so the scan that feeds the page also counts the rows it
    lets through; there is no second ``count()`` query. A page of
    ``limit=0`` is not run: Catalyst replaces that query, observer
    included, with an empty relation, so its total is counted instead.
    A negative ``offset`` or ``limit`` raises ``ValueError`` before any job.
    """
    if offset < 0 or limit < 0:
        raise ValueError(
            f"offset and limit must be >= 0 (got offset={offset}, limit={limit})"
        )
    if limit == 0:
        return df.count(), []
    seen = Observation()
    rows = paginate(
        df.observe(seen, F.count(F.lit(1)).alias("n")), offset, limit, order
    ).collect()
    return seen.get["n"], rows


def salted_count(
    events: DataFrame, key: str, salt_buckets: int = 32
) -> DataFrame:
    """Two-stage salted aggregation for heavily skewed keys (north_rule).

    Stage 1 pre-aggregates on (key, salt) — map-side combine spreads a hot
    key over ``salt_buckets`` reducers; stage 2 sums the partials. Result is
    identical to ``groupBy(key).count()``.
    """
    salted = events.withColumn(
        "__salt", (F.rand(seed=7) * salt_buckets).cast("int")
    )
    partial = salted.groupBy(key, "__salt").agg(F.count(F.lit(1)).alias("c"))
    return (
        partial.groupBy(key)
        .agg(F.sum("c").alias("count"))
        .orderBy(F.desc("count"), F.asc(key))
    )
