"""Shared helpers for the textops stack."""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def n_input_splits(df: DataFrame) -> int:
    """Cheap input-split estimate. ``df.inputFiles()`` is metadata-only for
    file-based sources (no RDD conversion — ``df.rdd`` forces the plan
    through the RDD translation); the RDD partition count is the fallback
    for in-memory frames, where it is cheap. File count slightly
    under-counts splittable big files, which only ever errs toward an extra
    repartition of a small input — a no-op at scale where datasets are
    many-files."""
    files = df.inputFiles()
    if files:
        return len(files)
    return df.rdd.getNumPartitions()


def spread_small_input(df: DataFrame) -> DataFrame:
    """Small demo tables arrive as 1-2 parquet splits, serializing the
    per-row transforms that follow; spread them across the cores. At real
    scale the input has >= cores splits and this is a no-op (no shuffle)."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if n_input_splits(df) < par:
        return df.repartition(par)
    return df


def explode_barrier(
    keep: Optional[Column] = None, value: Optional[Column] = None
) -> Column:
    """Generator that pins the columns projected beside it: ``explode`` of a
    one-element array (``keep`` is None) keeps every row; with ``keep`` the
    array is null where ``keep`` is not true, so those rows drop. The
    generated column is ``value`` (default 1).

    Why: Catalyst inlines a projected expression into every consumer
    (CollapseProject) and pushes a ``filter`` down through projections with
    the aliased expressions substituted back in (PushDownPredicates). An
    expression read several times — inside a lambda, or by a routing CASE
    and its filter — is then re-evaluated per read: once per window for the
    winnow keys and the exactsubstr tokens (258 s vs seconds for 5.3M
    windows at 32 cores), once per shingle for the jaccard token arrays
    (2.5x), and ~8x ``from_json`` and ~10x ``split(trim(line))`` per line
    in the parse route (``plans/r06/q1_parse_route_before.txt``).
    CollapseProject does not merge projections across a generator, so each
    column projected beside the barrier is evaluated once per row, and a
    row drop made inside the generator is no Filter to push. A ``filter``
    placed above the barrier on non-generated columns can still be pushed
    below it; one on the generated ``value`` cannot, so a value that later
    filters read (a routing key) is derived once, inside the barrier.
    """
    one = F.array(F.lit(1) if value is None else value)
    return F.explode(one if keep is None else F.when(keep, one))
