"""Streaming journald ingest — the ``journalctl -f`` daemon re-expressed.

The reference daemon (``src/parse_logs.rs:306-379``) tails journald output,
routes each line (ssh intrusion / nginx intrusion / leveled message), and
relies on the DB unique key for exactly-once. Structured Streaming mapping:

* source: file stream of JSONL drops (= the journald pipe; any append-only
  directory works, including object-store landing zones at scale);
* transformations: the batch line router, ``pipeline.parse.route_lines``
  (pure DataFrame logic, so batch and streaming share one code path), of
  which :func:`route_journald` keeps the journald kinds: a stream routes
  journald records only, so a plain syslog or CLF line in the spool routes
  nowhere;
* sink: ``foreachBatch`` handing each batch's rows to the sinks' one
  writers, ``route.append_dedup`` (in-batch dedup, then the idempotent
  anti-join append — the ON CONFLICT analog) and ``route.write_systemd``
  (per-batch overwrite), checkpointed, so restarts never double-insert;
* watermark: event-time watermark on the journald timestamp bounds state for
  windowed aggregates (the reference has no event-time windows — strictly
  arrival order — so the watermark only demonstrates late-data handling).
"""

from __future__ import annotations

import os
from typing import Optional, Sequence, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..parsing.core import DEFAULT_SYSTEMD_LOG_FILTERS
from ..pipeline.parse import JOURNALD_KINDS, route_lines
from ..pipeline.route import append_dedup, write_systemd


def route_journald(
    lines: DataFrame, filters: Sequence[str] = DEFAULT_SYSTEMD_LOG_FILTERS
) -> Tuple[DataFrame, DataFrame]:
    """journald lines -> (intrusion events, systemd messages): the rows of
    :func:`route_lines` of :data:`JOURNALD_KINDS` and its ``systemd`` sink
    (which only journald lines reach). Lines of the file kinds (``ssh``,
    ``apache``) route nowhere here."""
    out = route_lines(lines, filters)
    intr = out["routed"].filter(F.col("kind").isin(*JOURNALD_KINDS))
    return intr.select(*out["events"].columns), out["systemd"]


def read_journald_stream(spark: SparkSession, input_dir: str) -> DataFrame:
    """Append-only JSONL directory -> streaming (url, warc_ts, line_no, line)."""
    return (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", 16)
        .load(input_dir)
        .withColumnRenamed("value", "line")
        .withColumn("url", F.input_file_name())
        .withColumn("line_no", F.lit(0).cast("long"))
        .withColumn("warc_ts", F.current_timestamp())
        .select("url", "warc_ts", "line_no", "line")
    )


def start_journald_ingest(
    spark: SparkSession,
    input_dir: str,
    sink_dir: str,
    checkpoint_dir: Optional[str] = None,
    available_now: bool = True,
    server: str = "home.ddboline.net",
    filters: Optional[tuple] = None,
):
    """Start the streaming ingest; returns the StreamingQuery.

    ``available_now=True`` processes the backlog and stops (used by tests and
    backfills); ``False`` keeps tailing like the daemon. ``filters`` = F6
    journald blacklist; None reads ``SYSTEMD_LOG_FILTERS`` from the env
    (config.rs semantics — the daemon is exactly where the reference
    configures it).
    """
    if filters is None:
        from ..config import init_config

        filters = init_config().systemd_log_filters
    checkpoint_dir = checkpoint_dir or os.path.join(sink_dir, "_stream_checkpoint")
    intr_path = os.path.join(sink_dir, "intrusion_log")
    sysd_path = os.path.join(sink_dir, "systemd_log_messages")
    lines = read_journald_stream(spark, input_dir)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        intr, sysd = route_journald(batch_df, filters=filters)
        # daemon semantics: the server comes from config (src/config.rs),
        # not from the input file identity
        intr = intr.withColumn("server", F.lit(server)).persist()
        # batch min(datetime) bounds the anti-join's sink scan (the sink is
        # month-partitioned; a tail-follow daemon's batches are recent, so
        # the ON CONFLICT check prunes to the current months)
        since_row = intr.agg(F.min("datetime")).first()[0]
        since = since_row.isoformat(sep=" ") if since_row is not None else None
        append_dedup(spark, intr_path, intr, since=since)
        intr.unpersist()
        # per-batch overwrite subdir = idempotent replay on restart
        write_systemd(sysd, os.path.join(sysd_path, f"batch={batch_id}"))

    writer = (
        lines.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stateful_attempt_totals(
    spark: SparkSession, input_dir: str
) -> DataFrame:
    """Custom STATEFUL streaming operator (``applyInPandasWithState``):
    lifetime per-host attempt totals across micro-batches.

    The reference daemon keeps no cross-batch state (the DB is its state);
    this is the Structured-Streaming-native generalization: per-host running
    totals live in the state store (checkpointed, recoverable), each batch
    folds its Arrow frames into the group's state and emits the updated
    total. Scale: state is partitioned by the group key across executors —
    the standard stateful-operator shape for burst/abuse detectors.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    lines = read_journald_stream(spark, input_dir)
    intr, _ = route_journald(lines)

    def update(key, pdfs, state):
        total = state.get[0] if state.exists else 0
        for pdf in pdfs:
            total += len(pdf)
        state.update((total,))
        yield pd.DataFrame({"host": [key[0]], "total": [total]})

    return (
        intr.select("host")
        .groupBy("host")
        .applyInPandasWithState(
            update,
            outputStructType="host string, total long",
            stateStructType="total long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def windowed_intrusion_counts(
    spark: SparkSession, input_dir: str, window: str = "1 hour",
    watermark: str = "2 hours"
) -> DataFrame:
    """Event-time tumbling-window per-host counts with late-data watermark —
    the streaming generalization of the reference's per-day aggregates."""
    lines = read_journald_stream(spark, input_dir)
    intr, _ = route_journald(lines)
    return (
        intr.withWatermark("datetime", watermark)
        .groupBy(F.window("datetime", window).alias("win"), "host")
        .agg(F.count(F.lit(1)).alias("count"))
        .select("win.start", "win.end", "host", "count")
    )
