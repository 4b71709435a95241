"""Parse stage: pages -> lines -> typed events (all narrow, no shuffle).

Maps the reference's per-source parsers onto one line router,
:func:`route_lines` (SURVEY.md §2.1-§2.4): every consumer of parsed lines —
the batch ingest, the ``__spark_entry__`` queries and the journald stream —
reads its rows from it. Routing precedence per line:

1. journald JSON  (starts with ``{`` and mentions ``__REALTIME_TIMESTAMP``)
   -> ssh / nginx / leveled-message routing (``src/parse_logs.rs:261-302,
   328-379``)
2. ssh auth line  (contains ``sshd`` and ``Invalid user``)
   -> ``parse_log_line_ssh`` semantics (``src/parse_logs.rs:88-116``)
3. anything else is an apache-CLF candidate
   -> ``parse_log_line_apache`` semantics (``src/parse_logs.rs:208-232``)

Guards, tokenization, timestamp parsing and the byte-exact 'Invalid user'
extraction are all built-in column expressions, so the whole parse stage
runs inside whole-stage codegen with zero Python workers. Each parse
expression has one builder: the tokenizer, timestamp and level builders
below, the extraction and byte truncation in ``parsing/exprs.py``;
``parsing/core.py`` (with ``oracle.py``'s routing over it) is the
pure-Python spec the router is tested against. Everything uses ``try_*``
variants so the stage is safe under ANSI mode (Spark 4 default) —
unparseable rows drop instead of failing a 100 TB job.

Scale notes: every transform here is narrow (filter/project over the line
explode), so this stage never shuffles; it scales linearly with input splits
and survives skew trivially.
"""

from __future__ import annotations

from functools import reduce
from operator import or_
from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..parsing.core import DEFAULT_SYSTEMD_LOG_FILTERS, SERVERS
from ..parsing.exprs import HOST_BYTES, invalid_user_expr, trunc_bytes_expr
from ..schemas import JOURNALD_SCHEMA
from ..textops.util import explode_barrier

#: strict dotted-quad (matches Rust ``Ipv4Addr`` parse: 0-255, no leading 0s)
IPV4_RE = (
    r"^((25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\.){3}"
    r"(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])$"
)


def pages_to_lines(pages: DataFrame) -> DataFrame:
    """Explode page ``text`` into one row per log line (S3 analog)."""
    return pages.select(
        "url",
        "warc_ts",
        F.posexplode(F.split(F.coalesce("text", F.lit("")), "\n")).alias(
            "line_no", "line"
        ),
    )


def server_col(url: Column = None) -> Column:
    """Deterministic server attribution (reference: per-host config,
    ``src/lib.rs:96-166``). Hash-partitioned on url so both sides of the
    DuckDB oracle derive the same value."""
    url = F.col("url") if url is None else url
    return F.when(
        F.substring(F.md5(url), 32, 1).isin(*list("01234567")),
        F.lit(SERVERS[0]),
    ).otherwise(F.lit(SERVERS[1]))


def is_journald(line: Column) -> Column:
    return line.startswith("{") & line.contains("__REALTIME_TIMESTAMP")


def is_ssh_auth(line: Column) -> Column:
    # F1 pre-filter (parse_logs.rs:90-92)
    return (
        ~is_journald(line) & line.contains("sshd") & line.contains("Invalid user")
    )


def tokens_expr(text: Column) -> Column:
    """Whitespace tokens of ``text`` (Rust ``split_whitespace``)."""
    return F.split(F.trim(text), r"\s+")


def level_expr(line: Column) -> Column:
    """Leveled-message classifier over the raw journald line (P7): the first
    of error/warn/info/debug that it mentions."""
    return (
        F.when(line.contains("err") | line.contains("ERR"), "error")
        .when(line.contains("warn") | line.contains("WARN"), "warn")
        .when(line.contains("info") | line.contains("INFO"), "info")
        .when(line.contains("debug") | line.contains("DEBUG"), "debug")
    )


def ssh_ts_expr(year: Column) -> Column:
    """Timestamp of an ssh auth line tokenized into ``toks``:
    ``"{tok0} {tok1} {year} {tok2}"`` parsed as ``MMM d yyyy HH:mm:ss``
    (parse_logs.rs:88-116). The syslog format carries no year, so the
    caller supplies one: the reference uses the log file's mtime year
    (parse_logs.rs:156-158); crawled pages use ``year(warc_ts)``, the
    analogous provenance. The session pins UTC (SURVEY §7.4.2)."""
    return F.try_to_timestamp(
        F.concat_ws(
            " ",
            F.get("toks", 0),
            F.get("toks", 1),
            year.cast("string"),
            F.get("toks", 2),
        ),
        F.lit("MMM d yyyy HH:mm:ss"),
    )


def apache_ts_expr() -> Column:
    """Timestamp of a CLF line tokenized into ``toks``: ``toks[3] + toks[4]``
    with the brackets stripped, as ``d/MMM/yyyy:HH:mm:ssxx``
    (parse_logs.rs:208-232)."""
    return F.try_to_timestamp(
        F.regexp_replace(F.concat(F.get("toks", 3), F.get("toks", 4)), r"[\[\]]", ""),
        F.lit("d/MMM/yyyy:HH:mm:ssxx"),
    )


def is_filtered(line: Column, filters: Sequence[str]) -> Column:
    """True where a journald line contains any of the blacklist ``filters``
    (F6); no filters drop nothing."""
    return reduce(or_, [line.contains(f) for f in filters], F.lit(False))


#: routing kinds of journald lines that feed the intrusion sink
JOURNALD_KINDS = ("jssh", "jnginx")


def extract_events(
    pages: DataFrame,
    filters: Sequence[str] = DEFAULT_SYSTEMD_LOG_FILTERS,
    persist: bool = False,
) -> dict:
    """Full parse stage: pages -> :func:`route_lines` of their lines."""
    return route_lines(pages_to_lines(pages), filters, persist)


def route_lines(
    lines: DataFrame,
    filters: Sequence[str] = DEFAULT_SYSTEMD_LOG_FILTERS,
    persist: bool = False,
) -> dict:
    """The one Spark parse: ``(url, warc_ts, line_no, line)`` rows ->
    ``{events, systemd, routed, parsed}``.

    Each line gets one routing ``kind`` (``jssh``, ``jnginx``, ``systemd``,
    ``ssh``, ``apache``; unrouted lines drop) in ONE projection over the
    line rows, and the extraction runs once per line. A journald line
    follows the daemon routing (parse_logs.rs:328-371): the blacklist
    ``filters`` first (F6), then 'Invalid user ' -> ``jssh``, then 'nginx'
    with a strict-IPv4 token[2] -> ``jnginx``, else the level classifier
    (P7) -> ``systemd``.

    ``routed`` is every surviving line as one row with its ``kind``,
    ``sink`` and the columns of both sinks; ``events`` and ``systemd`` are
    its two sink projections. A consumer of one source takes its kinds
    from ``routed`` (e.g. :data:`JOURNALD_KINDS` for a journald stream).
    ``persist=True`` materializes ``parsed`` for a caller that reads both
    sinks; the caller unpersists it.
    """
    line = F.col("line")
    is_j = is_journald(line)
    is_ssh = is_ssh_auth(line)
    blacklist = is_filtered(line, filters)

    rec = F.col("rec")
    jts = F.timestamp_micros(rec["__REALTIME_TIMESTAMP"].try_cast("long"))
    has_invalid_user = line.contains("Invalid user ")

    nginx_ok = (
        F.col("j_valid")
        & ~F.col("has_iu")
        & line.contains("nginx")
        & (F.size("mtoks") >= 3)
        & F.col("nginx_host").rlike(IPV4_RE)
    )

    # Stage 1: every per-line derivation is materialized as a COLUMN, the
    # kind routing references only those attributes, and unrouted lines drop
    # at an explode_barrier, which evaluates each derivation once per line.
    # The journald record is one column read by three fields, so Catalyst
    # keeps one from_json instead of one pruned copy per field.
    parsed0 = (
        lines.withColumn("rec", F.from_json(F.when(is_j, line), JOURNALD_SCHEMA))
        .withColumns(
            {"msg": rec["MESSAGE"], "unit": rec["UNIT"], "jts": jts}
        )
        .withColumn("j_valid", is_j & ~blacklist & F.col("jts").isNotNull())
        .withColumn("has_iu", has_invalid_user)
        .withColumn("toks", tokens_expr(line))
        .withColumn("apache_host", trunc_bytes_expr(F.get("toks", 0), HOST_BYTES))
        # timestamp parsing is the parse stage's heaviest per-line work
        # (measured ~2x everything else combined), so both banks are
        # materialized GUARDED by their branch predicates — non-candidate
        # lines never touch the DateTimeFormatter, and the guard makes
        # ``isNotNull`` on the column equal to the old unguarded
        # ``guard & ts.isNotNull()`` conjunction everywhere it is read
        .withColumn(
            "ssh_ts",
            F.when(is_ssh & (F.size("toks") >= 10), ssh_ts_expr(F.year("warc_ts"))),
        )
        .withColumn(
            "apache_ts",
            F.when(
                ~is_j
                & ~is_ssh
                & (F.size("toks") >= 5)
                & F.col("apache_host").contains("."),
                apache_ts_expr(),
            ),
        )
        .withColumn("mtoks", tokens_expr(F.col("msg")))
        .withColumn("nginx_host", trunc_bytes_expr(F.get("mtoks", 2), HOST_BYTES))
        .withColumn("level", level_expr(line))
        .withColumn(
            "kind",
            F.when(F.col("j_valid") & F.col("has_iu"), "jssh")
            .when(nginx_ok, "jnginx")
            .when(
                F.col("j_valid") & ~F.col("has_iu") & F.col("level").isNotNull(),
                "systemd",
            )
            .when(F.col("ssh_ts").isNotNull(), "ssh")
            .when(F.col("apache_ts").isNotNull(), "apache"),
        )
        # the routing key is the barrier's generated column: the sinks'
        # filters on it stay above the barrier instead of re-deriving the
        # whole routing from ``line`` below it
        .withColumn(
            "kind", explode_barrier(F.col("kind").isNotNull(), F.col("kind"))
        )
    )

    # Stage 2: ONE extraction expression serves both ssh paths; rows whose
    # extraction fails (no ' from ' / dot-less host) drop at an
    # explode_barrier, so the struct is computed once.
    is_ssh_kind = F.col("kind").isin("ssh", "jssh")
    parsed = parsed0.withColumn(
        "ex",
        invalid_user_expr(
            F.when(F.col("kind") == "jssh", F.col("msg")).when(
                F.col("kind") == "ssh", line
            )
        ),
    ).withColumn(
        "__keep", explode_barrier(~is_ssh_kind | F.col("ex.host").isNotNull())
    )

    if persist:
        # both sinks consume `parsed`; materialize the (filtered, extracted)
        # frame once so the fan-out doesn't re-run the scan+explode+extract
        # per sink. Caller unpersists via result["parsed"].unpersist().
        from pyspark import StorageLevel

        parsed = parsed.persist(StorageLevel.MEMORY_AND_DISK)

    # Unified routed projection: every surviving line is exactly one sink
    # row, so the whole fan-out is ONE narrow select that both sink
    # projections and every per-kind consumer read.
    is_intr = F.col("kind").isin("ssh", "apache", "jssh", "jnginx")
    routed = parsed.select(
        "url",
        "line_no",
        "kind",
        F.when(is_intr, "intrusion_log")
        .otherwise("systemd_log_messages")
        .alias("sink"),
        F.when(F.col("kind").isin("ssh", "jssh"), "ssh")
        .when(F.col("kind") == "jnginx", "nginx")
        .when(F.col("kind") == "apache", "apache")
        .alias("service"),
        server_col().alias("server"),
        F.when(F.col("kind").isin("jssh", "jnginx"), F.col("jts"))
        .when(F.col("kind") == "ssh", F.col("ssh_ts"))
        .when(F.col("kind") == "apache", F.col("apache_ts"))
        .alias("datetime"),
        F.when(F.col("kind").isin("ssh", "jssh"), F.col("ex.host"))
        .when(F.col("kind") == "jnginx", F.col("nginx_host"))
        .when(F.col("kind") == "apache", F.col("apache_host"))
        .alias("host"),
        F.when(F.col("kind").isin("ssh", "jssh"), F.col("ex.username")).alias(
            "username"
        ),
        F.when(~is_intr, F.col("level")).alias("log_level"),
        F.when(~is_intr, F.col("unit")).alias("log_unit"),
        F.when(~is_intr, F.col("msg")).alias("log_message"),
        F.when(~is_intr, F.col("jts")).alias("log_timestamp"),
    )

    events = routed.filter(F.col("sink") == "intrusion_log").select(
        "url", "line_no", "service", "server", "datetime", "host", "username"
    )
    systemd = routed.filter(F.col("sink") == "systemd_log_messages").select(
        "url", "line_no", "log_level", "log_unit", "log_message", "log_timestamp"
    )
    return {
        "events": events,
        "systemd": systemd,
        "routed": routed,
        "parsed": parsed,
    }
