"""Exact-substring deduplication (ExactSubstr, Lee et al. ACL 2022,
"Deduplicating Training Data Makes Language Models Better", §4.1).

Unlike document-level dedup (minhash/simhash/Bloom — all in this package),
ExactSubstr removes *spans*: any run of at least ``min_len`` tokens that
already occurred earlier in the corpus is cut out of the later document,
while the first occurrence stays intact. The paper builds a corpus-wide
suffix array; that is a single-machine construction. Here the same
semantics are reached at shingle granularity with pure DataFrame ops:

* every document yields one window per token position — the ``min_len``
  tokens starting there, keyed by the md5 of their space-joined text.
  A duplicated span of m >= ``min_len`` tokens contains exactly
  m - min_len + 1 duplicated stride-1 windows, so covering all duplicated
  windows covers exactly the duplicated spans (the suffix-array answer at
  token granularity, restricted to matches of the exact window length and
  longer).
* the corpus-global first occurrence of each distinct window is the
  minimum ``(id, pos)`` pair — the same associative ``min(struct)`` move
  as :func:`.c4.dedup_lines_global`, so map-side partial aggregation
  absorbs hot boilerplate windows.
* every other occurrence marks its ``[pos, pos+min_len)`` token range for
  removal; per-document ranges are merged with an O(ranges) fold
  (``F.aggregate`` over the sorted starts — no explode of covered
  positions), and surviving tokens are re-joined with single spaces.

Output text is therefore whitespace-normalized (tokens joined by one
space) — the contract callers must expect, stated on :func:`exact_substr_dedup`.

Scale notes (the 100 TB plan): window hashing is JVM-side
(``transform`` + ``md5``) with zero Python; its cost is O(tokens x
min_len) characters hashed — the honest price of stride-1 shingling,
linear in corpus size like the paper's suffix array. The duplicate
detection is one ``groupBy(h)`` (partial-agg-absorbed skew: hot windows
collapse map-side) plus one hash join back on ``h`` (AQE skew-split
handles pathological keys); span merge is one ``groupBy(id)``; the final
rebuild is a same-key left join on ``id``. No windows over skewed keys,
no driver state, no Python anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .util import explode_barrier


def _tokens(text: Column) -> Column:
    """Whitespace tokens, empties dropped (leading/trailing/double space)."""
    return F.filter(F.split(text, r"\s+"), lambda t: t != "")


def _windows(tokens: Column, min_len: int) -> Column:
    """array<struct<pos,h>>: md5 of each ``min_len``-token window; empty
    array when the document has fewer than ``min_len`` tokens."""
    n = F.size(tokens)
    return F.when(
        n >= min_len,
        F.transform(
            F.sequence(F.lit(0), n - min_len),
            lambda i: F.struct(
                i.cast("long").alias("pos"),
                F.md5(
                    F.array_join(F.slice(tokens, i + 1, min_len), " ")
                ).alias("h"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<pos:bigint,h:string>>"))


def _occurrences(
    docs: DataFrame, min_len: int, id_col: str, text_col: str
) -> DataFrame:
    """-> (id_col, pos, h): every window occurrence, exploded to rows.

    The token array is materialized beside an :func:`.util.explode_barrier`
    so the window lambda slices a bound attribute instead of re-running the
    ``split()`` once per window."""
    toks = docs.select(
        F.col(id_col),
        _tokens(F.col(text_col)).alias("__tokens"),
        explode_barrier().alias("__b"),
    )
    return toks.select(
        id_col, F.explode(_windows(F.col("__tokens"), min_len)).alias("w")
    ).select(id_col, F.col("w.pos").alias("pos"), F.col("w.h").alias("h"))


def duplicate_windows(
    docs: DataFrame,
    min_len: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """-> (id_col, pos): every window occurrence that is NOT the
    corpus-global first occurrence of its window text ("first" = minimum
    ``(id, pos)``; within-document repetitions count as duplicates too,
    exactly as the paper's suffix array sees them)."""
    # r6 (guide §2.4 "two operations keyed the same way share one
    # exchange"): both consumers of the occurrence table — the firsts
    # aggregate and the join probe — need it hashed on ``h``, but as two
    # independent lineages Spark computed the window hashing TWICE and
    # shuffled twice. One explicit repartition(h) feeds both: the windows
    # are built once, the single shuffle is reused (AQE shuffle-stage
    # reuse), and the groupBy + join run co-partitioned with no further
    # exchange. Total shuffled bytes strictly decrease (the join side
    # always shipped every occurrence). Measured 1.8 -> 1.0 s at sf0.1,
    # row-identical.
    occ = _occurrences(docs, min_len, id_col, text_col).repartition(
        F.col("h")
    )
    # guide §3.2: only windows with >= 2 occurrences can produce a
    # duplicate, so the join's build side is restricted to those — a
    # single-occurrence window's occurrence IS its first and drops out of
    # the inner join exactly as the old non-first filter dropped it (the
    # count rides the existing groupBy — no extra pass).
    firsts = (
        occ.groupBy("h")
        .agg(
            F.min(
                F.struct(F.col(id_col).alias("i"), F.col("pos").alias("p"))
            ).alias("_first"),
            F.count(F.lit(1)).alias("_n_occ"),
        )
        .filter(F.col("_n_occ") >= 2)
        .drop("_n_occ")
    )
    return (
        occ.join(firsts, "h")
        .filter(
            (F.col(id_col) != F.col("_first.i"))
            | (F.col("pos") != F.col("_first.p"))
        )
        .select(id_col, "pos")
    )


def _merge_spans(sorted_starts: Column, min_len: int) -> Column:
    """Fold sorted window starts into merged ``struct<s,e>`` token ranges
    (each start covers ``[s, s+min_len)``). O(ranges), no explode."""
    empty = F.expr("CAST(array() AS array<struct<s:bigint,e:bigint>>)")
    return F.aggregate(
        sorted_starts,
        empty,
        lambda acc, p: F.when(
            (F.size(acc) > 0) & (p <= F.element_at(acc, -1)["e"]),
            F.concat(
                F.slice(acc, 1, F.greatest(F.size(acc) - 1, F.lit(0))),
                F.array(
                    F.struct(
                        F.element_at(acc, -1)["s"].alias("s"),
                        F.greatest(
                            F.element_at(acc, -1)["e"], p + min_len
                        ).alias("e"),
                    )
                ),
            ),
        ).otherwise(
            F.concat(
                acc,
                F.array(
                    F.struct(p.alias("s"), (p + min_len).alias("e"))
                ),
            )
        ),
    )


def _rebuild_without(
    docs: DataFrame,
    marked: DataFrame,
    min_len: int,
    id_col: str,
    text_col: str,
    min_tokens_kept: int,
) -> DataFrame:
    """Remove every token covered by a marked window ``[pos, pos+min_len)``
    and re-join the survivors with single spaces. ``marked`` is
    ``(id_col, pos)``; shared tail of ExactSubstr and span-mode
    decontamination."""
    spans = marked.groupBy(id_col).agg(
        _merge_spans(F.sort_array(F.collect_list("pos")), min_len).alias("spans")
    )
    toks = docs.select(
        id_col, _tokens(F.col(text_col)).alias("tokens")
    )
    no_spans = F.expr("CAST(array() AS array<struct<s:bigint,e:bigint>>)")
    kept = F.filter(
        F.transform(
            F.col("tokens"),
            lambda t, i: F.struct(t.alias("t"), i.cast("long").alias("i")),
        ),
        lambda s: ~F.exists(
            F.col("_spans"),
            lambda sp: (s["i"] >= sp["s"]) & (s["i"] < sp["e"]),
        ),
    )
    return (
        toks.join(spans, id_col, "left")
        .withColumn("_spans", F.coalesce(F.col("spans"), no_spans))
        .withColumn("_kept", kept)
        .select(
            id_col,
            F.array_join(
                F.transform(F.col("_kept"), lambda s: s["t"]), " "
            ).alias(text_col),
            F.size("_kept").cast("long").alias("n_tokens"),
            (F.size("tokens") - F.size("_kept")).cast("long").alias(
                "n_removed"
            ),
        )
        .filter(F.col("n_tokens") >= min_tokens_kept)
    )


def exact_substr_dedup(
    docs: DataFrame,
    min_len: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens_kept: int = 1,
) -> DataFrame:
    """-> (id_col, text, n_tokens, n_removed): the corpus with every
    duplicated >= ``min_len``-token span removed from all but its first
    occurrence (ExactSubstr).

    Contract: output ``text`` is whitespace-normalized — surviving tokens
    joined by single spaces — because matching is over the whitespace
    token sequence. Documents with fewer than ``min_len`` tokens pass
    through (normalized) untouched; documents left with fewer than
    ``min_tokens_kept`` tokens are dropped. Deterministic for a given
    corpus regardless of partitioning.
    """
    dups = duplicate_windows(docs, min_len, id_col, text_col)
    return _rebuild_without(
        docs, dups, min_len, id_col, text_col, min_tokens_kept
    )


def contaminated_windows(
    docs: DataFrame,
    bench: DataFrame,
    n: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
) -> DataFrame:
    """-> (id_col, pos): every corpus window whose ``n``-token text also
    occurs anywhere in the benchmark set. The benchmark side reduces to a
    DISTINCT hash dim (eval suites are thousands of documents, so the dim
    is broadcast — no shuffle of the corpus windows)."""
    occ = _occurrences(docs, n, id_col, text_col)
    bench_h = (
        _occurrences(
            bench.select(F.lit(0).alias("__bid"), F.col(bench_text_col)),
            n,
            "__bid",
            bench_text_col,
        )
        .select("h")
        .distinct()
    )
    return occ.join(F.broadcast(bench_h), "h").select(id_col, "pos")


def decontaminate(
    docs: DataFrame,
    bench: DataFrame,
    n: int = 13,
    mode: str = "excise",
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
    min_tokens_kept: int = 1,
) -> DataFrame:
    """Benchmark decontamination (the GPT-3 appendix-C / Llama eval-hygiene
    pass): remove training text that overlaps an evaluation set in any
    ``n``-token window (GPT-3 uses 13-grams).

    ``mode='drop'`` removes every document containing at least one
    overlapping window and returns ``(id_col, text_col)`` with the
    surviving documents' text untouched. ``mode='excise'`` cuts only the
    overlapping spans (merged per document) and returns the
    whitespace-normalized ``(id_col, text, n_tokens, n_removed)`` shape of
    :func:`exact_substr_dedup`; unlike dedup there is no "first occurrence
    kept" — every contaminated span is removed. Deterministic for a given
    corpus regardless of partitioning.
    """
    marked = contaminated_windows(docs, bench, n, id_col, text_col, bench_text_col)
    if mode == "drop":
        return docs.join(
            marked.select(id_col).distinct(), id_col, "left_anti"
        ).select(id_col, text_col)
    if mode != "excise":
        raise ValueError(f"unknown decontaminate mode: {mode!r}")
    return _rebuild_without(docs, marked, n, id_col, text_col, min_tokens_kept)


def exact_substr_oracle_sql(
    source_sql: str,
    min_len: int = 50,
    id_col: str = "doc_id",
    min_tokens_kept: int = 1,
) -> str:
    """Independent DuckDB twin of :func:`exact_substr_dedup` over
    ``source_sql`` (a relation exposing ``(id_col, text)``).

    Deliberately different formulation: ``row_number()`` picks firsts,
    gaps-and-islands merges spans, and a range anti-join drops covered
    tokens — so a bug in the Spark fold cannot be mirrored here.
    """
    L = int(min_len)
    return f"""
WITH src AS ({source_sql}),
{_raw_toks_wins_sql(id_col, L)},
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY h ORDER BY {id_col}, pos) AS rn
  FROM wins
),
dups AS (SELECT {id_col}, pos FROM ranked WHERE rn > 1),
{_span_removal_tail_sql(id_col, L, min_tokens_kept)}
"""


def _raw_toks_wins_sql(id_col: str, L: int) -> str:
    return f"""toks AS (
  SELECT {id_col},
         list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS tokens
  FROM src
),
wins AS (
  SELECT {id_col},
         CAST(i AS BIGINT) AS pos,
         md5(array_to_string(tokens[i + 1 : i + {L}], ' ')) AS h
  FROM toks, unnest(generate_series(0, len(tokens) - {L})) AS u(i)
)"""


def _span_removal_tail_sql(id_col: str, L: int, min_tokens_kept: int) -> str:
    """CTE chain consuming ``dups (id, pos)`` + ``toks``: gaps-and-islands
    span merge, range anti-join token removal, rebuild."""
    return f"""marked AS (
  SELECT {id_col}, pos,
         CASE WHEN pos > coalesce(
             max(pos + {L}) OVER (PARTITION BY {id_col} ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
         THEN 1 ELSE 0 END AS brk
  FROM dups
),
islands AS (
  SELECT {id_col}, pos,
         sum(brk) OVER (PARTITION BY {id_col} ORDER BY pos) AS isl
  FROM marked
),
spans AS (
  SELECT {id_col}, min(pos) AS s, max(pos) + {L} AS e
  FROM islands GROUP BY {id_col}, isl
),
tokpos AS (
  SELECT {id_col},
         unnest(tokens) AS t,
         CAST(generate_subscripts(tokens, 1) - 1 AS BIGINT) AS idx,
         len(tokens) AS n
  FROM toks
),
kept AS (
  SELECT tp.*
  FROM tokpos tp
  WHERE NOT EXISTS (
    SELECT 1 FROM spans sp
    WHERE sp.{id_col} = tp.{id_col} AND tp.idx >= sp.s AND tp.idx < sp.e
  )
),
rebuilt AS (
  SELECT {id_col},
         string_agg(t, ' ' ORDER BY idx) AS text,
         CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(any_value(n) - count(*) AS BIGINT) AS n_removed
  FROM kept GROUP BY {id_col}
)
SELECT * FROM rebuilt WHERE n_tokens >= {int(min_tokens_kept)}"""


def decontaminate_oracle_sql(
    source_sql: str,
    bench_sql: str,
    n: int = 13,
    mode: str = "excise",
    id_col: str = "doc_id",
    min_tokens_kept: int = 1,
) -> str:
    """Independent DuckDB twin of :func:`decontaminate` over ``source_sql``
    and ``bench_sql`` (relations exposing ``(id_col, text)`` / ``text``)."""
    L = int(n)
    head = f"""
WITH src AS ({source_sql}),
{_raw_toks_wins_sql(id_col, L)},
bsrc AS ({bench_sql}),
btoks AS (
  SELECT list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS tokens
  FROM bsrc
),
bwins AS (
  SELECT DISTINCT md5(array_to_string(tokens[i + 1 : i + {L}], ' ')) AS h
  FROM btoks, unnest(generate_series(0, len(tokens) - {L})) AS u(i)
),
dups AS (
  SELECT w.{id_col}, w.pos FROM wins w JOIN bwins USING (h)
)"""
    if mode == "drop":
        return (
            head
            + f""",
dirty AS (SELECT DISTINCT {id_col} FROM dups)
SELECT s.{id_col}, s.text FROM src s
WHERE NOT EXISTS (SELECT 1 FROM dirty d WHERE d.{id_col} = s.{id_col})
"""
        )
    if mode != "excise":
        raise ValueError(f"unknown decontaminate mode: {mode!r}")
    return head + ",\n" + _span_removal_tail_sql(id_col, L, min_tokens_kept) + "\n"
