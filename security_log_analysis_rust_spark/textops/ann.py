"""Approximate nearest neighbors over an embedding column.

Two paths:

* ``brute_force_topk`` — the exact O(N^2) baseline as a pure DataFrame plan:
  probe side spread across tasks, candidate side broadcast. The broadcast of
  the candidate table is *intrinsic* to an exact all-pairs baseline (every
  probe must see every candidate — the only alternative physical strategy is
  a cartesian shuffle, which is strictly worse); it is NOT the scale path and
  is capped by executor memory by design. Use ``lsh_topk`` at scale.

* ``lsh_topk`` — the scale path: seeded random-hyperplane LSH bucketing
  (JVM-side expressions over a 32-row broadcast plane dim — zero Python in
  the bucketing), then an exact numpy top-k *within each bucket* via
  ``applyInPandas`` (one Arrow batch + one BLAS matmul per bucket — never a
  driver-side collect of the table), then a global per-vector merge of the
  per-bucket top-k rows. The per-bucket pre-reduce bounds the merge input to
  ``k * n_tables`` rows per vector regardless of bucket size.

Exactness of the pre-reduce: a neighbor in the global top-k of a vector's
candidate set beats all but < k candidates, hence beats all but < k of its
own bucket-mates, hence survives its bucket's local top-k — so per-bucket
top-k followed by a global top-k merge equals top-k over the full candidate
set (given one consistent total order: rounded sim desc, neighbor_id asc).
"""

from __future__ import annotations

import functools
from typing import Iterator, List

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

_TOPK_SCHEMA = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("neighbor_id", LongType()),
        StructField("rank", IntegerType()),
        StructField("sim", DoubleType()),
    ]
)

_BUCKET_TOPK_SCHEMA = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("neighbor_id", LongType()),
        StructField("sim", DoubleType()),
    ]
)


def _dot(va: str, vb: str):
    return F.aggregate(
        F.zip_with(va, vb, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _norm(c: str):
    return F.sqrt(
        F.aggregate(
            F.transform(F.col(c), lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
        )
    )


def _as_double_vec(emb: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    from .util import spread_small_input

    emb = spread_small_input(emb)
    vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    return emb.select(F.col(id_col), vec.alias("v"))


def brute_force_topk(
    emb: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k per vector (self-join semantics, excludes self).

    Pure JVM expressions (zip_with/aggregate dot product + window rank) —
    deterministic and oracle-pairable. Ties break on (sim desc, neighbor_id
    asc) after rounding sim to 6 decimals.
    """
    spark = emb.sparkSession
    base = _as_double_vec(emb, id_col, vec_col)
    a = base.select(F.col(id_col).alias("vec_id"), F.col("v").alias("va"))
    b = base.select(F.col(id_col).alias("neighbor_id"), F.col("v").alias("vb"))
    pairs = (
        a.repartition(spark.sparkContext.defaultParallelism)
        .join(F.broadcast(b), F.col("vec_id") != F.col("neighbor_id"))
        .select(
            "vec_id",
            "neighbor_id",
            F.round(_dot("va", "vb") / (_norm("va") * _norm("vb")), 6).alias("sim"),
        )
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("vec_id", "neighbor_id", "rank", "sim")
    )


def seeded_planes(
    n_tables: int, n_bits: int, dim: int, seed: int = 7, decimals: int = 6
) -> List[List[List[float]]]:
    """Deterministic hyperplanes, rounded so an independent SQL oracle can
    embed the identical literals. Shape: [table][bit][dim]."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_tables, n_bits, dim)).round(decimals).tolist()


def _vec_sql(vals) -> str:
    """SQL text of an array<double> literal. ``repr(float)`` is the
    shortest round-trip decimal, and both Python and the SQL parser bind it
    with correctly-rounded ``Double.parseDouble`` semantics, so the parsed
    doubles are bit-identical to the Python values."""
    return "array(" + ",".join(repr(float(x)) + "D" for x in vals) + ")"


def _vecs_lit(vecs) -> Column:
    """array<array<double>> literal via ONE parsed SQL expression.

    r6, measured: building the same literal through per-element ``F.lit``
    costs ~1.5 s of py4j round trips at 64 vectors x 64 dims — paid on
    EVERY query construction; one ``F.expr`` parse costs ~20 ms."""
    return F.expr("array(" + ",".join(_vec_sql(v) for v in vecs) + ")")


@functools.lru_cache(maxsize=8)
def _planes_lit(
    n_tables: int, n_bits: int, dim: int, seed: int, bank_bits: int | None
) -> Column:
    """The plane bank as one array<array<array<double>>> literal.

    LRU-cached: planes are pure functions of the key, and a Column is an
    immutable expression handle (JVM-wide, not session-scoped), so
    rebuilding the ~4k-node literal per query is pure waste. This caches an
    EXPRESSION (seeded constants), never data or results. Eight keys cover
    every (shape, seed) one corpus pass uses (three, warm-up draw included)
    while keeping a long-lived process from holding every literal it built."""
    gen_bits = bank_bits if bank_bits else n_bits
    planes = seeded_planes(n_tables, gen_bits, dim, seed=seed)
    return F.expr(
        "array("
        + ",".join(
            "array(" + ",".join(_vec_sql(p) for p in tbl[:n_bits]) + ")"
            for tbl in planes
        )
        + ")"
    )


def _lambda_dot(v: Column, p: Column) -> Column:
    """Dot product of two bound array columns/lambda variables — the same
    ``zip_with``/``aggregate`` expression (same left-to-right float order)
    as :func:`_dot`, usable inside HOF lambdas."""
    return F.aggregate(
        F.zip_with(v, p, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _lambda_norm(a: Column) -> Column:
    """Norm of a bound array column/lambda variable — same float order as
    :func:`_norm`."""
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
        )
    )


def _centroid_score_structs(cent_pairs) -> Column:
    """array<struct<ns,cid>> over the bound ``v`` column: negated rounded
    cosine + centroid id, ONE expression tree (a ``transform`` over the
    centroid-literal array with the cid as the lambda index — ``cent_pairs``
    is enumerate-ordered, so index == cid).

    Single-tree matters (r6, measured): K separate per-centroid expression
    trees evaluate ~8x slower than one tree applied K times — the
    interpreter/JIT never gets a hot monomorphic path. Sorting ascending on
    (ns, cid) equals the former window's (csim desc, cid asc); negation of
    a double is exact, and java.lang.Double ordering is symmetric under
    negation (incl. -0.0/NaN), so the pick is identical."""
    cents_lit = _vecs_lit([cv for _, cv in cent_pairs])
    v = F.col("v")
    return F.transform(
        cents_lit,
        lambda cv, i: F.named_struct(
            F.lit("ns"),
            -F.round(
                _lambda_dot(v, cv) / (_lambda_norm(v) * _lambda_norm(cv)), 6
            ),
            F.lit("cid"),
            i.cast("int"),
        ),
    )


def _bucket_structs(planes_lit: Column) -> Column:
    """array<struct<tbl,bucket>> — all tables' sign-pattern buckets for the
    bound ``v`` column, as ONE per-row expression over the plane literals.

    r6 rewrite (guide §2.4 "remove shuffles outright"): the former
    formulation joined a broadcast (tbl, bit, plane) dim — exploding every
    vector into n_tables*n_bits rows each carrying the full vector — then
    re-assembled buckets with a groupBy(id, tbl) SUM, i.e. one broadcast
    join + one full exchange per bucketing pass. The planes are seeded
    literals, so the whole computation is a narrow map; each dot product
    is the identical zip_with/aggregate expression the join version
    evaluated (same float order -> identical buckets, verified), and the
    whole bucketing is ONE nested-HOF tree over a nested plane literal —
    per-table/per-bit expression copies were measured ~8x slower (the
    single tree stays monomorphic for the interpreter/JIT; 56 distinct
    trees do not). ``pow(2.0, i)`` over the bit index is exact for the bit
    range and equals the former ``shiftleft(1, bit)``."""
    v = F.col("v")
    return F.transform(
        planes_lit,
        lambda mat, t: F.named_struct(
            F.lit("tbl"),
            t.cast("int"),
            F.lit("bucket"),
            F.aggregate(
                F.transform(
                    mat,
                    lambda p, i: F.when(
                        _lambda_dot(v, p) > 0, F.pow(F.lit(2.0), i).cast("int")
                    ).otherwise(F.lit(0)),
                ),
                F.lit(0),
                lambda acc, x: acc + x,
            ).cast("long"),
        ),
    )


def _bucket_rows(
    emb: DataFrame,
    n_bits: int,
    n_tables: int,
    seed: int,
    id_col: str,
    vec_col: str,
    dim: int | None,
    bank_bits: int | None,
) -> DataFrame:
    """-> (id_col, v, tbl, bucket): one row per (vector, table), vector
    carried through — zero joins, zero shuffles (one narrow explode)."""
    if dim is None:
        dim = len(emb.select(vec_col).first()[0])
    if bank_bits is not None and n_bits > bank_bits:
        raise ValueError(
            f"n_bits={n_bits} exceeds the plane bank ({bank_bits} bits): "
            "the oracle-paired literals cannot follow. Cap n_bits at "
            "bank_bits (auto paths do) or enlarge the bank on both sides."
        )
    planes_lit = _planes_lit(n_tables, n_bits, dim, seed, bank_bits)
    base = _as_double_vec(emb, id_col, vec_col)
    return base.select(
        id_col,
        "v",
        F.explode(_bucket_structs(planes_lit)).alias("__tb"),
    ).select(id_col, "v", F.col("__tb.tbl").alias("tbl"), F.col("__tb.bucket").alias("bucket"))


def with_lsh_buckets(
    emb: DataFrame,
    n_bits: int = 10,
    n_tables: int = 1,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    bank_bits: int | None = None,
) -> DataFrame:
    """-> (id_col, tbl, bucket): sign-pattern bucket per (vector, table).

    JVM-side narrow map over plane LITERALS (see :func:`_bucket_structs`) —
    no plane-dim join, no groupBy; bucket values are bit-identical to the
    former join+sum formulation.

    ``bank_bits``: generate a fixed-size plane BANK and use its first
    ``n_bits`` planes per table. The bank decouples the plane *values* from
    the (data-dependent) bit count, so an auto-sized run and an independent
    SQL oracle agree on the literals whatever n_bits resolves to. A bank
    caller asking for MORE bits than the bank holds is a contract breach
    (the SQL oracle's embedded bank can't follow) and raises — auto-sized
    callers cap at the bank instead (see :func:`lsh_topk`).

    ``dim`` skips the one-row ``first()`` probe job when the caller already
    knows the embedding width (every production caller does).
    """
    return _bucket_rows(
        emb, n_bits, n_tables, seed, id_col, vec_col, dim, bank_bits
    ).select(id_col, "tbl", "bucket")


def _half_up_round(x: np.ndarray, decimals: int = 6) -> np.ndarray:
    """ROUND_HALF_UP (away from zero) — matches Spark's F.round and DuckDB's
    round(), unlike numpy's banker's rounding."""
    scale = 10.0**decimals
    return np.sign(x) * np.floor(np.abs(x) * scale + 0.5) / scale


def _bucket_topk(pdf: pd.DataFrame, k: int) -> pd.DataFrame:
    """Exact cosine top-k within one bucket: one normalize + one matmul.
    Total order: (sim desc, neighbor_id asc) on HALF_UP-rounded sims."""
    ids = pdf["vec_id"].to_numpy()
    mat = np.stack(pdf["v"].to_numpy()).astype(np.float64)
    norms = np.linalg.norm(mat, axis=1)
    norms[norms == 0] = 1.0
    unit = mat / norms[:, None]
    sims = _half_up_round(unit @ unit.T)
    np.fill_diagonal(sims, -np.inf)
    rows = []
    kk = min(k, len(ids) - 1)
    if kk <= 0:
        return pd.DataFrame(columns=["vec_id", "neighbor_id", "sim"])
    for r in range(len(ids)):
        order = np.lexsort((ids, -sims[r]))[:kk]
        for ci in order:
            if np.isfinite(sims[r, ci]):
                rows.append((int(ids[r]), int(ids[ci]), float(sims[r, ci])))
    return pd.DataFrame(rows, columns=["vec_id", "neighbor_id", "sim"])


def auto_n_bits(n_vectors: int, target_bucket: int = 4096) -> int:
    """Bits so the EXPECTED bucket size is ~``target_bucket``: within-bucket
    work is quadratic, so bits must grow with log2(N) — a static bit count
    leaves ~N^2/2^bits pairs per table at scale."""
    import math

    return max(4, math.ceil(math.log2(max(n_vectors, 1) / target_bucket)))


def lsh_topk(
    emb: DataFrame,
    k: int = 5,
    n_bits: int | None = 4,
    n_tables: int = 8,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    target_bucket: int = 4096,
    bank_bits: int | None = None,
    n_vectors: int | None = None,
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k: exact cosine among LSH-bucket candidates only.

    Standard OR-amplified multi-table LSH (per-table collision prob
    ``(1 - theta/pi)^n_bits``; tables drive recall up, bits drive candidate
    count down). Physical plan: one shuffle on (tbl, bucket) into the
    ``applyInPandas`` top-k kernel (per-bucket pre-reduce), then one shuffle
    on vec_id for the global merge over at most ``k * n_tables`` rows per
    vector. No corpus-sized broadcast, no driver-side collect.

    ``n_bits=None`` auto-sizes the bit count from the corpus so expected
    bucket size stays ~``target_bucket`` as N grows (:func:`auto_n_bits`),
    capped at ``bank_bits`` when a bank pins the plane literals — the SQL
    oracle derives the identical ``least(auto, bank)`` so the pairing
    contract holds at every corpus size. Pass ``n_vectors`` (corpus size,
    if already known) and ``dim`` to skip the count/first probe jobs —
    the auto path then adds ZERO extra jobs over the pinned path.
    """
    if n_bits is None:
        n_bits = auto_n_bits(
            emb.count() if n_vectors is None else n_vectors, target_bucket
        )
        if bank_bits is not None:
            n_bits = min(n_bits, bank_bits)
    # r6: vectors ride along with their bucket rows (narrow map, zero
    # joins) instead of bucketing then joining the vector table back
    grouped = _bucket_rows(
        emb, n_bits, n_tables, seed, id_col, vec_col, dim, bank_bits
    ).withColumnRenamed(id_col, "vec_id")

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        return _bucket_topk(pdf, k)

    local = grouped.groupBy("tbl", "bucket").applyInPandas(
        kernel, _BUCKET_TOPK_SCHEMA
    )
    return _merge_topk(local, k)


def _merge_topk(local: DataFrame, k: int) -> DataFrame:
    """Global per-vector top-k merge of per-bucket top-k rows.

    r6 rewrite (guide §2.4): the former ``dropDuplicates(pair)`` + rank
    window was TWO exchanges (hash on the pair, then hash on vec_id) plus a
    sort-based window; one ``groupBy(vec_id)`` + sorted-array expressions
    computes the identical result in ONE exchange. The same pair emitted by
    several buckets carries an identical rounded sim (the kernel's rounding
    is deterministic), so ``array_distinct`` over (sim, neighbor) structs
    dedups exactly like the pair ``dropDuplicates`` did; sort order
    (-sim asc, neighbor asc) == the window's (sim desc, neighbor asc);
    negation of a finite double is exact, so sims round-trip bit-identically.
    """
    merged = local.groupBy("vec_id").agg(
        F.collect_list(
            F.struct((-F.col("sim")).alias("ns"), F.col("neighbor_id").alias("nid"))
        ).alias("__cands")
    )
    top = merged.select(
        "vec_id",
        F.posexplode(
            F.slice(
                F.array_distinct(F.array_sort(F.col("__cands"))), 1, k
            )
        ).alias("__pos", "__s"),
    )
    return top.select(
        "vec_id",
        F.col("__s.nid").alias("neighbor_id"),
        (F.col("__pos") + 1).cast("int").alias("rank"),
        (-F.col("__s.ns")).alias("sim"),
    )


def lsh_near_dups(
    emb: DataFrame,
    threshold: float = 0.35,
    n_bits: int | None = 4,
    n_tables: int = 8,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    target_bucket: int = 4096,
    bank_bits: int | None = None,
    n_vectors: int | None = None,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: LSH-bucketed candidates, exact
    cosine >= ``threshold``. The dedup flavor of the ANN stack — candidates
    come from within-bucket combinations (no self-join, no corpus broadcast),
    so the work is bucket-bounded rather than all-pairs. Recall contract:
    only pairs colliding in >= 1 of the ``n_tables`` tables are examined
    (same OR-amplification math as lsh_topk). ``n_bits=None`` auto-sizes
    from the corpus like :func:`lsh_topk` (same plane-bank mechanics,
    bank-capped); ``n_vectors``/``dim`` skip the probe jobs likewise."""
    if n_bits is None:
        n_bits = auto_n_bits(
            emb.count() if n_vectors is None else n_vectors, target_bucket
        )
        if bank_bits is not None:
            n_bits = min(n_bits, bank_bits)
    buckets = with_lsh_buckets(
        emb, n_bits=n_bits, n_tables=n_tables, seed=seed,
        id_col=id_col, vec_col=vec_col, bank_bits=bank_bits, dim=dim,
    ).withColumnRenamed(id_col, "vec_id")
    pairs_expr = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("a_id"), y.alias("b_id")),
            ),
        )
    )
    cand = (
        buckets.groupBy("tbl", "bucket")
        .agg(F.array_sort(F.collect_list("vec_id")).alias("ids"))
        .filter(F.size("ids") >= 2)
        .select(F.explode(pairs_expr).alias("p"))
        .select(F.col("p.a_id").alias("a_id"), F.col("p.b_id").alias("b_id"))
        .distinct()
    )
    base = _as_double_vec(emb, id_col, vec_col)
    cand = cand.join(
        base.select(F.col(id_col).alias("a_id"), F.col("v").alias("va")), "a_id"
    ).join(
        base.select(F.col(id_col).alias("b_id"), F.col("v").alias("vb")), "b_id"
    )
    sim = F.round(_dot("va", "vb") / (_norm("va") * _norm("vb")), 6)
    return (
        cand.withColumn("sim", sim)
        .filter(F.col("sim") >= threshold)
        .select("a_id", "b_id", "sim")
    )


def auto_n_centroids(n_vectors: int) -> int:
    """IVF list count ~sqrt(N) (the standard rule: ~sqrt(N) lists x
    ~sqrt(N) members balances probe cost against per-list scan), rounded up
    to a power of two and floored at 16. Expressed identically in SQL
    (greatest/pow/ceil/log2/sqrt) so an oracle can derive the same count
    from the same corpus."""
    import math

    return max(16, 1 << math.ceil(math.log2(math.ceil(math.sqrt(max(n_vectors, 1))))))


def ivf_topk(
    emb: DataFrame,
    k: int = 5,
    n_centroids: int | None = 16,
    n_probe: int = 4,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_vectors: int | None = None,
    centroid_vectors: list | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k — the coarse-quantizer
    alternative to :func:`lsh_topk`.

    ``centroid_vectors`` (optional) replaces the md5-sampled coarse
    quantizer with caller-supplied centroids — e.g. trained
    :func:`.kmeans.kmeans_fit` output, the FAISS-style configuration.
    The default (None) keeps the SQL-oracle-certified sampling path.

    * **Centroids**: ``n_centroids`` deterministic data samples — the rows
      with the smallest ``md5(vec_id || ':' || seed)`` (a seeded uniform
      sample without a full k-means pass, chosen over xxhash64 so a SQL
      oracle reproduces the exact set; centroid count is dim-sized, so
      collecting them to build a broadcast literal is O(centroids), never
      O(corpus)).
    * **Assignment** (JVM expressions over centroid LITERALS): each vector
      joins its single nearest centroid's inverted list; each QUERY probes
      its ``n_probe`` nearest lists — one narrow map, no N*K exchange.
    * **Search**: one shuffle on the list id into the same per-list
      ``applyInPandas`` kernel (queries x list members, one matmul), then
      the global per-vector merge. No corpus-sized broadcast, no driver
      collect of the table.
    """
    base = _as_double_vec(emb, id_col, vec_col).withColumnRenamed(id_col, "vec_id")
    if centroid_vectors is not None:
        cent_pairs = [
            (i, [float(x) for x in c]) for i, c in enumerate(centroid_vectors)
        ]
    else:
        if n_centroids is None:
            n_centroids = auto_n_centroids(
                emb.count() if n_vectors is None else n_vectors
            )
        cent_rows = (
            base.withColumn(
                "__h",
                F.md5(F.concat(F.col("vec_id").cast("string"), F.lit(f":{seed}"))),
            )
            .orderBy("__h", "vec_id")
            .limit(n_centroids)
            .collect()
        )
        cent_pairs = [
            (i, [float(x) for x in r["v"]]) for i, r in enumerate(cent_rows)
        ]
    # r6 (guide §2.4): the centroids are driver-side literals already, so
    # the nearest/top-``n_probe`` assignment is ONE per-row expression over
    # the centroid-literal array — the former broadcast join exploded every
    # vector into n_centroids rows (each carrying the full vector) and
    # ranked them with a sort-based window, i.e. a full N*K exchange. The
    # per-centroid cosine is the identical rounded expression, and the
    # (-csim, cid) struct sort equals the window's (csim desc, cid asc).
    ranked_arr = F.array_sort(_centroid_score_structs(cent_pairs))
    sel = base.select(
        "vec_id", "v", F.slice(ranked_arr, 1, n_probe).alias("__probe")
    )
    rows = sel.select(
        "vec_id",
        "v",
        F.explode(
            F.concat(
                F.array(
                    F.struct(
                        F.element_at("__probe", 1)["cid"].alias("cid"),
                        F.lit("c").alias("role"),
                    )
                ),
                F.transform(
                    "__probe",
                    lambda s: F.struct(
                        s["cid"].alias("cid"), F.lit("q").alias("role")
                    ),
                ),
            )
        ).alias("__cr"),
    ).select(
        F.col("__cr.cid").alias("cid"),
        "vec_id",
        "v",
        F.col("__cr.role").alias("role"),
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        q = pdf[pdf["role"] == "q"]
        c = pdf[pdf["role"] == "c"]
        if q.empty or c.empty:
            return pd.DataFrame(columns=["vec_id", "neighbor_id", "sim"])
        qm = np.stack(q["v"].to_numpy()).astype(np.float64)
        cm = np.stack(c["v"].to_numpy()).astype(np.float64)
        qn = np.linalg.norm(qm, axis=1)
        cn = np.linalg.norm(cm, axis=1)
        qn[qn == 0] = 1.0
        cn[cn == 0] = 1.0
        sims = _half_up_round((qm / qn[:, None]) @ (cm / cn[:, None]).T)
        q_ids = q["vec_id"].to_numpy()
        c_ids = c["vec_id"].to_numpy()
        rows = []
        kk = min(k, sims.shape[1])
        for r in range(len(q_ids)):
            row = sims[r].copy()
            row[c_ids == q_ids[r]] = -np.inf
            order = np.lexsort((c_ids, -row))[:kk]
            for ci in order:
                if np.isfinite(row[ci]):
                    rows.append((int(q_ids[r]), int(c_ids[ci]), float(row[ci])))
        return pd.DataFrame(rows, columns=["vec_id", "neighbor_id", "sim"])

    local = rows.groupBy("cid").applyInPandas(kernel, _BUCKET_TOPK_SCHEMA)
    return _merge_topk(local, k)


def recall_at_k(approx: DataFrame, exact: DataFrame, k: int = 5) -> float:
    """Fraction of exact top-k pairs recovered by the approximate result."""
    e = exact.filter(F.col("rank") <= k).select("vec_id", "neighbor_id")
    a = approx.filter(F.col("rank") <= k).select("vec_id", "neighbor_id")
    hit = e.join(a, ["vec_id", "neighbor_id"]).count()
    total = e.count()
    return hit / total if total else 1.0
