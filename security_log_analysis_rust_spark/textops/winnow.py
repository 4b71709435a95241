"""Winnowing document fingerprints (Schleimer, Wilkerson, Aiken — SIGMOD'03).

Hash every character k-gram, keep the minimum hash of each length-w window
(rightmost wins ties), distinct per doc. The tie-break is encoded in the key
itself — ``hash * 2^POS_BITS + (2^POS_BITS - 1 - pos)`` — so a plain
``array_min`` is exact; the SQL oracle mirrors the identical packing. Hashes
use 40 bits of md5 (DuckDB-reproducible), positions use :data:`POS_BITS`
bits, so keys stay < 2^60.

Long documents are **sharded**: positions are shard-local, so a doc longer
than the position range is split into overlapping chunks (overlap
``k + w - 2`` chars — every k-gram window lies wholly inside >= 1 shard, and
within a shard local position order equals global order, so each window
selects the same fingerprint the unsharded computation would). Shards
explode to rows, spreading one huge doc across tasks — the partitioning fix
and the correctness fix are the same move.

Plan note: the per-shard ``keys`` array is built beside an
:func:`.util.explode_barrier`, so it is hashed once per shard rather than
once PER WINDOW (O(n) rather than O(n^2) hashing).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .util import explode_barrier

#: bits of the packed key reserved for the (inverted) in-shard position
POS_BITS = 20
POS_MOD = 1 << POS_BITS

#: shard length in chars; must be <= POS_MOD so local positions fit the
#: packing (1M chars comfortably covers real web-page text; longer docs
#: shard transparently)
SHARD_CHARS = 1_000_000


def winnow_fingerprints(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
    shard_chars: int = SHARD_CHARS,
) -> DataFrame:
    """-> (id_col, fp): distinct winnowing fingerprints per document."""
    if shard_chars > POS_MOD:
        raise ValueError(f"shard_chars {shard_chars} exceeds position range {POS_MOD}")
    ov = k + w - 2  # chars shared by consecutive shards: covers every window
    step = shard_chars - ov
    s = F.col(text_col)
    n = F.length(s)
    eligible = docs.filter(n >= ov + 1)
    offsets = F.sequence(F.lit(0), F.greatest(n - ov - 1, F.lit(0)), F.lit(step))
    sh = eligible.select(id_col, text_col, F.explode(offsets).alias("o"))

    chunk_len = F.least(F.lit(shard_chars), n - F.col("o"))
    n_grams = chunk_len - (k - 1)
    keys = F.transform(
        F.sequence(F.lit(1), n_grams),
        lambda p: F.conv(
            F.substring(F.md5(F.substr(s, F.col("o") + p, F.lit(k))), 1, 10), 16, 10
        ).cast("long")
        * POS_MOD
        + (F.lit(POS_MOD - 1) - p),
    )
    ks = sh.select(
        F.col(id_col), keys.alias("__keys"), explode_barrier().alias("__b")
    )
    n_windows = F.size("__keys") - (w - 1)
    mins = F.transform(
        F.sequence(F.lit(1), n_windows),
        lambda j: F.shiftright(F.array_min(F.slice(F.col("__keys"), j, w)), POS_BITS),
    )
    return ks.select(F.col(id_col), F.explode(mins).alias("fp")).dropDuplicates(
        [id_col, "fp"]
    )


def winnow_fingerprints_py(text: str, k: int = 8, w: int = 4) -> set:
    """Pure-Python reference implementation (tests only): same md5-derived
    40-bit gram hashes, same rightmost-min-wins window selection, computed
    directly on global positions with no packing and no sharding."""
    import hashlib

    n_grams = len(text) - (k - 1)
    if n_grams < w:
        return set()
    hashes = [
        int(hashlib.md5(text[p : p + k].encode()).hexdigest()[:10], 16)
        for p in range(n_grams)
    ]
    fps = set()
    for j in range(n_grams - (w - 1)):
        window = hashes[j : j + w]
        m = min(window)
        fps.add(m)  # rightmost-min tie-break selects the same VALUE
    return fps
