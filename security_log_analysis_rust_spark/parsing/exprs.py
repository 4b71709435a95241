"""Pure-JVM column-expression implementation of ``parse_log_message``.

The pipeline's only implementation of the reference's extraction
(``/root/reference/src/parse_logs.rs:58-84``); :mod:`.core` is its
pure-Python specification and test oracle. It is built ONLY from built-in
column functions, so the hot parse path runs entirely inside whole-stage
codegen: no Python workers, no Arrow serialization, and no 2x
runnable-thread oversubscription at high core counts.

Semantics, byte-for-byte with :mod:`.core`:

* split on literal ``"Invalid user "``; the part between the 1st and 2nd
  occurrence is the user segment (marker absent -> NULL row; ``F.get``
  returns NULL out of range, unlike ANSI ``element_at``);
* user = segment before the first ``" from "`` (may be empty), truncated to
  15 BYTES; host = the rest, cut at the first literal ``"port"``, trimmed,
  truncated to 60 BYTES (:func:`trunc_bytes_expr`);
* truncated host must contain ``'.'`` (F3), else both fields are NULL
  (the reference's Err path as drop).

The split patterns are regex-free literals, so ``F.split`` (regex-based)
is safe verbatim.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: byte limits of the reference's user and host fields (parse_logs.rs:66-68,78)
USER_BYTES = 15
HOST_BYTES = 60


def trunc_bytes_expr(col: Column, n: int) -> Column:
    """Byte truncation (parse_logs.rs:66-68,78) as expressions: values at or
    under ``n`` bytes pass through untouched; longer ones slice the UTF-8
    bytes. A slice through a multi-byte character is NULL, so its row drops:
    the reference panics there and :func:`.core.truncate_bytes` raises
    (``decode`` would fail the whole job instead). The guard reads
    ``octet_length`` so the common short value is never encoded."""
    return F.when(F.octet_length(col) <= n, col).otherwise(
        F.try_validate_utf8(F.substring(F.encode(col, "UTF-8"), 1, n).cast("string"))
    )


def invalid_user_expr(msg: Column) -> Column:
    """message -> struct(host, username), NULL fields when not extractable."""
    user_seg = F.get(F.split(msg, "Invalid user ", -1), 1)
    seg = F.split(user_seg, " from ", -1)
    user = trunc_bytes_expr(F.get(seg, 0), USER_BYTES)
    host_seg = F.get(seg, 1)  # NULL when no " from " (reference Err path)
    host = trunc_bytes_expr(
        F.trim(F.get(F.split(host_seg, "port", 2), 0)), HOST_BYTES
    )
    valid = host.contains(".") & user.isNotNull()
    return F.struct(
        F.when(valid, host).alias("host"),
        F.when(valid, user).alias("username"),
    )
