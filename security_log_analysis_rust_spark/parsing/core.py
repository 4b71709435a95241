"""Pure-Python line parsers — the byte-exact semantic contract.

These functions replicate, operation for operation, the reference parsers in
``/root/reference/src/parse_logs.rs`` (cited per function). They serve two
roles:

1. **Oracle**: tests compare the Spark pipeline's extracted bytes per url
   against these (BASELINE.md "per-url extracted bytes").
2. **Specification**: the column expressions in
   :mod:`security_log_analysis_rust_spark.parsing.exprs` and
   :mod:`security_log_analysis_rust_spark.pipeline.parse` implement the same
   semantics inside Spark; unit tests assert equivalence on goldens, on
   hypothesis-drawn lines and on the reference's own fixture files.

Key byte-level subtleties (SURVEY.md §7.4):

* ``user`` is truncated to **15 bytes** and ``host`` to **60 bytes**
  (``parse_logs.rs:66-68,78``) — byte slices, not character slices.  The
  reference would panic when slicing through a UTF-8 boundary; we raise.
* The username is found by splitting on the literal ``"Invalid user "`` and
  taking the *second* part (``str::split(...).nth(1)``), so a username may
  itself contain spaces; naive ``(\\S+) from (\\S+)`` regexes are wrong.
* The host segment is split on the literal substring ``"port"`` (no spaces,
  ``parse_logs.rs:74-77``), then trimmed.
"""

from __future__ import annotations

import ipaddress
import json
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone
from typing import Optional, Tuple

__all__ = [
    "LogLine",
    "parse_log_message",
    "parse_log_line_ssh",
    "parse_log_line_apache",
    "parse_nginx_message",
    "journald_datetime",
    "parse_journald_line",
    "line_contains_level",
    "is_strict_ipv4",
    "truncate_bytes",
    "LOG_LEVELS",
    "DEFAULT_SYSTEMD_LOG_FILTERS",
    "SERVERS",
    "SERVICES",
]

#: service enum — reference ``src/lib.rs:168-232``
SERVICES = ("ssh", "apache", "nginx")
#: server enum — reference ``src/lib.rs:96-166``
SERVERS = ("home.ddboline.net", "cloud.ddboline.net")
#: log levels in reference order — ``src/models.rs:530-547``
LOG_LEVELS = ("debug", "info", "warn", "error")

#: default journald blacklist — reference ``src/config.rs:38-45``
DEFAULT_SYSTEMD_LOG_FILTERS = (
    "kex_exchange_identification",
    "error: maximum authentication attempts exceeded for invalid user",
    "Disconnected from invalid user",
    "Failed password for invalid user",
)

_SSH_TS_FMT = "%b %d %Y %H:%M:%S"  # parse_logs.rs:100-102 (day may be unpadded)
_APACHE_TS_FMT = "%d/%b/%Y:%H:%M:%S%z"  # parse_logs.rs:221-224


@dataclass(frozen=True)
class LogLine:
    """Parsed intermediate event — reference ``LogLineSSH`` (parse_logs.rs:35-40)."""

    host: str
    user: Optional[str]
    timestamp: datetime  # always tz-aware UTC


def truncate_bytes(s: str, n: int) -> str:
    """Byte-slice ``s`` to at most ``n`` bytes (parse_logs.rs:66-68,78).

    Raises ``UnicodeDecodeError`` if the cut lands inside a multi-byte
    character — the reference would panic there too; synthetic data is ASCII.
    """
    b = s.encode("utf-8")
    if len(b) <= n:
        return s
    return b[:n].decode("utf-8")


def parse_log_message(line: str) -> Optional[Tuple[str, str]]:
    """Extract ``(host, user)`` from an 'Invalid user' message.

    Replicates ``parse_log_message`` (parse_logs.rs:58-84) exactly:

    * split on literal ``"Invalid user "``; no second part -> ``None``;
    * user = text up to the first ``" from "`` (may be empty, may contain
      spaces), truncated to 15 bytes;
    * no ``" from "`` segment -> error (the reference returns ``Err`` which
      aborts the whole file read);
    * host = segment before the first literal substring ``"port"``, trimmed,
      truncated to 60 bytes; must contain ``'.'`` else ``None``.
    """
    parts = line.split("Invalid user ")
    if len(parts) < 2:
        return None
    # Rust `.nth(1)` = the part between the 1st and 2nd marker occurrence.
    user_seg = parts[1]
    remaining = user_seg.split(" from ")[:2]
    user = remaining[0]
    user = truncate_bytes(user, 15)
    if len(remaining) < 2:
        raise ValueError("No host")
    host = remaining[1].split("port")[0].strip()
    host = truncate_bytes(host, 60)
    if "." in host:
        return host, user
    return None


def parse_log_line_ssh(
    year: int, line: str, tz: timezone | object = timezone.utc
) -> Optional[LogLine]:
    """Parse one sshd auth-log line (parse_logs.rs:88-116).

    Guards: line must contain ``"sshd"`` and ``"Invalid user"`` and have at
    least 10 whitespace tokens. Timestamp = ``"{tok0} {tok1} {year} {tok2}"``
    parsed as ``MMM d yyyy HH:mm:ss`` in ``tz`` (the reference uses the
    system-local zone; the pipeline pins UTC for determinism — SURVEY §7.4.2),
    converted to UTC.
    """
    if "sshd" not in line or "Invalid user" not in line:
        return None
    tokens = line.split()[:10]
    if len(tokens) < 10:
        return None
    timestr = f"{tokens[0]} {tokens[1]} {year} {tokens[2]}"
    naive = datetime.strptime(timestr, _SSH_TS_FMT)
    ts = naive.replace(tzinfo=tz).astimezone(timezone.utc)
    parsed = parse_log_message(line)
    if parsed is None:
        return None
    host, user = parsed
    return LogLine(host=host, user=user, timestamp=ts)


def parse_log_line_apache(line: str) -> Optional[LogLine]:
    """Parse one apache/nginx CLF access-log line (parse_logs.rs:208-232).

    tokens[0] = host (<=60 bytes, must contain '.'); timestamp from
    ``tokens[3]+tokens[4]`` with brackets stripped, format
    ``d/MMM/yyyy:HH:mm:ss±ZZZZ`` -> UTC; user is always NULL.
    """
    tokens = line.split()[:5]
    if len(tokens) < 5:
        return None
    host = truncate_bytes(tokens[0], 60)
    if "." not in host:
        return None
    timestr = (tokens[3] + tokens[4]).replace("[", "").replace("]", "")
    try:
        ts = datetime.strptime(timestr, _APACHE_TS_FMT)
    except ValueError:
        # The reference propagates a parse error (aborting the file); the
        # pipeline instead drops the line and counts it — noise CLF-shaped
        # lines are expected in web-page text.
        return None
    return LogLine(host=host, user=None, timestamp=ts.astimezone(timezone.utc))


def is_strict_ipv4(s: str) -> bool:
    """Strict dotted-quad IPv4 check matching Rust ``s.parse::<Ipv4Addr>()``
    (parse_logs.rs:421): four decimal octets 0-255, no leading zeros."""
    try:
        ipaddress.IPv4Address(s)
        return True
    except (ipaddress.AddressValueError, ValueError):
        return False


def parse_nginx_message(message: str) -> Optional[str]:
    """Extract the attacker host from a journald nginx MESSAGE
    (parse_logs.rs:413-429): token[2], <=60 bytes, must be a strict IPv4."""
    tokens = message.split()[:3]
    if len(tokens) < 3:
        return None
    host = truncate_bytes(tokens[2], 60)
    if not is_strict_ipv4(host):
        return None
    return host


def journald_datetime(us_epoch: str) -> datetime:
    """``__REALTIME_TIMESTAMP`` µs-epoch string -> UTC timestamp
    (parse_logs.rs:392-399)."""
    t = int(us_epoch)
    return datetime.fromtimestamp(t // 1_000_000, tz=timezone.utc) + timedelta(
        microseconds=t % 1_000_000
    )


def line_contains_level(line: str, level: Optional[str] = None) -> Optional[str]:
    """Substring log-level classifier (models.rs:561-580).

    Faithful translation, including the precedence quirk at models.rs:574
    where ``"DEBUG"`` matches regardless of the min-level gate
    (``level<1 && contains("debug") || contains("DEBUG")``). With the default
    gate (debug) the quirk is unobservable.
    """
    lvl = 0 if level is None else LOG_LEVELS.index(level)
    if "err" in line or "ERR" in line:
        return "error"
    if lvl < 3:
        if "warn" in line or "WARN" in line:
            return "warn"
        if lvl < 2:
            if "info" in line or "INFO" in line:
                return "info"
            if (lvl < 1 and "debug" in line) or "DEBUG" in line:
                return "debug"
    return None


def parse_journald_line(
    line: str,
    filters: Tuple[str, ...] = DEFAULT_SYSTEMD_LOG_FILTERS,
) -> Optional[dict]:
    """Route one journald JSON line (batch semantics, parse_logs.rs:261-302,
    daemon routing :328-371). Returns one of:

    * ``{"kind": "intrusion", "service": "ssh"|"nginx", "host", "username",
      "datetime"}``
    * ``{"kind": "systemd", "log_level", "log_unit", "log_message",
      "log_timestamp"}``
    * ``None`` (filtered / unroutable)
    """
    if "__REALTIME_TIMESTAMP" not in line:
        return None
    if any(f in line for f in filters):  # F6 blacklist, parse_logs.rs:339-345
        return None
    try:
        rec = json.loads(line)
    except json.JSONDecodeError:
        return None
    message = rec.get("MESSAGE", "")
    unit = rec.get("UNIT")
    ts = journald_datetime(rec["__REALTIME_TIMESTAMP"])
    if "Invalid user " in line:
        try:
            parsed = parse_log_message(message)
        except ValueError:
            # 'Invalid user' without ' from ': reference parse_sshd errors
            # out; pipeline drops + counts — match the Spark drop semantics
            parsed = None
        if parsed is None:
            # reference: parse_sshd errors out; pipeline drops + counts
            return None
        host, user = parsed
        return {
            "kind": "intrusion",
            "service": "ssh",
            "host": host,
            "username": user,
            "datetime": ts,
        }
    if "nginx" in line:
        host = parse_nginx_message(message)
        if host is not None:
            return {
                "kind": "intrusion",
                "service": "nginx",
                "host": host,
                "username": None,
                "datetime": ts,
            }
        # daemon semantics (parse_logs.rs:354-363): a failed nginx parse
        # falls through to leveled classification below
    level = line_contains_level(line)
    if level is not None:
        return {
            "kind": "systemd",
            "log_level": level,
            "log_unit": unit,
            "log_message": message,
            "log_timestamp": ts,
        }
    return None
