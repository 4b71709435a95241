"""Engine configuration from the environment.

Mirrors the reference's ``Config::init_config`` (``src/config.rs:79-101``):

* values come from a ``config.env`` dotenv file — ``./config.env`` if it
  exists, else ``<config_dir>/security_log_analysis_rust_spark/config.env``
  — overridden by real environment variables (envy semantics: the env var
  name is the field name uppercased);
* ``SYSTEMD_LOG_FILTERS`` is a comma-separated list (``envy``'s Vec
  splitting, tested at ``src/config.rs:118-151``);
* defaults replicate ``src/config.rs:38-67`` where meaningful for the Spark
  engine (no Postgres URL / AWS secret paths — sinks are parquet dirs).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Optional, Tuple

from .parsing.core import DEFAULT_SYSTEMD_LOG_FILTERS


def _parse_env_file(path: str) -> dict:
    """Minimal dotenv parser: KEY=VALUE lines, '#' comments, optional
    surrounding quotes. Only the subset the reference's config.env uses."""
    out: dict = {}
    with open(path) as f:
        for raw in f:
            line = raw.strip()
            if not line or line.startswith("#") or "=" not in line:
                continue
            k, v = line.split("=", 1)
            v = v.strip()
            if len(v) >= 2 and v[0] == v[-1] and v[0] in "'\"":
                v = v[1:-1]
            out[k.strip()] = v
    return out


@dataclass(frozen=True)
class Config:
    """Engine config — field names match ``ConfigInner`` (config.rs:13-36)."""

    username: str = ""
    export_dir: Optional[str] = None
    server: str = "home.ddboline.net"
    s3_bucket: str = "security-log-analysis-backup"
    cache_dir: str = ""
    alert_log_level: str = "error"
    sending_email_address: Optional[str] = None
    alert_email_address: Optional[str] = None
    systemd_log_filters: Tuple[str, ...] = field(
        default_factory=lambda: tuple(DEFAULT_SYSTEMD_LOG_FILTERS)
    )
    alert_log_delay: Optional[int] = None
    alert_buffer_size: Optional[int] = None
    maps_api_key: Optional[str] = None


def init_config(
    env: Optional[dict] = None, config_dir: Optional[str] = None
) -> Config:
    """Build a :class:`Config` from dotenv file + environment.

    Precedence (as in config.rs:79-101 via dotenvy, which never overrides
    already-set vars): real environment > ``./config.env`` >
    ``<config_dir>/security_log_analysis_rust_spark/config.env`` > defaults.
    """
    merged: dict = {}
    default_fname = os.path.join(
        config_dir or os.path.expanduser("~/.config"),
        "security_log_analysis_rust_spark",
        "config.env",
    )
    env_file = "config.env" if os.path.exists("config.env") else default_fname
    if os.path.exists(env_file):
        merged.update(_parse_env_file(env_file))
    merged.update(env if env is not None else os.environ)

    def get(name: str, default=None):
        return merged.get(name.upper(), default)

    filters_raw = get("systemd_log_filters")
    filters = (
        tuple(f for f in filters_raw.split(",") if f)  # "" filters match all
        if filters_raw is not None
        else tuple(DEFAULT_SYSTEMD_LOG_FILTERS)
    )

    def get_int(name: str):
        v = get(name)
        return int(v) if v is not None else None

    return Config(
        username=get("username", os.environ.get("USER", "")),
        export_dir=get("export_dir"),
        server=get("server", "home.ddboline.net"),
        s3_bucket=get("s3_bucket", "security-log-analysis-backup"),
        cache_dir=get(
            "cache_dir", os.path.expanduser("~/.security-log-cache")
        ),
        alert_log_level=get("alert_log_level", "error"),
        sending_email_address=get("sending_email_address"),
        alert_email_address=get("alert_email_address"),
        systemd_log_filters=filters,
        alert_log_delay=get_int("alert_log_delay"),
        alert_buffer_size=get_int("alert_buffer_size"),
        maps_api_key=get("maps_api_key"),
    )
