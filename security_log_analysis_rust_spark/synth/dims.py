"""Dimension-table generation (host_country, country_code).

Replaces the reference's live whois/DNS enrichment
(``src/host_country_metadata.rs:95-175``) with a deterministic seeded lookup
table — same join semantics, no network (SURVEY.md §7.4.5).
"""

from __future__ import annotations

import os
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq

from .pool import country_codes, host_pool

_CREATED_AT = datetime(2024, 1, 1, tzinfo=timezone.utc)


def write_dims(out_dir: str, seed: int = 42) -> dict:
    os.makedirs(out_dir, exist_ok=True)
    cc_path = os.path.join(out_dir, "country_code.parquet")
    hc_path = os.path.join(out_dir, "host_country.parquet")

    cc = country_codes()
    pq.write_table(
        pa.table(
            {
                "code": [c for c, _ in cc],
                "country": [n for _, n in cc],
            }
        ),
        cc_path,
    )

    pool = host_pool(seed)
    hosts = sorted(pool["host_country"])
    pq.write_table(
        pa.table(
            {
                "host": hosts,
                "code": [pool["host_country"][h] for h in hosts],
                # ipaddr: the host itself when it's already dotted-quad-ish,
                # mirroring from_host_code DNS resolve (src/models.rs:51-67)
                "ipaddr": [
                    h if h.replace(".", "").isdigit() else None for h in hosts
                ],
                # UTC-adjusted, so Spark types it TimestampType as
                # HOST_COUNTRY_SCHEMA declares (a naive value would read
                # back as TimestampNTZType)
                "created_at": pa.array(
                    [_CREATED_AT] * len(hosts), pa.timestamp("us", tz="UTC")
                ),
            }
        ),
        hc_path,
    )
    return {"country_code": cc_path, "host_country": hc_path}
