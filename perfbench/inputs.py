"""Seeded inputs.

* **Pages** are drawn, with replacement and with fresh urls, from a pool
  that ``synth.pages.write_pages`` generates once per checkout. A fresh url
  moves a page to a new ``server`` (the pipeline derives it from the url),
  so a draw differs from the pool and from other seeds in row counts, keys
  and duplicates. The pool is cached because ``write_pages`` costs about
  2 ms per page; a draw costs well under a second.
* **Documents and embeddings** are drawn without replacement, with fresh
  ids, from the sf0.1 testdata tables copied into ``perfbench/fixtures``.

The independent reference for a page draw comes from ``oracle.py`` (the
pure-Python parse core), run once over the pool and re-keyed per draw.
"""

from __future__ import annotations

import os
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from common import BENCH_DIR, work

#: the pool seed: ``synth.dims.write_dims(seed=42)`` covers exactly the hosts
#: that ``write_pages(seed=42)`` draws from
POOL_SEED = 42
POOL_PAGES = 6400
PAGES_PER_FILE = 400

#: one random stream per purpose, so draws stay independent of each other
_STREAMS = {"ingest": 1, "ingest-warmup": 2, "report": 3, "corpus": 5,
            "corpus-warmup": 6, "requests": 7}


def rng_for(seed: int, stream: str) -> np.random.Generator:
    return np.random.default_rng([seed, _STREAMS[stream]])


def _atomic_write_table(table: pa.Table, path: str) -> None:
    tmp = f"{path}.tmp-{os.getpid()}"
    pq.write_table(table, tmp)
    os.replace(tmp, path)


# -- page pool and its reference ---------------------------------------------

def _pool_paths() -> dict:
    d = work("pool")
    return {name: os.path.join(d, f"{name}.parquet")
            for name in ("pages", "events", "systemd")}


def ensure_pool() -> dict:
    """Generate the page pool and its reference rows once per checkout."""
    paths = _pool_paths()
    if all(os.path.exists(p) for p in paths.values()):
        return paths
    from security_log_analysis_rust_spark.oracle import extract_page_events
    from security_log_analysis_rust_spark.synth.pages import write_pages

    gen_dir = os.path.join(work("pool"), "gen")
    write_pages(gen_dir, n_pages=POOL_PAGES, seed=POOL_SEED)
    pages = pq.read_table(gen_dir)
    ev = {"page": [], "service": [], "datetime": [], "host": []}
    sy = {"page": [], "log_level": []}
    for i, (url, ts, text) in enumerate(zip(
        pages["url"].to_pylist(), pages["warc_ts"].to_pylist(),
        pages["text"].to_pylist(),
    )):
        events, systemd = extract_page_events(url, ts.year, text)
        for _url, _no, service, _server, dt, host, _user in events:
            ev["page"].append(i)
            ev["service"].append(service)
            ev["datetime"].append(dt)
            ev["host"].append(host)
        for _url, _no, level, *_ in systemd:
            sy["page"].append(i)
            sy["log_level"].append(level)
    _atomic_write_table(pa.table(ev), paths["events"])
    _atomic_write_table(pa.table(sy), paths["systemd"])
    _atomic_write_table(pages, paths["pages"])
    return paths


class PageDraw:
    """A seeded draw of pages written as ``n_files`` parquet files."""

    def __init__(self, seed: int, stream: str, n_pages: int, out_dir: str):
        paths = ensure_pool()
        pool = pq.read_table(paths["pages"])
        self.idx = rng_for(seed, stream).integers(0, pool.num_rows, n_pages)
        self.urls = [
            f"https://site{j % 97}.example.com/warc/2024/{stream}-s{seed}-page-{j:08d}.html"
            for j in range(n_pages)
        ]
        table = pool.take(pa.array(self.idx)).set_column(
            0, "url", pa.array(self.urls, pa.string())
        )
        self.dir = out_dir
        os.makedirs(out_dir, exist_ok=True)
        n_files = max(1, -(-n_pages // PAGES_PER_FILE))
        per = -(-n_pages // n_files)
        self.file_lines = {}
        for p in range(n_files):
            part = table.slice(p * per, per)
            name = f"part-{p:04d}.parquet"
            pq.write_table(part, os.path.join(out_dir, name))
            self.file_lines[name] = sum(t.count("\n") + 1 for t in part["text"].to_pylist())
        self.lines = sum(self.file_lines.values())
        self.n_files = n_files

    def expected(self) -> dict:
        """Reference sink contents: distinct intrusion keys per
        (service, server) and systemd rows per level."""
        from security_log_analysis_rust_spark.oracle import server_for_url

        paths = ensure_pool()
        ev = pq.read_table(paths["events"]).to_pydict()
        by_page: dict = {}
        for p, s, dt, h in zip(ev["page"], ev["service"], ev["datetime"], ev["host"]):
            by_page.setdefault(p, []).append((s, dt, h))
        sy_counts = Counter(zip(*pq.read_table(paths["systemd"]).to_pydict().values()))
        per_page_levels: dict = {}
        for (p, level), n in sy_counts.items():
            per_page_levels.setdefault(p, Counter())[level] += n
        keys = set()
        levels = Counter()
        for i, url in zip(self.idx.tolist(), self.urls):
            server = server_for_url(url)
            for s, dt, h in by_page.get(i, ()):
                keys.add((s, server, dt, h))
            levels.update(per_page_levels.get(i, {}))
        intr = Counter((s, server) for s, server, _dt, _h in keys)
        return {
            "intrusion": {f"{s}|{v}": n for (s, v), n in sorted(intr.items())},
            "systemd": {str(k): n for k, n in sorted(levels.items(), key=str)},
        }


def ensure_dims() -> str:
    d = os.path.join(work("data"), "dims")
    if not os.path.exists(os.path.join(d, "host_country.parquet")):
        from security_log_analysis_rust_spark.synth.dims import write_dims

        write_dims(d, seed=POOL_SEED)
    return d


# -- corpus draws --------------------------------------------------------------

def draw_corpus(seed: int, stream: str, n_docs: int, n_vecs: int) -> str:
    """Write ``documents.parquet`` and ``embeddings.parquet`` for one draw
    into a directory laid out like a testdata scale-factor dir."""
    out = work("corpus", f"{stream}-s{seed}-{n_docs}-{n_vecs}")
    for k, (name, n, id_col) in enumerate((("documents", n_docs, "doc_id"),
                                           ("embeddings", n_vecs, "vec_id"))):
        path = os.path.join(out, f"{name}.parquet")
        if os.path.exists(path):
            continue
        rng = np.random.default_rng([seed, _STREAMS[stream], k])
        src = pq.read_table(os.path.join(BENCH_DIR, "fixtures", f"{name}.parquet"))
        src = src.replace_schema_metadata(None)
        pick = np.sort(rng.choice(src.num_rows, size=n, replace=False))
        t = src.take(pa.array(pick))
        t = t.set_column(t.schema.get_field_index(id_col), id_col,
                         pa.array(np.arange(n, dtype=np.int64)))
        _atomic_write_table(t, path)
    return out
