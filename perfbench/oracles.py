"""Independent references, computed outside every timed region.

* ``report``: DuckDB over the sink's parquet files and the dims answers
  every request the dashboard client sends.
* ``corpus``: DuckDB twins (``__spark_entry__.oracle_sql`` and the textops
  ``*_oracle_sql`` builders) for every operator output; the classifier's
  weights are re-trained by ``train_classifier_reference`` (numpy) on
  features DuckDB computes.
"""

from __future__ import annotations

import json
import os

import duckdb
import pandas as pd

from security_log_analysis_rust_spark.parsing.core import SERVERS


# -- comparison ----------------------------------------------------------------

def normalize(df: pd.DataFrame) -> list:
    """Rows as sorted tuples over name-sorted columns; floats rounded to 9
    places, timestamps as naive-UTC ISO strings, integers widened."""
    df = df.reindex(sorted(df.columns), axis=1)
    cols = []
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            if getattr(s.dtype, "tz", None) is not None:
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            s = s.astype("datetime64[us]").astype(str)
        elif pd.api.types.is_float_dtype(s):
            s = s.round(9)
        elif pd.api.types.is_bool_dtype(s):
            s = s.astype(bool)
        elif pd.api.types.is_integer_dtype(s):
            s = s.astype("int64")
        cols.append([None if (not isinstance(v, (list, tuple)) and pd.isna(v)) else v
                     for v in s.tolist()])
    rows = list(zip(*cols)) if cols else []
    return [tuple(df.columns)] + sorted(rows, key=repr)


# -- report ----------------------------------------------------------------------

class SinkOracle:
    """DuckDB over one sink directory and the dims directory."""

    def __init__(self, sink_dir: str, dims_dir: str, as_of: str):
        self.as_of = as_of
        self.con = duckdb.connect()
        self.con.execute("SET TimeZone = 'UTC'")
        intr = os.path.join(sink_dir, "intrusion_log", "*", "*.parquet")
        sysd = os.path.join(sink_dir, "systemd_log_messages", "*", "*.parquet")
        self.con.execute(
            "CREATE VIEW intr AS SELECT id, service, server, "
            "CAST(datetime AS TIMESTAMP) AS datetime, host, username "
            f"FROM read_parquet('{intr}', hive_partitioning = false)"
        )
        self.con.execute(
            "CREATE VIEW sysd AS SELECT id, log_level, log_unit, log_message, "
            "CAST(log_timestamp AS TIMESTAMP) AS log_timestamp, "
            "CAST(processed_time AS TIMESTAMP) AS processed_time "
            f"FROM read_parquet('{sysd}', hive_partitioning = false)"
        )
        for t in ("host_country", "country_code"):
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{os.path.join(dims_dir, t + '.parquet')}')"
            )

    def close(self) -> None:
        self.con.close()

    def _rows(self, sql: str, params: list) -> list:
        cur = self.con.execute(sql, params)
        names = [d[0] for d in cur.description]
        return [dict(zip(names, r)) for r in cur.fetchall()]

    def country_count(self, service, location, ndays):
        service = service or "ssh"
        location = location or SERVERS[0]
        ndays = 30 if ndays is None else ndays
        return self._rows(
            "SELECT cc.country AS country, count(*) AS count FROM intr i "
            "JOIN host_country hc ON i.host = hc.host "
            "JOIN country_code cc ON hc.code = cc.code "
            "WHERE i.service = ? AND i.server = ? "
            "AND i.datetime >= CAST(CAST(? AS DATE) - to_days(CAST(? AS INTEGER)) AS TIMESTAMP) "
            "GROUP BY 1 ORDER BY count DESC, country ASC",
            [service, location, self.as_of, ndays],
        )

    def intrusion_log_get(self, service, server, offset, limit):
        where, params = _where({"service": service, "server": server})
        total = self.con.execute(f"SELECT count(*) FROM intr{where}", params).fetchone()[0]
        data = self._rows(
            f"SELECT * FROM intr{where} ORDER BY datetime DESC, host, service, "
            "server LIMIT ? OFFSET ?", params + [limit, offset],
        )
        for d in data:
            d["datetime"] = d["datetime"].isoformat()
        return {"pagination": {"total": total, "offset": offset, "limit": limit},
                "data": data}

    def log_messages(self, log_level, log_unit, min_date, max_date, offset, limit):
        where, params = _where({"log_level": log_level, "log_unit": log_unit})
        for op, v in ((">=", min_date), ("<=", max_date)):
            if v is not None:
                where += (" AND " if where else " WHERE ") + \
                    f"log_timestamp {op} CAST(? AS TIMESTAMP)"
                params.append(v)
        total = self.con.execute(f"SELECT count(*) FROM sysd{where}", params).fetchone()[0]
        data = self._rows(
            f"SELECT * FROM sysd{where} ORDER BY log_timestamp, id LIMIT ? OFFSET ?",
            params + [limit, offset],
        )
        for d in data:
            for c in ("log_timestamp", "processed_time"):
                if d.get(c) is not None:
                    d[c] = d[c].isoformat()
        return {"pagination": {"total": total, "offset": offset, "limit": limit},
                "data": data}


def _where(eq: dict):
    parts, params = [], []
    for col, v in eq.items():
        if v is not None:
            parts.append(f"{col} = ?")
            params.append(v)
    return ((" WHERE " + " AND ".join(parts)) if parts else ""), params


# -- corpus ----------------------------------------------------------------------

_CLF_FEATS = r"""
WITH toks AS (
  SELECT doc_id, unnest(ls) AS tok, len(ls) AS n
  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ls
        FROM documents WHERE trim(text) <> '')
)
SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % {dim} AS idx,
       count(*) * 1.0 / any_value(n) AS val
FROM toks GROUP BY 1, 2
"""


class CorpusOracle:
    """DuckDB views ``documents``/``embeddings`` over one corpus draw. The
    model-independent references are cached in the draw's directory."""

    def __init__(self, sf_dir: str, params: dict):
        self.params = params
        self.cache = os.path.join(sf_dir, "reference.json")
        self.con = duckdb.connect()
        for t in ("documents", "embeddings"):
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{os.path.join(sf_dir, t + '.parquet')}')"
            )

    def close(self) -> None:
        self.con.close()

    def prepare(self) -> None:
        """Compute (or load) the references that need no Spark output."""
        if os.path.exists(self.cache):
            with open(self.cache) as f:
                ref = json.load(f)
        else:
            ref = {"frames": self._frames(), "classifier": self._reference_model()}
            tmp = f"{self.cache}.tmp-{os.getpid()}"
            with open(tmp, "w") as f:
                json.dump(ref, f)
            os.replace(tmp, self.cache)
        self._ref_frames = {k: [tuple(r) for r in v] for k, v in ref["frames"].items()}
        weights, self._ref_bias = ref["classifier"]
        self._ref_weights = {int(k): v for k, v in weights.items()}

    def frames(self) -> dict:
        return self._ref_frames

    def _frames(self) -> dict:
        """Reference outputs of every operator that does not depend on a
        trained model, normalized (see :func:`normalize`)."""
        params = self.params
        import __spark_entry__ as E
        from security_log_analysis_rust_spark.textops.exactsubstr import (
            exact_substr_oracle_sql,
        )
        from security_log_analysis_rust_spark.textops.semdedup import semdedup_oracle_sql

        sql = E.oracle_sql()
        queries = {
            "corpus.training_corpus": sql["docs_training_corpus"],
            "corpus.minhash_lsh": sql["docs_minhash_lsh"],
            "corpus.jaccard": sql["docs_jaccard_pairs"],
            "ann.top1": sql["emb_top1"],
            "ann.lsh_topk": sql["emb_topk_lsh"],
            "exactsubstr": exact_substr_oracle_sql(
                "SELECT doc_id, text FROM documents", min_len=params["exactsubstr_min_len"]),
            "semdedup": semdedup_oracle_sql(
                threshold=params["semdedup_threshold"], n_centroids=None,
                target_cluster=params["semdedup_target_cluster"], source="embeddings"),
        }
        return {name: normalize(self.con.sql(q).df()) for name, q in queries.items()}

    def _reference_model(self) -> list:
        """[weights, bias] of ``train_classifier_reference`` (numpy) on
        features DuckDB computes."""
        from security_log_analysis_rust_spark.textops.classifier import (
            train_classifier_reference,
        )

        p = self.params
        feats = self.con.sql(_CLF_FEATS.format(dim=p["classifier_dim"])).fetchall()
        labels = self.con.sql(
            "SELECT doc_id, CAST(source IN ('src0', 'src1') AS INTEGER) FROM documents"
        ).fetchall()
        want = train_classifier_reference(
            feats, labels, dim=p["classifier_dim"], lr=p["classifier_lr"],
            iters=p["classifier_iters"], l2=p["classifier_l2"],
        )
        return [{str(k): v for k, v in want.weights.items()}, want.bias]

    def classifier_check(self, model, kept) -> list:
        """Problems with a trained model and its Pareto selection: weights
        against the numpy reference, the selection against the DuckDB
        scoring + selection twin."""
        from security_log_analysis_rust_spark.textops.classifier import (
            pareto_select_oracle_sql,
            score_oracle_sql,
        )

        want = self._ref_weights
        problems = []
        if set(model.weights) != set(want):
            problems.append("classifier: touched feature sets differ")
        elif any(abs(model.weights[i] - want[i]) > 1e-9 for i in want) \
                or abs(model.bias - self._ref_bias) > 1e-9:
            problems.append("classifier: weights differ from the reference")
        ref = normalize(self.con.sql(pareto_select_oracle_sql(
            score_oracle_sql("SELECT doc_id, text FROM documents", model))).df())
        if ref != kept:
            problems.append("classifier: pareto selection differs from DuckDB")
        return problems
