"""Output checks, run outside the timed region.

Replay workloads: an order-independent digest of the live rows
``(doc_id, tokens, n_tok, source)``, computed by Spark over the table and
by DuckDB over the change log with the reference's latest-per-key window
and tombstone filter (``row_number() OVER (PARTITION BY doc_id ORDER BY seq
DESC) = 1 AND op <> 'D'``). Both sides evaluate the same integer formula,
so the digests must be equal, not close.

Curation leaves: each Spark result against its ``queries.oracle_sql()`` in
DuckDB — same column names, same row count, equal values after sorting
every column (floats compared exactly; the registry emits fixed-point).
The comparator is the benchmark's own, not ``plans.oracle``'s, so a later
change to the engine's test helpers cannot change the benchmark's verdict.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pandas as pd

# Per live row: doc number d, token checksum h = sum(token_i * (i+1)).
# The digest sums terms that bind doc to payload, so a row with the right
# doc and the wrong payload (or vice versa) changes it.
DIGEST_TERMS = (
    ("rows", "1"),
    ("doc_sum", "d"),
    ("n_tok_sum", "n_tok"),
    ("tok_sum", "h"),
    ("bound", "(h % 1000000007) * (d % 1009 + 1)"),
    ("src", "(ascii(source) * 1000 + length(source)) * (d % 1013 + 1)"),
)


def _digest_sql(rows_sql: str) -> str:
    terms = ", ".join(
        f"CAST(COALESCE(SUM({expr}), 0) AS BIGINT) AS {name}" for name, expr in DIGEST_TERMS
    )
    return f"SELECT {terms} FROM ({rows_sql})"


def spark_digest(df) -> dict[str, int]:
    """Digest of a live-row frame (doc_id, tokens, n_tok, source)."""
    from pyspark.sql import functions as F

    rows = df.select(
        F.substring("doc_id", 5, 64).cast("long").alias("d"),
        F.col("n_tok").cast("long").alias("n_tok"),
        F.col("source"),
        F.aggregate(
            F.transform("tokens", lambda x, i: x.cast("long") * (i + 1)),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ).alias("h"),
    )
    rows.createOrReplaceTempView("__perfbench_rows")
    try:
        r = df.sparkSession.sql(_digest_sql("SELECT * FROM __perfbench_rows")).first()
    finally:
        df.sparkSession.catalog.dropTempView("__perfbench_rows")
    return {name: int(r[name]) for name, _ in DIGEST_TERMS}


def duck(tmp_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    con.execute("SET threads = 4")
    return con


def load_log(con, log_dir: str, hi_seq: int, keys: list[str]) -> None:
    """Load the log prefix seq <= hi_seq into the DuckDB table ``ev`` once:
    every event's (seq, op, doc_id, n_tok, source) and token checksum h,
    plus the token array itself for ``keys`` only. Every check below is
    then a small query over ``ev``."""
    glob = os.path.join(log_dir, "*.parquet")
    key_list = ", ".join(f"'{k}'" for k in keys) or "NULL"
    con.execute(f"""
        CREATE OR REPLACE TABLE ev AS
        SELECT seq, op, doc_id, n_tok, source,
               COALESCE(list_sum(list_transform(tokens, (x, i) -> CAST(x AS BIGINT) * i)), 0) AS h,
               CASE WHEN doc_id IN ({key_list}) THEN tokens END AS tokens
        FROM read_parquet('{glob}') WHERE seq <= {int(hi_seq)}""")


def _latest_sql(hi_seq: int, where: str = "TRUE") -> str:
    """Live rows of ``ev`` up to seq hi_seq: the reference's latest-per-key
    window plus tombstone filter."""
    return f"""
        SELECT doc_id, tokens, n_tok, source, h FROM (
          SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY seq DESC) AS rn
          FROM ev WHERE seq <= {int(hi_seq)} AND {where}
        ) WHERE rn = 1 AND op <> 'D'"""


def duck_digest(con, hi_seq: int) -> dict[str, int]:
    rows = f"""
        SELECT CAST(substr(doc_id, 5) AS BIGINT) AS d, CAST(n_tok AS BIGINT) AS n_tok, source, h
        FROM ({_latest_sql(hi_seq)})"""
    r = con.execute(_digest_sql(rows)).fetchone()
    return {name: int(v) for (name, _), v in zip(DIGEST_TERMS, r)}


def duck_live_rows(con, hi_seq: int, keys: list[str]) -> list[tuple]:
    """Sorted (doc_id, n_tok, source, tokens) live rows for ``keys`` (which
    must be among the keys ``load_log`` kept tokens for)."""
    key_list = ", ".join(f"'{k}'" for k in keys)
    sql = _latest_sql(hi_seq, where=f"doc_id IN ({key_list})")
    return sorted(
        (r[0], r[2], r[3], tuple(r[1]))
        for r in con.execute(sql).fetchall()
    )


def duck_live_totals(con, hi_seq: int) -> tuple[int, int]:
    r = con.execute(
        f"SELECT count(*), CAST(COALESCE(sum(n_tok), 0) AS BIGINT) FROM ({_latest_sql(hi_seq)})"
    ).fetchone()
    return int(r[0]), int(r[1])


REGISTRY_TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def duck_registry(con, sf_dir: str) -> None:
    for t in REGISTRY_TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{p}')")


def clusters_from_pairs(pairs: pd.DataFrame) -> pd.DataFrame:
    """Expected ``dedup_cluster_cc`` output from its MinHash-LSH pair set:
    a union-find closure standing in for the registry's recursive-CTE
    oracle, which takes close to a minute even on a few hundred documents.
    Same columns and canonical rule (smallest doc id) as the CTE."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(pairs["doc_a"].tolist(), pairs["doc_b"].tolist()):
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    members: dict[int, list[int]] = {}
    for x in parent:
        members.setdefault(find(x), []).append(x)
    rows = [
        (m, min(ms), len(ms), int(m == min(ms)))
        for ms in members.values()
        for m in ms
    ]
    return pd.DataFrame(rows, columns=["doc_id", "cluster_id", "cluster_size", "is_canonical"])


def _sortable(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            probe = next((v for v in df[c] if v is not None), None)
            if probe is not None and not isinstance(probe, (str, bytes)) and hasattr(probe, "__len__"):
                df[c] = df[c].map(lambda v: None if v is None else tuple(v))
    return df.sort_values(df.columns.tolist(), kind="mergesort").reset_index(drop=True)


def frames_equal(got: pd.DataFrame, exp: pd.DataFrame) -> str | None:
    """None when equal, else a one-line reason."""
    if sorted(got.columns) != sorted(exp.columns):
        return f"columns {sorted(got.columns)} != {sorted(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} != {len(exp)}"
    g, e = _sortable(got), _sortable(exp)
    for c in g.columns:
        gv, ev = g[c], e[c]
        if gv.dtype.kind == "f" and ev.dtype.kind == "f":
            a, b = gv.to_numpy("float64"), ev.to_numpy("float64")
            eq = (a == b) | (np.isnan(a) & np.isnan(b))
        else:
            eq = np.asarray(gv.values == ev.values).astype(bool) | (gv.isna().values & ev.isna().values)
        if not eq.all():
            i = int(np.argmax(~eq))
            return f"column {c} row {i}: {gv.iloc[i]!r} != {ev.iloc[i]!r}"
    return None
