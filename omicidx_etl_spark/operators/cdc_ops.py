"""CDC-semantic operators over generic keyed change streams.

These are the engine's core relational pieces, factored so they work on any
(key, recency) pair — used both by the replay engine (key=doc_id, seq) and
by the driver's testdata checks (key=user_id, ts on the ``events`` table).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def latest_per_key(
    df: DataFrame,
    key_cols: list[str],
    order_cols: str | list[str],
) -> DataFrame:
    """W1: latest-version-per-key dedup — the reference's
    ``row_number() OVER (PARTITION BY key ORDER BY recency DESC) … rn=1``
    (``omicidx_etl/sql/010_raw_to_parquet.sql:36-43``). Output columns ==
    input columns.

    This module is the engine's only spelling of "latest row per key", as
    two plans:

    * ``latest_per_key``: one ``max_by(struct(payload), order)`` hash
      aggregate. Map-side partial combine pre-reduces every hot key inside
      each input partition before the shuffle, so Zipf-hot keys never
      concentrate on one reducer (partial agg is a per-partition salt plus
      a final reduce, with no second shuffle). Always correct.
    * :func:`latest_by_winner_join`: a narrow ``max(seq)`` per key, then a
      broadcast inner join on ``(key, seq)``. The wide payload never
      enters an aggregation buffer or a shuffle. Preconditions: ``seq`` is
      unique per key in the frame, and the winner set fits a broadcast.
      Only ``LakeTable.read``'s reconcile uses it, picked from manifest
      metadata (``_reconcile_strategy``).

    ``order_cols`` must be a deterministic total order: a single column
    name (compared as is), or a list of names compared left to right as a
    struct (append a unique id as tie-break).
    """
    if isinstance(order_cols, str):
        ordk = F.col(order_cols)
    else:
        ordk = F.struct(*[F.col(c) for c in order_cols])
    payload = [c for c in df.columns if c not in key_cols]
    row = F.max_by(F.struct(*[F.col(c) for c in payload]), ordk).alias("__r")
    agg = df.groupBy(*key_cols).agg(row)
    return agg.select(
        *key_cols, *[F.col(f"__r.{c}").alias(c) for c in payload]
    ).select(*df.columns)


def latest_by_winner_join(df: DataFrame, key: str, seq: str) -> DataFrame:
    """Latest row per ``key`` by a winner join (see :func:`latest_per_key`
    for when it applies): ``max(seq)`` per key over the two-column
    projection — Catalyst prunes the scan to ``(key, seq)`` — then the
    wide rows of ``df`` inner-join the broadcast winner set.

    A duplicate ``(key, seq)`` row in ``df`` surfaces twice, where
    ``latest_per_key`` keeps one."""
    winners = df.select(key, seq).groupBy(key).agg(F.max(seq).alias(seq))
    return df.join(F.broadcast(winners), [key, seq], "inner").select(*df.columns)


def tombstone_filter(df: DataFrame, op_col, delete_value) -> DataFrame:
    """P5: drop tombstoned rows — ``WHERE delete IS NOT TRUE``
    (``omicidx_etl/sql/010_raw_to_parquet.sql:341``). Null-safe: a null op
    is not a delete."""
    col = F.col(op_col) if isinstance(op_col, str) else op_col
    return df.filter(~F.coalesce(col == F.lit(delete_value), F.lit(False)))


def replay_table(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    op_col: str,
    delete_value: str,
) -> DataFrame:
    """Full CDC consolidation of a change set into current table state:
    latest event per key wins, then tombstones drop the key entirely —
    the reference's whole 010_raw_to_parquet recipe in one operator."""
    return tombstone_filter(
        latest_per_key(df, key_cols, order_cols),
        op_col,
        delete_value,
    )


def scd2_history(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    current_flag: str = "is_current",
    valid_to_prefix: str = "valid_to_",
) -> DataFrame:
    """Slowly-changing-dimension Type 2: turn a change feed into version
    intervals — one row per (key, version) with ``valid_to_*`` columns
    carrying the NEXT version's order key (exclusive bound; NULL = open /
    current version) and a ``current_flag`` boolean.

    This is the standard CDC-consumer shape the reference's consolidation
    discards (``omicidx_etl/sql/010_raw_to_parquet.sql:36-43`` keeps only
    rn=1 — the *current* row); SCD2 keeps the whole history queryable
    ("what did this record look like at seq S?").

    ``order_cols`` must be a deterministic total order per key (append a
    unique id as tie-break). One ``lead`` of a struct over a per-key window
    — the shuffle is by key, identical to the consolidation shuffle, and
    per-key history length bounds the window buffer (no global sort, no
    single-partition stage). At 10^10 events the same plan holds: keys
    hash-distribute, and a hot key's history streams through one task's
    sort buffer (spillable).
    """
    w = Window.partitionBy(*key_cols).orderBy(*[F.col(c) for c in order_cols])
    nxt = F.lead(F.struct(*[F.col(c) for c in order_cols])).over(w)
    out = df.withColumn("__nxt", nxt)
    for c in order_cols:
        out = out.withColumn(f"{valid_to_prefix}{c}", F.col(f"__nxt.{c}"))
    return out.withColumn(current_flag, F.col("__nxt").isNull()).drop("__nxt")


def incremental_diff(available: DataFrame, done: DataFrame, key: str) -> DataFrame:
    """S7/J4: needed = available − already-done (left-anti join) — the
    reference's incremental work discovery (``omicidx_etl/etl/pubmed.py:52-63``,
    ``omicidx_etl/pmc_text/extract.py:111-116``). The done side is usually
    small (a manifest): broadcast it."""
    return available.join(F.broadcast(done.select(key).distinct()), key, "left_anti")
