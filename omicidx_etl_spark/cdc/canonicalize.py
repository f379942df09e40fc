"""In-place corpus canonicalization: duplicate clusters → one survivor per
cluster, applied to a :class:`~omicidx_etl_spark.lake.table.LakeTable` as
versioned tombstone deletes.

This closes the loop between the training-data dedup family and the CDC
lake: the LSH/exact operators FIND duplicates; a real pipeline must then
DELETE the losers from the corpus table without breaking exactly-once
replay, time travel, or later re-inserts. The reference performs the
analogous cleanup as an imperative superseded-record loop
(``omicidx_etl/sra/catalog.py:212-275``); here it is one declarative
change set committed through ``LakeTable.merge``:

- survivors are the lexicographic-min key of each duplicate cluster
  (deterministic, rerun-stable);
- losers become tombstone events at ``seq_ceiling + 1`` — they supersede
  every stored version, while later genuine change events (higher seqs)
  can still re-insert a key;
- the commit is idempotent under ``(app_id, batch_id)`` like any other
  batch, so a crashed canonicalization rerun is a no-op.

Scale posture: ``exact`` is one hash-groupBy (map-side combinable) + one
key-partitioned join — O(corpus) with no self-join. ``minhash`` shingles
token-id n-grams (pure column exprs, no UDF), aggregates K minhashes in
one wide groupBy, bands them, and bucket-joins candidates
(``functions.dedup``) — never all-pairs — then takes the transitive
closure with :func:`~omicidx_etl_spark.functions.dedup.connected_components`
(two union-find passes, a fixed number of Spark jobs).
The delete itself is ``mode="mor"`` by default: an O(losers) delta append,
no base rewrite.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from omicidx_etl_spark.functions import dedup as D


def token_shingles(col: Column, n: int = 3) -> Column:
    """Token-id n-gram shingles ('17|4|523' strings) from an array<int>
    column — the pre-tokenized analogue of word shingles, as a pure column
    expression (JVM-side, codegen). Sequences shorter than ``n`` yield no
    shingles (guarded: Spark's ``sequence(1, size-n+1)`` would DESCEND for
    size < n and fabricate windows)."""
    s = F.transform(col, lambda x: x.cast("string"))
    win = F.transform(
        F.sequence(F.lit(1), F.size(s) - F.lit(n - 1)),
        lambda i: F.array_join(F.slice(s, i, n), "|"),
    )
    return F.when(F.size(s) >= n, win).otherwise(
        F.array().cast("array<string>")
    )


def content_key(col: Column) -> Column:
    """Exact-dup content hash for any column type: arrays/structs serialize
    via ``to_json`` (canonical field name, so the hash is alias-stable)."""
    return F.md5(F.to_json(F.struct(col.alias("v"))))


def duplicate_losers(
    state: DataFrame,
    key: str,
    content_col: str,
    method: str = "minhash",
    n: int = 3,
    k: int = 8,
    bands: int = 4,
) -> DataFrame:
    """(key, cluster_id) for every NON-canonical member of a duplicate
    cluster in ``state`` (assumed ≤1 row per key — a lake read)."""
    if method == "exact":
        h = state.select(F.col(key), content_key(F.col(content_col)).alias("__h"))
        groups = (
            h.groupBy("__h")
            .agg(F.min(key).alias("cluster_id"), F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > 1)
        )
        return (
            h.join(groups, "__h")
            .filter(F.col(key) != F.col("cluster_id"))
            .select(key, "cluster_id")
        )
    if method == "minhash":
        sh = state.repartition(F.col(key)).select(
            F.col(key).alias("doc"),
            F.explode(token_shingles(F.col(content_col), n)).alias("shingle"),
        )
        sigs = D.minhash_from_shingles(sh, k)
        pairs = D.band_pairs(sigs, k, bands)
        cc = D.connected_components(pairs)
        return (
            cc.filter(F.col("is_canonical") == 0)
            .select(F.col("doc_id").alias(key), "cluster_id")
        )
    raise ValueError(f"unknown canonicalize method {method!r}")


def canonicalize(
    table,
    *,
    method: str = "minhash",
    content_col: str = "tokens",
    n: int = 3,
    k: int = 8,
    bands: int = 4,
    app_id: str = "canonicalize",
    batch_id: int | None = None,
    mode: str = "mor",
) -> dict[str, Any]:
    """Delete every non-canonical duplicate from ``table`` in one commit.

    Returns {"method", "deleted", "clusters", "commit": merge summary}.
    Single-logical-writer contract on the ``seq_ceiling + 1`` choice, same
    as ``LakeTable.delete_where``.
    """
    snap = table.snapshot()
    key = snap["table"]["key"]
    state = table.read()
    losers = duplicate_losers(
        state, key, content_col, method=method, n=n, k=k, bands=bands
    )
    # Two driver-side scalars (counts) — the loser set itself never leaves
    # the executors; it flows into merge as a change DataFrame.
    stats = losers.agg(
        F.count(F.lit(1)).alias("d"),
        F.countDistinct("cluster_id").alias("c"),
    ).collect()[0]
    seq = snap.get("seq_ceiling", -1) + 1
    ch = losers.select(
        F.col(key),
        F.lit("D").alias("op"),
        F.lit(seq).cast("long").alias("seq"),
    )
    res = table.merge(
        ch,
        app_id=app_id,
        batch_id=batch_id,
        mode=mode,
        extra_summary={
            "operation": "canonicalize",
            "method": method,
            "deleted": int(stats["d"]),
            "clusters": int(stats["c"]),
        },
    )
    return {
        "method": method,
        "deleted": int(stats["d"]),
        "clusters": int(stats["c"]),
        "commit": res,
    }


# ---------------------------------------------------------------------------
# Incremental canonicalization against a persistent signature index
# ---------------------------------------------------------------------------
#
# Re-LSHing a 100 TB corpus for every daily batch is the cost the full
# `canonicalize` pays; the incremental path never touches historical
# CONTENT again. A signature LakeTable (one row per live doc: the K
# minhashes, ~k×16 B — ≈0.3% of corpus bytes at ~1 kB/doc) is maintained
# through the same versioned-merge machinery as the corpus itself, so it
# inherits exactly-once commits, tombstones, time travel and compaction.
# Per batch: shingle ONLY the changed docs (from `table.changes`), join
# their banded signatures against the index's (batch side is small — AQE
# broadcasts it, the index scan stays map-side with no shuffle), take the
# transitive closure, tombstone the losers. Cost: O(batch) shingling +
# O(sig-table) scan + O(losers) delta — never O(corpus content).


def _token_sigs(
    df: DataFrame, key: str, content_col: str, n: int, k: int
) -> DataFrame:
    """(key, mh0..mh{k-1}) minhash signatures over token-id shingles."""
    sh = df.repartition(F.col(key)).select(
        F.col(key).alias("doc"),
        F.explode(token_shingles(F.col(content_col), n)).alias("shingle"),
    )
    return D.minhash_from_shingles(sh, k).withColumnRenamed("doc", key)


def create_sig_index(spark, path: str, table, k: int = 8, n_buckets: int | None = None):
    """Create the (empty) signature-index LakeTable for ``table``: same key
    column, ``mh0..mh{k-1}`` string columns, corpus bucket count by
    default (co-bucketing keeps the anti-joins key-aligned)."""
    from pyspark.sql import types as T

    from omicidx_etl_spark.lake import LakeTable

    snap = table.snapshot()
    key = snap["table"]["key"]
    schema = T.StructType(
        [table.current_schema(snap)[key]]
        + [T.StructField(f"mh{j}", T.StringType()) for j in range(k)]
    )
    return LakeTable.create(
        spark, path, schema, key=key,
        n_buckets=n_buckets or snap["table"]["n_buckets"],
    )


def build_sig_index(table, index, *, content_col: str = "tokens",
                    n: int = 3, k: int = 8,
                    app_id: str = "sig-index", batch_id: int = 0,
                    mode: str = "mor") -> dict[str, Any]:
    """Bootstrap the signature index from the corpus's current state (the
    one full-content pass; afterwards only ``canonicalize_incremental``
    maintains it). ``index`` must be a LakeTable keyed like ``table`` with
    columns (key, mh0..mh{k-1} string)."""
    snap = table.snapshot()
    key = snap["table"]["key"]
    sigs = _token_sigs(table.read(), key, content_col, n, k)
    seq = max(snap.get("seq_ceiling", -1), 0)
    ch = sigs.select(
        F.col(key), F.lit("U").alias("op"), F.lit(seq).cast("long").alias("seq"),
        *[f"mh{j}" for j in range(k)],
    )
    return index.merge(ch, app_id=app_id, batch_id=batch_id, mode=mode)


def canonicalize_incremental(
    table,
    index,
    from_sid: int,
    *,
    content_col: str = "tokens",
    n: int = 3,
    k: int = 8,
    bands: int = 4,
    app_id: str = "canonicalize-inc",
    batch_id: int = 0,
    mode: str = "mor",
) -> dict[str, Any]:
    """Dedup only the docs changed since ``from_sid`` against the whole
    corpus via the signature index; apply losers as tombstones and keep
    the index in sync — all without re-shingling history.

    Candidate edges = (changed-vs-changed band self-join) ∪
    (changed-vs-index band join). Index rows for batch docs are excluded
    (their indexed signature predates the update), and index candidates
    are filtered to keys LIVE in the corpus via a bucket-pruned read — a
    stale index row (crash between the corpus commit and the index
    commit, below) must never become a cluster canonical, or live docs
    would be deleted in favor of a ghost.

    Two commits, both idempotent under ``(app_id, batch_id)``: corpus
    tombstones first, then the index merge (new docs' signatures upserted,
    losers' and interval-deleted docs' rows tombstoned) at the corpus's
    post-commit seq ceiling. A crash between them re-runs safely: the
    corpus merge skips, and the loser set is re-derived from the changelog
    (which now contains the tombstones) so the index still converges.
    """
    snap = table.snapshot()
    key = snap["table"]["key"]
    ch = table.changes(from_sid)
    ups = ch.filter(F.col("_change_type") == "upsert").select(key, content_col)
    dels = ch.filter(F.col("_change_type") == "delete").select(key)

    batch_sigs = _token_sigs(ups, key, content_col, n, k).localCheckpoint(eager=True)
    sig_doc = batch_sigs.withColumnRenamed(key, "doc")
    new_pairs = D.band_pairs(sig_doc, k, bands)

    idx_sigs = (
        index.read()
        .join(batch_sigs.select(key), key, "left_anti")  # pre-update rows
        .join(dels, key, "left_anti")                    # interval deletes
        .withColumnRenamed(key, "doc")
    )
    banded_new = D.banded_signatures(sig_doc, k, bands)
    banded_idx = D.banded_signatures(idx_sigs, k, bands)
    cross = (
        banded_new.alias("n")
        .join(banded_idx.alias("i"), ["band", "sig"])
        .select(F.col("n.doc").alias("doc_new"), F.col("i.doc").alias("doc_idx"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    # Live filter: bucket-pruned corpus read over only the buckets the
    # index-side candidates hash into (candidate set is O(batch); the
    # distinct-bucket collect is <= n_buckets scalars).
    from omicidx_etl_spark.lake.table import bucket_expr

    nb = snap["table"]["n_buckets"]
    cand_buckets = [
        r["b"]
        for r in cross.select(
            bucket_expr("doc_idx", nb).alias("b")
        ).distinct().collect()
    ]
    if cand_buckets:
        live = table.read(buckets=sorted(cand_buckets)).select(
            F.col(key).alias("doc_idx")
        )
        cross = cross.join(live, "doc_idx", "left_semi")

    edges = new_pairs.unionByName(
        cross.select(
            F.least("doc_new", "doc_idx").alias("doc_a"),
            F.greatest("doc_new", "doc_idx").alias("doc_b"),
        )
    ).distinct()
    losers = (
        D.connected_components(edges)
        .filter(F.col("is_canonical") == 0)
        .select(F.col("doc_id").alias(key))
        .localCheckpoint(eager=True)
    )
    n_losers = losers.count()

    seq = snap.get("seq_ceiling", -1) + 1
    res = table.merge(
        losers.select(
            F.col(key), F.lit("D").alias("op"), F.lit(seq).cast("long").alias("seq")
        ),
        app_id=app_id,
        batch_id=batch_id,
        mode=mode,
        extra_summary={"operation": "canonicalize_incremental",
                       "deleted": n_losers},
    )

    # Index maintenance at the corpus's post-commit ceiling: survivors'
    # new signatures upsert, losers + interval deletes tombstone.
    idx_seq = max(res.get("seq_ceiling", seq), seq)
    mh_cols = [f"mh{j}" for j in range(k)]
    null_mhs = [F.lit(None).cast("string").alias(c) for c in mh_cols]
    idx_ch = (
        batch_sigs.join(losers, key, "left_anti")
        .select(F.col(key), F.lit("U").alias("op"), *mh_cols)
        .unionByName(losers.select(F.col(key), F.lit("D").alias("op"), *null_mhs))
        .unionByName(dels.select(F.col(key), F.lit("D").alias("op"), *null_mhs))
        .withColumn("seq", F.lit(idx_seq).cast("long"))
    )
    idx_res = index.merge(idx_ch, app_id=app_id, batch_id=batch_id, mode=mode)
    return {
        "deleted": n_losers,
        "commit": res,
        "index_commit": idx_res,
    }
