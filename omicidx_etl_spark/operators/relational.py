"""Relational operator library mirroring the reference's consolidation /
view-layer SQL (SURVEY.md §2.2-2.8), expressed as reusable DataFrame
transformations. Each function documents the reference site it covers.

Scale notes: dimension sides of star joins are broadcast explicitly;
everything else stays a declarative plan for Catalyst/AQE (join reordering,
skew-join splitting, partial aggregation are free).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


# --------------------------------------------------------------- projections
def staging_projection(df: DataFrame, spec: dict[str, object]) -> DataFrame:
    """P1-P4/P9/P10: explicit select list with trim/cast/rename/derive —
    the staging-view pattern (``omicidx_etl/sql/030_staging_views.sql:15-30,
    60-61``). ``spec`` maps output name -> Column (or input name)."""
    cols = []
    for name, expr in spec.items():
        col = F.col(expr) if isinstance(expr, str) else expr
        cols.append(col.alias(name))
    return df.select(*cols)


def web_link(col, prefix: str):
    """P9: computed literal URL column
    (``omicidx_etl/sql/040_geometadb_views.sql:58,88``)."""
    return F.concat(F.lit(prefix), col)


# --------------------------------------------------------------------- joins
def enrich_left(fact: DataFrame, dim: DataFrame, on: str | list[str]) -> DataFrame:
    """J1: equi left-outer enrichment
    (``omicidx_etl/sql/030_staging_views.sql:84-85``). The dim side is NOT
    force-broadcast — at scale it may be large; AQE decides."""
    return fact.join(dim, on, "left")


def denormalize(
    fact: DataFrame, dims: list[tuple[DataFrame, str | list[str] | object]]
) -> DataFrame:
    """J2: chained left-outer denormalization, run→…→study style
    (``omicidx_etl/sql/050_sradb_views.sql:240-243``). Dimension tables are
    broadcast — the classic star-join plan: zero shuffles of the fact."""
    out = fact
    for dim, on in dims:
        out = out.join(F.broadcast(dim), on, "left")
    return out


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "valid_from",
) -> DataFrame:
    """Temporal as-of left join: each left row gets the columns of the
    latest ``right`` row with ``right_ts <= left_ts`` for the same key —
    the CDC/SCD "dimension version valid at event time" enrichment (the
    reference pins each mirror batch to the latest preceding Full snapshot
    the same way, ``omicidx_etl/sra/mirror.py:93-145``).

    Plan: NOT a range join (which Spark executes as a broadcast-nested-loop
    or an exploding theta join). Both sides are tagged and unioned, then one
    window pass per key carries the last right-side payload forward
    (struct-packed so legitimate NULL attribute values survive
    ``last(ignorenulls)``); left rows then peel off. ONE shuffle by key +
    one sort — the same cost as the dedup window, independent of how many
    right versions precede each event. Ties (right_ts == left_ts) are
    inclusive, matching DuckDB ``ASOF JOIN`` ``>=`` semantics (right rows
    order before left rows at equal timestamp).
    """
    rcols = [c for c in right.columns if c not in (key, right_ts)]
    l = left.select(
        *left.columns,
        F.lit(1).alias("__is_l"),
        F.lit(None).cast(
            "struct<" + ", ".join(
                f"{c}: {dict(right.dtypes)[c]}" for c in rcols
            ) + ">"
        ).alias("__r"),
    )
    r = right.select(
        F.col(key),
        F.col(right_ts).alias(left_ts),
        *[F.lit(None).cast(t).alias(c) for c, t in left.dtypes if c not in (key, left_ts)],
        F.lit(0).alias("__is_l"),
        F.struct(*[F.col(c) for c in rcols]).alias("__r"),
    ).select(*l.columns)  # align column order for unionByName safety
    w = (
        Window.partitionBy(key)
        .orderBy(F.col(left_ts), F.col("__is_l"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = l.unionByName(r).withColumn(
        "__rv", F.last("__r", ignorenulls=True).over(w)
    )
    out = carried.filter(F.col("__is_l") == 1).select(
        *[c for c in left.columns],
        *[F.col("__rv")[c].alias(c) for c in rcols],
    )
    return out


def exists_flag(
    left: DataFrame, right: DataFrame, on: str, flag_name: str
) -> DataFrame:
    """J3: existence flag — the reference spells it left-join+IS NOT NULL
    (``omicidx_etl/sql/040_geometadb_views.sql:42-47,69-72``); we use the
    cleaner broadcast semi-join shape: distinct keys + left join + flag."""
    keys = right.select(F.col(on)).distinct().withColumn("__hit", F.lit(True))
    return (
        left.join(F.broadcast(keys), on, "left")
        .withColumn(flag_name, F.coalesce(F.col("__hit"), F.lit(False)))
        .drop("__hit")
    )


def explode_bridge(
    df: DataFrame, id_col: str, array_col: str, out_col: str
) -> DataFrame:
    """J5: M:N bridge-table construction via explode + distinct
    (``omicidx_etl/sql/040_geometadb_views.sql:100-113``)."""
    return df.select(
        F.col(id_col), F.explode(array_col).alias(out_col)
    ).distinct()


# ------------------------------------------------------------------ set ops
def union_discriminated(
    parts: list[tuple[DataFrame, str]], discriminator: str
) -> DataFrame:
    """U1: UNION ALL with a source-discriminator column
    (``omicidx_etl/sql/040_geometadb_views.sql:116-130``)."""
    out = None
    for df, tag in parts:
        tagged = df.withColumn(discriminator, F.lit(tag))
        out = tagged if out is None else out.unionByName(tagged)
    return out


# ------------------------------------------------------------------- windows
def surrogate_ids(df: DataFrame, order_col: str, id_name: str = "row_id") -> DataFrame:
    """W2: global surrogate-id assignment — ``ROW_NUMBER() OVER (ORDER BY k)``
    (``omicidx_etl/sql/050_sradb_views.sql:22,52,…``).

    SCALE HAZARD (SURVEY §7.4.4): an unpartitioned window single-partitions.
    Kept only for small compat views; for large tables use
    ``scalable_surrogate_ids``."""
    w = Window.orderBy(order_col)
    return df.withColumn(id_name, F.row_number().over(w))


def range_pid_expr(df: DataFrame, order_col: str, n: int) -> F.Column:
    """Deterministic range-partition id for ``order_col`` as a pure column
    expression over boundary LITERALS computed once (``approxQuantile``;
    seeded driver-side sample for non-numeric keys) — the building block of
    every order-preserving two-pass operator here (surrogate ids, sequence
    packing). Baking boundaries into the plan is what makes the partition
    of a row a pure function of its key across *all* jobs that reuse the
    expression; ``repartitionByRange`` re-samples per job and can disagree
    with itself on multi-file input (caught by the sf1 parity sweep).
    Boundary *balance* affects only performance, never values."""
    bounds: list = []
    if n > 1:
        dtype = dict(df.dtypes)[order_col]
        numeric = dtype in (
            "tinyint", "smallint", "int", "bigint", "float", "double",
        ) or dtype.startswith("decimal")
        if numeric:
            qs = [i / n for i in range(1, n)]
            bounds = df.stat.approxQuantile(order_col, qs, 0.001)
        else:
            # seeded sample, split evenly driver-side; worst case the
            # sample is unrepresentative and partitions skew — values stay
            # correct because the boundaries are literals either way
            sample = sorted(
                r[0]
                for r in df.select(order_col)
                .sample(fraction=0.1, seed=7)
                .limit(n * 1000)
                .collect()
                if r[0] is not None
            )
            step = max(1, len(sample) // n)
            bounds = sample[step::step][: n - 1]
        bounds = sorted(set(bounds))
    if not bounds:
        return F.lit(0)
    pid = F.when(F.col(order_col) <= F.lit(bounds[0]), F.lit(0))
    for i, b in enumerate(bounds[1:], start=1):
        pid = pid.when(F.col(order_col) <= F.lit(b), F.lit(i))
    return pid.otherwise(F.lit(len(bounds)))


def scalable_surrogate_ids(
    df: DataFrame, order_col: str, id_name: str = "row_id", partitions: int = 0
) -> DataFrame:
    """Distributed dense surrogate ids with the same result as
    ``surrogate_ids``: assign each row a range partition from boundary
    literals, rank within each partition, then add per-partition offsets
    (one tiny driver-side pass over partition counts). Two narrow passes,
    no single-partition sort.

    The boundaries are computed ONCE (``approxQuantile``; seeded
    driver-side sample for non-numeric keys) and baked into the plan as
    literals, so the partition of a row is a pure function of its key.
    The previous ``repartitionByRange`` + ``spark_partition_id`` version
    re-SAMPLED boundaries independently in the offset-count job and the
    final pass; on multi-file input the two jobs disagreed and ids
    shifted across the boundary (caught only by the sf1 parity sweep —
    sf0.1 fits one scan split, where both samplings coincide). Boundary
    *balance* affects only performance, never values."""
    spark = df.sparkSession
    n = int(partitions or spark.conf.get("spark.sql.shuffle.partitions"))
    pid = range_pid_expr(df, order_col, n)
    with_pid = df.withColumn("__pid", pid)
    counts = (
        with_pid.groupBy("__pid").count().orderBy("__pid").collect()
    )  # ≤ partitions rows
    offsets, acc = {}, 0
    for r in counts:
        offsets[r["__pid"]] = acc
        acc += r["count"]
    off = F.create_map(
        *[F.lit(x) for kv in offsets.items() for x in kv]
    )
    w = Window.partitionBy("__pid").orderBy(order_col)
    return (
        with_pid.withColumn("__lrn", F.row_number().over(w))
        .withColumn(id_name, (F.col("__lrn") + off[F.col("__pid")]).cast("int"))
        .drop("__pid", "__lrn")
    )


def topk_per_group(
    df: DataFrame, group_cols: list[str], order_cols: list, k: int
) -> DataFrame:
    """Top-k per group (generalization of W1; SURVEY §2.6)."""
    w = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


# ------------------------------------------------------------------- export
def ordered_export(df: DataFrame, path: str, order_col: str, fmt: str = "parquet"):
    """S9/O1: clustered materialization — ``COPY (… ORDER BY k) TO file``
    (``omicidx_etl/sql/010_raw_to_parquet.sql:8-12``). Range-partitioned
    total sort (no single-file coalesce at scale); zstd parquet."""
    (
        df.repartitionByRange(
            int(df.sparkSession.conf.get("spark.sql.shuffle.partitions")), order_col
        )
        .sortWithinPartitions(order_col)
        .write.mode("overwrite")
        .option("compression", "zstd")
        .format(fmt)
        .save(path)
    )


# ----------------------------------------------------------- map flattening
def flatten_map_column(
    df: DataFrame,
    map_col: str,
    out_col: str | None = None,
    key_name: str = "characteristic",
    value_name: str = "text",
) -> DataFrame:
    """D3: map → array-of-struct flattener. The reference deliberately
    demotes JSON maps to ``array<struct{characteristic, …}>`` because
    arrays process better in columnar engines
    (``omicidx_etl/ebi_biosample/extract.py:96-100``; rationale in
    ``ebi_biosample/README.md`` §"Schema Transformation"). Pure
    higher-order expression (``map_entries`` + ``transform``) — no UDF,
    no shuffle."""
    out = out_col or map_col
    entries = F.map_entries(F.col(map_col))
    flat = F.transform(
        entries,
        lambda e: F.struct(
            e.getField("key").alias(key_name),
            e.getField("value").alias(value_name),
        ),
    )
    return df.withColumn(out, flat)


# ----------------------------------------------------------- interval joins
def banded_interval_self_join(
    df: DataFrame,
    key_col: str,
    ts_us_col,
    id_col: str,
    radius_us: int,
) -> DataFrame:
    """Range (interval) self-join: for each row, count OTHER rows of the
    same ``key_col`` whose timestamp lies within ``±radius_us``.

    The declarative form is a non-equi theta join (``|a.ts - b.ts| <= r``),
    which Spark can only execute as a nested-loop per key — quadratic in the
    hottest key and a scale killer. This operator *bands* time into buckets
    of width ``radius_us`` and turns the theta join into an equi join:

      * probe side: each row explodes to 3 candidate buckets (b-1, b, b+1),
      * build side: each row sits in exactly its own bucket (so no pair is
        double-counted),
      * join on ``(key, bucket)`` — a plain shuffled/AQE-skew-splittable
        hash join — then the exact ``|Δts| <= r`` predicate filters the
        3-bucket candidate superset.

    Cost is O(candidates-within-±2r), never O(per-key²); the 3× probe-side
    explosion happens on narrow (key, bucket, ts, id) rows only. Same
    banding idea the dedup family uses for LSH buckets (functions/dedup.py).
    Reference analogue: the reference's per-record loop correlates nearby
    records per accession stream (omicidx_etl/geo/extract.py:296-312) —
    here as one distributed plan.

    Returns ``df`` + ``n_close`` (BIGINT, 0 when no neighbor).
    """
    ts = ts_us_col if not isinstance(ts_us_col, str) else F.col(ts_us_col)
    narrow = df.select(
        F.col(key_col).alias("__k"),
        F.col(id_col).alias("__id"),
        ts.cast("long").alias("__us"),
    )
    bucket = (F.col("__us") / F.lit(radius_us)).cast("long")
    probe = narrow.withColumn(
        "__b", F.explode(F.array(bucket - 1, bucket, bucket + 1))
    )
    build = narrow.select(
        F.col("__k").alias("__bk"),
        F.col("__id").alias("__bid"),
        F.col("__us").alias("__bus"),
        (F.col("__us") / F.lit(radius_us)).cast("long").alias("__bb"),
    )
    pairs = probe.join(
        build,
        (F.col("__k") == F.col("__bk"))
        & (F.col("__b") == F.col("__bb"))
        & (F.col("__id") != F.col("__bid"))
        & (F.abs(F.col("__us") - F.col("__bus")) <= F.lit(radius_us)),
        "inner",
    )
    counts = pairs.groupBy("__id").agg(F.count("*").alias("n_close"))
    return (
        df.join(counts, df[id_col] == counts["__id"], "left")
        .drop("__id")
        .withColumn("n_close", F.coalesce(F.col("n_close"), F.lit(0)))
    )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: "str | list[str]",
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe equi join for when the small side is too big to broadcast
    but the big side's join keys are skewed: each big-side row picks a
    deterministic salt in [0, n_salts) (``pmod(xxhash64(all columns))`` —
    pure function of the row, so task retries re-derive the same salt and
    exactly-once sinks stay exactly-once), the small side is replicated
    ``n_salts``× with one copy per salt, and the join runs on
    (key…, salt). A hot key's rows spread across ``n_salts`` reducers
    instead of one; every matching (big, small) pair still appears exactly
    once (a big row carries ONE salt and exactly one replica of each small
    row carries that salt), so inner and left results equal the unsalted
    join's. The small side is hinted ``shuffle_hash`` — if it were
    broadcast-able, salting would be pointless (a broadcast join has no
    shuffle to skew), and a sort-merge join would re-sort the replicated
    side.

    AQE's ``skewJoin`` does this adaptively for sort-merge joins when
    post-shuffle partition stats reveal the skew; this operator is the
    explicit form for planned-ahead hot keys. Caveat: big-side rows
    identical in EVERY column collide onto one salt — add a line-id column
    first if exact duplicates dominate the hot key. Reference
    join-consolidation shape: `omicidx_etl/sql/020_staging_tables.sql`
    joins.
    """
    keys = [on] if isinstance(on, str) else list(on)
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in big.columns]), F.lit(n_salts))
    replicas = small.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    return (
        big.withColumn("__salt", salt)
        .join(replicas.hint("shuffle_hash"), [*keys, "__salt"], how)
        .drop("__salt")
    )
