"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: brute-force top-k neighbors of a query vector. The dot
  product is a pure higher-order expression (``zip_with`` + ``aggregate``),
  fully JVM-side; the top-k is a single takeOrdered-style sort-limit.
- ``lsh_buckets`` / ``ann_lsh_topk``: random-hyperplane (sign) LSH with
  deterministic md5-derived hyperplanes; neighbors are searched only within
  the query's bucket — the scale path (bucket sizes ~ n/2^planes).
- ``pairwise_topk_per_label``: embedding-cosine near-dup detection within
  groups (broadcast-free within-bucket self-join).

All math is done in float64 after casting, accumulating left-to-right, so
DuckDB's ``list_dot_product`` on the same arrays matches bit-for-bit at
round(…, 6).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def l2norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2norm(a) * l2norm(b))


def cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Brute-force cosine top-k: scan once, compute cosine per row, global
    sort-limit (Spark executes ORDER BY + LIMIT as TakeOrderedAndProject —
    no full sort shuffle)."""
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    scored = df.select(
        F.col(id_col),
        F.round(cosine(F.col(vec_col), q), 6).alias("cos_sim"),
    )
    return scored.orderBy(F.col("cos_sim").desc(), F.col(id_col)).limit(k)


def _plane_sign(plane: int, dim: int) -> int:
    """Deterministic ±1 hyperplane component from md5 — same on any engine."""
    import hashlib

    h = hashlib.md5(f"{plane}_{dim}".encode()).hexdigest()
    return 1 if int(h[0], 16) >= 8 else -1


def plane_matrix(n_planes: int, dims: int) -> list[list[int]]:
    return [[_plane_sign(p, d) for d in range(dims)] for p in range(n_planes)]


def lsh_buckets(
    df: DataFrame,
    dims: int,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Random-hyperplane LSH bucket per vector: bit p = sign(v · h_p) with
    h_p ∈ {±1}^dims derived from md5 (deterministic, engine-independent).
    Pure column expressions: one pass, no shuffle."""
    planes = plane_matrix(n_planes, dims)
    bits = []
    for p in range(n_planes):
        hp = F.array(*[F.lit(float(s)) for s in planes[p]])
        bits.append(F.when(dot(F.col(vec_col), hp) >= 0, F.lit("1")).otherwise(F.lit("0")))
    return df.withColumn("bucket", F.concat(*bits))


def ann_lsh_topk(
    df: DataFrame,
    query_vec: list[float],
    dims: int,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """ANN: restrict the brute-force search to the query's LSH bucket.
    Recall trades off with n_planes; the bucket predicate prunes the scan
    to ~n/2^planes rows before any ranking work."""
    planes = plane_matrix(n_planes, dims)
    qbits = "".join(
        "1" if sum(s * v for s, v in zip(planes[p], query_vec)) >= 0 else "0"
        for p in range(n_planes)
    )
    bucketed = lsh_buckets(df, dims, n_planes, id_col, vec_col)
    return cosine_topk(
        bucketed.filter(F.col("bucket") == qbits), query_vec, id_col, vec_col, k
    )


def _centroid_component(c: int, dim: int) -> float:
    """Deterministic centroid component in [-3, 3] from md5 — the same
    engine-independent derivation trick as :func:`_plane_sign`. A real
    deployment trains centroids with k-means and broadcasts them; the IVF
    *plan* (partition by nearest centroid, probe few cells) is identical."""
    import hashlib

    h = hashlib.md5(f"c{c}_{dim}".encode()).hexdigest()
    return float(int(h[:2], 16) % 7 - 3)


def centroid_matrix(n_centroids: int, dims: int) -> list[list[float]]:
    """Unit-norm centroids: raw md5-derived components are L2-normalized so
    every |c| = 1 and the quantizer reduces to argmax v·c — without this,
    centroid-norm spread dominates the L2 distance and one small-norm cell
    swallows the whole (unit-norm) embedding corpus."""
    import math

    out = []
    for c in range(n_centroids):
        raw = [_centroid_component(c, d) for d in range(dims)]
        nrm = math.sqrt(sum(x * x for x in raw)) or 1.0
        out.append([x / nrm for x in raw])
    return out


def l2_sq(a: Column, b: Column) -> Column:
    diffs = F.zip_with(
        a, b, lambda x, y: (x.cast("double") - y.cast("double"))
        * (x.cast("double") - y.cast("double"))
    )
    return F.aggregate(diffs, F.lit(0.0), lambda acc, v: acc + v)


def ivf_cells(
    df: DataFrame,
    dims: int,
    n_centroids: int = 8,
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF coarse quantization: assign each vector to its nearest centroid
    (L2). ``cell`` = 1-based argmin over the centroid distance array — pure
    column expressions (zip_with/aggregate per centroid, array_position for
    the argmin), one pass, no shuffle. At scale the table is then
    partitioned/bucketed by ``cell`` so a probe reads only its cells."""
    cents = centroid_matrix(n_centroids, dims)
    dists = F.array(
        *[
            l2_sq(F.col(vec_col), F.array(*[F.lit(x) for x in c]))
            for c in cents
        ]
    )
    return df.withColumn("cell", F.array_position(dists, F.array_min(dists)).cast("int"))


def query_probe_cells(
    query_vec: list[float], dims: int, n_centroids: int = 8, nprobe: int = 2
) -> list[int]:
    """The ``nprobe`` cells nearest the query (1-based ids), computed
    driver-side — IEEE double left-to-right, identical to the engine math."""
    cents = centroid_matrix(n_centroids, dims)
    dists = []
    for c in cents:
        acc = 0.0
        for x, y in zip(query_vec, c):
            acc += (float(x) - y) * (float(x) - y)
        dists.append(acc)
    order = sorted(range(len(dists)), key=lambda i: (dists[i], i))
    return [i + 1 for i in order[:nprobe]]


def ann_ivf_topk(
    df: DataFrame,
    query_vec: list[float],
    dims: int,
    n_centroids: int = 8,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """ANN via IVF: quantize once, rank only rows in the query's ``nprobe``
    nearest cells (~nprobe/n_centroids of the data; with cell-partitioned
    storage the non-probed cells are never read at all). Complements
    :func:`ann_lsh_topk`: IVF adapts to the data distribution (centroids),
    LSH needs no training — both prune before any ranking work."""
    probe = query_probe_cells(query_vec, dims, n_centroids, nprobe)
    celled = ivf_cells(df, dims, n_centroids, vec_col)
    return cosine_topk(
        celled.filter(F.col("cell").isin(probe)), query_vec, id_col, vec_col, k
    )


def pairwise_topk_per_label(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    threshold: float = 0.9,
) -> DataFrame:
    """Embedding-cosine near-dup pairs within each label group — the
    grouped (blocked) self-join pattern: the cross product only forms inside
    a group, never globally."""
    # Hoist the per-vector norm out of the pair loop: ``cosine(a, b)``
    # recomputes BOTH norms for every candidate pair (3 interpreted
    # higher-order aggregates per pair); computing each row's norm once and
    # dividing by the product leaves one dot product per pair. Same
    # expression order (dot / (norm_a * norm_b)) on the same doubles —
    # bit-identical at round(…, 6).
    #
    # Explicit-width repartition on the block key: the pairwise stage does
    # O(|block|²·dims) work over a few MB of vectors — AQE's byte-sized
    # coalescing would run it on one core (see dedup._exploded_shingles).
    # Planned once, reused for both sides of the self-join.
    base = df.select(
        F.col(label_col).alias("g"),
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        l2norm(F.col(vec_col)).alias("nrm"),
    ).repartition(df.sparkSession.sparkContext.defaultParallelism, "g")
    a = base.select("g", F.col("id").alias("id_a"), F.col("v").alias("v_a"),
                    F.col("nrm").alias("n_a"))
    b = base.select("g", F.col("id").alias("id_b"), F.col("v").alias("v_b"),
                    F.col("nrm").alias("n_b"))
    return (
        a.join(b, "g")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cos_sim",
            F.round(dot(F.col("v_a"), F.col("v_b")) / (F.col("n_a") * F.col("n_b")), 6),
        )
        .filter(F.col("cos_sim") >= threshold)
        .select("g", "id_a", "id_b", "cos_sim")
    )


def semantic_clusters(
    df: DataFrame,
    n_centroids: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style (Abbas et al. 2023) cluster assignment with
    deterministic centroids: the ``n_centroids`` lowest-id vectors ARE the
    centroids (engine-independent, no iterative k-means on the oracle
    path), every vector is scored against all of them, and the argmax
    cluster wins (cosine rounded to 6 dp before the argmax so cross-engine
    tie-breaks resolve on ``cid`` deterministically).

    Shape at scale: the centroid table is a K-row broadcast (the
    BroadcastNestedLoopJoin in the plan is the *intended* K-row fan-out,
    not an accidental cartesian — every row expands exactly K times
    map-side); the argmax is ONE combinable ``max(struct)`` aggregation
    (partial max per vec_id map-side, no per-key window); the assignment
    joins back on the id. Output: ``df`` + ``cluster``."""
    cent = df.filter(F.col(id_col) < n_centroids).select(
        F.col(id_col).alias("cid"),
        F.col(vec_col).alias("cvec"),
        l2norm(F.col(vec_col)).alias("cnrm"),
    )
    # norm hoisting (once per row / per centroid instead of per (row,
    # centroid) pair — same dot/(nv*nc) expression order, bit-identical at
    # round 6) + explicit-width repartition so the K-way fan-out's O(K·dims)
    # per-row work never lands on one AQE-coalesced partition. The argmax
    # groupBy(id) then REUSES this hash partitioning — no extra exchange.
    scored = (
        df.select(
            id_col, vec_col, l2norm(F.col(vec_col)).alias("__nv")
        )
        .repartition(df.sparkSession.sparkContext.defaultParallelism, id_col)
        .crossJoin(F.broadcast(cent))
        .select(
            F.col(id_col),
            F.round(
                dot(F.col(vec_col), F.col("cvec")) / (F.col("__nv") * F.col("cnrm")),
                6,
            ).alias("cos_c"),
            F.col("cid"),
        )
    )
    asn = (
        scored.groupBy(id_col)
        .agg(
            F.max(
                F.struct(F.col("cos_c"), (-F.col("cid")).alias("neg_cid"))
            ).alias("m")
        )
        .select(F.col(id_col), (-F.col("m.neg_cid")).alias("cluster"))
    )
    return df.join(asn, id_col)


def write_ivf_index(
    df: DataFrame,
    path: str,
    dims: int,
    n_centroids: int = 8,
    vec_col: str = "embedding",
) -> None:
    """Materialize the IVF layout AT REST: quantize each vector to its
    cell, then write hive-partitioned by ``cell`` (one directory per
    cell). This is the partition-pruning design the reference applies to
    its extract layout (``omicidx_etl/geo/extract.py:82-95``) aimed at the
    ANN family: a probe then does I/O only under its nprobe cell
    directories — the other ~(1 - nprobe/n_centroids) of the table is
    never listed, opened, or decoded.

    One shuffle (repartition by cell) so each cell's files are written by
    tasks owning whole cells — without it every write task would emit a
    tiny file into every cell directory (n_tasks × n_centroids files)."""
    celled = ivf_cells(df, dims, n_centroids, vec_col)
    (
        celled.repartition(n_centroids, F.col("cell"))
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(path)
    )


def read_ivf_cells(spark, path: str, cells: list[int]) -> DataFrame:
    """Read ONLY the given cells' directories from an IVF index written by
    :func:`write_ivf_index`. Pruning is constructional — Spark is handed
    just the probed ``cell=N`` paths (plus ``basePath`` so ``cell`` stays
    a column), exactly like the lake's bucket point lookup
    (``lake/table.py`` ``lookup``): non-probed files cannot be scanned
    because they are never part of the plan."""
    import os

    paths = [os.path.join(path, f"cell={c}") for c in cells]
    paths = [p for p in paths if os.path.isdir(p)]
    if not paths:  # every probed cell is empty: zero rows, full schema
        return spark.read.parquet(path).limit(0)
    return spark.read.option("basePath", path).parquet(*paths)


def ann_ivf_topk_indexed(
    spark,
    path: str,
    query_vec: list[float],
    dims: int,
    n_centroids: int = 8,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """ANN over the at-rest IVF index: identical math and results to
    :func:`ann_ivf_topk`, but the non-probed cells cost zero I/O."""
    probe = query_probe_cells(query_vec, dims, n_centroids, nprobe)
    return cosine_topk(
        read_ivf_cells(spark, path, probe), query_vec, id_col, vec_col, k
    )
