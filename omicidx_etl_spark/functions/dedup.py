"""Deduplication family for training-data pipelines: exact, n-gram Jaccard,
MinHash+LSH, SimHash. All hash math uses md5 hex strings so every operator
is DuckDB-oracle-checkable value-for-value, and all plans are
shuffle-conscious:

- exact: one hash-groupBy (map-side combinable).
- MinHash: explode(shingle × K hashes) → min per (doc, k) → band buckets →
  self-join only within buckets (the LSH point: candidate pairs without the
  O(n²) cross join).
- n-gram Jaccard: inverted-index self-join on shingle (pairs that share ≥1
  shingle), counts → |A∩B| / (|A|+|B|−|A∩B|).
- SimHash: per-bit sign sums from md5 hex digits → 16-bit signature;
  near-dups = signature match (0-distance buckets) — scale path buckets by
  signature bands.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from omicidx_etl_spark.functions.text import shingles_expr


def exact_duplicates(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """Groups of byte-identical documents in CANONICAL form:
    (content_hash, n_docs, canonical_doc_id=min, max_doc_id).

    Per-group state is bounded (count/min/max — all map-side combinable):
    an earlier version collected the full sorted id list per group, which
    is an unbounded per-group buffer — at web scale one degenerate group
    (e.g. every empty document) holds millions of ids in a single
    aggregation buffer. The canonical (count + min) form is what
    ``cdc/canonicalize.py`` applies anyway; a caller who needs full
    membership joins back on content_hash (a distributed join, not a
    per-group buffer)."""
    h = F.md5(F.col(text_col)).alias("content_hash")
    return (
        df.select(h, F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(id_col).alias("canonical_doc_id"),
            F.max(id_col).alias("max_doc_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


def _exploded_shingles(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """Explode word-n-grams, repartitioned by doc id BEFORE the explode.

    Two reasons this shuffle goes on the 1× (pre-explosion) side: it costs
    ~n_shingles× less bytes than shuffling after the explode, and explode
    preserves partitioning, so every downstream ``groupBy(doc)``
    (signatures, set sizes) is already co-located — no second shuffle.
    Locally it also breaks the one-small-parquet-file = one-task trap that
    would serialize the whole (interpreted, non-codegen) higher-order
    shingle computation onto a single core.

    The partition count is EXPLICIT (a REPARTITION_BY_NUM exchange, which
    AQE never coalesces): a by-column repartition is an AQE-coalescible
    shuffle, and AQE sizes partitions by BYTES — a document table of a
    few MB coalesces to ONE partition, serializing the downstream explode
    + self-join + aggregation (work that is quadratic per byte) onto a
    single core. Measured at sf0.1 before the fix: the entire 73M-row
    shingle self-join of ``ngram_jaccard_pairs`` ran as one 21.6 s
    single-task stage. The count is ``sparkContext.defaultParallelism``:
    the core count under ``local[N]``, the cluster's total executor cores
    under a real scheduler."""
    nparts = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(nparts, F.col(id_col)).select(
        F.col(id_col).alias("doc"), F.explode(shingles_expr(F.col(text_col), n)).alias("shingle")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = 10_000,
) -> DataFrame:
    """Near-duplicate pairs by word-n-gram Jaccard ≥ threshold.

    Inverted-index plan: explode shingles, self-join on shingle (only pairs
    sharing a shingle meet), count intersections, compare to set sizes.

    ``max_df`` (on by default) is the hot-shingle guard: a shingle present
    in d documents contributes d·(d-1)/2 rows to the self-join, so one
    ubiquitous stop-shingle at web scale is a cartesian product. Shingles
    with document frequency > max_df are excluded from BOTH the
    intersection and the set sizes (stop-shingle-filtered Jaccard — they
    carry no near-dup signal). The hot set is tiny by construction
    (≤ corpus_shingles/max_df can exceed it), so it broadcasts. Pass
    ``max_df=None`` for unfiltered Jaccard on pre-blocked candidates.
    """
    nparts = df.sparkSession.sparkContext.defaultParallelism
    sh = _exploded_shingles(df, id_col, text_col, n)
    if max_df is not None:
        hot = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_df)
            .select("shingle")
        )
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("sz"))
    # Explicit-width shingle partitioning for the self-join: the ENSURE_
    # REQUIREMENTS exchange AQE would insert is byte-coalescible, and the
    # (doc, shingle) postings are tiny in bytes while the join output is
    # Σ df² rows — byte-sized coalescing serializes the pair generation
    # onto one core (see _exploded_shingles). One REPARTITION_BY_NUM
    # exchange, planned once and reused for both sides of the self-join.
    part = sh.repartition(nparts, "shingle")
    a = part.alias("a")
    b = part.alias("b")
    # Explicit group-key exchange BEFORE the pair count: the join's output
    # groups are scattered across shingle-partitioned output, so Spark's
    # map-side partial aggregation achieves nothing here (measured at
    # sf0.1: 34.2M rows in -> 34.19M partial rows out, a 0.03% reduction)
    # while probing a ~10M-entry hash map per task in the join stage —
    # guide §2.3 in reverse: when partial aggregation cannot reduce, it is
    # pure map-side cost. Repartitioning by the pair key shuffles the SAME
    # row count the useless partial shuffle carried, and the (now
    # post-shuffle) aggregation runs over clustered rows. Measured: pair
    # stage 2.77 -> 2.11 s warm at sf0.1.
    inter = (
        a.join(b, "shingle")
        .filter(F.col("a.doc") < F.col("b.doc"))
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .repartition(nparts, "doc_a", "doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col("doc").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc").alias("doc_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("common") / (F.col("sz_a") + F.col("sz_b") - F.col("common")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "common", "sz_a", "sz_b", "jaccard")
    )


def ngram_jaccard_prefix(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """EXACT near-dup pairs by word-n-gram Jaccard ≥ threshold via prefix
    filtering (AllPairs / PPJoin — Bayardo et al. WWW'07, Xiao et al.
    WWW'08) — the scalable exact-join for HIGH thresholds, complementing
    :func:`ngram_jaccard_pairs` (inverted index, any threshold, pair-
    quadratic on overlap-dense corpora) and MinHash-LSH (approximate).

    Plan: shingles get a canonical global order (document frequency
    ascending, rarest first — ties by shingle); each doc indexes only its
    PREFIX, the first ``sz - ceil(t·sz) + 1`` shingles in that order
    (+1 safety against float ulp in ``ceil``). Prefix-filtering lemma
    (PPJoin Lemma 1): any pair with Jaccard ≥ t shares at least one
    shingle lying in BOTH prefixes, so the candidate join touches only
    prefix postings — at t=0.7 that is ~30% of shingle rows, and the
    ubiquitous stop-shingles (highest df) sort LAST and almost never
    enter a prefix, killing the df² hot-shingle blowup without a cap.
    Candidates pass the size filter (min ≥ t·max − ε) and are verified
    exactly against the full sorted shingle arrays (``array_intersect``
    on two bounded per-doc arrays — no second corpus shuffle; the arrays
    travel only to candidate pairs). Output schema matches
    ``ngram_jaccard_pairs``: (doc_a, doc_b, common, sz_a, sz_b, jaccard).

    Shuffle census: 1 shingle-keyed exchange (df join), 1 doc-keyed
    exchange (rank window), the prefix self-join exchange, and two
    doc-keyed joins of CANDIDATE pairs against the per-doc arrays —
    every stage keyed, nothing quadratic except verified candidates.
    """
    arr = F.array_sort(shingles_expr(F.col(text_col), n))
    sets = df.repartition(F.col(id_col)).select(
        F.col(id_col).alias("doc"), arr.alias("ss"), F.size(arr).alias("sz")
    )
    sh = sets.select("doc", "sz", F.explode("ss").alias("shingle"))
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("dfreq"))
    w = Window.partitionBy("doc").orderBy(F.asc("dfreq"), F.asc("shingle"))
    ranked = sh.join(dfreq, "shingle").withColumn("rnk", F.row_number().over(w))
    # prefix length sz - ceil(t·sz) + 1, plus 1 ulp-safety (a too-LONG
    # prefix only adds candidates; too short would lose pairs)
    plen = F.col("sz") - F.ceil(F.col("sz") * F.lit(threshold)) + F.lit(2)
    prefix = ranked.filter(F.col("rnk") <= plen).select("doc", "sz", "shingle")
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(b, "shingle")
        .filter(F.col("a.doc") < F.col("b.doc"))
        .filter(
            F.least(F.col("a.sz"), F.col("b.sz"))
            >= F.greatest(F.col("a.sz"), F.col("b.sz")) * F.lit(threshold)
            - F.lit(1e-9)
        )
        .select(
            F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b")
        )
        .distinct()
    )
    sa = sets.select(
        F.col("doc").alias("doc_a"), F.col("ss").alias("ss_a"), F.col("sz").alias("sz_a")
    )
    sb = sets.select(
        F.col("doc").alias("doc_b"), F.col("ss").alias("ss_b"), F.col("sz").alias("sz_b")
    )
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("common", F.size(F.array_intersect("ss_a", "ss_b")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("common") / (F.col("sz_a") + F.col("sz_b") - F.col("common")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "common", "sz_a", "sz_b", "jaccard")
    )


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str = "text", n: int = 3, k: int = 16
) -> DataFrame:
    """K-permutation MinHash signature per doc in ONE wide aggregation:
    sig[j] = min over shingles of md5(j || '|' || shingle).

    Plan: explode shingles once, then a single groupBy(doc) computing all K
    mins as columns — no (doc, k) row explosion, no second shuffle (the
    pre-explode repartition co-locates docs); every min is map-side
    combinable, so hot docs pre-reduce per partition. The K hashes stay
    fully independent per position: a cheaper rotation scheme (K rotations
    of one md5) was measured to DOUBLE the false-candidate rate (874 vs 446
    pairs at sf0.01) because mins over rotated strings correlate — and at
    scale, candidate verification cost dominates hashing cost. Returns
    (doc, mh0..mh{k-1})."""
    sh = _exploded_shingles(df, id_col, text_col, n)
    return minhash_from_shingles(sh, k)


def minhash_from_shingles(sh: DataFrame, k: int) -> DataFrame:
    """Signature aggregation over an already-exploded (doc, shingle) set —
    the shingle source is pluggable (word n-grams for text, token-id
    n-grams for pre-tokenized sequences; see
    ``cdc.canonicalize.token_shingles``)."""
    return sh.groupBy("doc").agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{j}|"), F.col("shingle")))).alias(f"mh{j}")
            for j in range(k)
        ]
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    k: int = 16,
    bands: int = 4,
) -> DataFrame:
    """LSH candidate pairs: split the K minhashes into ``bands`` bands of
    K/bands values; docs sharing any full band signature are candidates.
    The self-join runs per (band, signature) bucket — never O(n²)."""
    sigs = minhash_signatures(df, id_col, text_col, n, k)
    return band_pairs(sigs, k, bands)


def banded_signatures(sigs: DataFrame, k: int, bands: int) -> DataFrame:
    """Expand a (doc, mh0..mh{k-1}) signature frame into (doc, band, sig)
    rows — one per band, sig = the band's minhashes joined. The shared
    currency of the LSH family: self-join it for in-corpus pairs
    (:func:`band_pairs`) or join batch-vs-index for incremental dedup
    (``cdc.canonicalize.canonicalize_incremental``)."""
    rows = k // bands
    band_col = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    F.concat_ws(
                        "|", *[F.col(f"mh{b * rows + j}") for j in range(rows)]
                    ).alias("sig"),
                )
                for b in range(bands)
            ]
        )
    )
    return sigs.select("doc", band_col.alias("bs")).select(
        "doc", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig")
    )


def band_pairs(sigs: DataFrame, k: int, bands: int) -> DataFrame:
    """LSH banding over a (doc, mh0..mh{k-1}) signature frame: emit
    candidate pairs (doc_a < doc_b) sharing any full band signature. The
    self-join runs per (band, sig) bucket."""
    banded = banded_signatures(sigs, k, bands)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, ["band", "sig"])
        .filter(F.col("a.doc") < F.col("b.doc"))
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )


def simhash(df: DataFrame, id_col: str, text_col: str = "text", bits: int = 16) -> DataFrame:
    """16-bit SimHash from md5 hex digits of whitespace words.

    bit_b(word) = high bit of hex digit b of md5(word); per-doc bit = sign of
    Σ(±1). Returns (id, simhash) as a bit-string column. One explode + one
    groupBy with ``bits`` conditional sums (all partial-aggregatable)."""
    words = F.explode(
        F.transform(F.split(F.trim(F.col(text_col)), r"\s+"), F.lower)
    ).alias("w")
    base = df.repartition(F.col(id_col)).select(
        F.col(id_col).alias("doc"), words
    ).withColumn("h", F.md5(F.col("w")))
    sums = base.groupBy("doc").agg(
        *[
            F.sum(
                F.when(
                    F.substring(F.col("h"), b + 1, 1).isin(*list("89abcdef")), 1
                ).otherwise(-1)
            ).alias(f"b{b}")
            for b in range(bits)
        ]
    )
    sig = F.concat(
        *[F.when(F.col(f"b{b}") > 0, F.lit("1")).otherwise(F.lit("0")) for b in range(bits)]
    )
    return sums.select("doc", sig.alias("simhash"))


def simhash_duplicates(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """Docs whose SimHash signatures collide exactly (0-distance clusters).

    ``docs`` is a sorted comma-joined string (scalar, hashable — see
    exact_duplicates). For Hamming-distance ≤ k near-dups use
    :func:`simhash_near_pairs`."""
    s = simhash(df, id_col, text_col)
    return (
        s.groupBy("simhash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.array_join(F.sort_array(F.collect_list("doc")), ",").alias("docs"),
        )
        .filter(F.col("n_docs") > 1)
    )


def simhash_near_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    bits: int = 16,
    bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-duplicate pairs at Hamming distance ≤ ``max_hamming``.

    LSH banding applied to the signature bits (the same band-bucket trick as
    :func:`minhash_lsh_candidates`): split the ``bits``-bit signature into
    ``bands`` contiguous bands, self-join only inside (band, band_sig)
    buckets, then verify candidates by exact Hamming distance. For
    ``max_hamming ≤ bands - 1`` the rewrite is LOSSLESS (pigeonhole: ≤
    bands-1 differing bits cannot touch every band, so every qualifying pair
    shares an intact band) — full recall without the O(n²) all-pairs scan.
    The Hamming verify is ``bits`` char comparisons, pure codegen."""
    if max_hamming > bands - 1:
        raise ValueError(
            f"max_hamming={max_hamming} > bands-1={bands - 1}: banding would "
            "lose pairs; raise bands or lower max_hamming"
        )
    rows = bits // bands
    sigs = simhash(df, id_col, text_col, bits)
    banded = sigs.select(
        "doc",
        "simhash",
        F.explode(F.array(*[F.lit(i) for i in range(bands)])).alias("band"),
    ).withColumn(
        "band_sig", F.col("simhash").substr(F.col("band") * rows + 1, F.lit(rows))
    )
    a = banded.alias("a")
    b = banded.alias("b")
    # The Hamming verify runs INSIDE the band join's output, before the
    # cross-band distinct: with b-bit bands there are only bands·2^(bits/
    # bands) join keys, so candidate volume is sum-of-bucket² — verifying
    # first shrinks the distinct's shuffle from every candidate pair
    # (carrying both signatures) to just the qualifying pairs carrying
    # (doc_a, doc_b, hamming). Measured at sf1 (50k docs, 16-bit/4-band):
    # ~312M candidate rows → ~45M qualifying rows, ~10× less shuffle, and
    # the whole verify stays in the join stage's codegen.
    ham = sum(
        (
            F.substring(F.col("a.simhash"), i + 1, 1)
            != F.substring(F.col("b.simhash"), i + 1, 1)
        ).cast("int")
        for i in range(bits)
    )
    return (
        a.join(b, ["band", "band_sig"])
        .filter(F.col("a.doc") < F.col("b.doc"))
        .withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.col("hamming"),
        )
        .distinct()
    )


def incremental_exact_dedup(
    incoming: DataFrame,
    corpus: DataFrame,
    id_col: str,
    text_col: str = "text",
    corpus_col: str | None = None,
    corpus_hashed: bool = False,
) -> DataFrame:
    """Survivors of an incoming batch against an already-ingested corpus:
    keep each incoming document iff (a) its content hash is absent from the
    corpus and (b) it is the first (min id) holder of that hash within the
    batch. The incremental counterpart of :func:`exact_duplicates` — the
    shape every continuously-fed training-data lake needs (dedup the day's
    crawl against 100 TB of history without re-hashing history).

    Plan: batch side pre-reduces with one map-side-combinable
    ``groupBy(hash).agg(min(id))`` (intra-batch dedup), then a left-anti
    join against the corpus's distinct hashes. Both sides shuffle on the
    hash — the honest exact path at any scale; no broadcast hint because
    the corpus side is the big one. When the corpus fingerprints live in a
    :class:`~omicidx_etl_spark.lake.table.LakeTable` keyed by
    ``content_hash``, the anti join collapses to a bucket-pruned lookup of
    only the buckets the batch's hashes land in (see
    ``tests/test_packing_scd2.py``); pass that slice with
    ``corpus_hashed=True`` — its ``text_col`` already holds fingerprints.
    """
    h = F.md5(F.col(text_col))
    batch = (
        incoming.select(h.alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias(id_col))
    )
    ccol = F.col(corpus_col or text_col)
    seen_col = ccol if corpus_hashed else F.md5(ccol)
    seen = corpus.select(seen_col.alias("content_hash")).distinct()
    return batch.join(seen, "content_hash", "left_anti").select(id_col, "content_hash")


def _min_root_union_find(batches):
    """``mapInArrow`` body: union-find over the (a, b) rows of one
    partition, emitting (node, min id of its component) per distinct node.
    The larger root always links under the smaller, so a root IS its
    component's minimum; path halving keeps the chains short."""
    import pyarrow as pa

    parent: dict = {}

    def find(x):
        while (p := parent.setdefault(x, x)) != x:
            parent[x] = parent[p]
            x = parent[x]
        return x

    id_type = None
    for batch in batches:
        id_type = batch.schema.field(0).type
        for a, b in zip(batch.column(0).to_pylist(), batch.column(1).to_pylist()):
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    if parent:
        nodes = list(parent)
        yield pa.RecordBatch.from_arrays(
            [pa.array(nodes, id_type), pa.array([find(n) for n in nodes], id_type)],
            names=["node", "root"],
        )


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    checkpoint_dir: "str | None" = None,
) -> DataFrame:
    """Duplicate-CLUSTER formation: connected components over a near-dup
    pair set, in two union-find passes.

    The LSH/Jaccard/SimHash families emit PAIRS; an actual dedup pipeline
    needs CLUSTERS (the transitive closure) so it keeps exactly one
    canonical survivor per group — A~B and B~C must collapse to one doc
    even when (A, C) was never a candidate pair. The reference resolves
    duplicates only keyed/latest-wins per accession (the ``deduped`` CTEs
    in ``omicidx_etl/sql/010_raw_to_parquet.sql:17-87``); cluster
    formation is the transitive step a web-scale corpus needs on top.

    1. Local: edges ``(least, greatest)`` are hash-partitioned (AQE sizes
       the partitions) and each partition runs a union-find in
       ``mapInArrow``, giving (node, min id of its local component). Each
       edge sits in one connected local component, so the star graph
       node—local root has the input's components.
    2. Global: each node's non-minimum local roots are linked to its
       minimum one, and ONE task runs the same union-find over those
       links. A component's min id is the min of its local minimums, so
       the global root of a node's minimum local root is its label.

    The job count is fixed, whatever the graph's diameter. The global
    task keeps one union-find entry per local root it is sent (at most
    one per node); links stream through in Arrow batches. The local-pass
    frame is materialized once: ``localCheckpoint`` by default (blocks
    live on executors, so an executor loss kills them), or reliable
    ``checkpoint()`` files under ``checkpoint_dir`` for multi-executor
    clusters. Node ids keep the input column type; pairs with a null id
    are ignored.

    Returns (doc_id, cluster_id, cluster_size, is_canonical), one row per
    doc appearing in any pair; cluster_id is the min doc_id of the
    component (deterministic canonical choice).
    """
    from omicidx_etl_spark.session import ensure_worker_package

    spark = pairs.sparkSession
    ensure_worker_package(spark)  # _min_root_union_find unpickles by module name
    a, b = F.col(a_col), F.col(b_col)
    edges = pairs.filter(a.isNotNull() & b.isNotNull()).select(
        F.least(a, b).alias("u"), F.greatest(a, b).alias("v")
    )
    id_type = edges.schema["u"].dataType.simpleString()
    uf_schema = f"node {id_type}, root {id_type}"

    local = (
        edges.repartition("u")
        .mapInArrow(_min_root_union_find, uf_schema)
        .groupBy("node")
        .agg(F.collect_set("root").alias("roots"))
        .select("node", F.array_min("roots").alias("r0"), "roots")
    )
    if checkpoint_dir is None:
        local = local.localCheckpoint(eager=True)
    else:
        sc = spark.sparkContext
        prev_ckpt_dir = sc.getCheckpointDir()
        sc.setCheckpointDir(checkpoint_dir)
        try:
            local = local.checkpoint(eager=True)
        finally:
            # ADVICE r5: don't leak the checkpoint dir to unrelated
            # checkpoint() users of a long-lived session (the files stay
            # until the caller removes checkpoint_dir)
            if prev_ckpt_dir is not None:
                sc.setCheckpointDir(prev_ckpt_dir)

    merged = (
        local.select("r0", F.explode(F.array_remove("roots", F.col("r0"))))
        .repartition(1)
        .mapInArrow(_min_root_union_find, uf_schema)
        .select(F.col("node").alias("r0"), F.col("root").alias("label"))
    )
    label = F.coalesce("label", "r0")
    return local.join(merged, "r0", "left").select(
        F.col("node").alias("doc_id"),
        label.alias("cluster_id"),
        F.count(F.lit(1)).over(Window.partitionBy(label)).alias("cluster_size"),
        (F.col("node") == label).cast("int").alias("is_canonical"),
    )


def span_dedup_stats(
    df: DataFrame, id_col: str, text_col: str = "text", span: int = 16
) -> DataFrame:
    """Exact-substring span dedup à la Lee et al. ("Deduplicating Training
    Data Makes Language Models Better", 2021), at non-overlapping
    ``span``-word granularity: a span is duplicated iff its exact word
    sequence occurs in MORE THAN ONE document. Returns per-doc
    (doc_id, n_spans, dup_spans, dup_frac_e4) for docs with ≥ 1 full span
    — the signal a curation pass thresholds on to drop or trim
    boilerplate-heavy documents.

    Scale shape (the reference has no substring dedup; its nearest analog
    is whole-record hashing in ``omicidx_etl/sra/parser.py``): span hashes
    are a per-row ``transform``+``slice`` (map-only), the per-hash document
    count is a combinable two-phase aggregate, and the hash⇄doc join
    shuffles on the hash key only — never an all-pairs comparison, never a
    suffix array held in one place. One degenerate hash (e.g. a boilerplate
    span in 10^7 docs) costs a count, not a buffer."""
    words = F.split(F.trim(F.lower(text_col)), r"\s+")
    # docs shorter than one span are filtered BEFORE sequence() is built:
    # sequence(0, -1) yields a DESCENDING [0, -1] in Spark, which would
    # fabricate garbage spans for short docs
    base = df.select(F.col(id_col), words.alias("__w")).filter(
        F.size("__w") >= span
    )
    n_spans = (F.size("__w") / span).cast("int")
    spans = F.transform(
        F.sequence(F.lit(0), n_spans - 1),
        lambda i: F.md5(
            F.concat_ws(" ", F.slice(F.col("__w"), i * span + 1, span))
        ),
    )
    s = base.select(id_col, F.explode(spans).alias("h"))
    # Monotonically-SHRINKING aggregation chain (guide §2.3: aggregate
    # before you shuffle) instead of joining per-hash doc counts back to
    # the full exploded span set: (1) collapse spans to distinct
    # (hash, doc) with multiplicity — map-side combinable, the only
    # exchange that carries exploded volume; (2) nd = docs-per-hash as a
    # count window over the DISTINCT pairs (== countDistinct(doc) per
    # hash, since pairs are unique); (3) per-doc totals weight each pair
    # by its multiplicity. The previous shape aggregated the hash counts
    # separately and joined them back to every exploded span row — one
    # more scan+explode of the corpus and a join whose probe side is the
    # full span set (broadcast locally, a second exploded-volume shuffle
    # at corpus scale where the per-hash count table outgrows broadcast).
    pc = s.groupBy(id_col, "h").agg(F.count(F.lit(1)).alias("__c"))
    nd = F.count(F.lit(1)).over(Window.partitionBy("h"))
    return (
        pc.withColumn("__nd", nd)
        .groupBy(id_col)
        .agg(
            F.sum("__c").cast("long").alias("n_spans"),
            F.sum(F.when(F.col("__nd") > 1, F.col("__c")).otherwise(F.lit(0)))
            .cast("long")
            .alias("dup_spans"),
        )
        .withColumn(
            "dup_frac_e4",
            F.floor(F.col("dup_spans") * 10000.0 / F.col("n_spans") + 0.5)
            .cast("long"),
        )
    )
