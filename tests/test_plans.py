"""Physical-plan shape assertions — the scale-awareness contract.

A correct result with a wrong plan stops being correct at 100 TB; these
tests pin the plan properties the engine relies on:
filter pushdown reaching the parquet scan, column pruning in ReadSchema,
broadcast joins for small dimensions, map-side partial aggregation, and
LIMIT short-circuiting as TakeOrderedAndProject (no global sort shuffle).
"""

from __future__ import annotations

import re

import pytest

from omicidx_etl_spark import queries as Q
from tests.conftest import SF_SMALL


def _plan(spark, name: str) -> str:
    df = Q._REGISTRY[name][0](spark, SF_SMALL)
    return df._jdf.queryExecution().executedPlan().toString()


def _scans(plan: str) -> list[str]:
    return [l for l in plan.splitlines() if "FileScan parquet" in l]


def test_filter_pushed_to_scan(spark):
    """P8: the date-range predicate must reach the parquet reader
    (row-group stats pruning at scale), not run post-scan only."""
    plan = _plan(spark, "p8_date_range")
    scan = _scans(plan)[0]
    assert "DataFilters: [" in scan and "ts" in scan.split("DataFilters:")[1]


def test_column_pruning(spark):
    """P1: a projection query must scan only the referenced columns —
    a scan reading all columns for a narrow projection is wrong."""
    plan = _plan(spark, "p_staging_projection")
    scan = _scans(plan)[0]
    cols = scan.split("FileScan parquet [", 1)[1].split("]", 1)[0]
    read = {c.split("#")[0] for c in cols.split(",")}
    assert read == {"p_partkey", "p_name", "p_brand", "p_size", "p_retailprice"}
    # notably absent: p_mfgr, p_type, p_container, p_comment
    assert "p_comment" not in read and "p_type" not in read


def test_small_dims_broadcast(spark):
    """J2/Q5: region/nation/supplier dimensions must broadcast — a
    shuffle join against a 5-row dim table wastes a full exchange of the
    fact side."""
    plan = _plan(spark, "q5_local_supplier_volume")
    assert plan.count("BroadcastHashJoin") >= 2


def test_no_forced_broadcast_of_fact_tables(spark):
    """q3/q5 must not carry broadcast HINTS on fact-sized relations
    (orders/customer/lineitem). At test SFs the size threshold may still
    broadcast them — that's AQE/Catalyst doing its job and it degrades
    correctly at 100× — but a forced hint overrides size knowledge and
    OOMs at SF100 (orders = 150M rows). Disabling the size threshold
    isolates the hints: only genuinely bounded dims may remain broadcast."""
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        q3 = _plan(spark, "q3_shipping_priority")
        assert "BroadcastHashJoin" not in q3, "q3 forces a broadcast via hint"
        q5 = _plan(spark, "q5_local_supplier_volume")
        # exactly the supplier/nation/region hints survive; the
        # lineitem-orders and orders-customer joins shuffle on their keys
        assert q5.count("BroadcastHashJoin") == 3, q5
        assert q5.count("SortMergeJoin") == 2, q5
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)


def test_partial_aggregation(spark):
    """A3: grouped SUM must combine map-side (partial_sum before the
    exchange, final after) — this is also the skew defense for hot keys."""
    plan = _plan(spark, "q1_pricing_summary")
    assert "partial_sum" in plan
    assert plan.count("HashAggregate") >= 2


def test_topk_no_global_sort(spark):
    """O2: ORDER BY + LIMIT must execute as TakeOrderedAndProject (per-
    partition top-k + driver merge), never a total sort shuffle."""
    plan = _plan(spark, "ann_cosine_topk")
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan.lower()


def test_dedup_maxby_is_combinable(spark):
    """W1/CDC core: the latest-per-key dedup must be a hash aggregation
    with map-side partial combine (hot keys pre-reduce per partition), not
    a window over a whole-key shuffle."""
    from omicidx_etl_spark.cdc.replay import dedup_latest

    log = spark.read.parquet(f"{SF_SMALL}/events.parquet").selectExpr(
        "event_id as seq", "user_id as doc_id", "event_type as op", "value"
    )
    plan = (
        dedup_latest(log, key="doc_id", seq="seq")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "partial_max_by" in plan
    assert "Window" not in plan


@pytest.mark.parametrize(
    "name", ["q1_pricing_summary", "w1_latest_per_key", "token_count"]
)
def test_whole_stage_codegen(spark, name):
    """Hot paths stay inside whole-stage codegen (no Python in the loop).
    AQE finalizes the physical plan lazily, so execute first and assert on
    the final plan."""
    df = Q._REGISTRY[name][0](spark, SF_SMALL)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # codegen spans render as "*(n) Operator" in the finalized AQE plan
    assert re.search(r"\*\(\d+\) ", plan), plan[:500]


def test_asof_join_single_shuffle_no_range_join(spark):
    """The as-of join must be the union+window plan: exactly one exchange
    (hash by key) and no nested-loop/cartesian range join — a theta join
    here explodes as events × versions at scale."""
    plan = _plan(spark, "asof_enrich")
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    assert "Window" in plan


def test_ivf_cells_no_shuffle(spark):
    """IVF quantization is a pure per-row expression — assigning cells must
    not introduce any exchange before the top-k."""
    from omicidx_etl_spark.functions.similarity import ivf_cells

    e = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    plan = (
        ivf_cells(e, 64, 8)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


def test_prefilter_dedup_broadcasts_winners(spark):
    """The prefilter dedup's wide side must join the winner set via
    broadcast — no shuffle of the wide payload columns at all."""
    from omicidx_etl_spark.cdc.replay import dedup_latest

    log = spark.read.parquet(f"{SF_SMALL}/events.parquet").selectExpr(
        "event_id as seq", "user_id as doc_id", "event_type as op", "value"
    )
    plan = (
        dedup_latest(log, key="doc_id", seq="seq", method="prefilter")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    # the only exchange feeds the narrow winner aggregation / broadcast —
    # the wide side must not be hash-repartitioned
    wide_exchanges = [
        l for l in plan.splitlines()
        if "Exchange hashpartitioning" in l and "value" in l
    ]
    assert wide_exchanges == [], wide_exchanges


def test_minhash_single_shuffle(spark):
    """MinHash signatures: the only exchange is the pre-explode repartition
    by doc — the groupBy(doc) must reuse that partitioning (explode is
    partitioning-preserving), never shuffle the n_shingles-times-larger
    exploded rows."""
    from omicidx_etl_spark.functions.dedup import minhash_signatures

    d = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select("doc_id", "text")
    plan = (
        minhash_signatures(d, "doc_id", n=2, k=8)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_min" in plan


def test_ivf_index_prunes_at_rest(spark, tmp_path):
    """At-rest ANN pruning: with the index hive-partitioned by IVF cell,
    a probe's plan contains ONLY the probed cells' files — non-probed
    cell files exist on disk but are never part of the scan."""
    import os

    from omicidx_etl_spark.functions import similarity as S

    e = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    dims = len(e.select("embedding").first()["embedding"])
    idx = str(tmp_path / "ivf")
    S.write_ivf_index(e, idx, dims=dims, n_centroids=8)
    probe = S.query_probe_cells([1.0] * dims, dims, 8, 2)

    files = S.read_ivf_cells(spark, idx, probe).inputFiles()
    assert files
    assert all(any(f"/cell={c}/" in f for c in probe) for f in files)
    # pruning is meaningful: non-probed cells do hold data files on disk
    others = [
        d for d in os.listdir(idx)
        if d.startswith("cell=") and int(d.split("=")[1]) not in probe
    ]
    assert others, "every vector landed in the probed cells — index degenerate"
    # identical results to the compute-side variant over the raw table
    got = S.ann_ivf_topk_indexed(
        spark, idx, [1.0] * dims, dims=dims, n_centroids=8, nprobe=2
    ).collect()
    want = S.ann_ivf_topk(
        e, [1.0] * dims, dims=dims, n_centroids=8, nprobe=2
    ).collect()
    assert got == want


def test_pack_sequences_no_single_partition_stage(spark):
    """The scalable packing path must never collapse to one partition: the
    window partitions by the range pid and the only exchanges are hash /
    range repartitions (a SinglePartition exchange = a global-window plan,
    which dies at 100 TB)."""
    plan = _plan(spark, "pack_sequences")
    assert "Exchange SinglePartition" not in plan
    assert "Window" in plan  # per-pid cumsum is still a window


def test_incremental_dedup_anti_join_shape(spark):
    """dedup_incremental: intra-batch reduce must be a partial-aggregatable
    hash aggregate and the corpus check a LEFT ANTI join. No broadcast HINT
    anywhere — at 100 TB the corpus side is the big one and AQE must stay
    free to choose (at sf0.001 it may still broadcast; that's fine)."""
    plan = _plan(spark, "dedup_incremental")
    assert "LeftAnti" in plan
    assert "partial_min" in plan or "partial" in plan
    from omicidx_etl_spark import queries as _Q

    df = _Q._REGISTRY["dedup_incremental"][0](spark, SF_SMALL)
    logical = df._jdf.queryExecution().logical().toString()
    assert "UnresolvedHint" not in logical and "ResolvedHint" not in logical


def test_scd2_windows_by_key_only(spark):
    """SCD2's lead() must window per key — a global-order window would
    single-partition the whole feed."""
    plan = _plan(spark, "scd2_history")
    assert "Exchange SinglePartition" not in plan


def test_range_join_is_banded_equi_join(spark):
    """range_join_neighbors: the ±10-min theta join must execute as an
    equi hash/sort-merge join on (key, bucket) — a BroadcastNestedLoopJoin
    or CartesianProduct is the quadratic plan the banding exists to avoid
    (operators/relational.py:banded_interval_self_join)."""
    plan = _plan(spark, "range_join_neighbors")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    ), plan


def test_pivot_single_aggregate_no_values_job(spark):
    """pivot_status_cents passes an explicit value list, so the plan is
    one partial+final hash-aggregate pair — no extra distinct-values
    collect job and no second exchange."""
    plan = _plan(spark, "pivot_status_cents")
    assert plan.count("Exchange") == 1, plan
    assert "HashAggregate" in plan


def test_unpivot_no_shuffle(spark):
    """unpivot_measures is a pure narrow expansion: zero exchanges; the
    triplication runs inside the scan's codegen span."""
    plan = _plan(spark, "unpivot_measures")
    assert "Exchange" not in plan, plan


def test_rollup_partial_aggregation(spark):
    """agg_rollup_census: the grouping-set expansion must still combine
    map-side (partial before the exchange) — subtotals are no excuse to
    ship raw rows."""
    plan = _plan(spark, "agg_rollup_census")
    assert re.search(r"partial_(sum|count)", plan), plan
    assert plan.count("Exchange") == 1, plan


def test_stratified_sample_is_scan_local(spark):
    """stratified_sample must be a pure scan-local filter: no Exchange of
    any kind (its whole value at 100 TB is sampling without a shuffle or a
    per-stratum count pass)."""
    plan = _plan(spark, "stratified_sample")
    assert "Exchange" not in plan
    assert "FileScan parquet" in plan


def test_curation_pipeline_one_shuffle(spark):
    """curation_pipeline must stay fused: ONE scan of (doc_id, lang, text)
    with quality filters pushed into it, and ONE exchange (the dedup
    window's hash partition). A second exchange means a stage was not
    fused and the 100-TB run pays a gratuitous corpus shuffle."""
    plan = _plan(spark, "curation_pipeline")
    assert plan.count("Exchange") == 1
    scans = _scans(plan)
    assert len(scans) == 1
    assert "DataFilters: [" in scans[0]


def test_repetition_and_chunking_are_map_only(spark):
    """quality_repetition and chunk_documents are per-row folds — ANY
    Exchange means the per-doc statistic turned into a corpus shuffle
    (the explode→groupBy anti-plan the docstring forbids)."""
    for name in ("quality_repetition", "chunk_documents"):
        plan = _plan(spark, name)
        assert "Exchange" not in plan, name


def test_decontaminate_broadcasts_eval_grams(spark):
    """decontaminate_ngram must broadcast the (tiny) eval n-gram set and
    keep the per-doc hit count map-side combinable; the corpus side must
    never be the broadcast build or sort-merge side."""
    plan = _plan(spark, "decontaminate_ngram")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "partial_count" in plan


def test_json_extract_partial_agg_and_anonymize_map_only(spark):
    """json_props_extract must pre-aggregate map-side (shuffle carries
    per-type state, not events); anonymize_ids is a pure projection —
    no Exchange at all."""
    plan = _plan(spark, "json_props_extract")
    assert "partial_count" in plan or "partial" in plan
    plan2 = _plan(spark, "anonymize_ids")
    assert "Exchange" not in plan2


def test_tfidf_topk_no_global_sort(spark):
    """tfidf_top_terms: the top-25 must short-circuit as
    TakeOrderedAndProject (never a full sort of the term table) and both
    aggregations must pre-reduce map-side."""
    plan = _plan(spark, "tfidf_top_terms")
    assert "TakeOrderedAndProject" in plan
    # no Sort exec node anywhere — the ONLY ordering operator allowed is
    # TakeOrderedAndProject (a "Sort [" node would mean Catalyst chose a
    # full sort of the term table instead of the top-k short-circuit)
    assert "Sort [" not in plan
    assert "partial_count" in plan


def test_asof_join_has_no_join_operator(spark):
    """asof_join_latest_price is union + running window — a range-join
    formulation (BroadcastNestedLoopJoin or an exploding equi+range join)
    is the scale failure this shape exists to avoid. The plan must contain
    NO join operator at all."""
    plan = _plan(spark, "asof_join_latest_price")
    assert "Join" not in plan
    assert "CartesianProduct" not in plan
    # one shuffle on user_id feeds both the purchase dedup and the window
    assert "hashpartitioning(user_id" in plan


def test_bigrams_topk_short_circuits(spark):
    plan = _plan(spark, "token_bigrams_topk")
    assert "TakeOrderedAndProject" in plan
    assert "Sort [" not in plan  # never a global sort of the bigram table
    assert "partial_count" in plan


def test_vocab_and_nullsafe_broadcast(spark):
    """The vocab dim and the bucket dim are small — the exploded corpus /
    fact side must never shuffle for the join."""
    for name in ["vocab_coverage", "null_safe_join"]:
        plan = _plan(spark, name)
        assert "BroadcastHashJoin" in plan, name
        assert "NestedLoop" not in plan, name


def test_diversity_is_pure_rollup(spark):
    """diversity_by_source: two combinable aggregations, no window, no
    explode — partial aggregation must appear and exchanges stay <= 2."""
    plan = _plan(spark, "diversity_by_source")
    assert "partial_count" in plan or "partial_sum" in plan
    assert plan.count("Exchange") <= 2
    assert "Window" not in plan


def test_grouped_sample_window_is_per_stratum(spark):
    """grouped_sample_topk_hash: the ranking window partitions by lang —
    a missing partition spec would funnel the corpus into ONE task."""
    plan = _plan(spark, "grouped_sample_topk_hash")
    assert "hashpartitioning(lang" in plan
    assert "SinglePartition" not in plan


def test_mor_replay_one_file_per_bucket(spark, tmp_path):
    """The default mor replay stages exactly one parquet file per touched
    bucket: the merge's bucket exchange gives every bucket its own write
    task (``_bucket_remap``), so a batch never fans out into
    tasks × buckets small files."""
    import os

    from omicidx_etl_spark import datagen
    from omicidx_etl_spark.cdc.replay import replay_batch
    from omicidx_etl_spark.lake.table import LakeTable

    ch = datagen.gen_changes(spark, 5000, 300, seed=7)
    root = str(tmp_path / "t")
    t = LakeTable.create(
        spark, root, ch.drop("seq", "op", "event_ts").schema, key="doc_id",
        n_buckets=16,
    )
    replay_batch(t, ch, batch_id=0, app_id="r", mode="mor")

    deltas = [d for e in t.snapshot()["buckets"].values() for d in e["deltas"]]
    assert len(deltas) == 16
    for d in deltas:
        files = [
            f for f in os.listdir(os.path.join(root, d["dir"]))
            if f.endswith(".parquet")
        ]
        assert len(files) == 1, (d["dir"], files)


def test_budget_select_no_single_partition_stage(spark):
    """token_budget_select is a distributed prefix sum like pack_sequences:
    the oracle's global ORDER BY window would single-partition — the engine
    plan must window per range-pid only, with no SinglePartition exchange."""
    plan = _plan(spark, "token_budget_select")
    assert "Exchange SinglePartition" not in plan
    assert "Window" in plan


def test_mixture_sample_broadcast_thresholds(spark):
    """mixture_sample: the per-stratum threshold table must reach the
    corpus via a broadcast join (corpus never shuffles for the join), and
    the only SinglePartition stage is the 1-row total aggregate."""
    plan = _plan(spark, "mixture_sample")
    assert "BroadcastHashJoin" in plan
    assert plan.count("Exchange SinglePartition") <= 1


def test_span_dedup_no_cartesian(spark):
    """span_dedup joins span hashes to their global doc counts — hash
    shuffles only; an all-pairs (nested-loop / cartesian) plan is the
    quadratic shape exact-substring dedup exists to avoid."""
    plan = _plan(spark, "span_dedup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_semantic_dedup_blocked_pairwise(spark):
    """semantic_dedup: the K-centroid fan-out must be the ONLY nested-loop
    (a deliberate 32-row broadcast — every row expands exactly K times
    map-side), the argmax must pre-reduce map-side (combinable max(struct),
    no per-key window), and the intra-cluster pairwise stage must be an
    equi join on the cluster key — never a global cross product."""
    plan = _plan(spark, "semantic_dedup")
    # the only nested-loops are the 32-row centroid broadcast fan-out —
    # it appears once per self-join branch (each branch re-derives the
    # assignment lineage; a production run materializes it once)
    assert 1 <= plan.count("BroadcastNestedLoopJoin") <= 2
    assert "CartesianProduct" not in plan
    # argmax is an aggregation with a map-side partial, not a window
    assert "partial_max" in plan
    # the pairwise self-join blocks on the cluster key (hash/SMJ equi join)
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", plan)


def test_bm25_map_only_with_topk(spark):
    """bm25_topk_docs: per-doc tf/dl must be map-only projections (query
    terms are literals — a (doc, term) corpus shuffle is the shape this
    avoids), corpus stats a single combinable aggregation broadcast back
    as ONE row, and the top-10 a TakeOrderedAndProject. The only
    nested-loop allowed is that 1-row stats crossJoin."""
    plan = _plan(spark, "bm25_topk_docs")
    assert "TakeOrderedAndProject" in plan
    assert "Sort [" not in plan  # no global sort — top-k short-circuit
    assert "partial_count" in plan or "partial_sum" in plan  # combinable stats
    # exactly one corpus-side aggregation exchange + the 1-row broadcast:
    # NO hashpartitioning exchange (nothing shuffles by any key)
    assert "hashpartitioning" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 1  # the 1-row crossJoin


def test_inverted_index_single_shuffle_bounded_collect(spark):
    """inverted_index_postings: one explicit repartition(term) must be the
    ONLY Exchange — the (term, doc_id) dedup, both windows, and the final
    per-term aggregation all reuse its clustering; and the posting
    collect_list must sit ABOVE the rank<=20 filter (bounded buffer), with
    a map-side partial."""
    plan = _plan(spark, "inverted_index_postings")
    assert plan.count("Exchange") == 1
    assert "REPARTITION_BY_COL" in plan
    assert "partial_collect_list" in plan
    # the Filter(rn <= 20) must appear BELOW the collect aggregation
    agg_pos = plan.find("partial_collect_list")
    filt_pos = plan.find("rn")
    assert filt_pos > agg_pos > -1  # executedPlan prints top-down


def test_hopping_window_partial_agg(spark):
    """hopping_window_counts: the 2x window expansion must be a narrow
    Expand fused above the scan (never a join against a window dim) and
    the rollup must pre-reduce map-side — the standard streaming shape."""
    plan = _plan(spark, "hopping_window_counts")
    assert "Expand" in plan
    assert "partial_count" in plan and "partial_sum" in plan
    assert plan.count("Exchange") == 1
    assert "Join" not in plan


def test_salted_join_shape(spark):
    """salted_join_supplier_volume: the join must be a ShuffledHashJoin on
    (key, salt) — never broadcast (if the dim were broadcast-able salting
    would be pointless) and never sort-merge (re-sorting the replicated
    side) — with the small side replicated by a narrow explode."""
    plan = _plan(spark, "salted_join_supplier_volume")
    assert "ShuffledHashJoin" in plan
    assert "__salt" in plan
    assert "BroadcastHashJoin" not in plan
    assert "SortMergeJoin" not in plan
    assert "Generate explode" in plan  # the n_salts replication


def test_pmi_narrow_pairs_broadcast_counts(spark):
    """term_cooccurrence_pmi: pair generation must be a narrow per-row
    explode fused over the scan (never a self-join of the exploded term
    table — the quadratic-shuffle shape), pair/term counts must pre-reduce
    map-side, the two count joins must broadcast (vocab-sized), and the
    top-50 must short-circuit as TakeOrderedAndProject."""
    plan = _plan(spark, "term_cooccurrence_pmi")
    assert "TakeOrderedAndProject" in plan
    assert "Sort [" not in plan
    assert "partial_count" in plan
    assert plan.count("BroadcastHashJoin") == 2  # c_a and c_b lookups
    assert plan.count("BroadcastNestedLoopJoin") == 1  # the 1-row N join
    assert "CartesianProduct" not in plan


def test_event_transitions_single_user_shuffle(spark):
    """event_transitions_topk: one user_id window exchange, a combinable
    transition rollup, and a TakeOrderedAndProject — never a global sort
    of the edge list."""
    plan = _plan(spark, "event_transitions_topk")
    assert "TakeOrderedAndProject" in plan
    assert plan.count("hashpartitioning(user_id") == 1
    assert "partial_count" in plan


def test_window_anomalies_two_exchanges(spark):
    """window_anomalies: the raw-event rollup and the per-type moment
    window are the ONLY exchanges — the 3-sigma test itself is pure
    integer column arithmetic over the already-reduced counts table."""
    plan = _plan(spark, "window_anomalies")
    assert plan.count("Exchange") == 2
    assert "partial_count" in plan
    assert "TakeOrderedAndProject" in plan


def test_kmv_sketch_shape(spark):
    """kmv_distinct_users: a combinable DISTINCT on (type, hv), then one
    per-type window; no join, no cartesian, no global sort of raw events."""
    plan = _plan(spark, "kmv_distinct_users")
    assert plan.count("hashpartitioning(event_type") >= 1
    assert plan.count("Exchange") <= 3
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_pagerank_materializes_edges_once(spark):
    """pagerank_bipartite: edges/degrees come from checkpoint blocks, so
    NO iteration re-derives the orders |><| lineitem scan (a lazy lineage
    re-derived the base join ~7x: 38 exchanges vs 10), and the ranking is
    TakeOrderedAndProject over equi joins only."""
    plan = _plan(spark, "pagerank_bipartite")
    assert "Scan parquet" not in plan  # base tables folded into checkpoints
    assert plan.count("Exchange") <= 12
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_profile_table_single_pass(spark):
    """profile_table: ONE scan of orders feeds all 24 statistics via a
    multi-distinct Expand — never six per-column scans like the oracle."""
    plan = _plan(spark, "profile_table")
    assert len(_scans(plan)) == 1
    assert "Expand" in plan


def test_kmv_union_merge_is_bounded(spark):
    """kmv_union_estimate: the merge stage operates on the <=|types|*k
    sketch rows only — the single-partition global window and the 1-row
    joins are bounded; raw events are never globally sorted or
    nested-loop joined."""
    plan = _plan(spark, "kmv_union_estimate")
    assert "CartesianProduct" not in plan
    # only 1-row / sketch-row broadcast loops (the crossJoins of scalars)
    assert plan.count("BroadcastNestedLoopJoin") <= 3
    assert plan.count("hashpartitioning(event_type") >= 1


def test_rolling_stats_single_exchange_over_reduced_table(spark):
    """rolling_daily_stats: the range-frame and lag windows share one
    event_type partition over the ALREADY-REDUCED daily table — 2
    exchanges total (rollup + window), no join."""
    plan = _plan(spark, "rolling_daily_stats")
    assert plan.count("Exchange") == 2
    assert "partial_count" in plan
    assert "Join" not in plan


def test_triangle_count_equi_joins_only(spark):
    """triangle_count: orientation caps the wedge join; every stage is an
    equi hash join on node keys — no cartesian, no theta nested-loop
    (the closing-edge check is an equi join on (v,w)), and the base edge
    list comes from checkpoint blocks, not re-derived scans."""
    plan = _plan(spark, "triangle_count")
    assert "CartesianProduct" not in plan
    # only the final 1-row count crossJoin may appear as a nested loop
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    assert "Scan parquet" not in plan or plan.count("Scan parquet") == 0


def test_jaccard_vocab_term_keyed_join(spark):
    """jaccard_source_vocab: intersections come from a TERM-keyed equi
    self-join of the deduped postings (never a cartesian of vocabularies);
    per-source sizes join via broadcast."""
    plan = _plan(spark, "jaccard_source_vocab")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2  # the two size lookups
    # the intersection join is KEYED on term (equi): at test SF Catalyst
    # may broadcast it (size-based, no hint — degrades to shuffle at
    # scale); what must never appear is a non-equi vocabulary product
    import re

    assert re.search(r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \[term", plan)


def test_histogram_single_combinable_exchange(spark):
    """histogram_prices: fixed-bound binning is scan-local; the only wide
    stage is one combinable count/min/max rollup over the bin keyspace."""
    plan = _plan(spark, "histogram_prices")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_count" in plan and "partial_min" in plan
    assert "Join" not in plan


def test_new_analytics_queries_have_no_quadratic_or_global_shapes(spark):
    """r4-late analytics batch: the properties that keep each shape alive
    at 100 TB — no cartesian/BNLJ anywhere, windows partitioned (never a
    data-sized SinglePartition), aggregation pre-reduced map-side."""
    for name in (
        "order_concurrency_peak",
        "forward_fill_daily",
        "mode_per_group",
        "cumulative_distinct_users",
        "name_edit_distance_pairs",
        "time_weighted_avg",
        "weighted_sample_orders",
        "mad_anomalies",
    ):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        # every window runs inside a hash-partitioned exchange; the only
        # query allowed a SinglePartition is pareto_frontier (points-sized
        # by construction, asserted separately)
        assert "SinglePartition" not in plan, name
        # map-side combine before every exchange-crossing aggregate
        assert plan.count("HashAggregate") >= 2 or "HashAggregate" not in plan, name


def test_weighted_sample_is_scan_local(spark):
    """The keep decision must be computed in the scan stage (projection
    over the raw columns), with ONE hash exchange for the class rollup —
    a sample that shuffles the unsampled table is the scale failure."""
    plan = _plan(spark, "weighted_sample_orders")
    assert plan.count("hashpartitioning") == 1
    assert "Join" not in plan


def test_grouping_sets_single_exchange_expand(spark):
    """Irregular grouping sets: the three sets expand map-side (Expand
    operator) under exactly one exchange — not one scan per set."""
    plan = _plan(spark, "grouping_sets_census")
    assert "Expand" in plan
    assert plan.count("Exchange") == 1
    assert len(_scans(plan)) == 1


def test_mad_anomalies_no_join(spark):
    """Median and MAD come from the rank-and-window-broadcast CASE trick:
    the plan must contain NO join operator (the naive formulation joins
    the daily table to two per-type median subqueries)."""
    plan = _plan(spark, "mad_anomalies")
    assert "Join" not in plan
    assert plan.count("hashpartitioning") <= 2  # rollup + per-type windows


def test_pareto_sweep_is_points_sized(spark):
    """The SinglePartition sweep is allowed ONLY because it runs over the
    DISTINCT point set: the combinable rollup (partial HashAggregate)
    must sit BELOW the single-partition exchange in the plan."""
    plan = _plan(spark, "pareto_frontier")
    assert plan.count("SinglePartition") == 1
    i_agg = plan.find("HashAggregate")
    i_single = plan.find("SinglePartition")
    assert 0 <= i_single < i_agg  # executedPlan prints top-down: the
    # aggregate (child) appears AFTER the single-partition exchange above it
    assert "Join" not in plan


def test_edit_distance_join_is_blocked_equi(spark):
    """The fuzzy join must be an equi join keyed on the blocking noun
    (hash or broadcast), never a cartesian with a levenshtein filter."""
    plan = _plan(spark, "name_edit_distance_pairs")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert (
        "BroadcastHashJoin" in plan
        or "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
    )


def test_reservoir_sample_scan_local_topk(spark):
    """reservoir_sample_hash: per-partition top-64 merged on the driver —
    zero Exchange, TakeOrderedAndProject, never a global sort of the
    corpus."""
    plan = _plan(spark, "reservoir_sample_hash")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan


def test_order_value_drift_single_exchange(spark):
    """order_value_drift: the customer-keyed exchange feeds BOTH the lag
    window and the aggregation (one shuffle, not two), and the top-100 is
    a TakeOrderedAndProject short-circuit."""
    plan = _plan(spark, "order_value_drift")
    assert "TakeOrderedAndProject" in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_contamination_score_broadcasts_eval_grams(spark):
    """contamination_overlap_score: the eval-slice gram set must
    broadcast (benchmarks are tiny, the corpus is not) — a shuffled join
    here would reshuffle every corpus gram."""
    plan = _plan(spark, "contamination_overlap_score")
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_label_centroids_partial_agg(spark):
    """label_centroids_e6: the per-(label, dim) sum must partial-aggregate
    below the exchange (vectors combine map-side; the exchange carries
    group accumulators, not exploded elements)."""
    plan = _plan(spark, "label_centroids_e6")
    assert "partial_sum" in plan or "partial" in plan.lower()
    assert plan.count("Exchange hashpartitioning") == 1


def test_bucket_remap_one_bucket_per_write_task(spark):
    """Staged writes partition on a remapped bucket value so every bucket
    lands whole in ONE shuffle partition: plain repartition(nb, bucket)
    hash-partitions nb distinct ids into nb partitions and stacks 2-3
    buckets per task while leaving ~nb/e empty (guide §2.5) — measured as
    a 3x write-stage straggler on the MOR delta path. The remap must (a)
    replicate Spark's hash exactly (tests/test_hashing.py), (b) yield a
    perfect 1:1 placement at P == nb, and (c) at P < nb partitions (the
    exchange is sized to the cores) deal whole buckets round-robin: every
    partition used, at most ceil(nb/P) buckets each, whichever buckets
    carry rows."""
    import math

    from pyspark.sql import functions as F

    from omicidx_etl_spark.lake.hashing import _murmur3_int32
    from omicidx_etl_spark.lake.table import (
        BUCKET_COL,
        _bucket_partition_col,
        _bucket_remap,
    )

    # remap covers all n partitions, for several bucket counts
    for n in (1, 2, 8, 32, 200):
        assert len({_murmur3_int32(v) % n for v in _bucket_remap(n)}) == n

    def placement(nb, p, used=None):
        ids = list(range(nb)) if used is None else used
        data = spark.range(0, 20000).select(
            F.element_at(
                F.array(*[F.lit(b) for b in ids]),
                (F.col("id") % len(ids) + 1).cast("int"),
            ).alias(BUCKET_COL)
        )
        rows = (
            data.repartition(p, _bucket_partition_col(F.col(BUCKET_COL), nb, p, ids))
            .withColumn("pid", F.spark_partition_id())
            .groupBy(BUCKET_COL)
            .agg(F.countDistinct("pid").alias("n_pid"), F.min("pid").alias("pid"))
            .collect()
        )
        assert len(rows) == len(ids) and all(r.n_pid == 1 for r in rows)
        per_pid: dict[int, int] = {}
        for r in rows:
            per_pid[r.pid] = per_pid.get(r.pid, 0) + 1
        return per_pid

    # end-to-end: one bucket per shuffle partition after the repartition
    nb = 32
    data = spark.range(0, 20000).select((F.col("id") % nb).cast("int").alias(BUCKET_COL))
    placed = (
        data.repartition(
            nb, _bucket_partition_col(F.col(BUCKET_COL), nb, nb, list(range(nb)))
        )
        .withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg(F.countDistinct(BUCKET_COL).alias("nb"))
        .collect()
    )
    assert len(placed) == nb
    assert max(r.nb for r in placed) == 1
    assert placement(nb, nb) == {p: 1 for p in range(nb)}

    # P < nb: whole buckets, every partition used, <= ceil(nb/P) per task
    for nb, p in ((32, 4), (16, 4), (16, 6), (7, 3)):
        per_pid = placement(nb, p)
        assert sorted(per_pid) == list(range(p)), (nb, p, per_pid)
        assert max(per_pid.values()) <= math.ceil(nb / p), (nb, p, per_pid)
    # a bucket subset (a compaction slice) spreads over every partition
    # too, even when its ids share a residue mod P
    used = [0, 4, 8, 12, 16, 20, 24, 28]
    per_pid = placement(32, 4, used)
    assert sorted(per_pid) == [0, 1, 2, 3] and max(per_pid.values()) == 2


def _last_sql_plan(spark) -> str:
    """Physical plan of the session's most recent SQL execution (the
    status store keeps it with the UI off), write commands included."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    ex = spark._jsparkSession.sharedState().statusStore().executionsList()
    return ex.apply(ex.size() - 1).physicalPlanDescription()


def _plan_tree(plan: str) -> list[str]:
    """Operator names of the plan's tree, top down (the first block of the
    formatted plan; AQE plans give their final plan)."""
    tree = plan.split("\n\n")[0].splitlines()
    if "== Final Plan ==" in plan:
        tree = tree[tree.index(next(l for l in tree if "== Final Plan ==" in l)) + 1:]
        tree = tree[: next(i for i, l in enumerate(tree) if "== Initial Plan ==" in l)]
    ops = []
    for line in tree:
        name = line.lstrip(" +-:*").strip()
        if name and not name.startswith("=="):
            ops.append(name.split(" (")[0].split(",")[0].strip())
    return ops


def test_mor_merge_one_exchange(spark, tmp_path):
    """The MOR merge runs ONE shuffle: the latest row per key is kept
    inside the bucket exchange (grouping by bucket, its write-task slot and
    the key, which the hash partitioning already clusters), and the
    aggregate's output order is the partitioned writer's, so no Sort sits
    between the aggregate and the write. A replay with the default dedup
    must not add a key shuffle of its own. Compaction's write goes through
    the same bucket exchange, sized min(buckets rewritten, cores)."""
    import re

    from omicidx_etl_spark import datagen
    from omicidx_etl_spark.cdc.replay import replay_batch
    from omicidx_etl_spark.lake.table import LakeTable

    ch = datagen.gen_changes(spark, 3000, 200, seed=9)
    t = LakeTable.create(
        spark, str(tmp_path / "t"), ch.drop("seq", "op", "event_ts").schema,
        key="doc_id", n_buckets=8,
    )
    for b in range(2):
        replay_batch(t, ch, batch_id=b, app_id="p", mode="mor")
        ops = _plan_tree(_last_sql_plan(spark))
        assert ops.count("Exchange") == 1, ops
        write = ops.index("WriteFiles")
        agg = ops.index("SortAggregate")
        assert write < agg < ops.index("Exchange"), ops
        assert "Sort" not in ops[write:agg], ops
    t.compact()
    parts = re.findall(r"hashpartitioning\(__p#\d+, (\d+)\)", _last_sql_plan(spark))
    p = min(8, spark.sparkContext.defaultParallelism)
    assert parts and set(parts) == {str(p)}, parts
