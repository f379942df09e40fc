"""Connected-components duplicate clustering (functions/dedup.py).

The oracle-parity test covers dedup_cluster_cc end-to-end against the
DuckDB recursive-CTE closure at SF_ORACLE; these unit tests pin the
algorithm on adversarial graph shapes the LSH pair set rarely produces:
long paths (force multiple propagation rounds + pointer jumping) and
components whose min id sits at the far end of the chain.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from omicidx_etl_spark.functions import dedup as D


def _cc(spark, pairs):
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    out = D.connected_components(df)
    return {
        r["doc_id"]: (r["cluster_id"], r["cluster_size"], r["is_canonical"])
        for r in out.collect()
    }


def test_long_path_collapses_to_min(spark):
    # 12-node path with the min id (0) at one end: naive one-round
    # propagation cannot finish; requires O(log diameter) rounds.
    pairs = [(i, i + 1) for i in range(11)]
    got = _cc(spark, pairs)
    assert set(got) == set(range(12))
    for node, (cid, size, canon) in got.items():
        assert cid == 0
        assert size == 12
        assert canon == (1 if node == 0 else 0)


def test_multiple_components_and_reversed_edges(spark):
    # Two components; edges deliberately listed high-to-low to check the
    # symmetrization (labels must flow against edge direction too).
    pairs = [(9, 3), (3, 7), (20, 15), (15, 11)]
    got = _cc(spark, pairs)
    assert got[9] == (3, 3, 0) and got[3] == (3, 3, 1) and got[7] == (3, 3, 0)
    assert got[20] == (11, 3, 0) and got[11] == (11, 3, 1)


def test_star_and_triangle(spark):
    # Star (hub 100) + triangle sharing no nodes; triangle contains a
    # redundant closing edge (cycle) which must not double-count sizes.
    pairs = [(100, 101), (100, 102), (100, 103), (1, 2), (2, 3), (1, 3)]
    got = _cc(spark, pairs)
    assert {n: c[0] for n, c in got.items() if n >= 100} == {
        100: 100, 101: 100, 102: 100, 103: 100
    }
    assert all(got[n] == (1, 3, 1 if n == 1 else 0) for n in (1, 2, 3))


def test_reliable_checkpoint_dir_option(spark, tmp_path):
    """checkpoint_dir= switches lineage truncation to reliable
    checkpoint() files under the given dir (the multi-executor posture —
    localCheckpoint blocks die with an executor); results must be
    identical to the default, and checkpoint data must actually land in
    the dir."""
    import os

    ck = str(tmp_path / "cc_ckpt")
    pairs = [(i, i + 1) for i in range(11)] + [(50, 60)]
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    out = D.connected_components(df, checkpoint_dir=ck)
    got = {
        r["doc_id"]: (r["cluster_id"], r["cluster_size"], r["is_canonical"])
        for r in out.collect()
    }
    assert got == _cc(spark, pairs)  # default (localCheckpoint) agrees
    # reliable checkpoint files were written under the requested dir
    files = [
        os.path.join(dp, f)
        for dp, _, fs in os.walk(ck)
        for f in fs
    ]
    assert files, "no reliable checkpoint data written"


def test_canonical_filter_composes(spark):
    # The downstream use: keep one survivor per cluster — exactly the
    # canonical rows, one per component.
    pairs = [(i, i + 1) for i in range(5)] + [(50, 60)]
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    out = D.connected_components(df)
    survivors = out.filter(F.col("is_canonical") == 1)
    assert sorted(r["doc_id"] for r in survivors.collect()) == [0, 50]


def _uf_oracle(pairs):
    """Pure-Python union-find: node -> (min id of its component, size)."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    roots = {n: find(n) for n in parent}
    sizes = {}
    for r in roots.values():
        sizes[r] = sizes.get(r, 0) + 1
    return {n: (r, sizes[r], int(n == r)) for n, r in roots.items()}


def test_string_ids_keep_their_type(spark):
    # canonicalize clusters string doc ids: ids must come back as strings
    # (ordered lexicographically), not cast to numbers.
    pairs = [("b", "c"), ("c", "a10"), ("x", "y")]
    df = spark.createDataFrame(pairs, "doc_a string, doc_b string")
    out = D.connected_components(df)
    types = dict(out.dtypes)
    assert types["doc_id"] == "string" and types["cluster_id"] == "string"
    got = {
        r["doc_id"]: (r["cluster_id"], r["cluster_size"], r["is_canonical"])
        for r in out.collect()
    }
    assert got == _uf_oracle(pairs)
    assert got["c"] == ("a10", 3, 0)


def test_multi_partition_adversarial_graphs(spark):
    """Components that span many partitions: 20k-node paths with edges in
    sorted and shuffled order, and a 50k-edge random graph, each spread
    over 8 input partitions with AQE coalescing off (so the local pass
    really sees 8+ partitions and the global merge has work to do)."""
    import random

    rng = random.Random(7)
    n = 20_000
    path = [(i, i + 1) for i in range(n - 1)]
    shuffled = path[:]
    rng.shuffle(shuffled)
    # reversed edge orientation on half the shuffled edges
    shuffled = [(b, a) if rng.random() < 0.5 else (a, b) for a, b in shuffled]
    rand = [(rng.randrange(60_000), rng.randrange(60_000)) for _ in range(50_000)]

    key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        for pairs in (path, shuffled, rand):
            df = spark.createDataFrame(pairs, "doc_a long, doc_b long").repartition(8)
            got = {
                r["doc_id"]: (r["cluster_id"], r["cluster_size"], r["is_canonical"])
                for r in D.connected_components(df).collect()
            }
            assert got == _uf_oracle(pairs)
    finally:
        spark.conf.set(key, prev)


def test_job_count_does_not_grow_with_diameter(spark, count_jobs):
    """The Spark job count is fixed by the plan, not by the graph: a
    12-node path and a 2000-node path run the same number of jobs (an
    iterative label propagation runs more rounds, so more jobs, on the
    longer path)."""

    def jobs(n):
        df = spark.createDataFrame(
            [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
        )
        rows, n_jobs = count_jobs(lambda: D.connected_components(df).collect())
        assert len(rows) == n
        return n_jobs

    short, long_ = jobs(12), jobs(2000)
    assert short == long_, (short, long_)
