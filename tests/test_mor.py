"""Merge-on-read path tests: delta-append merges must produce the same
final state as copy-on-write (the Iceberg MOR equivalence), compaction must
fold deltas without changing state, and the exactly-once / evolution /
retention guarantees must hold identically in MOR mode."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from omicidx_etl_spark import datagen
from omicidx_etl_spark.cdc import replay_log
from omicidx_etl_spark.lake import LakeTable, manifest

N_DOCS, N_EVENTS = 400, 6000


@pytest.fixture(scope="module")
def change_log(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("mor") / "changes")
    ch = datagen.gen_changes(spark, n_events=N_EVENTS, n_docs=N_DOCS, seed=21)
    datagen.write_change_log(ch, path, files=4)
    return path


def oracle_state(log_path: str):
    return duckdb.sql(
        f"""
        SELECT doc_id, tokens, n_tok, source FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY seq DESC) rn
          FROM read_parquet('{log_path}/*.parquet')
        ) WHERE rn = 1 AND op <> 'D'
        ORDER BY doc_id
        """
    ).df()


def assert_state_equal(table: LakeTable, log_path: str):
    got = (
        table.read()
        .select("doc_id", "tokens", "n_tok", "source")
        .orderBy("doc_id")
        .toPandas()
    )
    exp = oracle_state(log_path)
    assert len(got) == len(exp)
    for col in ["doc_id", "n_tok", "source"]:
        assert got[col].tolist() == exp[col].tolist(), f"column {col} differs"
    for g, e in zip(got["tokens"].tolist(), exp["tokens"].tolist()):
        assert list(g) == list(e)


def _schema(spark):
    return datagen.gen_changes(spark, 1, 1).drop("seq", "op", "event_ts").schema


def _delta_count(table: LakeTable) -> int:
    return sum(manifest.delta_chains(table.snapshot()).values())


def test_mor_replay_matches_oracle(spark, change_log, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), _schema(spark), key="doc_id", n_buckets=8)
    replay_log(spark, t, change_log, chunk_events=1500, mode="mor")
    assert _delta_count(t) > 0  # no base rewrites happened
    assert_state_equal(t, change_log)


def test_mor_compact_preserves_state(spark, change_log, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), _schema(spark), key="doc_id", n_buckets=8)
    replay_log(spark, t, change_log, chunk_events=1500, mode="mor", compact_every=2)
    # compaction ran at batches 2 and 4 -> no deltas remain
    assert _delta_count(t) == 0
    assert_state_equal(t, change_log)
    # explicit compact on a clean table is a no-op commit-wise
    sid = t.snapshot()["snapshot_id"]
    t.compact()
    assert t.snapshot()["snapshot_id"] == sid


def test_mor_then_cow_folds_deltas(spark, change_log, tmp_path):
    """A COW merge on buckets that carry deltas must reconcile them into the
    rewritten base (mixed-mode replay)."""
    t = LakeTable.create(spark, str(tmp_path / "t"), _schema(spark), key="doc_id", n_buckets=8)
    replay_log(spark, t, change_log, chunk_events=3000, mode="mor", max_batches=1)
    assert _delta_count(t) > 0
    replay_log(spark, t, change_log, chunk_events=3000, mode="cow")
    assert _delta_count(t) == 0
    assert_state_equal(t, change_log)


def test_mor_idempotent_and_resumable(spark, change_log, tmp_path):
    root = str(tmp_path / "t")
    t = LakeTable.create(spark, root, _schema(spark), key="doc_id", n_buckets=8)
    replay_log(spark, t, change_log, chunk_events=1500, mode="mor", max_batches=2)
    t2 = LakeTable.load(spark, root)  # process restart
    snaps = replay_log(spark, t2, change_log, chunk_events=1500, mode="mor")
    assert len(snaps) == 2
    sid = t2.snapshot()["snapshot_id"]
    assert replay_log(spark, t2, change_log, chunk_events=1500, mode="mor") == []
    assert t2.snapshot()["snapshot_id"] == sid
    assert_state_equal(t2, change_log)


def test_mor_tombstone_no_resurrection(spark, tmp_path):
    """An older (late) event must not resurrect a newer delete across
    MOR batches — latest-seq-wins at read time."""
    t = LakeTable.create(spark, str(tmp_path / "t"), _schema(spark), key="doc_id", n_buckets=4)
    df = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "seq long, op string, doc_id string, tokens array<int>, n_tok int, source string"
    )
    t.merge(df([(5, "D", "a", None, None, None)]), app_id="t", batch_id=0, mode="mor")
    t.merge(df([(3, "U", "a", [1], 1, "web")]), app_id="t", batch_id=1, mode="mor")
    assert t.read().count() == 0
    t.compact()
    assert t.read().count() == 0


def test_mor_schema_evolution(spark, tmp_path):
    root = str(tmp_path / "t")
    log1, log2 = str(tmp_path / "l1"), str(tmp_path / "l2")
    ch1 = datagen.gen_changes(spark, 2000, 200, seed=31)
    datagen.write_change_log(ch1, log1, files=2)
    ch2 = datagen.gen_changes_v2(spark, 1500, 200, seed=32, seq_start=2001)
    datagen.write_change_log(ch2, log2, files=2)

    t = LakeTable.create(spark, root, ch1.drop("seq", "op", "event_ts").schema,
                         key="doc_id", n_buckets=8)
    replay_log(spark, t, log1, chunk_events=1000, app_id="p1", mode="mor")
    t.widen_column("n_tok", T.LongType())
    t.add_column("quality", T.DoubleType())
    replay_log(spark, t, log2, chunk_events=1000, app_id="p2", mode="mor")
    t.compact()
    assert _delta_count(t) == 0

    exp = duckdb.sql(
        f"""
        WITH all_events AS (
          SELECT seq, op, doc_id, tokens, CAST(n_tok AS BIGINT) n_tok, source,
                 CAST(NULL AS DOUBLE) AS quality
          FROM read_parquet('{log1}/*.parquet')
          UNION ALL
          SELECT seq, op, doc_id, tokens, n_tok, source, quality
          FROM read_parquet('{log2}/*.parquet')
        )
        SELECT doc_id, n_tok, quality FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY seq DESC) rn
          FROM all_events
        ) WHERE rn = 1 AND op <> 'D' ORDER BY doc_id
        """
    ).df()
    got = t.read().select("doc_id", "n_tok", "quality").orderBy("doc_id").toPandas()
    assert got["doc_id"].tolist() == exp["doc_id"].tolist()
    assert got["n_tok"].tolist() == exp["n_tok"].tolist()
    for a, b in zip(got["quality"].tolist(), exp["quality"].tolist()):
        assert ((a is None or a != a) and (b is None or b != b)) or a == b


def test_mor_expire_snapshots_keeps_live_deltas(spark, change_log, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), _schema(spark), key="doc_id", n_buckets=8)
    replay_log(spark, t, change_log, chunk_events=1500, mode="mor")
    t.expire_snapshots(keep_last=1)
    assert_state_equal(t, change_log)  # all referenced deltas survived


def test_mor_bucket_pruned_read(spark, change_log, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), _schema(spark), key="doc_id", n_buckets=8)
    replay_log(spark, t, change_log, chunk_events=1500, mode="mor")
    full = t.read().count()
    per_bucket = sum(t.read(buckets=[b]).count() for b in range(8))
    assert per_bucket == full


def test_compact_sliced_and_size_bounded(spark, tmp_path):
    """compact(tasks_per_bucket=k, target_records_per_file=n): a bucket's
    rewrite spreads over k tasks and files stay under n records, while
    read/lookup results and manifest stats are unchanged."""
    import glob as _glob
    import os

    import pyarrow.parquet as pq

    from omicidx_etl_spark import datagen
    from omicidx_etl_spark.cdc import dedup_latest
    from omicidx_etl_spark.lake import LakeTable
    from tests.test_lake import SCHEMA

    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, key="doc_id", n_buckets=2)
    t.overwrite(datagen.gen_sequences(spark, 600, seed=31))
    t.merge(dedup_latest(datagen.gen_changes(spark, 400, 600, seed=32)), mode="mor")
    before = {r.doc_id: r.n_tok for r in t.read().collect()}

    t.compact(tasks_per_bucket=3, sort_by_key=True, target_records_per_file=80)
    snap = t.snapshot()
    for entry in snap["buckets"].values():
        assert entry["deltas"] == []
        base = entry["base"]
        files = _glob.glob(os.path.join(str(tmp_path / "t"), base["dir"], "*.parquet"))
        assert len(files) >= 2  # sliced: multiple files per bucket dir
        for f in files:
            pf = pq.ParquetFile(f)
            assert pf.metadata.num_rows <= 80  # binpack target respected
            keys = pf.read(columns=["doc_id"])["doc_id"].to_pylist()
            assert keys == sorted(keys)  # in-file key order kept
        assert base["stats"] and "doc_id" in base["stats"]  # bounds recorded
    after = {r.doc_id: r.n_tok for r in t.read().collect()}
    assert after == before
    one = next(iter(before))
    assert t.lookup([one]).count() == 1


def test_read_reconcile_prefilter_vs_maxby(spark, tmp_path, monkeypatch):
    """r6 optimization: the MOR read picks its reconciliation plan from
    manifest metadata — 'prefilter' (narrow winner agg + broadcast join)
    when every dirty group has disjoint __seq bounds + row counts under the
    broadcast gate, 'max_by' otherwise — and BOTH must return the same
    rows. A re-delivered event (same (key, seq) staged in a second delta)
    makes the seq ranges overlap and MUST force the max_by fallback, or
    the join would emit the row twice."""
    from omicidx_etl_spark.cdc import dedup_latest
    from omicidx_etl_spark.lake import table as TBL
    from tests.test_lake import SCHEMA

    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, key="doc_id", n_buckets=2)
    t.overwrite(datagen.gen_sequences(spark, 300, seed=41), app_id="a", batch_id=0)
    ch = datagen.gen_changes(spark, 2000, 300, seed=42)
    t.merge(dedup_latest(ch.filter(F.col("seq") <= 1000)), mode="mor",
            app_id="a", batch_id=1)
    t.merge(dedup_latest(ch.filter(F.col("seq") > 1000)), mode="mor",
            app_id="a", batch_id=2)

    got_pref = t.read().orderBy("doc_id").collect()
    assert t.last_reconcile == "prefilter"  # disjoint deltas, small table

    # force the fallback via the broadcast row gate; rows must be identical
    monkeypatch.setattr(TBL, "PREFILTER_READ_ROWS", 0)
    got_maxby = t.read().orderBy("doc_id").collect()
    assert t.last_reconcile == "max_by"
    assert got_pref == got_maxby
    monkeypatch.undo()

    # re-deliver one already-applied event: same (doc_id, seq) lands in a
    # THIRD delta whose seq span overlaps the earlier ones
    dup = ch.filter(F.col("seq") == 500)
    assert dup.count() == 1
    t.merge(dedup_latest(dup), mode="mor", app_id="a", batch_id=3)
    got_dup = t.read().orderBy("doc_id").collect()
    assert t.last_reconcile == "max_by"  # overlap detected -> safe plan
    assert got_dup == got_pref  # re-delivery is a per-row no-op
    # and no duplicate keys survived reconciliation
    ids = [r.doc_id for r in got_dup]
    assert len(ids) == len(set(ids))


def test_read_prefilter_plan_shuffles_keys_not_payloads(spark, tmp_path):
    """The prefilter read's only hash exchange must carry the narrow
    (key, __seq) winner aggregation — the wide payload crosses no
    exchange (guide §2.3: shuffle keys and metadata, not payloads)."""
    from omicidx_etl_spark.cdc import dedup_latest
    from tests.test_lake import SCHEMA

    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, key="doc_id", n_buckets=2)
    t.overwrite(datagen.gen_sequences(spark, 200, seed=51), app_id="a", batch_id=0)
    t.merge(dedup_latest(datagen.gen_changes(spark, 800, 200, seed=52)),
            mode="mor", app_id="a", batch_id=1)
    df = t.read()
    assert t.last_reconcile == "prefilter"
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    wide_exchanges = [
        l for l in plan.splitlines()
        if "Exchange hashpartitioning" in l and "tokens" in l
    ]
    assert wide_exchanges == [], wide_exchanges
