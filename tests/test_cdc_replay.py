"""Replay-equivalence tests — the north rule's correctness bar: the engine's
final table state after full change-log replay must equal the reference
semantics (apply events per doc_id in seq order, last-write-wins, deletes
remove) computed by a trivially-correct DuckDB oracle, row-for-row with
token-array equality (SURVEY.md §5)."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from omicidx_etl_spark import datagen
from omicidx_etl_spark.cdc import dedup_latest, replay_log
from omicidx_etl_spark.lake import LakeTable
from omicidx_etl_spark.lineage import LineageLog

N_DOCS, N_EVENTS = 500, 8000


@pytest.fixture(scope="module")
def change_log(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("cdc") / "changes")
    ch = datagen.gen_changes(spark, n_events=N_EVENTS, n_docs=N_DOCS, seed=7)
    datagen.write_change_log(ch, path, files=4)
    return path


def oracle_state(log_path: str):
    """Trivially-correct replay: last event per doc_id wins; deletes drop."""
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
    # token-array equality, order-sensitive per row (the input_hint invariant)
    for g, e in zip(got["tokens"].tolist(), exp["tokens"].tolist()):
        assert list(g) == list(e)


def _schema(spark):
    return (
        datagen.gen_changes(spark, 1, 1).drop("seq", "op", "event_ts").schema
    )


def test_replay_matches_oracle(spark, change_log, tmp_path):
    table = LakeTable.create(
        spark, str(tmp_path / "t"), _schema(spark), key="doc_id", n_buckets=8
    )
    replay_log(spark, table, change_log, chunk_events=2000)
    assert_state_equal(table, change_log)


def test_replay_single_batch(spark, change_log, tmp_path):
    """Whole log in one batch: multiple updates + delete-then-reinsert
    (reactivation) inside one batch must collapse to the max-seq event."""
    table = LakeTable.create(
        spark, str(tmp_path / "t1"), _schema(spark), key="doc_id", n_buckets=8
    )
    replay_log(spark, table, change_log, chunk_events=N_EVENTS)
    assert_state_equal(table, change_log)


def test_idempotent_rerun(spark, change_log, tmp_path):
    """Re-running committed batches is a no-op (exactly-once guard) — the
    reference's skip-guard invariant (tests/test_geo_skip_guard.py)."""
    root = str(tmp_path / "t2")
    table = LakeTable.create(spark, root, _schema(spark), key="doc_id", n_buckets=8)
    replay_log(spark, table, change_log, chunk_events=2000)
    sid_before = table.snapshot()["snapshot_id"]
    again = replay_log(spark, table, change_log, chunk_events=2000)
    assert again == []
    assert table.snapshot()["snapshot_id"] == sid_before
    assert_state_equal(table, change_log)


def test_resume_mid_replay(spark, change_log, tmp_path):
    """Kill-mid-replay: stop after 2 of 4 batches, resume, identical final
    state (T1 semantics)."""
    root = str(tmp_path / "t3")
    table = LakeTable.create(spark, root, _schema(spark), key="doc_id", n_buckets=8)
    replay_log(spark, table, change_log, chunk_events=2000, max_batches=2)
    assert table.committed_batch("replay") == 1
    # simulate process restart: reload table from disk
    table2 = LakeTable.load(spark, root)
    snaps = replay_log(spark, table2, change_log, chunk_events=2000)
    assert len(snaps) == 2
    assert_state_equal(table2, change_log)


def test_delete_absent_key_noop(spark, tmp_path):
    """Tombstone for a never-inserted key must be a legal no-op."""
    schema = _schema(spark)
    table = LakeTable.create(spark, str(tmp_path / "t4"), schema, key="doc_id", n_buckets=4)
    rows = [
        (1, "I", "a", [1, 2], 2, "web"),
        (2, "D", "zz_never_inserted", None, None, None),
    ]
    ch = spark.createDataFrame(
        rows, "seq long, op string, doc_id string, tokens array<int>, n_tok int, source string"
    )
    table.merge(dedup_latest(ch), app_id="t", batch_id=0)
    got = table.read().orderBy("doc_id").collect()
    assert [r["doc_id"] for r in got] == ["a"]


def test_reactivation_last_wins(spark, tmp_path):
    """Delete-then-reinsert within one batch: the rn=1 row's op decides
    (SURVEY §7.4.3)."""
    schema = _schema(spark)
    table = LakeTable.create(spark, str(tmp_path / "t5"), schema, key="doc_id", n_buckets=4)
    ch = spark.createDataFrame(
        [
            (1, "I", "a", [1], 1, "web"),
            (2, "D", "a", None, None, None),
            (3, "I", "a", [9, 9], 2, "code"),
            (4, "I", "b", [5], 1, "web"),
            (5, "D", "b", None, None, None),
        ],
        "seq long, op string, doc_id string, tokens array<int>, n_tok int, source string",
    )
    table.merge(dedup_latest(ch), app_id="t", batch_id=0)
    got = {r["doc_id"]: r for r in table.read().collect()}
    assert set(got) == {"a"}
    assert list(got["a"]["tokens"]) == [9, 9]


def test_lineage_written(spark, change_log, tmp_path):
    root = str(tmp_path / "t6")
    table = LakeTable.create(spark, root, _schema(spark), key="doc_id", n_buckets=8)
    lin = LineageLog(root)
    replay_log(spark, table, change_log, chunk_events=4000, lineage=lin)
    rows = lin.read(spark).orderBy("batch_id").collect()
    assert len(rows) == 2
    assert sum(r["event_count"] for r in rows) == N_EVENTS
    assert all(r["events_per_s"] > 0 for r in rows)
    assert rows[0]["seq_lo"] == 1 and rows[-1]["seq_hi"] == N_EVENTS
