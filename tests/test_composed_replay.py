"""Composed sustained replay at smoke size: one MOR replay under the
``auto_maintain`` policy that, mid-run, evolves the schema, hits a CHECK
constraint and parks the batch, repairs and replays it, and then proves
exactly-once by re-running every batch. The final state must equal the
DuckDB latest-per-key oracle over the effective log.

Reference analogue: the per-entity skip-guards + validation + errors
side-channel of ``omicidx_etl/sra/catalog.py:291-371``, composed with
schema evolution and a retention policy."""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

from omicidx_etl_spark import datagen
from omicidx_etl_spark.cdc.replay import replay_batch
from omicidx_etl_spark.lake import LakeTable, manifest
from omicidx_etl_spark.lake.table import ConstraintViolation
from omicidx_etl_spark.streaming.replay import _quarantine_batch, replay_quarantined

BATCHES, BATCH_EVENTS, DOCS = 14, 5000, 10000
CADENCE, MAX_CHAIN = 3, 4  # auto_maintain every CADENCE batches
DRIFT_AT, VIOLATE_AT = 4, 7  # batch ids
APP = "composed"


def _with_drift(df):
    """Upstream evolution: a new ``lang`` column and ``n_tok`` widened to
    long, a pure function of the event so the oracle can rebuild it."""
    return df.withColumn(
        "lang", F.concat(F.lit("l"), F.pmod(F.xxhash64("doc_id"), F.lit(5)))
    ).withColumn("n_tok", F.col("n_tok").cast("long"))


def _fix(df):
    """Undo the corruption (x -> -x-1 is an involution)."""
    return df.withColumn(
        "n_tok",
        F.when(F.col("n_tok") < 0, -F.col("n_tok") - F.lit(1)).otherwise(F.col("n_tok")),
    )


def _schema(t):
    return {f.name: f.dataType.simpleString() for f in t.current_schema().fields}


def test_composed_replay_policy_evolution_quarantine_exactly_once(spark, tmp_path):
    log = str(tmp_path / "log")
    # The token arrays take no part in any check; without them the test
    # keeps to smoke cost.
    ch = datagen.gen_changes(spark, BATCHES * BATCH_EVENTS, DOCS, seed=31)
    ch.drop("tokens", "event_ts").write.parquet(log)
    full = spark.read.parquet(log)
    t = LakeTable.create(
        spark, str(tmp_path / "table"), full.drop("seq", "op").schema,
        key="doc_id", n_buckets=16,
    )
    t.add_constraint("n_tok_nonneg", "n_tok >= 0")

    def batch(b):
        # gen_changes seqs are [1, n_events] inclusive: slice (lo, hi]
        df = full.filter(
            (F.col("seq") > b * BATCH_EVENTS) & (F.col("seq") <= (b + 1) * BATCH_EVENTS)
        )
        df = _with_drift(df) if b >= DRIFT_AT else df
        if b == VIOLATE_AT:
            df = df.withColumn("n_tok", (-F.col("n_tok") - F.lit(1)).cast("long"))
        return df

    quarantined, max_chain_seen = [], 0
    for b in range(BATCHES):
        sid = t.snapshot()["snapshot_id"]
        try:
            replay_batch(t, batch(b), batch_id=b, app_id=APP, mode="mor", auto_evolve=True)
        except ConstraintViolation as e:
            assert t.snapshot()["snapshot_id"] == sid  # nothing committed
            _quarantine_batch(t, batch(b), b, APP, e, None)
            quarantined.append(b)
        if b == DRIFT_AT - 1:
            assert "lang" not in _schema(t) and _schema(t)["n_tok"] == "int"
        if b == DRIFT_AT:
            assert _schema(t)["lang"] == "string" and _schema(t)["n_tok"] == "bigint"
        if (b + 1) % CADENCE == 0:
            t.auto_maintain(max_delta_chain=MAX_CHAIN, keep_last=2, orphan_grace_s=0)
        chains = manifest.delta_chains(t.snapshot()).values()
        max_chain_seen = max(max_chain_seen, *chains)
    # the chain is measured after the batch's maintenance, so a working
    # policy shows at most (MAX_CHAIN - 1) + (CADENCE - 1)
    assert max_chain_seen <= MAX_CHAIN + CADENCE - 2
    assert quarantined == [VIOLATE_AT]

    # repair and replay the parked batch exactly once
    rq = replay_quarantined(t, APP, transform=_fix, mode="mor", auto_evolve=True)
    assert len(rq) == 1 and rq[0]["replayed"] and not rq[0].get("skipped")
    assert replay_quarantined(t, APP, transform=_fix, mode="mor", auto_evolve=True) == []

    # exactly-once: every batch again skips, the snapshot stays put (the
    # parked batch lives under the quarantine's derived app_id)
    sid = t.snapshot()["snapshot_id"]
    for b in range(BATCHES):
        if b != VIOLATE_AT:
            snap = replay_batch(t, batch(b), batch_id=b, app_id=APP, mode="mor", auto_evolve=True)
            assert (snap.get("summary") or {}).get("skipped"), b
    assert t.snapshot()["snapshot_id"] == sid

    assert t.fsck(deep=True)["ok"]

    # exact state against the effective log: drift where it was applied,
    # true n_tok everywhere (the repair restored the corruption)
    eff = str(tmp_path / "effective_log")
    drift_lo = DRIFT_AT * BATCH_EVENTS + 1
    _with_drift(full).withColumn(
        "lang", F.when(F.col("seq") >= drift_lo, F.col("lang"))
    ).write.parquet(eff)
    want = duckdb.connect().execute(
        f"""
        SELECT doc_id, n_tok, lang FROM (
          SELECT doc_id, n_tok, lang, op,
                 ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY seq DESC) rn
          FROM read_parquet('{eff}/*.parquet'))
        WHERE rn = 1 AND op <> 'D'
        ORDER BY doc_id
        """
    ).fetchall()
    have = [
        tuple(r)
        for r in t.read().select("doc_id", "n_tok", "lang").orderBy("doc_id").collect()
    ]
    assert len(have) > 0 and have == [tuple(r) for r in want]
