#!/usr/bin/env python
"""Composed sustained replay — the north-star sentence exercised end to
end in ONE run (VERDICT r4 "Next round" #6): a 20-batch MOR replay under
the auto-maintenance policy that, mid-run,

1. **evolves the schema** (batch ``DRIFT_AT`` onward carries a new
   ``lang`` column and a widened ``n_tok`` int→long; ``auto_evolve``
   applies both, older files re-map at read time),
2. **hits a CHECK constraint** (batch ``VIOLATE_AT`` arrives with
   corrupted negative ``n_tok``; the merge raises ConstraintViolation
   with NOTHING committed and the batch parks under ``_quarantine/``
   while the run continues),
3. **keeps MOR chains bounded** via ``auto_maintain(max_delta_chain=)``
   on a fixed cadence,
4. **repairs and replays the quarantined batch** after the run
   (``replay_quarantined`` with the fixing transform, exactly once,
   order-independent via per-row seq), and
5. **proves exactly-once composition**: re-running every batch under the
   same (app_id, batch_id) skips wholesale with the snapshot unchanged.

The final state must EXACTLY equal (doc_id, n_tok, lang) of the DuckDB
latest-per-key oracle over the effective log (original events + the
deterministic drift columns; the fix transform restores the corruption
bit-for-bit, so the quarantine detour is invisible in the final state).
Deep fsck must be green.

Reference analogue: the per-entity skip-guards + pydantic validation +
errors side-channel of ``omicidx_etl/sra/catalog.py:291-371``, composed
here with schema evolution and retention policy at sustained scale.

Emits ONE JSON line and writes BENCH/composed_replay_r05.json; a run
with fewer events than the one recorded there (a smoke run) writes
BENCH/composed_replay_smoke.json instead.
Run ALONE (benchmark hygiene). ~4-6 min at the default size.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRATCH = os.environ.get("SPARK_GRAFT_CR_SCRATCH", "/dev/shm/spark_graft_composed")
BATCHES = int(os.environ.get("SPARK_GRAFT_CR_BATCHES", "20"))
BATCH_EVENTS = int(os.environ.get("SPARK_GRAFT_CR_BATCH_EVENTS", "100000"))
DOCS = int(os.environ.get("SPARK_GRAFT_CR_DOCS", "200000"))
CADENCE = int(os.environ.get("SPARK_GRAFT_CR_CADENCE", "4"))
MAX_CHAIN = int(os.environ.get("SPARK_GRAFT_CR_MAX_CHAIN", "6"))
DRIFT_AT = int(os.environ.get("SPARK_GRAFT_CR_DRIFT_AT", "8"))
VIOLATE_AT = int(os.environ.get("SPARK_GRAFT_CR_VIOLATE_AT", "12"))


def main() -> int:
    shutil.rmtree(SCRATCH, ignore_errors=True)
    os.makedirs(SCRATCH, exist_ok=True)
    sys.path.insert(0, REPO)
    from pyspark.sql import functions as F

    from omicidx_etl_spark import datagen
    from omicidx_etl_spark.cdc.replay import replay_batch
    from omicidx_etl_spark.lake import LakeTable
    from omicidx_etl_spark.lake.table import ConstraintViolation, _norm_entry
    from omicidx_etl_spark.session import get_spark
    from omicidx_etl_spark.streaming.replay import (
        _quarantine_batch,
        replay_quarantined,
    )

    spark = get_spark(
        "composed-replay",
        extra_conf={"spark.local.dir": os.path.join(SCRATCH, "_spark_local")},
    )
    total = BATCHES * BATCH_EVENTS
    log = os.path.join(SCRATCH, "log")
    ch = datagen.gen_changes(spark, total, DOCS, seed=31)
    datagen.write_change_log(ch, log, files=BATCHES * 4)

    t = LakeTable.create(
        spark,
        os.path.join(SCRATCH, "table"),
        ch.drop("seq", "op", "event_ts").schema,
        key="doc_id",
        n_buckets=16,
    )
    t.add_constraint("n_tok_nonneg", "n_tok >= 0")
    drift_lo = DRIFT_AT * BATCH_EVENTS + 1  # first seq of the drift batch

    def with_drift(df):
        """Deterministic upstream evolution: new lang column + widened
        n_tok — a pure function of the event, so the oracle can rebuild
        the same effective log."""
        return df.withColumn(
            "lang", F.concat(F.lit("l"), F.pmod(F.xxhash64("doc_id"), F.lit(5)))
        ).withColumn("n_tok", F.col("n_tok").cast("long"))

    full = spark.read.parquet(log)
    rates: list[tuple[int, float]] = []
    max_chain_seen = 0
    n_compact_actions = 0
    quarantined: list[int] = []
    app = "composed"
    for b in range(BATCHES):
        # gen_changes seqs are [1, n_events] INCLUSIVE: slice (lo, hi]
        lo, hi = b * BATCH_EVENTS, (b + 1) * BATCH_EVENTS
        batch = full.filter((F.col("seq") > lo) & (F.col("seq") <= hi)).drop(
            "event_ts"
        )
        if b >= DRIFT_AT:
            batch = with_drift(batch)
        if b == VIOLATE_AT:
            # corrupted upstream payload: involution (x -> -x-1) so the
            # repair transform restores the true value bit-for-bit
            batch = batch.withColumn(
                "n_tok", (-F.col("n_tok") - F.lit(1)).cast("long")
            )
        t0 = time.time()
        try:
            replay_batch(
                t, batch, batch_id=b, app_id=app, mode="mor", auto_evolve=True
            )
        except ConstraintViolation as e:
            _quarantine_batch(t, batch, b, app, e, None)
            quarantined.append(b)
            print(f"[composed] batch {b}: quarantined ({e})", file=sys.stderr)
        else:
            rates.append((b, BATCH_EVENTS / (time.time() - t0)))
        if (b + 1) % CADENCE == 0:
            out = t.auto_maintain(
                max_delta_chain=MAX_CHAIN, keep_last=2, orphan_grace_s=0
            )
            n_compact_actions += sum(
                1 for a in out["actions"] if a["action"] == "compact"
            )
        chains = [
            len(_norm_entry(raw)["deltas"])
            for raw in t.snapshot()["buckets"].values()
        ]
        max_chain_seen = max(max_chain_seen, max(chains))
        print(
            f"[composed] batch {b + 1}/{BATCHES}: max chain {max(chains)}",
            file=sys.stderr,
        )

    # schema evolved mid-run?
    sch = {f.name: f.dataType.simpleString() for f in t.current_schema().fields}
    evolved_ok = sch.get("lang") == "string" and sch.get("n_tok") == "bigint"

    # repair + replay the parked batch (exactly once, seq-order-independent)
    fix = lambda df: df.withColumn(  # noqa: E731
        "n_tok",
        F.when(F.col("n_tok") < 0, -F.col("n_tok") - F.lit(1)).otherwise(
            F.col("n_tok")
        ),
    )
    rq = replay_quarantined(t, app, transform=fix, mode="mor", auto_evolve=True)
    quarantine_resolved = (
        len(quarantined) == 1
        and len(rq) == 1
        and rq[0]["replayed"]
        and not rq[0].get("skipped")
    )
    rq2 = replay_quarantined(t, app, transform=fix, mode="mor", auto_evolve=True)
    quarantine_resolved = quarantine_resolved and rq2 == []

    # exactly-once composition: replay EVERY batch again -> wholesale skips
    sid_before = t.snapshot()["snapshot_id"]
    rerun_skipped = True
    for b in range(BATCHES):
        lo, hi = b * BATCH_EVENTS, (b + 1) * BATCH_EVENTS
        batch = full.filter((F.col("seq") > lo) & (F.col("seq") <= hi)).drop(
            "event_ts"
        )
        if b >= DRIFT_AT:
            batch = with_drift(batch)
        if b == VIOLATE_AT:
            continue  # parked under the derived quarantine app_id
        snap = replay_batch(
            t, batch, batch_id=b, app_id=app, mode="mor", auto_evolve=True
        )
        rerun_skipped = rerun_skipped and bool(
            (snap.get("summary") or {}).get("skipped")
        )
    rerun_skipped = rerun_skipped and t.snapshot()["snapshot_id"] == sid_before

    fsck = t.fsck(deep=True)

    # exact-state oracle over the EFFECTIVE log (drift applied everywhere
    # it was applied upstream; the repair restored the corruption, so the
    # effective log contains the TRUE values)
    eff = full.drop("event_ts")
    eff = (
        with_drift(eff)
        .withColumn(
            "lang", F.when(F.col("seq") >= drift_lo, F.col("lang"))
        )
    )
    eff_path = os.path.join(SCRATCH, "effective_log")
    eff.write.mode("overwrite").parquet(eff_path)

    import duckdb

    con = duckdb.connect()
    want = con.execute(
        f"""
        SELECT doc_id, n_tok, lang FROM (
          SELECT doc_id, n_tok, lang, op,
                 ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY seq DESC) rn
          FROM read_parquet('{eff_path}/*.parquet'))
        WHERE rn = 1 AND op <> 'D'
        ORDER BY doc_id
        """
    ).fetchall()
    have = [
        (r["doc_id"], r["n_tok"], r["lang"])
        for r in t.read()
        .select("doc_id", "n_tok", "lang")
        .orderBy("doc_id")
        .collect()
    ]
    state_exact = [tuple(r) for r in want] == have
    if not state_exact:
        w, h = set(tuple(r) for r in want), set(have)
        print(
            f"[composed] MISMATCH want-have={list(w - h)[:5]} "
            f"have-want={list(h - w)[:5]} sizes {len(w)}/{len(h)}",
            file=sys.stderr,
        )

    q = max(1, len(rates) // 4)
    rvals = [r for _, r in rates]
    flatness = round(sum(rvals[-q:]) / q / (sum(rvals[:q]) / q), 3)
    out = {
        "metric": "composed replay: evolution + constraints + policy + exactly-once",
        "batches": BATCHES,
        "batch_events": BATCH_EVENTS,
        "events_per_sec_mean": round(sum(rvals) / len(rvals), 1),
        "flatness_q4_over_q1": flatness,
        "max_delta_chain_seen": max_chain_seen,
        "chain_bounded": max_chain_seen <= MAX_CHAIN + CADENCE,
        "compact_actions": n_compact_actions,
        "evolved_ok": evolved_ok,
        "quarantined_batches": quarantined,
        "quarantine_resolved": quarantine_resolved,
        "rerun_skipped": rerun_skipped,
        "fsck_ok": fsck["ok"],
        "state_exact": state_exact,
        "rows": len(have),
    }
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    # Overwrite guard, as in mega_replay.py: a smaller run never clobbers
    # the recorded artifact.
    art = os.path.join(REPO, "BENCH", "composed_replay_r05.json")
    try:
        with open(art) as f:
            prev = json.load(f)["line"]
        prev_events = prev["batches"] * prev["batch_events"]
    except (OSError, ValueError, KeyError):
        prev_events = 0
    if BATCHES * BATCH_EVENTS < prev_events:
        art = os.path.join(REPO, "BENCH", "composed_replay_smoke.json")
        print(f"[composed_replay] the recorded artifact has {prev_events} events, "
              f"more than this run; writing {art}", file=sys.stderr)
    with open(art, "w") as f:
        json.dump(
            {"line": out, "rates": [[b, round(r, 1)] for b, r in rates]},
            f,
            indent=1,
        )
    print(json.dumps(out))
    spark.stop()
    if not os.environ.get("SPARK_GRAFT_CR_KEEP"):
        shutil.rmtree(SCRATCH, ignore_errors=True)
    ok = (
        out["chain_bounded"]
        and out["fsck_ok"]
        and out["state_exact"]
        and out["evolved_ok"]
        and out["quarantine_resolved"]
        and out["rerun_skipped"]
    )
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
