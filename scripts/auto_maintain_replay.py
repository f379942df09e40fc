#!/usr/bin/env python
"""Sustained CDC replay under the auto-maintenance POLICY — the capstone
probe tying the round-4 surfaces together: N micro-batches stream into a
MOR table while ``auto_maintain`` runs on a fixed cadence, and the run
must prove four things at once:

1. **chains stay bounded**: max delta-chain length never exceeds
   (policy threshold + cadence) — the policy, not an operator, keeps MOR
   read cost flat;
2. **throughput stays flat**: last-quartile / first-quartile per-batch
   events/sec ≥ ~1 (per-batch cost is O(batch), not O(table)), with
   maintenance interleaved;
3. **the table stays healthy**: deep fsck green at the end (footers,
   bounds containment, seq ceiling, key uniqueness);
4. **the state stays exact**: the final rows equal one global
   latest-per-key dedup of the full log, row for row (``exceptAll`` both
   ways), and their count equals the DuckDB latest-per-key oracle's.

Emits ONE JSON line and writes BENCH/auto_maintain_replay_r05.json; a run
with fewer events than the one recorded there (a smoke run) writes
BENCH/auto_maintain_replay_smoke.json instead.
Run ALONE (benchmark hygiene). ~3-6 min at the default size.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRATCH = os.environ.get("SPARK_GRAFT_AM_SCRATCH", "/dev/shm/spark_graft_amreplay")
BATCHES = int(os.environ.get("SPARK_GRAFT_AM_BATCHES", "20"))
BATCH_EVENTS = int(os.environ.get("SPARK_GRAFT_AM_BATCH_EVENTS", "100000"))
DOCS = int(os.environ.get("SPARK_GRAFT_AM_DOCS", "200000"))
CADENCE = int(os.environ.get("SPARK_GRAFT_AM_CADENCE", "4"))
MAX_CHAIN = int(os.environ.get("SPARK_GRAFT_AM_MAX_CHAIN", "6"))


def main() -> int:
    shutil.rmtree(SCRATCH, ignore_errors=True)
    os.makedirs(SCRATCH, exist_ok=True)
    sys.path.insert(0, REPO)
    from pyspark.sql import functions as F

    from omicidx_etl_spark import datagen
    from omicidx_etl_spark.cdc import dedup_latest
    from omicidx_etl_spark.lake import LakeTable
    from omicidx_etl_spark.lake.table import _norm_entry
    from omicidx_etl_spark.session import get_spark

    spark = get_spark(
        "auto-maintain-replay",
        extra_conf={"spark.local.dir": os.path.join(SCRATCH, "_spark_local")},
    )
    total = BATCHES * BATCH_EVENTS
    log = os.path.join(SCRATCH, "log")
    ch = datagen.gen_changes(spark, total, DOCS, seed=29)
    datagen.write_change_log(ch, log, files=BATCHES * 4)

    t = LakeTable.create(
        spark,
        os.path.join(SCRATCH, "table"),
        ch.drop("seq", "op", "event_ts").schema,
        key="doc_id",
        n_buckets=16,
    )

    full = spark.read.parquet(log)
    rates: list[float] = []
    max_chain_seen = 0
    n_compact_actions = 0
    for b in range(BATCHES):
        # gen_changes seqs are [1, n_events] INCLUSIVE: slice (lo, hi]
        # (the old [lo, hi) slicing silently dropped the final event —
        # invisible to the count-only oracle unless that event was a D)
        lo, hi = b * BATCH_EVENTS, (b + 1) * BATCH_EVENTS
        batch = full.filter((F.col("seq") > lo) & (F.col("seq") <= hi)).drop(
            "event_ts"
        )
        t0 = time.time()
        t.merge(dedup_latest(batch), mode="mor", app_id="amreplay", batch_id=b)
        rates.append(BATCH_EVENTS / (time.time() - t0))
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
            f"[amreplay] batch {b + 1}/{BATCHES}: {rates[-1]:,.0f} ev/s, "
            f"max chain {max(chains)}",
            file=sys.stderr,
        )

    q = max(1, len(rates) // 4)
    flatness = round(sum(rates[-q:]) / q / (sum(rates[:q]) / q), 3)
    fsck = t.fsck(deep=True)

    import duckdb

    want = duckdb.connect().execute(
        f"""
        SELECT COUNT(*) FROM (
          SELECT doc_id, op,
                 ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY seq DESC) rn
          FROM read_parquet('{log}/*.parquet')) t
        WHERE rn = 1 AND op <> 'D'
        """
    ).fetchone()[0]
    final = t.read()
    have = final.count()
    oracle = dedup_latest(full.drop("event_ts")).filter(F.col("op") != "D")
    oracle = oracle.select(*final.columns)
    mismatch = final.exceptAll(oracle).count() + oracle.exceptAll(final).count()

    out = {
        "metric": "sustained MOR replay under auto_maintain policy",
        "batches": BATCHES,
        "batch_events": BATCH_EVENTS,
        "events_per_sec_mean": round(sum(rates) / len(rates), 1),
        "flatness_q4_over_q1": flatness,
        "max_delta_chain_seen": max_chain_seen,
        "chain_bound": MAX_CHAIN + CADENCE,
        "chain_bounded": max_chain_seen <= MAX_CHAIN + CADENCE,
        "compact_actions": n_compact_actions,
        "fsck_ok": fsck["ok"],
        "state_exact": int(want) == int(have) and mismatch == 0,
        "rows": int(have),
        "row_mismatches": int(mismatch),
    }
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    # Overwrite guard, as in mega_replay.py: a smaller run never clobbers
    # the recorded artifact.
    art = os.path.join(REPO, "BENCH", "auto_maintain_replay_r05.json")
    try:
        with open(art) as f:
            prev = json.load(f)["line"]
        prev_events = prev["batches"] * prev["batch_events"]
    except (OSError, ValueError, KeyError):
        prev_events = 0
    if BATCHES * BATCH_EVENTS < prev_events:
        art = os.path.join(REPO, "BENCH", "auto_maintain_replay_smoke.json")
        print(f"[auto_maintain_replay] the recorded artifact has {prev_events} events, "
              f"more than this run; writing {art}", file=sys.stderr)
    with open(art, "w") as f:
        json.dump({"line": out, "rates": [round(r, 1) for r in rates]}, f, indent=1)
    print(json.dumps(out))
    spark.stop()
    shutil.rmtree(SCRATCH, ignore_errors=True)
    return 0 if (out["chain_bounded"] and out["fsck_ok"] and out["state_exact"]) else 1


if __name__ == "__main__":
    raise SystemExit(main())
