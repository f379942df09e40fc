"""10^8-event sustained MOR replay — the north metric's scale direction
(VERDICT r3 stretch #8): one long replay with production compaction
cadence, demonstrating that per-batch cost stays O(batch) as the table
grows through 10^8 applied change events.

Design (why this is honest at this scale):
- The change log is NEVER materialized: each micro-batch is generated
  lazily as a seq-slice of the same deterministic log
  (``datagen.gen_changes(seq_range=(lo, hi))`` — pure column exprs over a
  Range with sliced bounds, so per-batch work is O(batch)). A 10^8-event
  full-width log would be ~400 GB on disk; a real deployment tails a feed,
  it does not pre-land one.
- MOR deltas + ``compact_every`` + ``expire_snapshots(keep_last=1)`` after
  each compaction keep peak storage bounded (base + since-compaction
  deltas + one compaction transient) regardless of total events.
- Throughput facts are per-batch (events/sec each batch), so growth-vs-
  throughput is measurable: ``flatness`` = mean(last quartile)/mean(first
  quartile) — >= ~1 means batch 90 into a 10^8-event table is no slower
  than batch 5 into a near-empty one.
- Final-state correctness at this scale can't run a full DuckDB oracle;
  instead K sampled doc_ids are verified EXACTLY: the full log is
  regenerated lazily, filtered to the sample, window-deduped
  (latest-seq non-delete wins), and compared row-for-row (token arrays
  included) against the table's state for those keys.

Usage: python scripts/mega_replay.py [--events 100000000] [--chunk 1000000]
       [--docs 2000000] [--compact-every 8] [--budget 2700]
Emits ONE JSON line; detail in BENCH/mega_replay_r04.json. The recorded
``BENCH/mega_replay_r0*.json`` runs used the since-deleted ``prefilter``
dedup (a winner join before the merge); the script now hands each batch to
the merge raw, which keeps the latest row per key in its bucket exchange.

Heap: ``--dir`` is tmpfs (= RAM) by default and holds spark.local.dir,
so the driver heap competes with shuffle files and the table for the
same memory. The recorded 10^8 run on a 125 GB host used
``SPARK_DRIVER_MEM=28g``: a 48g heap OOM-killed at 44 GB JVM RSS + 59 GB
of accumulated shuffle files + 15 GB table, a 32g one at 39 GB RSS +
~50 GB of shuffle files piled up between the 8-batch compaction-boundary
GCs. On such a host set it the same way; the default (half of RAM,
capped at 48g) is too big there.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _steal_jiffies() -> int:
    try:
        total = 0
        with open("/proc/stat") as f:
            for line in f:
                if line.startswith("cpu") and line[3].isdigit():
                    total += int(line.split()[8])
        return total
    except Exception:  # noqa: BLE001
        return 0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--events", type=int, default=100_000_000)
    ap.add_argument("--chunk", type=int, default=1_000_000)
    ap.add_argument("--docs", type=int, default=2_000_000)
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--compact-every", type=int, default=8)
    ap.add_argument("--compact-group", type=int, default=8,
                    help="buckets per compaction slice: compaction is run "
                         "as n_buckets/group independent jobs so the "
                         "rewrite shuffle never materializes the whole "
                         "table at once (attempt 4 died with ONE live "
                         "75 GB compaction shuffle on tmpfs)")
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--sample-keys", type=int, default=200)
    ap.add_argument("--budget", type=float, default=2700.0,
                    help="wall seconds; stops cleanly and reports partial")
    ap.add_argument("--dir", default="/dev/shm/spark_graft_mega")
    args = ap.parse_args()

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from omicidx_etl_spark import datagen
    from omicidx_etl_spark.cdc.replay import replay_batch
    from omicidx_etl_spark.lake.table import LakeTable
    from omicidx_etl_spark.session import get_spark

    t0 = time.time()
    # clean BEFORE the session exists: spark.local.dir lives inside
    # args.dir, and an rmtree after session start deletes the live
    # block-manager directory out from under the JVM (first broadcast
    # then dies with NoSuchFileException on a blockmgr path)
    shutil.rmtree(args.dir, ignore_errors=True)
    spark = get_spark("mega-replay", extra_conf={
        "spark.local.dir": os.path.join(args.dir, "_spark_local"),
        "spark.network.timeout": "1200s",
        # Shuffle files are deleted only when the driver GC collects the
        # ShuffleDependency; a 100-batch run on a large heap accumulated
        # 59 GB of dead shuffle files on tmpfs before the kernel OOM-killed
        # the JVM (first attempt, 2026-08-19). Force the ContextCleaner to
        # run every minute instead of the 30-min default.
        "spark.cleaner.periodicGC.interval": "60s",
    })
    root = os.path.join(args.dir, "table")
    schema = (
        datagen.gen_changes(spark, 10, 10, seed=args.seed)
        .drop("seq", "op", "event_ts")
        .schema
    )
    t = LakeTable.create(spark, root, schema, key="doc_id", n_buckets=args.buckets)

    n_batches = (args.events + args.chunk - 1) // args.chunk
    batch_secs: list[float] = []
    compact_secs: list[float] = []
    s0, truncated = _steal_jiffies(), False
    for b in range(n_batches):
        if time.time() - t0 > args.budget:
            truncated = True
            break
        lo, up = b * args.chunk, min((b + 1) * args.chunk, args.events)
        batch = datagen.gen_changes(
            spark, args.events, args.docs, seed=args.seed, seq_range=(lo, up)
        )
        tb = time.time()
        replay_batch(t, batch, batch_id=b, app_id="mega", mode="mor")
        batch_secs.append(time.time() - tb)
        if args.compact_every and (b + 1) % args.compact_every == 0:
            tc = time.time()
            # Incremental (bucket-sliced) compaction: each slice's rewrite
            # shuffle is O(slice), not O(table). Attempt 4 (2026-08-20)
            # was OOM-killed mid-compaction at a 42 GB table: the single
            # repartition(64, bucket) shuffle wrote 75 GB of lz4 shuffle
            # blocks (random-int token arrays barely compress) onto tmpfs
            # in 2 minutes, on top of table + JVM heap. Slicing 8 buckets
            # at a time caps the live shuffle at ~1/8 of that; expiring
            # snapshots per slice frees replaced base dirs immediately;
            # the System.gc() drops the slice's dead shuffle files before
            # the next slice starts. This is also the only shape that
            # works at 100 TB — whole-table rewrite jobs don't.
            for g0 in range(0, args.buckets, args.compact_group):
                t.compact(buckets=list(
                    range(g0, min(g0 + args.compact_group, args.buckets))))
                t.expire_snapshots(keep_last=1)
                spark.sparkContext._jvm.System.gc()
            compact_secs.append(time.time() - tc)
        if (b + 1) % 2 == 0:
            # drop dead shuffle files NOW (see periodicGC comment): each
            # replay batch strands ~5 GB of shuffle temp on tmpfs, so an
            # 8-batch GC cadence peaks at ~50 GB of dead files — attempt 2
            # OOM-killed exactly there. A ~1 s full GC every 2 batches
            # caps the stranded set at ~10 GB.
            spark.sparkContext._jvm.System.gc()
        if (b + 1) % 5 == 0:
            done = sum(batch_secs)
            rate = (len(batch_secs) * args.chunk) / done
            def _sz(p: str) -> int:
                # races with the ContextCleaner deleting shuffle files —
                # a file listed by walk may be gone before stat
                try:
                    return os.path.getsize(p)
                except OSError:
                    return 0
            scratch_gb = sum(
                _sz(os.path.join(r, f))
                for r, _, fs in os.walk(args.dir) for f in fs
            ) / 1024**3
            sys.stderr.write(
                f"[mega] batch {b + 1}/{n_batches} "
                f"{batch_secs[-1]:.1f}s ({rate:,.0f} ev/s cum) "
                f"wall {time.time() - t0:.0f}s scratch {scratch_gb:.1f}G\n")

    applied = len(batch_secs) * args.chunk
    q = max(len(batch_secs) // 4, 1)
    per_rate = [args.chunk / s for s in batch_secs]
    flatness = (sum(per_rate[-q:]) / q) / (sum(per_rate[:q]) / q)

    # exact final-state verification on sampled keys
    hi = len(batch_secs) * args.chunk
    full = datagen.gen_changes(
        spark, args.events, args.docs, seed=args.seed, seq_range=(0, hi)
    )
    sample = [f"doc_{(k * 9973) % (2 * args.docs):08d}"
              for k in range(args.sample_keys)]
    w = Window.partitionBy("doc_id").orderBy(F.col("seq").desc())
    exp = (
        full.filter(F.col("doc_id").isin(sample))
        .withColumn("__rn", F.row_number().over(w))
        .filter("__rn = 1 AND op <> 'D'")
        .select("doc_id", "tokens", "n_tok", "source")
    )
    got = t.read().filter(F.col("doc_id").isin(sample)).select(
        "doc_id", "tokens", "n_tok", "source"
    )
    e_rows = {r["doc_id"]: (r["tokens"], r["n_tok"], r["source"])
              for r in exp.collect()}
    g_rows = {r["doc_id"]: (r["tokens"], r["n_tok"], r["source"])
              for r in got.collect()}
    state_ok = e_rows == g_rows

    wall = time.time() - t0
    res = {
        "metric": "sustained MOR replay at 10^8-event scale",
        "events_applied": applied,
        "events_target": args.events,
        "truncated": truncated,
        "batches": len(batch_secs),
        "chunk": args.chunk,
        "docs": args.docs,
        "buckets": args.buckets,
        "compact_every": args.compact_every,
        "compact_group": args.compact_group,
        "replay_sec": round(sum(batch_secs), 1),
        "compact_sec": round(sum(compact_secs), 1),
        "wall_sec": round(wall, 1),
        "events_per_sec_replay": round(applied / max(sum(batch_secs), 1e-9), 1),
        "events_per_sec_incl_compact": round(
            applied / max(sum(batch_secs) + sum(compact_secs), 1e-9), 1),
        "flatness_last_over_first_quartile": round(flatness, 3),
        "sampled_keys": args.sample_keys,
        "sampled_keys_present": len(g_rows),
        "state_ok": state_ok,
        "steal_jiffies": _steal_jiffies() - s0,
        "final_rows": t.read().count(),
        "batch_secs_first8": [round(s, 2) for s in batch_secs[:8]],
        "batch_secs_last8": [round(s, 2) for s in batch_secs[-8:]],
    }
    detail = dict(res, batch_secs=[round(s, 2) for s in batch_secs],
                  compact_secs=[round(s, 2) for s in compact_secs])
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    # Overwrite guard (VERDICT r4 "What's wrong" #1): a smoke/debug run must
    # never clobber an artifact that records MORE events than it does. Smaller
    # runs are parked under mega_replay_smoke.json instead.
    art = os.path.join(REPO, "BENCH", "mega_replay_r04.json")
    if os.path.exists(art):
        try:
            with open(art) as f:
                prev_events = json.load(f).get("events_applied", 0)
        except (OSError, ValueError):
            prev_events = 0
        if applied < prev_events:
            print(f"[mega_replay] existing artifact records {prev_events} events "
                  f"> this run's {applied}; writing to mega_replay_smoke.json",
                  file=sys.stderr)
            art = os.path.join(REPO, "BENCH", "mega_replay_smoke.json")
    with open(art, "w") as f:
        json.dump(detail, f, indent=1)
    print(json.dumps(res))
    return 0 if state_ok else 1


if __name__ == "__main__":
    sys.exit(main())
