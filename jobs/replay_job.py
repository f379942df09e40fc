#!/usr/bin/env python
"""spark-submit entry point: CDC change-log replay into a LakeTable.

Usage (multi-executor cluster — the north rule's deployment shape):

  zip -r omicidx_etl_spark.zip omicidx_etl_spark
  spark-submit --py-files omicidx_etl_spark.zip \\
      [--master spark://... | yarn | local[N]] \\
      jobs/replay_job.py --log /path/to/changelog --table /path/to/table \\
      [--gen-events 2000000 --gen-docs 200000]  # synthesize the log first \\
      [--mode mor|cow] [--chunk 1000000] [--buckets 32] [--compact-every 8] \\
      [--streaming --checkpoint /path/ckpt]

Every batch keeps the latest event per ``doc_id`` (``cdc/replay.py``).

The job is driver-config agnostic: master/executors come from spark-submit.
Emits one JSON line with per-batch lineage totals and events/sec.

On a real cluster the only changes are storage paths (s3a://...) and
executor sizing — the engine code is identical (SURVEY.md §7).
"""

from __future__ import annotations

import argparse
import json
import time

from omicidx_etl_spark.session import get_spark


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--log", required=True)
    p.add_argument("--table", required=True)
    p.add_argument("--mode", default="mor", choices=["mor", "cow"])
    p.add_argument("--chunk", type=int, default=1_000_000)
    p.add_argument("--buckets", type=int, default=32)
    p.add_argument("--compact-every", type=int, default=None)
    p.add_argument("--canonicalize-every", type=int, default=None,
                   help="batch replay: run in-flight exact corpus dedup "
                        "(cdc.canonicalize) every N batches")
    p.add_argument("--no-quarantine", action="store_true",
                   help="streaming: fail the stream on a poison batch instead "
                        "of parking it under <table>/_quarantine/")
    p.add_argument("--compact-deltas-over", type=int, default=None,
                   help="streaming+mor: auto-compact when any bucket's delta "
                        "chain exceeds this depth")
    p.add_argument("--app-id", default="replay")
    p.add_argument("--checksums", action="store_true",
                   help="record (path, bytes, md5) per written data file in "
                        "each commit's lineage row (distributed re-read of "
                        "the commit's files)")
    p.add_argument("--streaming", action="store_true")
    p.add_argument("--checkpoint", default=None)
    p.add_argument("--gen-events", type=int, default=None)
    p.add_argument("--gen-docs", type=int, default=None)
    p.add_argument("--seed", type=int, default=42)
    args = p.parse_args()

    # under spark-submit, get_spark leaves master and sizing to spark-submit
    spark = get_spark("cdc-replay")

    from omicidx_etl_spark import datagen
    from omicidx_etl_spark.lake import LakeTable
    from omicidx_etl_spark.lineage import LineageLog

    if args.gen_events:
        ch = datagen.gen_changes(
            spark, args.gen_events, args.gen_docs or args.gen_events // 10,
            seed=args.seed,
        )
        datagen.write_change_log(ch, args.log, files=128)

    if LakeTable.exists(args.table):
        table = LakeTable.load(spark, args.table)
    else:
        schema = datagen.gen_changes(spark, 1, 1).drop("seq", "op", "event_ts").schema
        table = LakeTable.create(
            spark, args.table, schema, key="doc_id", n_buckets=args.buckets
        )

    lineage = LineageLog(args.table, checksums=args.checksums)
    t0 = time.time()
    if args.streaming:
        from omicidx_etl_spark.streaming import stream_replay

        snaps = stream_replay(
            spark, table, args.log, args.checkpoint or args.table + "_ckpt",
            app_id=args.app_id, mode=args.mode, lineage=lineage,
            quarantine=not args.no_quarantine,
            compact_deltas_over=args.compact_deltas_over,
        )
    else:
        from omicidx_etl_spark.cdc import replay_log
        from omicidx_etl_spark.progress import LogProgress

        hb = LogProgress("replay", min_interval_s=10.0, table=args.table)
        snaps = replay_log(
            spark, table, args.log, chunk_events=args.chunk, app_id=args.app_id,
            mode=args.mode, compact_every=args.compact_every, lineage=lineage,
            canonicalize_every=args.canonicalize_every,
            progress=hb,
        )
        hb.complete()
    dt = time.time() - t0
    events = sum(
        (s.get("summary", {}).get("event_count") or 0) for s in snaps
    )
    print(
        json.dumps(
            {
                "batches": len(snaps),
                "events": events,
                "sec": round(dt, 3),
                "events_per_sec": round(events / dt, 1) if dt > 0 else None,
                "final_snapshot": table.snapshot()["snapshot_id"],
                "mode": args.mode,
                "default_parallelism": spark.sparkContext.defaultParallelism,
                # execution topology: local[] reports 1 (the driver);
                # a real/local-cluster master reports driver + executors
                "jvms": len(
                    spark.sparkContext._jsc.sc()
                    .statusTracker().getExecutorInfos()
                ),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
