#!/usr/bin/env python
"""spark-submit entry point: one-shot (or looped) incremental table
replication — drain a source LakeTable's changelog into a replica via a
durable named consumer offset. The cron-able form of
``cdc.ChangelogSubscription`` + ``cdc.replicate``; each run applies
exactly the changes landed since the previous run (the reference's daily
consolidation-consumer cadence, `omicidx_etl/sql/020_consolidate.sql:1-12`),
costing delta time, never table time.

Usage:

  zip -r omicidx_etl_spark.zip omicidx_etl_spark
  spark-submit --py-files omicidx_etl_spark.zip \\
      jobs/replicate_job.py --src /path/src --dst /path/dst \\
      --checkpoint /path/offsets [--consumer mirror-1] [--mode mor] \\
      [--create-dst] [--loop N --interval-s S]

``--create-dst`` bootstraps the replica with the source's current schema,
key and bucket count if it does not exist yet. ``--loop N`` polls N times
(0 = forever) sleeping ``--interval-s`` between polls — the daemon form;
default is one poll (the cron form). Exactly-once: the replica merge is
watermarked per (consumer, interval), so kills and retries at ANY point
re-converge (see tests/test_subscribe.py).

Emits one JSON line per poll:
  {"applied": bool, "from_sid", "to_sid", "rows_replica", "sec"}
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

try:
    import omicidx_etl_spark  # noqa: F401
except ModuleNotFoundError:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from omicidx_etl_spark.session import get_spark


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--src", required=True)
    p.add_argument("--dst", required=True)
    p.add_argument("--checkpoint", required=True)
    p.add_argument("--consumer", default="default")
    p.add_argument("--mode", choices=["mor", "cow"], default="mor")
    p.add_argument("--start-from", default="begin",
                   help="begin | current | <snapshot id> (first run only)")
    p.add_argument("--create-dst", action="store_true")
    p.add_argument("--loop", type=int, default=1,
                   help="number of polls (0 = forever)")
    p.add_argument("--verify-count", action="store_true",
                   help="after an applied poll, count the replica (a FULL "
                   "table read — O(replica), for audits; default reports "
                   "the merge summary's rows_written, keeping every run "
                   "O(delta))")
    p.add_argument("--interval-s", type=float, default=30.0)
    args = p.parse_args()

    spark = get_spark("lake-replicate")

    from omicidx_etl_spark.cdc import ChangelogSubscription, replicate
    from omicidx_etl_spark.lake import LakeTable

    src = LakeTable.load(spark, args.src)
    if args.create_dst and not os.path.exists(
        os.path.join(args.dst, "_meta")
    ):
        snap = src.snapshot()
        LakeTable.create(
            spark,
            args.dst,
            src.current_schema(snap),
            key=snap["table"]["key"],
            n_buckets=snap["table"]["n_buckets"],
        )
    dst = LakeTable.load(spark, args.dst)

    start: "str | int" = args.start_from
    if start not in ("begin", "current"):
        start = int(start)
    sub = ChangelogSubscription(
        src, args.checkpoint, consumer_id=args.consumer, start_from=start
    )

    n = 0
    while True:
        t0 = time.time()
        out = replicate(sub, dst, mode=args.mode)
        summ = out.get("summary") or {}
        line = {
            "applied": out["applied"],
            "from_sid": out.get("from_sid"),
            "to_sid": out.get("to_sid"),
            "rows_written": summ.get("rows_written"),
            "skipped": summ.get("skipped"),
            "rows_replica": (
                dst.read().count()
                if args.verify_count and out["applied"]
                else None
            ),
            "sec": round(time.time() - t0, 2),
        }
        print(json.dumps(line), flush=True)
        n += 1
        if args.loop and n >= args.loop:
            break
        time.sleep(args.interval_s)
    return 0


if __name__ == "__main__":
    sys.exit(main())
