#!/usr/bin/env python
"""spark-submit entry point: CDC out-feed export — drain a source table's
changelog into versioned NDJSON.gz drops for NON-Spark downstream
consumers (the outbox side of the CDC story; the reference publishes
NDJSON.gz extracts the same way, `omicidx_etl/biosample/extract.py:
130-141`). Each run exports exactly the interval since the last acked
offset under ``<out>/interval-<from>-<to>/`` with a ``_DONE`` marker
written AFTER the data (S13 done-marker contract: a consumer that only
reads marked dirs never sees a partial drop), then acks.

Exactly-once by the same argument as replication: a crash before the
marker leaves an unmarked (invisible) dir and an un-advanced offset —
the retry re-exports the same interval into the same dir name,
overwriting the partial files. Rows carry ``_change_type`` ('upsert' |
'delete') and ``_seq`` so consumers can apply order-independently;
``--include-before`` adds the pre-image struct.

Usage:

  spark-submit --py-files omicidx_etl_spark.zip \\
      jobs/export_changes_job.py --src /path/src --out /path/feed \\
      --checkpoint /path/offsets [--consumer feed-1] [--include-before]

One JSON line per run:
  {"applied", "from_sid", "to_sid", "dir", "rows", "sec"}
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
    p.add_argument("--out", required=True)
    p.add_argument("--checkpoint", required=True)
    p.add_argument("--consumer", default="feed")
    p.add_argument("--start-from", default="begin")
    p.add_argument("--include-before", action="store_true")
    args = p.parse_args()

    spark = get_spark("lake-export-changes")

    from omicidx_etl_spark.cdc import ChangelogSubscription
    from omicidx_etl_spark.lake import LakeTable
    from omicidx_etl_spark.sources.io import write_ndjson_gz

    src = LakeTable.load(spark, args.src)
    start: "str | int" = args.start_from
    if start not in ("begin", "current"):
        start = int(start)
    sub = ChangelogSubscription(
        src,
        args.checkpoint,
        consumer_id=args.consumer,
        start_from=start,
        include_before=args.include_before,
    )

    t0 = time.time()
    polled = sub.poll()
    if polled is None:
        print(json.dumps({"applied": False, "sec": round(time.time() - t0, 2)}))
        return 0
    df, from_sid, to_sid = polled
    # Count the polled frame directly — NOT by re-reading the drop with
    # schema inference: a metadata-only interval (add_constraint, compact)
    # nets zero rows, and JSON inference over the resulting empty .json.gz
    # parts raises AnalysisException, wedging every subsequent run on the
    # same interval. The zero-row drop itself is still written (consumers
    # validate interval contiguity, so holes in the drop sequence are
    # worse than an empty marked dir; apply_feed reads with an explicit
    # schema and handles empty drops).
    rows = df.count()
    drop = os.path.join(
        args.out, f"interval-{'begin' if from_sid is None else from_sid}-{to_sid}"
    )
    write_ndjson_gz(df, drop)
    # done-marker AFTER data: consumers only trust marked dirs
    with open(os.path.join(drop, "_DONE"), "w") as f:
        f.write(json.dumps({"from_sid": from_sid, "to_sid": to_sid, "rows": rows}))
    sub.ack(to_sid)
    print(
        json.dumps(
            {
                "applied": True,
                "from_sid": from_sid,
                "to_sid": to_sid,
                "dir": drop,
                "rows": rows,
                "sec": round(time.time() - t0, 2),
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
