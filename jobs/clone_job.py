#!/usr/bin/env python
"""spark-submit entry point: deep-clone one snapshot of a LakeTable into a
brand-new independent table (dev/test forks, point-in-time exports, seeding
a blue/green cutover). The CLI form of ``LakeTable.clone`` (lake/clone.py);
the copy runs as a width-proportional Spark job over the manifest's file
list, so a 100-TB clone walls at cluster write bandwidth, not driver time.
The reference's per-release re-materialization is the same shape:
``omicidx_etl/build_db.py:40-55``.

Usage:

  zip -r omicidx_etl_spark.zip omicidx_etl_spark
  spark-submit --py-files omicidx_etl_spark.zip \\
      jobs/clone_job.py --src /path/src --dest /path/new \\
      [--at SID | --as-of-ts EPOCH_SECONDS] [--io-parallelism N]

Emits one JSON line:
  {"dest", "source_snapshot_id", "n_files_copied", "rows", "sec"}

Idempotence: a retry after a crash mid-copy finds the destination without a
committed ``_meta/_current`` pointer (``LakeTable.exists`` false) and simply
re-copies — staged bytes are overwritten, never double-counted; a retry
after success exits nonzero ("destination already a table") rather than
silently re-cloning over live data.
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
    p.add_argument("--dest", required=True)
    p.add_argument("--at", type=int, default=None, help="snapshot id to clone")
    p.add_argument(
        "--as-of-ts", type=float, default=None,
        help="clone the snapshot current at this unix timestamp",
    )
    p.add_argument("--io-parallelism", type=int, default=None)
    p.add_argument(
        "--verify-count", action="store_true",
        help="count the clone after commit (a full read — for audits)",
    )
    args = p.parse_args()

    spark = get_spark("lake-clone")

    from omicidx_etl_spark.lake import LakeTable

    t0 = time.time()
    try:
        src = LakeTable.load(spark, args.src)
        dst = src.clone(
            args.dest,
            at=args.at,
            as_of_ts=args.as_of_ts,
            io_parallelism=args.io_parallelism,
        )
    except (ValueError, KeyError, FileNotFoundError) as ex:
        # FileNotFoundError: --at/--as-of-ts resolving to an expired
        # snapshot surfaces as a missing snapshot file — still must honor
        # the one-JSON-line output contract
        print(json.dumps({"error": f"{type(ex).__name__}: {ex}"}))
        return 1
    summary = dst.snapshot()["summary"]
    out = {
        "dest": args.dest,
        "source_snapshot_id": summary["source_snapshot_id"],
        "n_files_copied": summary["n_files_copied"],
        "rows": dst.read().count() if args.verify_count else None,
        "sec": round(time.time() - t0, 2),
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
