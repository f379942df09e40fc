#!/usr/bin/env python
"""spark-submit entry point: in-place corpus canonicalization — delete every
non-canonical duplicate from a LakeTable of tokenized sequences in one
idempotent commit (``cdc.canonicalize``).

Usage (same deployment shape as jobs/replay_job.py):

  zip -r omicidx_etl_spark.zip omicidx_etl_spark
  spark-submit --py-files omicidx_etl_spark.zip \\
      jobs/dedup_job.py --table /path/to/table \\
      [--method exact|minhash] [--content-col tokens] \\
      [--n 3 --k 8 --bands 4] [--mode mor|cow] \\
      [--app-id canonicalize --batch-id 0]

Emits one JSON line: {"method", "deleted", "clusters", "rows_after", "sec"}.
Typical schedule: run after each day's replay, before compact() — MOR
tombstones land O(losers) and the next compaction reclaims the bytes.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

# spark-submit --py-files puts the package zip on sys.path; a plain
# `python jobs/dedup_job.py` run gets the repo root as a fallback.
try:
    import omicidx_etl_spark  # noqa: F401
except ModuleNotFoundError:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from omicidx_etl_spark.session import get_spark


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--table", required=True)
    p.add_argument("--method", default="minhash", choices=["exact", "minhash"])
    p.add_argument("--content-col", default="tokens")
    p.add_argument("--n", type=int, default=3)
    p.add_argument("--k", type=int, default=8)
    p.add_argument("--bands", type=int, default=4)
    p.add_argument("--mode", default="mor", choices=["mor", "cow"])
    p.add_argument("--app-id", default="canonicalize")
    p.add_argument("--batch-id", type=int, default=0)
    args = p.parse_args()

    spark = get_spark("corpus-canonicalize")

    from omicidx_etl_spark.cdc import canonicalize
    from omicidx_etl_spark.lake import LakeTable

    table = LakeTable.load(spark, args.table)
    t0 = time.time()
    res = canonicalize(
        table,
        method=args.method,
        content_col=args.content_col,
        n=args.n,
        k=args.k,
        bands=args.bands,
        app_id=args.app_id,
        batch_id=args.batch_id,
        mode=args.mode,
    )
    out = {
        "method": res["method"],
        "deleted": res["deleted"],
        "clusters": res["clusters"],
        "rows_after": table.read().count(),
        "sec": round(time.time() - t0, 3),
        "skipped": bool(res["commit"].get("summary", {}).get("skipped", False)),
    }
    print(json.dumps(out))
    sys.stdout.flush()


if __name__ == "__main__":
    main()
