#!/usr/bin/env python
"""spark-submit entry point: one-shot table maintenance — the Iceberg
maintenance procedures (`rewrite_data_files`, `remove_orphan_files` /
`expire_snapshots`, tombstone retention) a production CDC table runs on a
schedule, batched as a single CLI so the cron line is one command. The
reference's analogue is the manual superseded-record cleanup
(`omicidx_etl/sra/catalog.py:212-275`).

Order matters and is fixed: (1) bucket-sliced compaction folds MOR deltas
into the bases — sliced (``--compact-group``) so the live rewrite shuffle
is O(slice), never O(table) (the shape the 10^8-event mega-replay proved:
a whole-table rewrite shuffle OOMs at scale); (2) ``purge_tombstones``
(optional, needs the retention watermark ``--purge-before-seq``) rewrites
buckets dropping deletes no in-flight event can resurrect; (3)
``expire_snapshots`` reclaims now-unreferenced data dirs plus aged orphans
from crashed/losing writers.

Usage (same deployment shape as jobs/replay_job.py):

  zip -r omicidx_etl_spark.zip omicidx_etl_spark
  spark-submit --py-files omicidx_etl_spark.zip \\
      jobs/maintain_job.py --table /path/to/table \\
      [--compact-group 8] [--sort-by col1,col2 | --zorder-by col1,col2] \\
      [--purge-before-seq N] [--keep-last 2] [--orphan-grace-s 3600]

Emits one JSON line:
  {"compacted_buckets", "purged", "expired", "rows_after", "sec"}.
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


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--table", required=True)
    p.add_argument(
        "--compact-group", type=int, default=8,
        help="buckets per compaction slice (0 = one whole-table pass; "
        "default 8 keeps the live rewrite shuffle O(slice))",
    )
    p.add_argument("--sort-by", default=None, help="comma-separated sort order")
    p.add_argument("--zorder-by", default=None, help="comma-separated z-order cols")
    p.add_argument(
        "--purge-before-seq", type=int, default=None,
        help="retention watermark: drop tombstones older than this seq "
        "(omit to keep all tombstones)",
    )
    p.add_argument("--keep-last", type=int, default=2)
    p.add_argument(
        "--build-blooms", action="store_true",
        help="after compaction/expiry, build missing per-dir bloom "
        "sidecars for point-lookup file skipping (incremental)",
    )
    p.add_argument("--orphan-grace-s", type=float, default=3600.0)
    p.add_argument(
        "--auto", action="store_true",
        help="policy-driven maintenance (lake/maintain.py): compact only "
        "buckets whose delta chain exceeds --max-delta-chain, expire past "
        "retention+slack, refresh blooms only where previously built; "
        "--purge-before-seq still applies explicitly afterwards")
    p.add_argument("--max-delta-chain", type=int, default=4)
    p.add_argument(
        "--fsck", choices=["meta", "deep"], default=None,
        help="run the integrity checker after maintenance; 'deep' adds "
        "executor-side footer / bounds / uniqueness proofs; a failed check "
        "makes the job exit nonzero")
    args = p.parse_args()
    if args.sort_by and args.zorder_by:
        p.error("--sort-by and --zorder-by are mutually exclusive")

    spark = get_spark("lake-maintain")

    from omicidx_etl_spark.lake import LakeTable, manifest

    t = LakeTable.load(spark, args.table)
    t0 = time.time()
    sort_by = args.sort_by.split(",") if args.sort_by else None
    zorder_by = args.zorder_by.split(",") if args.zorder_by else None

    nb = t.snapshot()["table"]["n_buckets"]
    dirty_before = sum(1 for n in manifest.delta_chains(t.snapshot()).values() if n)
    group = args.compact_group if args.compact_group > 0 else nb
    auto = None
    if args.auto:
        auto = t.auto_maintain(
            max_delta_chain=args.max_delta_chain,
            compact_group=group,
            keep_last=args.keep_last,
            orphan_grace_s=args.orphan_grace_s,
            sort_by=sort_by,
            zorder_by=zorder_by,
        )
    else:
        for g0 in range(0, nb, group):
            t.compact(
                buckets=list(range(g0, min(g0 + group, nb))),
                sort_by=sort_by,
                zorder_by=zorder_by,
            )
            # free replaced bases before the next slice rewrites more
            t.expire_snapshots(keep_last=1, orphan_grace_s=args.orphan_grace_s)

    purged = None
    if args.purge_before_seq is not None:
        t.purge_tombstones(args.purge_before_seq)
        purged = args.purge_before_seq

    if not args.auto:
        t.expire_snapshots(
            keep_last=args.keep_last, orphan_grace_s=args.orphan_grace_s
        )
    blooms = t.build_blooms() if args.build_blooms else None
    fsck = t.fsck(deep=args.fsck == "deep") if args.fsck else None
    out = {
        # in --auto mode only chains >= the threshold compact; report what
        # the policy actually rewrote, not the raw dirty count
        "compacted_buckets": (
            sum(
                len(a["buckets"])
                for a in auto["actions"]
                if a["action"] == "compact"
            )
            if auto is not None
            else dirty_before
        ),
        "compact_group": group,
        "sort_by": sort_by,
        "zorder_by": zorder_by,
        "purged_before_seq": purged,
        "kept_snapshots": args.keep_last,
        "blooms": blooms,
        "auto": auto,
        "fsck": None if fsck is None else {
            "ok": fsck["ok"], "errors": fsck["errors"],
            "warnings": fsck["warnings"],
            "codes": sorted({f["code"] for f in fsck["findings"]}),
        },
        "rows_after": t.read().count(),
        "sec": round(time.time() - t0, 3),
    }
    print(json.dumps(out))
    sys.stdout.flush()
    if fsck is not None and not fsck["ok"]:
        sys.exit(2)


if __name__ == "__main__":
    main()
