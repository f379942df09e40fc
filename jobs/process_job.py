#!/usr/bin/env python
"""spark-submit entry point: multi-entity CDC replay with failure isolation.

The ``oidx process``-style driver (reference CLI: ``omicidx_etl/cli.py`` →
``SRACatalog.process``): every entity in the manifest is replayed into its
own LakeTable; a failing entity is logged and skipped, and the job exits
nonzero at the end when any failed.

  spark-submit --py-files omicidx_etl_spark.zip jobs/process_job.py \\
      --manifest entities.json [--streaming]

Manifest: JSON list of {"name", "log", "table"} objects, each accepting the
optional keys {"key", "n_buckets", "mode", "chunk", "checkpoint"}. Every
entity keeps the latest event per key (``cdc/replay.py``).

Emits one JSON summary line (per-entity stats + failures) on stdout.
"""

from __future__ import annotations

import argparse
import json
import sys

from omicidx_etl_spark.session import get_spark


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--manifest", required=True)
    p.add_argument("--streaming", action="store_true")
    args = p.parse_args()

    with open(args.manifest) as f:
        entries = json.load(f)

    spark = get_spark("cdc-process")

    from omicidx_etl_spark.orchestrate import EntitySpec, process_entities

    specs = [
        EntitySpec(
            name=e["name"],
            log_path=e["log"],
            table_root=e["table"],
            key=e.get("key", "doc_id"),
            n_buckets=e.get("n_buckets", 16),
            mode=e.get("mode", "mor"),
            chunk_events=e.get("chunk", 1_000_000),
            streaming=args.streaming,
            checkpoint_dir=e.get("checkpoint"),
        )
        for e in entries
    ]
    summary = process_entities(
        spark, specs, raise_on_failure=False,
        on_progress=lambda r: print(json.dumps(r), file=sys.stderr),
    )
    print(json.dumps(summary))
    spark.stop()
    return 1 if summary["failed"] else 0


if __name__ == "__main__":
    raise SystemExit(main())
