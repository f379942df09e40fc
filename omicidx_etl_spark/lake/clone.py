"""Deep table clone: materialize one snapshot of a LakeTable as a brand-new
independent table (Delta's ``CREATE TABLE ... DEEP CLONE``, Iceberg's
snapshot-export shape). The clone shares NOTHING with the source after the
copy completes — source compaction, retention, or deletion cannot break it,
which is exactly the property a shallow (metadata-only) clone lacks: a
shallow clone referencing the source's data dirs dies the moment
``expire_snapshots`` reclaims them, so this engine only offers the deep
form (the reference's consolidation path likewise re-materializes full
parquet outputs per release rather than aliasing: ``omicidx_etl/
build_db.py:40-55``).

What the clone preserves, by design:

- **table identity**: key column, bucket count/spec, ALL schema versions +
  Iceberg-style stable field ids — time-travel-written files re-map at read
  exactly as on the source;
- **manifest**: per-bucket base/delta dirs (same relative paths, so copied
  bytes resolve unchanged) including per-column bounds stats — bounds-pruned
  reads work on the clone without a re-scan;
- **CDC semantics**: ``seq_ceiling`` and the ``txn`` (app_id → batch_id)
  watermarks — an at-most-once producer switching to the clone cannot
  double-apply a batch the source already absorbed;
- **CHECK constraints** — the clone enforces the same write-time contracts.

What it deliberately resets: history (the clone is born at snapshot 0 with
``parent_id: None`` — there is nothing earlier to time-travel to), branches/
tags, lineage, quarantine, and bloom sidecars (derived artifacts;
``build_blooms()`` recreates them from the copied dirs on demand).

Scale posture: the driver touches only the MANIFEST (a dict of dirs, bounded
by bucket count x delta chain length, the same bound every commit already
carries); the bytes move in a Spark job — one task per file-group slice via
``parallelize(pairs).foreachPartition`` — so copy wall-clock is
width-proportional on a real cluster. This is the legitimate RDD escape
hatch: per-partition imperative file I/O with no row semantics.
"""

from __future__ import annotations

import os
import shutil
import time
from typing import Any

from pyspark.sql import SparkSession

from omicidx_etl_spark.lake import manifest as M


def _copy_pairs(pairs) -> None:
    """Executor-side: copy (src, dst) file pairs. Module-level, so Spark
    pickles it BY REFERENCE — workers must be able to import this module
    (ensure_worker_package ships the zip; see session.py)."""
    for src, dst in pairs:
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(src, dst)


def clone_table(
    src,
    dest_root: str,
    at: int | None = None,
    as_of_ts: float | None = None,
    io_parallelism: int | None = None,
):
    """Deep-clone ``src`` (a LakeTable) at a snapshot into ``dest_root``.

    ``at`` pins a snapshot id (main-ancestry semantics, like ``read(as_of=
    ...)``); ``as_of_ts`` resolves a wall-clock instant via the same
    ancestry walk as timestamp time travel. Default: current snapshot.
    Returns the new LakeTable. Refuses to overwrite an existing table.
    """
    from omicidx_etl_spark.lake.table import LakeTable

    if at is not None and as_of_ts is not None:
        raise ValueError("pass at= or as_of_ts=, not both")
    if LakeTable.exists(dest_root):
        raise ValueError(f"destination already a table: {dest_root}")

    if as_of_ts is not None:
        at = src.snapshot_id_as_of(as_of_ts)
    snap = src.snapshot_at(at) if at is not None else src.snapshot()

    rel_dirs = [g["dir"] for _, g, _ in M.snapshot_file_groups(snap)]

    # Driver holds only (src_path, dst_path) pairs — manifest-bounded, the
    # same cardinality every commit's file list already has. Bytes move in
    # executors.
    pairs: list[tuple[str, str]] = []
    for rel in rel_dirs:
        sdir = os.path.join(src.root, rel)
        for name in sorted(os.listdir(sdir)):
            if name.startswith(("_", ".")):
                continue  # _SUCCESS / .crc markers: not data
            pairs.append(
                (os.path.join(sdir, name), os.path.join(dest_root, rel, name))
            )

    os.makedirs(os.path.join(dest_root, "_meta"), exist_ok=True)
    os.makedirs(os.path.join(dest_root, "data"), exist_ok=True)

    if pairs:
        from omicidx_etl_spark.session import ensure_worker_package

        spark: SparkSession = src.spark
        ensure_worker_package(spark)  # _copy_pairs unpickles by module name
        n = io_parallelism or min(
            len(pairs), spark.sparkContext.defaultParallelism
        )
        spark.sparkContext.parallelize(pairs, n).foreachPartition(_copy_pairs)

    new_snap: dict[str, Any] = {
        "snapshot_id": 0,
        "parent_id": None,
        "table": dict(snap["table"]),
        "current_schema_id": snap["current_schema_id"],
        "schemas": dict(snap["schemas"]),
        "buckets": dict(snap["buckets"]),
        "field_ids": {k: dict(v) for k, v in snap["field_ids"].items()},
        "txn": dict(snap.get("txn") or {}),
        "seq_ceiling": snap.get("seq_ceiling", -1),
        "summary": {
            "operation": "clone",
            "source_root": src.root,
            "source_snapshot_id": snap["snapshot_id"],
            "n_files_copied": len(pairs),
        },
        "committed_at": time.time(),
    }
    cons = snap.get("constraints")
    if cons:
        new_snap["constraints"] = dict(cons)

    dst = LakeTable(src.spark, dest_root)
    dst._write_snapshot(new_snap)
    return dst
