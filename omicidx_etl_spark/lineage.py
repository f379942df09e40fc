"""Per-commit lineage/metrics log — the engine's AssetMetadata analogue.

The reference persists per-asset metadata (row_count, checksum,
upstream_assets, runtime_seconds — ``omicidx_etl/biosample/asset_metadata.py:8-45``)
and done-marker payloads (completed_at, parts_written —
``omicidx_etl/sra/catalog.py:310-318``). Here every commit appends one row to
a parquet ``_lineage`` log next to the table (FIXTURES.md §A4), written
driver-side (one tiny row per commit; no Spark job needed).
"""

from __future__ import annotations

import json
import os
import time
import uuid
from typing import Any

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

from omicidx_etl_spark.lake import manifest as M

LINEAGE_SCHEMA = pa.schema(
    [
        ("app_id", pa.string()),
        ("batch_id", pa.int64()),
        ("snapshot_id", pa.int64()),
        ("operation", pa.string()),
        ("seq_lo", pa.int64()),
        ("seq_hi", pa.int64()),
        ("event_count", pa.int64()),
        ("delete_events", pa.int64()),
        ("rows_written", pa.int64()),
        ("upserted_rows", pa.int64()),
        ("touched_buckets", pa.int64()),
        ("skipped", pa.bool_()),
        ("duration_s", pa.float64()),
        ("events_per_s", pa.float64()),
        ("committed_at", pa.timestamp("us", tz="UTC")),
        ("summary_json", pa.string()),
        ("files_json", pa.string()),
    ]
)


class LineageLog:
    """``checksums=True`` additionally records (path, bytes, md5) for every
    data file the commit wrote (``files_json`` column) — the reference's
    per-asset ``AssetMetadata.checksum`` audit field
    (``omicidx_etl/biosample/asset_metadata.py:31-34``). The hashes are
    computed as a *distributed* Spark job over just the commit's new data
    dir (cost O(batch bytes), spread across executors — never a
    driver-side re-read), so it stays viable at cluster scale; still, it
    re-reads what was just written, so it is opt-in."""

    def __init__(self, root: str, checksums: bool = False):
        self.root = root
        self.dir = os.path.join(root, "_lineage")
        self.checksums = checksums
        os.makedirs(self.dir, exist_ok=True)

    def _file_checksums(self, spark: SparkSession, snap: dict[str, Any]) -> list[dict]:
        """Data dirs NEW in this commit = referenced by the snapshot but not
        by its parent (reference-based, not name-based: stage dir names
        carry per-attempt suffixes and a rebased commit's planned sid)."""
        new_dirs = M.referenced_dirs(snap)
        pid = snap.get("parent_id")
        ppath = M.snapshot_path(os.path.join(self.root, "_meta"), pid) if pid is not None else None
        if ppath and os.path.exists(ppath):
            new_dirs -= M.referenced_dirs(M.load_snapshot(ppath))
        paths = [os.path.join(self.root, d) for d in sorted(new_dirs)]
        paths = [p for p in paths if os.path.isdir(p)]
        if not paths:
            return []
        from pyspark.sql import functions as F

        rows = (
            spark.read.format("binaryFile")
            .option("recursiveFileLookup", "true")
            .load(paths)
            .select(
                "path",
                F.col("length").alias("bytes"),
                F.md5(F.col("content")).alias("md5"),
            )
            .collect()
        )
        out = []
        for r in rows:
            p = r["path"]
            if p.startswith("file:"):
                p = p[len("file:"):]
                while p.startswith("//"):
                    p = p[1:]
            out.append(
                {
                    "path": os.path.relpath(p, self.root),
                    "bytes": r["bytes"],
                    "md5": r["md5"],
                }
            )
        return sorted(out, key=lambda e: e["path"])

    def record(
        self,
        app_id: str,
        batch_id: int,
        snapshot: dict[str, Any],
        duration_s: float,
        spark: SparkSession | None = None,
    ) -> None:
        s = snapshot.get("summary", {})
        ev = s.get("event_count")
        row = {
            "app_id": app_id,
            "batch_id": batch_id,
            "snapshot_id": snapshot.get("snapshot_id"),
            "operation": s.get("operation"),
            "seq_lo": s.get("seq_lo"),
            "seq_hi": s.get("seq_hi"),
            "event_count": ev,
            "delete_events": s.get("delete_events"),
            "rows_written": s.get("rows_written"),
            "upserted_rows": s.get("upserted_rows"),
            "touched_buckets": s.get("touched_buckets"),
            "skipped": bool(s.get("skipped", False)),
            "duration_s": duration_s,
            "events_per_s": (ev / duration_s) if ev and duration_s > 0 else None,
            "committed_at": int(time.time() * 1e6),
            "summary_json": json.dumps(s),
            "files_json": None,
        }
        sid = snapshot.get("snapshot_id")
        if (
            self.checksums
            and spark is not None
            and sid is not None
            and not row["skipped"]
        ):
            row["files_json"] = json.dumps(self._file_checksums(spark, snapshot))
        table = pa.Table.from_pylist([row], schema=LINEAGE_SCHEMA)
        pq.write_table(
            table, os.path.join(self.dir, f"commit-{uuid.uuid4().hex}.parquet")
        )

    def read(self, spark: SparkSession) -> DataFrame:
        # mergeSchema: rows written before the files_json column existed
        # must still union with new ones
        return spark.read.option("mergeSchema", "true").parquet(self.dir)
