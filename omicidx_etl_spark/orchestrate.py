"""Multi-entity replay orchestration with per-entity failure isolation.

The reference's catalog driver loops all mirror entities, keeps going when
one fails, and raises a summary error at the end so a single poisoned
entity never blocks the rest of the batch
(``omicidx_etl/sra/catalog.py:322-371``). This is the Spark-native
analogue: each entity is an independent change-log → LakeTable replay;
entities run sequentially ON PURPOSE — one replay already saturates the
cluster (every stage fans out to all executors), so inter-entity
parallelism would only make two jobs fight for the same cores while
halving each one's memory headroom. Failure isolation is per entity
(and, within a streaming entity, per batch via T6 quarantine).

An entity failure is recorded in that entity's own ``_lineage`` log
(``operation="entity_failure"``) so the audit trail lives next to the
table, mirroring the reference's per-entity error logging before the
raise-at-end.
"""

from __future__ import annotations

import time
import traceback
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from omicidx_etl_spark.lake.table import LakeTable
from omicidx_etl_spark.lineage import LineageLog


@dataclass
class EntitySpec:
    """One entity table's replay configuration (the engine analogue of a
    mirror entry: entity name + source feed + destination —
    ``omicidx_etl/sra/models.py`` SRAMirrorEntry)."""

    name: str
    log_path: str
    table_root: str
    key: str = "doc_id"
    n_buckets: int = 16
    schema: T.StructType | None = None  # inferred from the log if None
    mode: str = "mor"
    chunk_events: int = 1_000_000
    streaming: bool = False
    checkpoint_dir: str | None = None
    compact_every: int | None = None
    options: dict[str, Any] = field(default_factory=dict)


class EntityBatchError(RuntimeError):
    """Raised after ALL entities ran when at least one failed; carries the
    full summary (reference: the raise-at-end RuntimeError listing failed
    entities, ``catalog.py:363-371``)."""

    def __init__(self, summary: dict[str, Any]):
        failed = [f["entity"] for f in summary["failures"]]
        super().__init__(
            f"processed {summary['total']} entities, "
            f"{len(failed)} failed: {', '.join(failed)}"
        )
        self.summary = summary


def _ensure_table(spark: SparkSession, spec: EntitySpec) -> LakeTable:
    if LakeTable.exists(spec.table_root):
        return LakeTable.load(spark, spec.table_root)
    schema = spec.schema
    if schema is None:
        log_schema = spark.read.parquet(spec.log_path).schema
        drop = {"seq", "op", "event_ts"}
        schema = T.StructType([f for f in log_schema.fields if f.name not in drop])
    return LakeTable.create(
        spark, spec.table_root, schema, key=spec.key, n_buckets=spec.n_buckets
    )


def process_one(spark: SparkSession, spec: EntitySpec) -> dict[str, Any]:
    """Replay one entity's change log into its table; returns stats.
    Raises on failure — callers wanting isolation use process_entities."""
    table = _ensure_table(spark, spec)
    lineage = LineageLog(spec.table_root)
    t0 = time.time()
    if spec.streaming:
        from omicidx_etl_spark.streaming.replay import stream_replay

        snaps = stream_replay(
            spark, table, spec.log_path,
            spec.checkpoint_dir or spec.table_root + "_ckpt",
            app_id=spec.name, mode=spec.mode, lineage=lineage, **spec.options,
        )
    else:
        from omicidx_etl_spark.cdc.replay import replay_log

        snaps = replay_log(
            spark, table, spec.log_path, chunk_events=spec.chunk_events,
            app_id=spec.name, mode=spec.mode, lineage=lineage,
            compact_every=spec.compact_every, **spec.options,
        )
    events = sum((s.get("summary", {}).get("event_count") or 0) for s in snaps)
    return {
        "entity": spec.name,
        "batches": len(snaps),
        "events": events,
        "sec": round(time.time() - t0, 3),
        "final_snapshot": table.snapshot()["snapshot_id"],
    }


def process_entities(
    spark: SparkSession,
    specs: list[EntitySpec],
    raise_on_failure: bool = True,
    on_progress: Callable[[dict[str, Any]], None] | None = None,
) -> dict[str, Any]:
    """Replay every entity, isolating failures: an entity whose replay
    raises is recorded (summary + its table's lineage) and the loop
    continues with the remaining entities; when any failed, an
    EntityBatchError carrying the summary is raised at the end (set
    ``raise_on_failure=False`` to get the summary back instead).
    """
    results: list[dict[str, Any]] = []
    failures: list[dict[str, Any]] = []
    for spec in specs:
        try:
            res = process_one(spark, spec)
            results.append(res)
        except Exception as e:  # noqa: BLE001 — isolation is the contract
            fail = {
                "entity": spec.name,
                "error": f"{type(e).__name__}: {e}",
                "traceback": traceback.format_exc(),
            }
            failures.append(fail)
            try:
                LineageLog(spec.table_root).record(
                    spec.name,
                    -1,
                    {
                        "snapshot_id": None,
                        "summary": {
                            "operation": "entity_failure",
                            "error": fail["error"],
                        },
                    },
                    0.0,
                )
            except OSError:
                pass  # lineage dir unwritable: the summary still records it
            res = fail
        if on_progress is not None:
            on_progress(res)
    summary = {
        "total": len(specs),
        "succeeded": len(results),
        "failed": len(failures),
        "results": results,
        "failures": failures,
    }
    if failures and raise_on_failure:
        raise EntityBatchError(summary)
    return summary
