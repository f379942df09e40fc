"""Structured Streaming replay: tail the change-log directory as a file
stream and apply each micro-batch to the LakeTable exactly once.

Exactly-once story (replaces the reference's done-markers,
``omicidx_etl/sra/catalog.py:291-320``, and fixes their marker-after-data
race): the streaming checkpoint assigns every micro-batch a stable
``batch_id``; ``foreachBatch`` merges with that id and the LakeTable commit
records it atomically in the snapshot (`txn` watermark). A crash between
merge-commit and checkpoint-commit replays the batch on restart — and the
table skips it as already-committed. Either side losing the race is a no-op.

Late/duplicate events are no-ops too: the merge's latest-per-seq dedup plus
upsert semantics make event application idempotent per key (the watermark
analogue of T3, ``ebi_biosample/extract.py:238-239``).

Rate limiting (the reference's bounded channels, ``geo/extract.py:296-302``)
maps to ``maxFilesPerTrigger``/``maxBytesPerTrigger``.
"""

from __future__ import annotations

import os
import time
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from omicidx_etl_spark.cdc.replay import replay_batch
from omicidx_etl_spark.lake import manifest as M
from omicidx_etl_spark.lake.table import LakeTable, atomic_write_json
from omicidx_etl_spark.lineage import LineageLog


def _quarantine_batch(
    table: LakeTable,
    batch_df: DataFrame,
    batch_id: int,
    app_id: str,
    err: Exception,
    lineage: LineageLog | None,
) -> dict[str, Any]:
    """Land a poison batch under ``<table>/_quarantine/`` and keep going —
    the reference isolates per-entity failures into an errors side-channel
    and continues the run (``omicidx_etl/sra/catalog.py:347-371``); the batch
    analogue parks the failing micro-batch (data when readable, always the
    error record) where an operator can inspect/replay it, instead of
    wedging the stream on one bad batch forever."""
    qdir = os.path.join(table.root, "_quarantine", f"batch-{batch_id:09d}")
    os.makedirs(qdir, exist_ok=True)
    landed = False
    try:
        # Readable-but-unmergeable batches (bad values, semantic failures)
        # keep their data for replay-after-fix. An unreadable batch (corrupt
        # source file) can't be copied — the error record still lands.
        batch_df.write.mode("overwrite").parquet(os.path.join(qdir, "data"))
        landed = True
    except Exception:
        pass
    meta = {
        "app_id": app_id,
        "batch_id": batch_id,
        "error": f"{type(err).__name__}: {err}",
        "data_landed": landed,
    }
    atomic_write_json(os.path.join(qdir, "error.json"), meta)
    if lineage is not None:
        lineage.record(
            app_id, batch_id,
            {"snapshot_id": None, "summary": {"operation": "quarantine", **meta}},
            0.0,
        )
    return {"batch_id": batch_id, "quarantined": True, **meta}


def stream_replay(
    spark: SparkSession,
    table: LakeTable,
    log_path: str,
    checkpoint_dir: str,
    app_id: str = "stream",
    seq: str = "seq",
    op_col: str = "op",
    delete_value: str = "D",
    max_files_per_trigger: int | None = None,
    lineage: LineageLog | None = None,
    timeout_s: float | None = None,
    mode: str = "cow",
    schema: T.StructType | None = None,
    quarantine: bool = True,
    validate: Callable[[DataFrame], None] | None = None,
    compact_deltas_over: int | None = None,
    transform: Callable[[DataFrame], DataFrame] | None = None,
    source_format: str = "parquet",
    auto_evolve: bool = False,
    dedup_within: str | None = None,
    event_ts_col: str = "event_ts",
) -> list[dict[str, Any]]:
    """Run an availableNow streaming replay of the change-log directory.

    Processes all files not yet recorded in the checkpoint, in micro-batches
    (bounded by ``max_files_per_trigger``), then terminates. Restart with
    the same checkpoint_dir to resume; reprocessing after a crash is
    deduplicated by the table's (app_id, batch_id) watermark.

    Failure isolation (T6): with ``quarantine=True`` a batch whose merge
    raises — i.e. Spark's own task retries are already exhausted, so the
    failure is data-shaped, not transient — is parked under
    ``<table>/_quarantine/batch-NNN/`` (parquet data when readable +
    ``error.json``), recorded in lineage as ``operation="quarantine"``, and
    the stream continues; the checkpoint marks the batch consumed so it is
    not retried forever. ``validate`` runs before the merge and may raise to
    route a batch to quarantine (the reference's per-record pydantic
    validation hook). Pass ``schema`` explicitly when the log may contain
    unreadable files (inference would trip on the corrupt footer).

    ``transform`` maps each raw micro-batch to the engine's change shape
    before validation/merge — e.g. ``lambda df: debezium_changes(df,
    row_schema)`` to tail a Debezium envelope feed directly (binlog/WAL
    relay → lake, no intermediate landing; pair with
    ``source_format="text"`` for raw JSON-line envelope files). A transform
    failure is data-shaped by definition and routes the batch to quarantine
    like any other merge error.

    Self-maintaining MOR (``mode="mor"``): ``compact_deltas_over=k`` folds
    deltas into the base whenever any bucket's delta chain exceeds k
    commits, so read-side reconciliation cost stays bounded without a
    caller-side maintenance loop (Iceberg's commit-triggered
    rewrite_data_files policy).

    ``dedup_within``: for at-least-once upstreams (retried fetches,
    crash-relands) drop redelivered copies of the same (doc_id, seq) event
    at the ingest edge via ``dropDuplicatesWithinWatermark`` — state is
    bounded by the horizon, and the merge then never shuffles a duplicate.
    The merge is idempotent to exact redelivery either way (latest-per-key
    picks the same winner), so this changes COST, not state; lineage
    ``event_count`` shows the deduplicated counts.

    Returns the snapshot dicts committed during this run (compactions and
    quarantined batches included, flagged by ``operation``/``quarantined``).
    """
    if schema is None:
        schema = spark.read.format(source_format).load(log_path).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    src = reader.format(source_format).load(log_path)
    if dedup_within is not None:
        if transform is not None:
            # the raw envelope lacks the change shape pre-transform, and
            # transform runs inside foreachBatch where watermark dedup
            # cannot apply — dedup the landed feed separately instead
            raise ValueError("dedup_within requires a change-shaped source "
                             "(incompatible with transform=)")
        from omicidx_etl_spark.streaming.dedup import dedup_redelivered

        src = dedup_redelivered(
            src, keys=(table.key, seq), ts_col=event_ts_col, within=dedup_within
        )

    committed: list[dict[str, Any]] = []

    def apply_batch(batch_df, batch_id: int) -> None:
        try:
            if transform is not None:
                batch_df = transform(batch_df)
            if validate is not None:
                validate(batch_df)
            snap = replay_batch(
                table,
                batch_df,
                batch_id=batch_id,
                app_id=app_id,
                seq=seq,
                op_col=op_col,
                delete_value=delete_value,
                lineage=lineage,
                mode=mode,
                auto_evolve=auto_evolve,
            )
        except Exception as e:
            if not quarantine:
                raise
            committed.append(
                _quarantine_batch(table, batch_df, batch_id, app_id, e, lineage)
            )
            return
        committed.append(snap)
        if compact_deltas_over is not None and M.max_delta_depth(table.snapshot()) > compact_deltas_over:
            t0 = time.time()
            csnap = table.compact()
            if lineage is not None:
                lineage.record(app_id, batch_id, csnap, time.time() - t0,
                               spark=table.spark)
            committed.append(csnap)

    q = (
        src.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout=timeout_s)
    return committed


def replay_quarantined(
    table: LakeTable,
    app_id: str,
    batch_ids: "list[int] | None" = None,
    transform: "Callable[[DataFrame], DataFrame] | None" = None,
    **replay_kw: Any,
) -> "list[dict[str, Any]]":
    """Replay parked quarantine batches after the operator fixes the data
    — the second half of the T6 contract (quarantine keeps the stream
    alive; THIS puts the repaired data back, exactly once).

    For each ``<table>/_quarantine/batch-*/`` with landed data (newest
    ops first would be wrong — replay in batch order) and no
    ``_RESOLVED`` marker: read the parked rows, apply ``transform`` (the
    fix — e.g. clamp a value, drop a poison key; identity when the root
    cause was external), and re-merge under the DERIVED
    ``(<app_id>:quarantine, batch_id)`` watermark. The original app_id
    cannot be reused: the transaction watermark is a HIGH-water mark, so
    once any later stream batch committed, a replay under the original id
    would silently skip (a quarantined batch never half-commits — merge
    is atomic — so there is no double-apply risk; per-row seq versioning
    additionally makes the late replay order-independent). Batches replay
    in ascending id order, so the derived watermark keeps reruns of this
    function exactly-once even without the marker. Success writes
    ``_RESOLVED``
    into the quarantine dir (the parked data stays for audit; sweep the
    dir on your retention cadence). A batch that fails AGAIN is left
    unresolved and reported with the error.

    Returns one record per visited batch:
    ``{"batch_id", "replayed", "skipped"|"error"}``."""
    qroot = os.path.join(table.root, "_quarantine")
    results: list[dict[str, Any]] = []
    if not os.path.isdir(qroot):
        return results
    for name in sorted(os.listdir(qroot)):
        if not name.startswith("batch-"):
            continue
        bid = int(name.split("-")[1])
        if batch_ids is not None and bid not in batch_ids:
            continue
        qdir = os.path.join(qroot, name)
        if os.path.exists(os.path.join(qdir, "_RESOLVED")):
            continue
        data = os.path.join(qdir, "data")
        if not os.path.isdir(data):
            results.append(
                {"batch_id": bid, "replayed": False,
                 "error": "no data landed (unreadable source batch)"}
            )
            continue
        df = table.spark.read.parquet(data)
        if transform is not None:
            df = transform(df)
        try:
            snap = replay_batch(table, df, batch_id=bid,
                                app_id=f"{app_id}:quarantine", **replay_kw)
        except Exception as e:  # still broken: leave unresolved
            results.append(
                {"batch_id": bid, "replayed": False,
                 "error": f"{type(e).__name__}: {e}"}
            )
            continue
        atomic_write_json(
            os.path.join(qdir, "_RESOLVED"), {"app_id": app_id, "batch_id": bid}
        )
        results.append(
            {
                "batch_id": bid,
                "replayed": True,
                "skipped": bool((snap.get("summary") or {}).get("skipped")),
            }
        )
    return results
