"""CDC replay: ordered, deduplicated, delete-aware application of a
binlog/WAL-style change log onto a LakeTable.

Semantics (transcribed from the reference, re-expressed Spark-first):
- latest event per key wins — the reference's
  ``row_number() OVER (PARTITION BY key ORDER BY recency DESC) … rn=1``
  (``omicidx_etl/sql/010_raw_to_parquet.sql:36-43``);
- deletes are tombstones — ``WHERE delete IS NOT TRUE``
  (``omicidx_etl/sql/010_raw_to_parquet.sql:341``);
- replay is idempotent/resumable — done-marker skip guards
  (``omicidx_etl/sra/catalog.py:291-297``) become the LakeTable's atomic
  per-app batch watermark.

Dedup: ``dedup_latest`` picks one of the two plans in
``operators/cdc_ops.py`` — ``max_by`` (default; the map-side combinable
aggregate, always correct) or ``prefilter`` (narrow winner aggregation +
broadcast join, so kB-scale payloads never shuffle; needs ``seq`` unique
per key within the batch — true for any WAL/binlog feed, where seq is the
log offset — and a winner set that fits a broadcast). A MOR replay with
``max_by`` hands the raw events to ``LakeTable.merge``, which runs the same
aggregate inside its bucket exchange.
"""

from __future__ import annotations

import os
import time
from typing import TYPE_CHECKING, Any

if TYPE_CHECKING:
    from omicidx_etl_spark.progress import LogProgress

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from omicidx_etl_spark.lake.table import _WIDEN_OK, LakeTable
from omicidx_etl_spark.operators import cdc_ops as C

DEDUP_METHODS = ("max_by", "prefilter")


def evolve_to_batch_schema(
    table: LakeTable,
    batch: DataFrame,
    op_col: str = "op",
    seq: str = "seq",
) -> list[str]:
    """Schema-drift handling for a change feed (Delta ``mergeSchema`` /
    Iceberg ``schema.auto-evolve`` analogue): diff the batch's payload
    columns against the table schema and apply the SAFE evolutions through
    the table's schema-update APIs —

    * a column the table lacks → ``add_column`` (nullable; historical rows
      read back NULL);
    * a column whose incoming type is a legal widening of the stored type
      (the Iceberg-compatible ``_WIDEN_OK`` set) → ``widen_column``;
    * incoming NARROWER than stored → no-op (``merge`` casts up);
    * anything else (string→int, narrowing, struct change) → ``ValueError``
      — drift that would lose or reinterpret data is a human decision, the
      poison-batch quarantine path in streaming (reference: the upstream
      schema-change failures the per-day extract loop hits,
      ``omicidx_etl/ebi_biosample/README.md`` §Error Handling).

    Returns the list of applied evolution descriptions (empty = no drift).
    """
    cur = {f.name: f.dataType for f in table.current_schema().fields}
    applied: list[str] = []
    for f in batch.schema.fields:
        if f.name in (op_col, seq) or f.name.startswith("__"):
            continue
        if f.name not in cur:
            table.add_column(f.name, f.dataType)
            applied.append(f"add {f.name} {f.dataType.simpleString()}")
            continue
        have, want = cur[f.name].simpleString(), f.dataType.simpleString()
        if have == want:
            continue
        if (have, want) in _WIDEN_OK:
            table.widen_column(f.name, f.dataType)
            applied.append(f"widen {f.name} {have}->{want}")
        elif (want, have) in _WIDEN_OK:
            pass  # incoming narrower: merge casts it up losslessly
        else:
            raise ValueError(
                f"incompatible schema drift on {f.name!r}: table has {have}, "
                f"batch has {want} — not in the safe evolution set"
            )
    return applied


def _obs_stats(m: dict[str, Any]) -> dict[str, Any]:
    return {
        "event_count": int(m.get("event_count") or 0),
        "seq_lo": int(m["seq_lo"]) if m.get("seq_lo") is not None else None,
        "seq_hi": int(m["seq_hi"]) if m.get("seq_hi") is not None else None,
        "delete_events": int(m.get("delete_events") or 0),
    }


def _obs_stats_safe(obs: Observation) -> dict[str, Any]:
    """Observation fetch that tolerates AQE empty-relation propagation:
    when a batch is empty, AQE can elide the entire map stage (verified on
    Spark 4.1: observe → repartition → write over an empty input never
    runs the observe node), so the metrics row does not exist and the JVM
    side returns null. An elided stage means zero input events — report
    exactly that instead of failing the commit."""
    try:
        return _obs_stats(obs.get)
    except Exception:  # noqa: BLE001 — null metrics row from an elided stage
        return {"event_count": 0, "seq_lo": None, "seq_hi": None, "delete_events": 0}


def dedup_latest(
    changes: DataFrame,
    key: str = "doc_id",
    seq: str = "seq",
    method: str = "max_by",
) -> DataFrame:
    """Collapse a change set to the single latest event per key.

    ``seq`` must be a total order (unique); ties are impossible by contract
    (a WAL LSN). Output columns == input columns. ``method`` is one of
    ``DEDUP_METHODS``; see ``operators/cdc_ops.py`` for the two plans.
    """
    if method == "max_by":
        return C.latest_per_key(changes, [key], seq)
    if method == "prefilter":
        return C.latest_by_winner_join(changes, key, seq)
    raise ValueError(f"unknown dedup method {method!r}; expected one of {DEDUP_METHODS}")


def replay_batch(
    table: LakeTable,
    changes: DataFrame,
    batch_id: int,
    app_id: str = "replay",
    key: str | None = None,
    seq: str = "seq",
    op_col: str = "op",
    delete_value: str = "D",
    dedup_method: str = "max_by",
    lineage: "LineageLog | None" = None,
    mode: str = "cow",
    branch: str | None = None,
    auto_evolve: bool = False,
) -> dict[str, Any]:
    """Apply one micro-batch of change events to the table, exactly once.

    ``auto_evolve=True`` diffs the batch schema against the table first and
    applies safe evolutions (new columns, legal widenings) via
    :func:`evolve_to_batch_schema`; incompatible drift raises before
    anything is staged.

    Returns the committed snapshot dict (or the skipped marker if this
    (app_id, batch_id) is already in the table's transaction watermark).

    ``branch`` stages the batch on a write-audit-publish branch (see
    ``LakeTable.merge``): run validation queries via
    ``table.read(branch=...)``, then ``table.publish(branch)`` — main
    consumers never observe an unaudited batch.
    """
    if dedup_method not in DEDUP_METHODS:
        raise ValueError(
            f"unknown dedup method {dedup_method!r}; expected one of {DEDUP_METHODS}"
        )
    key = key or table.key
    t0 = time.time()
    evolved: list[str] = []
    if auto_evolve:
        evolved = evolve_to_batch_schema(table, changes, op_col=op_col, seq=seq)
    # Stats ride the merge's own scan via Observation — no extra pass.
    obs = Observation(f"replay_{app_id}_{batch_id}")
    obs_cols = (
        F.count(F.lit(1)).alias("event_count"),
        F.min(seq).alias("seq_lo"),
        F.max(seq).alias("seq_hi"),
        F.sum(F.when(F.col(op_col) == delete_value, 1).otherwise(0)).alias("delete_events"),
    )
    if dedup_method == "prefilter":
        # The observation rides the narrow winner scan, which sees every
        # event exactly once; the wide side stays observation-free.
        narrow = changes.select(key, seq, op_col).observe(obs, *obs_cols)
        latest = C.latest_by_winner_join(changes, key, seq, winners_from=narrow)
    elif mode == "mor":
        # the MOR merge keeps the latest row per key inside its bucket
        # exchange: a max_by dedup here would be a second shuffle
        latest = changes.observe(obs, *obs_cols)
    else:
        latest = dedup_latest(changes.observe(obs, *obs_cols), key=key, seq=seq)
    snap = table.merge(
        latest,
        op_col=op_col,
        delete_value=delete_value,
        seq_col=seq,
        app_id=app_id,
        batch_id=batch_id,
        mode=mode,
        branch=branch,
        extra_summary=lambda: (
            dict(_obs_stats_safe(obs), schema_evolved=evolved)
            if evolved
            else _obs_stats_safe(obs)
        ),
    )
    if lineage is not None:
        lineage.record(
            app_id=app_id,
            batch_id=batch_id,
            snapshot=snap,
            duration_s=time.time() - t0,
            spark=table.spark,
        )
    return snap


def _segment_index(log_path: str, seq: str) -> list[tuple[str, int, int]] | None:
    """Per-file (path, seq_lo, seq_hi) for a parquet WAL directory, from the
    file footers — the segment index every binlog reader keeps (Kafka's
    offset index; the reference's dated-file manifest,
    ``omicidx_etl/sra/mirror.py:68-92``). Driver-side footer reads are O(file
    count); at real scale the feed producer writes this manifest alongside
    the segments and this function reads that instead. Returns None when the
    layout isn't a flat local parquet dir (fall back to row-group pruning)."""
    try:
        import pyarrow.parquet as pq

        if not os.path.isdir(log_path):
            return None
        out: list[tuple[str, int, int]] = []
        for name in sorted(os.listdir(log_path)):
            if not name.endswith(".parquet"):
                continue
            full = os.path.join(log_path, name)
            md = pq.ParquetFile(full).metadata
            idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
            if seq not in idx:
                return None
            lo_hi: list[tuple[int, int]] = []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx[seq]).statistics
                if st is None or not st.has_min_max:
                    return None
                lo_hi.append((st.min, st.max))
            out.append((full, min(l for l, _ in lo_hi), max(h for _, h in lo_hi)))
        return out or None
    except Exception:  # pragma: no cover — any footer oddity → safe fallback
        return None


def replay_log(
    spark: SparkSession,
    table: LakeTable,
    log_path: str,
    chunk_events: int = 1_000_000,
    app_id: str = "replay",
    seq: str = "seq",
    dedup_method: str = "max_by",
    lineage: "LineageLog | None" = None,
    max_batches: int | None = None,
    mode: str = "cow",
    compact_every: int | None = None,
    canonicalize_every: int | None = None,
    canonicalize_method: str = "exact",
    canonicalize_content_col: str = "tokens",
    progress: "LogProgress | None" = None,
) -> list[dict[str, Any]]:
    """Batch-replay a parquet change log in ordered seq-range micro-batches.

    Resumable: batch i covers seq range (i*chunk, (i+1)*chunk]; the table's
    per-app watermark skips already-committed batches, and each batch scans
    only the WAL segment files whose seq span intersects its range (segment
    index from the parquet footers; the log is range-partitioned by seq —
    see ``datagen.write_change_log``), so resume does not rescan history
    and per-batch task count is O(batch files), not O(log files).

    ``mode="mor"`` lands each batch as delta files (O(batch) per commit);
    ``compact_every=k`` folds deltas into the base every k batches so
    read-side reconciliation stays bounded — the streaming-upsert pattern
    for the 10^10-event scale target.

    ``canonicalize_every=k`` runs in-flight corpus dedup
    (``cdc.canonicalize``) every k batches as its own idempotent commit
    (batch-id–keyed, so kill/resume never double-deletes). The full pass
    is right for bounded tables; at corpus scale prefer the standalone
    incremental job (``canonicalize_incremental`` + signature index).

    ``progress``: optional :class:`omicidx_etl_spark.progress.LogProgress`
    heartbeat, updated with each batch's applied event count (the
    reference's rate-limited console progress, ``omicidx_etl/log.py:
    187-259``, at batch granularity; durable rates live in lineage).
    """
    segs = _segment_index(log_path, seq)
    if segs is not None:
        # With a segment index the full-directory DataFrame is never
        # scanned — don't build it eagerly: listing + schema-inferring a
        # 100-segment WAL dir measured 1.87 s of driver time (guide §5)
        # while one segment file yields the same schema in ~80 ms. The
        # full-dir frame is only a fallback for a batch whose seq range
        # matches no segment (can't happen with a complete index, kept
        # for safety) — built lazily below.
        hi = max(s[2] for s in segs)
        schema = spark.read.parquet(segs[0][0]).schema
        log = None
    else:
        log = spark.read.parquet(log_path)
        hi = log.select(F.max(seq).alias("hi")).first()["hi"] or 0
        schema = log.schema

    def _full_log() -> DataFrame:
        nonlocal log
        if log is None:
            log = spark.read.schema(schema).parquet(log_path)
        return log

    def _mk_batch(b: int) -> DataFrame:
        """Build batch b's pruned DataFrame. With a segment index this is
        PURE DRIVER WORK: the explicit schema skips the inference job, and
        get_spark's parallelPartitionDiscovery.threshold lists the segment
        files on the driver at any segment count, so no Spark job is
        submitted."""
        lo, up = b * chunk_events, (b + 1) * chunk_events
        if segs is not None:
            paths = [p for p, slo, shi in segs if shi > lo and slo <= up]
            # explicit schema: a bare read triggers per-batch schema
            # inference (driver footer read + a 1-task Spark job)
            src = (
                spark.read.schema(schema).parquet(*paths)
                if paths
                else _full_log()
            )
        else:
            src = log
        return src.filter((F.col(seq) > lo) & (F.col(seq) <= up))

    n_batches = (hi + chunk_events - 1) // chunk_events
    done = table.committed_batch(app_id)
    snaps = []
    start = (done + 1) if done is not None else 0
    # Overlap the NEXT batch's datasource resolution (file listing +
    # relation build, ~0.3 s of serial driver time per batch on a
    # 100-segment log — measured via a DataFrameReader.parquet wrap) with
    # the CURRENT batch's Spark jobs (guide §2.6 overlap, restricted to
    # job-free driver work: the prefetch submits no Spark job and touches
    # no table state, so commit ordering and exactly-once semantics are
    # untouched; py4j is thread-safe with per-thread connections).
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=1) as pool:
        fut = pool.submit(_mk_batch, start) if start < n_batches else None
        for b in range(start, n_batches):
            if max_batches is not None and len(snaps) >= max_batches:
                break
            batch = fut.result()
            fut = (
                pool.submit(_mk_batch, b + 1) if b + 1 < n_batches else None
            )
            snaps.append(
                replay_batch(
                    table, batch, batch_id=b, app_id=app_id, seq=seq,
                    dedup_method=dedup_method, lineage=lineage, mode=mode,
                )
            )
            if progress is not None:
                progress.update(
                    int((snaps[-1].get("summary") or {}).get("event_count") or 0)
                )
            if compact_every and (b + 1) % compact_every == 0:
                table.compact()
            if canonicalize_every and (b + 1) % canonicalize_every == 0:
                from omicidx_etl_spark.cdc.canonicalize import canonicalize

                canonicalize(
                    table, method=canonicalize_method,
                    content_col=canonicalize_content_col,
                    app_id=f"{app_id}__canon", batch_id=b, mode=mode,
                )
    return snaps
