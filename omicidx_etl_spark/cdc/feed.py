"""Apply an exported CDC feed (``jobs/export_changes_job.py`` drops) to a
lake table — the inbound half of file-based cross-system replication:
two clusters that share no storage exchange changelogs as NDJSON.gz
interval drops (export on one side, ``apply_feed`` on the other), each
drop applied exactly once.

Contract consumed: ``<feed>/interval-<from>-<to>/`` dirs with a
``_DONE`` marker (dirs without one are in-flight exports — skipped,
never half-read), rows carrying ``_change_type`` ∈ {upsert, delete} and
``_seq`` (the SOURCE's per-key version). Applying re-uses the versioned
``merge``: each drop commits under ``(app_id=feed:<name>, batch_id=
to_sid)``, so re-running over the whole feed dir skips already-applied
drops wholesale, and out-of-order / overlapping drops converge via
per-row seq no-ops — the same exactly-once argument as
``cdc.replicate`` (tests/test_subscribe.py), transported over files.
"""

from __future__ import annotations

import os
import re
from typing import Any

from pyspark.sql import functions as F
from pyspark.sql import types as T

from omicidx_etl_spark.lake import manifest as M
from omicidx_etl_spark.lake.table import LakeTable

_DIR_RE = re.compile(r"^interval-(begin|\d+)-(\d+)$")


def list_drops(feed_dir: str) -> "list[tuple[int, str]]":
    """Completed (``_DONE``-marked) interval drops, ordered by to_sid."""
    return [(to_sid, path) for to_sid, _from, path in list_drops_full(feed_dir)]


def list_drops_full(feed_dir: str) -> "list[tuple[int, int | None, str]]":
    """Completed drops as (to_sid, from_sid, path); from_sid is None for a
    full-state bootstrap drop (``interval-begin-<sid>``)."""
    out: list[tuple[int, int | None, str]] = []
    if not os.path.isdir(feed_dir):
        return out
    for name in os.listdir(feed_dir):
        m = _DIR_RE.match(name)
        path = os.path.join(feed_dir, name)
        if m and os.path.exists(os.path.join(path, "_DONE")):
            frm = None if m.group(1) == "begin" else int(m.group(1))
            out.append((int(m.group(2)), frm, path))
    # bootstrap (from_sid None) sorts before an incremental drop with the
    # same to_sid: it is self-contained, so applying it first lets the
    # overlapping incremental skip under the watermark instead of tripping
    # the contiguity guard
    return sorted(out, key=lambda t: (t[0], t[1] is not None, t[1] or -1))


def apply_feed(
    table: LakeTable,
    feed_dir: str,
    consumer_id: str = "import",
    mode: str = "mor",
) -> "list[dict[str, Any]]":
    """Apply every completed drop not yet applied; returns one record per
    drop: {"to_sid", "dir", "applied"(False = watermark skip)}."""
    results: list[dict[str, Any]] = []
    app_id = f"feed:{consumer_id}"
    # explicit read schema (table payload + feed columns): inference on a
    # deletes-only drop would type the all-null payload columns as string
    # and the merge's cast to array/struct types would fail; `_before`
    # (pre-image exports) is simply not projected
    snap = table.snapshot()
    read_schema = T.StructType(
        list(table.current_schema(snap).fields)
        + [
            T.StructField("_change_type", T.StringType()),
            T.StructField("_seq", T.LongType()),
        ]
    )
    for to_sid, from_sid, path in list_drops_full(feed_dir):
        # Contiguity guard: the txn watermark is a HIGH-WATER mark, so a
        # drop whose to_sid is below it would be skipped wholesale even if
        # its interval was never applied (e.g. a misordered file transfer
        # ships interval-5-8 before interval-begin-5). Refuse to create such
        # a hole: an incremental drop may only apply when its from_sid is
        # covered by what this consumer has already applied; a bootstrap
        # drop (from_sid None, or from_sid 0 = the empty creation
        # snapshot) is self-contained and always safe.
        last = table.committed_batch(app_id)
        if last is not None and to_sid <= last:
            results.append({"to_sid": to_sid, "dir": path, "applied": False})
            continue
        if from_sid is not None and from_sid > 0 and (
            last is None or from_sid > last
        ):
            raise ValueError(
                f"feed gap: drop {os.path.basename(path)} starts at sid "
                f"{from_sid} but consumer {app_id!r} has applied "
                f"{'nothing' if last is None else f'through sid {last}'}; "
                "apply the missing drop(s) first (refusing to skip an "
                "interval forever)"
            )
        df = table.spark.read.schema(read_schema).json(path)
        batch = df.select(
            F.when(F.col("_change_type") == "delete", F.lit("D"))
            .otherwise(F.lit("U"))
            .alias("op"),
            F.col("_seq").cast("long").alias("seq"),
            *[
                c
                for c in df.columns
                if c not in ("_change_type", "_seq", "_before")
            ],
        )
        is_bootstrap = from_sid is None or from_sid == 0
        # Manifest-only check (no scan) for "could this table hold rows": a
        # freshly created table references no dir, so the common
        # bootstrap-into-empty apply skips the snapshot-replace anti-join.
        if is_bootstrap and M.referenced_dirs(table.snapshot()):
            # Snapshot-REPLACE semantics for a bootstrap landing on a
            # consumer that already holds state (ADVICE r5): a full-state
            # drop applied as upsert-only merge cannot remove keys deleted
            # upstream between this consumer's watermark and the bootstrap
            # sid — ghost rows would survive silently. Tombstone every
            # live consumer key ABSENT from the bootstrap, folded into the
            # SAME merge commit (one (app_id, to_sid) watermark entry, so
            # exactly-once is unchanged). Each tombstone carries
            # seq = stored __seq + 1: it beats the stored row, and any
            # legitimate later re-insert still wins, because a re-insert's
            # source seq exceeds the upstream delete's seq, which exceeds
            # everything this consumer ever stored for the key
            # (s > d > c ⇒ s ≥ c + 2 > c + 1).
            key = table.key
            stale = (
                table.read(include_system=True)
                .select(F.col(key), F.col("__seq"))
                .join(batch.select(key).distinct(), key, "left_anti")
                .select(
                    F.lit("D").alias("op"),
                    (F.col("__seq") + 1).cast("long").alias("seq"),
                    F.col(key),
                )
            )
            batch = batch.unionByName(stale, allowMissingColumns=True)
        commit = table.merge(batch, app_id=app_id, batch_id=to_sid, mode=mode)
        summ = commit.get("summary") or {}
        results.append(
            {
                "to_sid": to_sid,
                "dir": path,
                "applied": not summ.get("skipped"),
            }
        )
    return results
