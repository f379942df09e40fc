"""Policy-driven automatic maintenance: inspect the current snapshot's
METADATA (never the data) and run only the maintenance that metadata says
is due — the Iceberg/Delta "auto-optimize" shape an operator crons instead
of hand-deciding when to compact.

Decisions and their triggers (all manifest-bounded driver-side reads):

- **compact**: a bucket's MOR delta chain length ≥ ``max_delta_chain``
  (each delta adds a per-read reconciliation input; chains are THE MOR
  read-cost knob). Due buckets rewrite in ``compact_group``-sized slices
  with per-slice snapshot expiry — the 10^8-replay lesson
  (``scripts/mega_replay.py``): a whole-table rewrite stages the entire
  table's shuffle at once and OOMs the scratch volume.
- **expire**: more than ``keep_last + expire_slack`` snapshots on main's
  ancestry (slack avoids churning a commit-per-expire loop).
- **blooms**: sidecars exist (the operator opted into the index) and the
  live manifest has ≥ ``bloom_backlog`` un-covered dirs — rebuild brings
  the index current and prunes dead sidecars.

Deliberately NOT automated: ``purge_tombstones`` — its ``before_seq``
horizon interacts with changelog subscribers (a purge inside an un-acked
interval makes ``changes()`` lossy, which ``replicate`` guards by raising)
and the table does not know its consumers' offsets; tombstone reclaim
stays an explicit operator action (``maintain_job --purge-before-seq``).

Every action taken is returned (and available for the CLI's JSON line);
a no-op run returns ``{"actions": []}`` without committing anything.
Reference cadence: the consolidation loop `omicidx_etl/build_db.py:40-55`
re-materializes on a fixed schedule whether needed or not; this is the
trigger-when-due form.
"""

from __future__ import annotations

import os
from typing import Any

from omicidx_etl_spark.lake import manifest as M
from omicidx_etl_spark.lake.bloom import BLOOM_SUBDIR, _bloom_path


def auto_maintain(
    table,
    max_delta_chain: int = 4,
    compact_group: int = 8,
    keep_last: int = 2,
    expire_slack: int = 2,
    orphan_grace_s: float = 3600.0,
    bloom_backlog: int = 1,
    sort_by: "list[str] | None" = None,
    zorder_by: "list[str] | None" = None,
) -> dict[str, Any]:
    """Run due maintenance on ``table``; returns {"actions": [...], ...}."""
    actions: list[dict[str, Any]] = []
    snap = table.snapshot()

    # ---- compact buckets whose delta chain is too long, in slices
    due = sorted(b for b, n in M.delta_chains(snap).items() if n >= max_delta_chain)
    for i in range(0, len(due), compact_group):
        chunk = due[i : i + compact_group]
        table.compact(buckets=chunk, sort_by=sort_by, zorder_by=zorder_by)
        # per-slice expiry frees each slice's replaced bases before the
        # next slice stages more (scratch stays flat — mega-replay lesson)
        # — at the POLICY's retention, never tighter: truncating history
        # to 1 here would break read(as_of=)/clone(at=) of snapshots the
        # operator asked to keep.
        table.expire_snapshots(keep_last=keep_last, orphan_grace_s=orphan_grace_s)
        actions.append({"action": "compact", "buckets": chunk})

    # ---- expire when main's ancestry outgrew retention (with slack)
    chain = 0
    cur: "dict | None" = table.snapshot()
    while cur is not None:
        chain += 1
        pid = cur.get("parent_id")
        cur = None
        if pid is not None:
            try:
                cur = table.snapshot_at(pid)
            except FileNotFoundError:
                pass
    if chain > keep_last + expire_slack:
        deleted = table.expire_snapshots(
            keep_last=keep_last, orphan_grace_s=orphan_grace_s
        )
        actions.append(
            {"action": "expire", "kept": keep_last, "deleted_dirs": len(deleted)}
        )

    # ---- refresh blooms only if the operator built them before AND the
    # live manifest has uncovered dirs (a table without the index stays
    # index-free; auto_maintain never decides to CREATE one)
    bdir = os.path.join(table.root, BLOOM_SUBDIR)
    if os.path.isdir(bdir) and os.listdir(bdir):
        uncovered = sum(
            not os.path.exists(_bloom_path(table.root, ent["dir"]))
            for _, ent, _ in M.snapshot_file_groups(table.snapshot())
        )
        if uncovered >= bloom_backlog:
            out = table.build_blooms()
            actions.append({"action": "blooms", **out})

    return {"actions": actions, "n_actions": len(actions)}
