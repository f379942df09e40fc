"""LakeTable — a minimal snapshot/manifest table format over key-bucketed
parquet, providing the Iceberg capabilities the engine needs (the Iceberg
runtime jar is unavailable offline; this keeps the identical semantics and a
swap-compatible API):

- **Atomic commits**: immutable data files + snapshot JSON + an atomically
  replaced pointer file. Readers resolve the pointer → snapshot → exact file
  list, so reads are snapshot-isolated and a crashed writer leaves only
  unreferenced orphan files (never a partially-visible commit).
- **Idempotent batch guard** (exactly-once sink): each commit may carry
  ``(app_id, batch_id)``; the snapshot stores the high-water batch id per
  app. Re-merging an already-committed micro-batch is a no-op — the Spark
  analogue of the reference's done-marker skip guard
  (``omicidx_etl/sra/catalog.py:291-297``) but atomic *with* the data,
  fixing the reference's marker-after-data race (``catalog.py:309-320``).
- **Key bucketing + pruning**: rows hash to ``pmod(xxhash64(key), n_buckets)``;
  each bucket is rewritten copy-on-write as a whole. A merge touching k
  buckets reads and rewrites only those buckets — at 100 TB with ~1 GB
  buckets this bounds both the scan and the write amplification, and the
  merge join is per-bucket co-partitioned.
- **Two merge strategies** (Iceberg's copy-on-write vs merge-on-read):
  ``merge(mode="cow")`` joins changes against the base and rewrites touched
  buckets — cheapest reads, write cost ∝ table size touched.
  ``merge(mode="mor")`` appends the (deduplicated) changes as bucketed
  *delta* files and commits — write cost ∝ batch size only, the sustained-
  upsert-throughput path for the 10^10-event north star; reads reconcile
  base+deltas with a per-bucket latest-``__seq``-wins aggregation, and
  ``compact()`` folds deltas back into the base (Iceberg
  ``rewrite_data_files``).
- **Schema evolution**: add-column and widen-type update the current schema
  without rewriting data; every data dir records the schema id it was
  written under, and reads cast/align each schema generation to the current
  schema (Iceberg UpdateSchema semantics).
- **Branches (write-audit-publish)**: ``merge(branch="audit")`` commits
  snapshots onto a named ref while main's pointer is untouched;
  ``read(branch=...)`` audits them with full query semantics;
  ``publish("audit")`` fast-forwards main iff it is still an ancestor of
  the branch head (Iceberg ``wap.branch`` + ``fast_forward``). Publishing
  is O(1) metadata; an abandoned branch costs one ``drop_branch`` and its
  files age out via ``expire_snapshots``.
- **Retention**: ``expire_snapshots`` drops old snapshot JSONs and deletes
  data dirs no retained snapshot references — the reference's two-pass
  superseded-batch cleanup (``omicidx_etl/sra/catalog.py:212-275``) done
  safely from the manifest instead of filesystem globs.

**Optimistic concurrency** (Iceberg commit protocol): writers stage data
files without coordination, then validate-and-swap under a host-local
commit lock (the single-node stand-in for a catalog CAS). Commits that
commute are rebased automatically — merge-on-read delta appends commute
with everything, bucket rewrites commute when disjoint — and anything else
raises :class:`CommitConflict` for the caller to retry. A losing writer's
staged files become unreferenced orphans, never a partially-visible commit.
(The reference is a single daily cron writer with a marker-file race;
see ``omicidx_etl/sra/catalog.py:309-320``.)
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import time
import uuid
from collections.abc import Callable
from typing import Any

try:
    import fcntl
except ImportError:  # non-POSIX: commits fall back to last-writer-wins
    fcntl = None

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from omicidx_etl_spark.lake.hashing import (
    KEY_TYPES,
    _murmur3_int32,
    bucket_expr,
    bucket_of,
)
from omicidx_etl_spark.operators import cdc_ops as C

BUCKET_COL = "__bucket"
SEQ_COL = "__seq"  # per-row version (WAL LSN of the winning event)
DELETED_COL = "__deleted"  # persisted tombstone flag (merge-on-read delete)
PART_COL = "__p"  # write-task slot of a bucket (_bucket_exchange), never stored

# Codec for merge-on-read DELTA files. Deltas are the write-hot, short-lived
# tier (every read reconciles them, compaction folds them away), so decode
# speed beats ratio: measured on the bench's kB-scale token-array payloads,
# zstd read-back is 4x slower than snappy (3.4 s vs 0.9 s per 930 MB) at
# IDENTICAL file size (random int arrays don't compress), and write cost is
# codec-neutral (parquet encoding dominates). Compacted bases keep the
# session codec (zstd) — long-lived, read-optimized storage where the ratio
# pays off on compressible corpora. Same tiering as Iceberg's
# write.delete.* vs write.* codec split.
DELTA_CODEC = "snappy"

# Broadcast gate for the MOR read's winner-prefilter reconciliation (see
# read/_reconcile_strategy): total dirty rows above this fall back to the
# shuffled max_by aggregation. 2M keys ≈ tens of MB broadcast — safe on any
# reasonably-sized driver.
PREFILTER_READ_ROWS = 2_000_000

# Allowed no-rewrite type widenings (Iceberg-compatible set),
# keyed by DataType.simpleString().
_WIDEN_OK = {
    ("int", "bigint"),
    ("int", "double"),
    ("float", "double"),
    ("bigint", "double"),
}


_BUCKET_REMAP_CACHE: dict[int, list[int]] = {}


def _bucket_remap(n: int) -> list[int]:
    """Remap values ``v[0..n-1]`` such that Spark's shuffle-partition
    assignment ``pmod(murmur3(v[j]), n)`` is pairwise DISTINCT — i.e.
    repartitioning on ``v[j]`` sends each j to its OWN shuffle partition.

    Why: ``repartition(n, col)`` hash-partitions, and hashing n distinct
    values into n partitions leaves ~n/e partitions EMPTY while some tasks
    carry 2-3 groups (balls-in-bins; guide §2.5 "synthetic partitioning
    keys with too few distinct values"). Measured on the MOR delta write
    (32 buckets → 32 partitions): only 18 distinct partitions, max load 3,
    write-stage wall ≈ 3× the median task.

    Greedy probe: try v = 0, 1, 2, … keeping the first value that lands in
    a not-yet-used partition; expected O(n log n) probes, driver-side,
    cached per n."""
    cached = _BUCKET_REMAP_CACHE.get(n)
    if cached is None:
        used: set[int] = set()
        vals: list[int] = []
        probe = 0
        while len(vals) < n:
            p = _murmur3_int32(probe) % n  # python % == pmod (non-negative)
            if p not in used:
                used.add(p)
                vals.append(probe)
            probe += 1
        cached = _BUCKET_REMAP_CACHE[n] = vals
    return cached


def _bucket_partition_col(idx_col, n: int, p: int, used: "list[int]"):
    """INT column that, hash-partitioned into ``p`` partitions, places the
    values of ``idx_col`` (∈ 0..n-1) round-robin: the i-th value of
    ``used`` (the values that carry rows) goes to partition slot i mod p.
    Every value stays whole in one partition, no partition is empty, and
    none holds more than ⌈len(used)/p⌉ values; at p == n it is one value
    per partition. The literal array is constant-folded by Catalyst; per-row cost is one O(1)
    ``element_at``."""
    vals = _bucket_remap(p)
    slot = [vals[0]] * n
    for i, v in enumerate(used):
        slot[v] = vals[i % p]
    arr = F.array(*[F.lit(v) for v in slot])
    return F.element_at(arr, idx_col.cast("int") + F.lit(1))


class CommitConflict(RuntimeError):
    """A concurrent commit landed between this operation's snapshot read and
    its commit point, and the operation cannot be rebased automatically
    (it rewrote buckets the other commit also changed, or it replaces
    global state — schema evolution, overwrite, purge). Retry the whole
    operation against the new current snapshot."""


def atomic_write_json(path: str, obj: Any) -> None:
    """Crash-safe JSON write: dump to a uniquely-named temp sibling, then
    ``os.replace`` — a reader never sees a partial file, and a crash
    mid-write leaves the previous version intact. The ONE implementation
    of this idiom (snapshots/refs/tags here, consumer offsets in
    cdc/subscribe, bloom sidecars in lake/bloom) so a durability change
    (e.g. fsync-before-rename on a real deployment) lands once."""
    tmp = path + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


class ConstraintViolation(RuntimeError):
    """An incoming batch carries rows that fail a table CHECK constraint
    (``add_constraint``) under ``on_violation='fail'``. Nothing was
    committed — constraints are validated BEFORE staging, so the table
    is unchanged. The message names each violated constraint and its
    violating-row count."""


@contextlib.contextmanager
def _commit_lock(meta_dir: str):
    """Serialize the commit critical section (validate parent → write
    snapshot → swap pointer) across processes and threads on this host via
    ``flock``. This is the single-node stand-in for Iceberg's atomic
    catalog swap (HMS lock / REST catalog CAS); on a multi-node deployment
    the pointer lives in a catalog service and this lock is its CAS. Data
    files are written OUTSIDE the lock — only O(metadata) work happens
    under it, so writers contend for milliseconds per commit."""
    if fcntl is None:
        yield
        return
    fd = os.open(os.path.join(meta_dir, "commit.lock"), os.O_CREAT | os.O_RDWR)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX)
        yield
    finally:
        fcntl.flock(fd, fcntl.LOCK_UN)
        os.close(fd)


class LakeTable:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self._snap: dict[str, Any] | None = None

    # ------------------------------------------------------------------ paths
    @property
    def _meta_dir(self) -> str:
        return os.path.join(self.root, "_meta")

    @property
    def _data_dir(self) -> str:
        return os.path.join(self.root, "data")

    def _pointer_path(self) -> str:
        return os.path.join(self._meta_dir, "_current")

    def _snap_path(self, sid: int) -> str:
        return os.path.join(self._meta_dir, f"snapshot-{sid:09d}.json")

    def _refs_path(self) -> str:
        return os.path.join(self._meta_dir, "refs.json")

    def _tags_path(self) -> str:
        return os.path.join(self._meta_dir, "tags.json")

    def _read_tags(self) -> dict[str, int]:
        if not os.path.exists(self._tags_path()):
            return {}
        with open(self._tags_path()) as f:
            return {k: int(v) for k, v in json.load(f).items()}

    def _write_tags(self, tags: dict[str, int]) -> None:
        atomic_write_json(self._tags_path(), tags)

    def _read_refs(self) -> dict[str, int]:
        if not os.path.exists(self._refs_path()):
            return {}
        with open(self._refs_path()) as f:
            return {k: int(v) for k, v in json.load(f).items()}

    def _write_refs(self, refs: dict[str, int]) -> None:
        atomic_write_json(self._refs_path(), refs)

    def _next_sid(self) -> int:
        """Next globally-unique snapshot id. With branches the snapshot graph
        is a DAG, so parent+1 can collide across forks — ids are allocated
        from the max committed id, under the commit lock."""
        best = -1
        for name in os.listdir(self._meta_dir):
            if name.startswith("snapshot-") and name.endswith(".json"):
                best = max(best, int(name[len("snapshot-"):-len(".json")]))
        return best + 1

    # ------------------------------------------------------------ create/load
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        schema: T.StructType,
        key: str,
        n_buckets: int = 16,
    ) -> "LakeTable":
        if key not in schema.fieldNames():
            raise ValueError(f"key column {key!r} not in schema")
        key_type = schema[key].dataType.simpleString()
        if key_type not in KEY_TYPES:
            # lookups and bloom probes hash keys on the driver (lake.hashing)
            raise ValueError(
                f"key column {key!r} has type {key_type}; "
                f"supported key types: {', '.join(KEY_TYPES)}"
            )
        os.makedirs(os.path.join(root, "_meta"), exist_ok=True)
        os.makedirs(os.path.join(root, "data"), exist_ok=True)
        t = cls(spark, root)
        snap = {
            "snapshot_id": 0,
            "parent_id": None,
            "table": {"key": key, "n_buckets": n_buckets, "spec_id": 0},
            "current_schema_id": 0,
            "schemas": {"0": schema.json()},
            # bucket id (str) -> {"base": {"dir": relpath, "schema_id": int} | None,
            #                     "deltas": [{"dir", "schema_id"}, ...]}
            "buckets": {str(b): _norm_entry(None) for b in range(n_buckets)},
            # Iceberg-style stable field ids, per schema id: column identity
            # survives renames, so files written under any historical schema
            # re-map to current names at read time (see _name_map).
            "field_ids": {"0": {f.name: i for i, f in enumerate(schema.fields)}},
            "txn": {},  # app_id -> high-water batch_id
            "seq_ceiling": -1,
            "summary": {"operation": "create", "total_rows": 0},
            "committed_at": time.time(),
        }
        t._write_snapshot(snap)
        return t

    @classmethod
    def load(cls, spark: SparkSession, root: str) -> "LakeTable":
        t = cls(spark, root)
        t.snapshot()  # force resolve
        return t

    @classmethod
    def exists(cls, root: str) -> bool:
        return os.path.exists(os.path.join(root, "_meta", "_current"))

    # ------------------------------------------------------------- snapshots
    def snapshot(self) -> dict[str, Any]:
        with open(self._pointer_path()) as f:
            name = f.read().strip()
        with open(os.path.join(self._meta_dir, name)) as f:
            self._snap = json.load(f)
        return self._snap

    def _write_snapshot(self, snap: dict[str, Any], swap_pointer: bool = True) -> None:
        sid = snap["snapshot_id"]
        atomic_write_json(self._snap_path(sid), snap)
        if not swap_pointer:  # branch commit: the snapshot exists but main
            return            # does not see it until publish()
        # atomic pointer swap = the commit point
        self._swap_pointer(sid)
        self._snap = snap

    def _swap_pointer(self, sid: int) -> None:
        ptmp = self._pointer_path() + f".tmp-{uuid.uuid4().hex}"
        with open(ptmp, "w") as f:
            f.write(os.path.basename(self._snap_path(sid)))
        os.replace(ptmp, self._pointer_path())

    def snapshot_at(self, sid: int) -> dict[str, Any]:
        """Load a pinned snapshot by id (time travel). Raises with a clear
        message if the snapshot has been expired (``expire_snapshots``)."""
        path = self._snap_path(sid)
        if not os.path.exists(path):
            raise FileNotFoundError(
                f"snapshot {sid} not found under {self._meta_dir} "
                "(expired or never committed)"
            )
        with open(path) as f:
            return json.load(f)

    def history(self) -> list[dict[str, Any]]:
        snaps = []
        for name in sorted(os.listdir(self._meta_dir)):
            if name.startswith("snapshot-") and name.endswith(".json"):
                with open(os.path.join(self._meta_dir, name)) as f:
                    snaps.append(json.load(f))
        return snaps

    def snapshot_id_as_of(self, ts: float, branch: str | None = None) -> int:
        """Resolve the snapshot that was current at wall-clock ``ts``
        (Iceberg ``TIMESTAMP AS OF`` / ``snapshot_id_as_of_time``): the
        newest ancestor of the (branch) head whose ``committed_at`` <= ts.

        Walks the head's ``parent_id`` ancestry, NOT the flat snapshot
        listing — a side branch committed before ``ts`` must never win a
        main-lineage resolution. Raises ``ValueError`` if ``ts`` predates
        the lineage's oldest retained snapshot (same lossiness class as
        ``expire_snapshots``: time travel only reaches retained history),
        and ``FileNotFoundError`` if the walk crosses an expired ancestor.
        """
        if branch is not None:
            refs = self._read_refs()
            if branch not in refs:
                raise KeyError(f"unknown branch {branch!r}")
            sid: int | None = refs[branch]
        else:
            sid = int(self.snapshot()["snapshot_id"])
        while sid is not None:
            snap = self.snapshot_at(int(sid))
            if float(snap.get("committed_at", 0.0)) <= ts:
                return int(sid)
            sid = snap.get("parent_id")
        raise ValueError(
            f"no snapshot at or before ts={ts} in retained history "
            f"(oldest retained ancestor is newer; expire_snapshots "
            "reclaims older states)"
        )

    # ------------------------------------------------- branches (WAP refs)
    # Write-audit-publish: ``merge(..., branch="audit")`` commits snapshots
    # a named ref points at while main (the ``_current`` pointer) is
    # untouched; auditors validate via ``read(branch=...)``; ``publish``
    # fast-forwards main to the branch head iff main is still an ancestor —
    # Iceberg's ``wap.branch`` write + ``fast_forward`` procedure, over the
    # same snapshot DAG this table already has (``parent_id`` links).
    # The reference stages each batch in a scratch area and promotes it with
    # a rename + marker (omicidx_etl/sra/catalog.py:291-320); a branch is
    # that staging made atomic, auditable with full query semantics, and
    # conflict-checked against concurrent main commits.

    def branches(self) -> dict[str, int]:
        """Live refs: branch name -> head snapshot id."""
        return self._read_refs()

    def create_branch(self, name: str, at: int | None = None) -> int:
        """Fork a branch at snapshot ``at`` (default: current main)."""
        with _commit_lock(self._meta_dir):
            refs = self._read_refs()
            if name in refs:
                raise ValueError(f"branch {name!r} already exists at {refs[name]}")
            if name in self._read_tags():
                raise ValueError(f"{name!r} is already a tag")
            sid = self.snapshot()["snapshot_id"] if at is None else at
            self.snapshot_at(sid)  # must exist
            refs[name] = sid
            self._write_refs(refs)
        return sid

    # --------------------------------------------------------- tags (audit)
    def tags(self) -> dict[str, int]:
        """Immutable named snapshots: tag name -> snapshot id."""
        return self._read_tags()

    def create_tag(self, name: str, at: int | None = None) -> int:
        """Pin snapshot ``at`` (default: current main) under an immutable
        name — Iceberg tags: release/audit markers that never move and that
        ``expire_snapshots`` must not reclaim. Unlike a branch, a tag can
        never receive commits; re-tagging an existing name raises."""
        with _commit_lock(self._meta_dir):
            tags = self._read_tags()
            if name in tags:
                raise ValueError(f"tag {name!r} already exists at {tags[name]}")
            if name in self._read_refs():
                raise ValueError(f"{name!r} is already a branch")
            sid = int(at if at is not None else self.snapshot()["snapshot_id"])
            self.snapshot_at(sid)  # must exist
            tags[name] = sid
            self._write_tags(tags)
        return sid

    def drop_tag(self, name: str) -> None:
        with _commit_lock(self._meta_dir):
            tags = self._read_tags()
            tags.pop(name, None)
            self._write_tags(tags)

    def drop_branch(self, name: str) -> None:
        with _commit_lock(self._meta_dir):
            refs = self._read_refs()
            refs.pop(name, None)
            self._write_refs(refs)

    def publish(self, name: str, drop: bool = True) -> dict[str, Any]:
        """Fast-forward main to branch ``name``'s head (the P of WAP).

        Requires main's current snapshot to be an ancestor of the branch
        head — i.e. no commit landed on main since the fork. Otherwise
        raises :class:`CommitConflict`: the audited state was built on a
        stale base, and silently merging would publish data nobody audited.
        (Iceberg ``fast_forward`` has the same precondition.) The swap is
        O(1) metadata — no data moves at publish time."""
        with _commit_lock(self._meta_dir):
            refs = self._read_refs()
            if name not in refs:
                raise KeyError(f"unknown branch {name!r}")
            head = refs[name]
            main_sid = self.snapshot()["snapshot_id"]
            sid: int | None = head
            seen = set()
            while sid is not None and sid not in seen:
                if sid == main_sid:
                    break
                seen.add(sid)
                try:
                    sid = self.snapshot_at(sid).get("parent_id")
                except FileNotFoundError:  # expired ancestor: stop the walk
                    sid = None
            else:
                raise CommitConflict(
                    f"cannot fast-forward: main advanced to {main_sid}, "
                    f"which is not an ancestor of branch {name!r} head "
                    f"{head}; re-fork the branch and re-apply"
                )
            self._swap_pointer(head)
            if drop:
                refs.pop(name, None)
                self._write_refs(refs)
            return self.snapshot()

    # ------------------------------------------------------- metadata tables
    # Iceberg exposes table internals as queryable relations
    # (``db.tbl.snapshots`` / ``.files`` / ``.refs``); operators monitor and
    # debug the lake with plain SQL instead of reading manifest JSON. These
    # are O(metadata) driver-side constructions — never a data-file scan.

    def meta_snapshots(self) -> DataFrame:
        """One row per retained snapshot: id, parent, operation, commit time,
        summary metrics. ``SELECT`` over this replaces manifest spelunking
        for audit/debug (e.g. rows_written per commit over time)."""
        rows = [
            (
                int(s["snapshot_id"]),
                s.get("parent_id"),
                (s.get("summary") or {}).get("operation"),
                float(s.get("committed_at", 0.0)),
                int(s.get("seq_ceiling", -1)),
                json.dumps(s.get("summary") or {}),
            )
            for s in self.history()
        ]
        return self.spark.createDataFrame(
            rows,
            "snapshot_id long, parent_id long, operation string, "
            "committed_at double, seq_ceiling long, summary string",
        )

    def meta_files(self, as_of: int | None = None, branch: str | None = None) -> DataFrame:
        """One row per live file group in a snapshot's manifest: bucket,
        dir, base-vs-delta, schema id, and the per-column [min,max] bounds
        the scan planner prunes with."""
        if branch is not None:
            refs = self._read_refs()
            if branch not in refs:
                raise KeyError(f"unknown branch {branch!r}")
            as_of = refs[branch]
        snap = self.snapshot() if as_of is None else self.snapshot_at(as_of)
        rows = []
        for b, raw in snap["buckets"].items():
            e = _norm_entry(raw)
            entries = [(e["base"], False)] if e["base"] else []
            entries += [(fe, True) for fe in e["deltas"]]
            for fe, is_delta in entries:
                rows.append(
                    (
                        int(b),
                        fe["dir"],
                        is_delta,
                        int(fe["schema_id"]),
                        json.dumps(fe.get("stats")),
                    )
                )
        return self.spark.createDataFrame(
            rows,
            "bucket int, dir string, is_delta boolean, schema_id int, "
            "stats string",
        )

    def meta_constraints(self) -> DataFrame:
        """One row per registered CHECK constraint (name, expression) —
        the inspection surface for ``add_constraint`` state, like Delta's
        ``SHOW TBLPROPERTIES delta.constraints.*``."""
        rows = [
            (k, v)
            for k, v in sorted(
                (self.snapshot().get("constraints") or {}).items()
            )
        ]
        return self.spark.createDataFrame(
            rows, "name string, expression string"
        )

    def meta_blooms(self) -> DataFrame:
        """One row per bloom sidecar on disk: indexed dir, bits (m),
        hash count (j), rows indexed at build time, and whether the
        current snapshot still references the dir (False only between a
        compaction/expiry and the next ``build_blooms`` prune pass)."""
        from omicidx_etl_spark.lake.bloom import BLOOM_SUBDIR

        live: set[str] = set()
        for raw in self.snapshot()["buckets"].values():
            e = _norm_entry(raw)
            for fe in ([e["base"]] if e["base"] else []) + e["deltas"]:
                live.add(fe["dir"])
        bdir = os.path.join(self.root, BLOOM_SUBDIR)
        rows = []
        if os.path.isdir(bdir):
            # '.json' filter (like fsck): a fully-written-but-unrenamed
            # '.json.tmp-<hex>' from a crashed atomic_write_json parses
            # fine and would otherwise show up as a duplicate sidecar row
            for name in sorted(os.listdir(bdir)):
                if not name.endswith(".json"):
                    continue
                try:
                    with open(os.path.join(bdir, name)) as f:
                        meta = json.load(f)
                except (OSError, ValueError):
                    continue
                rows.append(
                    (
                        meta.get("dir"),
                        int(meta["m"]),
                        int(meta["j"]),
                        int(meta["n"]),
                        meta.get("dir") in live,
                    )
                )
        return self.spark.createDataFrame(
            rows, "dir string, m_bits long, n_hashes int, rows_indexed long, live boolean"
        )

    def meta_refs(self) -> DataFrame:
        """One row per named ref plus main: name, head snapshot id, type
        (main | branch | tag — branches move with commits, tags never)."""
        rows = [("main", int(self.snapshot()["snapshot_id"]), "main")]
        rows += [
            (k, int(v), "branch") for k, v in sorted(self._read_refs().items())
        ]
        rows += [
            (k, int(v), "tag") for k, v in sorted(self._read_tags().items())
        ]
        return self.spark.createDataFrame(
            rows, "name string, snapshot_id long, type string"
        )

    # ------------------------------------------------------------ properties
    @property
    def key(self) -> str:
        return self.snapshot()["table"]["key"]

    @property
    def n_buckets(self) -> int:
        return self.snapshot()["table"]["n_buckets"]

    def current_schema(self, snap: dict | None = None) -> T.StructType:
        snap = snap or self.snapshot()
        return T.StructType.fromJson(
            json.loads(snap["schemas"][str(snap["current_schema_id"])])
        )

    def committed_batch(self, app_id: str) -> int | None:
        return self.snapshot()["txn"].get(app_id)

    # ------------------------------------------------------------------ read
    def read(
        self,
        buckets: list[int] | None = None,
        include_deleted: bool = False,
        include_system: bool = False,
        as_of: int | None = None,
        branch: str | None = None,
        tag: str | None = None,
        where: "list[tuple[str, str, Any]] | None" = None,
        as_of_ts: float | None = None,
        skip_dirs: "set[str] | None" = None,
    ) -> DataFrame:
        """Snapshot-isolated read; optionally pruned to a bucket subset.

        ``where`` is a list of simple predicates ``(col, op, value)`` with
        op in ``= < <= > >=`` — Iceberg-style scan planning over the
        manifest's per-file-group column bounds (``_dir_stats``): a bucket
        is skipped when EVERY file group in it is provably excluded by some
        predicate, and the full predicate conjunction is still applied to
        the surviving rows (bounds are a necessary condition only).
        Bucket granularity, not group granularity, on purpose: dropping one
        group of a delta-carrying bucket would change latest-``__seq``-wins
        reconciliation (a pruned base could resurrect an older delta and
        vice versa) — but if *no version in any group* of the bucket can
        satisfy the predicate, whichever version wins reconciliation fails
        it too, so the whole bucket is safe to skip. Groups written under a
        non-current schema id never prune (their stats carry physical
        pre-rename names). ``self.last_scan`` records what was read vs
        skipped for observability/tests.

        ``branch`` reads a named ref's head (the audit step of
        write-audit-publish) — same resolution as ``as_of`` at the branch's
        head snapshot id; ``tag`` reads an immutable named snapshot.
        ``as_of``/``branch``/``tag`` are mutually exclusive.

        ``as_of`` pins the read to a historical snapshot id (Iceberg
        ``VERSION AS OF`` time travel): the scan resolves that snapshot's
        manifest and schema, so a reader sees exactly the table state of
        that commit regardless of later merges/compactions (until
        ``expire_snapshots`` reclaims it).

        Data dirs are grouped by the schema id they were written under; each
        group is read with its own (exact) physical schema, aligned to the
        current schema by cast/null-fill, and unioned — Iceberg-style
        evolution-safe reads without rewrites. If any selected bucket carries
        merge-on-read delta files, base+deltas are reconciled with a
        latest-``__seq``-wins hash aggregation (map-side partial combine, so
        hot keys pre-reduce before the shuffle); bucket-pruned reads
        reconcile only the pruned buckets. Tombstone rows (``__deleted``)
        are filtered out unless requested; system columns (``__seq``,
        ``__deleted``) are dropped unless requested.
        """
        if sum(x is not None for x in (as_of, branch, tag)) > 1:
            raise ValueError("as_of, branch and tag are mutually exclusive")
        if as_of_ts is not None:
            # Iceberg TIMESTAMP AS OF: resolve along the (branch) head's
            # ancestry, then proceed exactly as a snapshot-id read.
            # Combinable with ``branch`` (resolve on that lineage), not
            # with as_of/tag (those already pin a snapshot).
            if as_of is not None or tag is not None:
                raise ValueError("as_of_ts is exclusive with as_of/tag")
            as_of = self.snapshot_id_as_of(as_of_ts, branch=branch)
            branch = None
        if branch is not None:
            refs = self._read_refs()
            if branch not in refs:
                raise KeyError(f"unknown branch {branch!r}")
            as_of = refs[branch]
        if tag is not None:
            tags = self._read_tags()
            if tag not in tags:
                raise KeyError(f"unknown tag {tag!r}")
            as_of = tags[tag]
        snap = self.snapshot() if as_of is None else self.snapshot_at(as_of)
        key = snap["table"]["key"]
        cur_phys = _phys(self.current_schema(snap))
        want = set(range(snap["table"]["n_buckets"])) if buckets is None else set(buckets)
        if where:
            want = self._prune_where(snap, want, where)
        # A key lives in exactly one bucket, so only buckets that actually
        # carry deltas need the latest-seq-wins aggregation; base-only
        # buckets stream through shuffle-free. At scale (mostly-compacted
        # table, one fresh delta batch) this turns a whole-table shuffle
        # into one over just the dirty buckets.
        by_schema: dict[tuple[int, bool], list[str]] = {}
        # per dirty bucket: (seq_lo, seq_hi, rows) of every surviving file
        # group — drives the reconciliation-strategy choice below
        dirty_meta: dict[str, list[tuple]] = {}
        for b, raw in snap["buckets"].items():
            if int(b) not in want:
                continue
            entry = _norm_entry(raw)
            dirty = bool(entry["deltas"])
            files = ([entry["base"]] if entry["base"] else []) + entry["deltas"]
            for fe in files:
                # skip_dirs is KEY-granularity dir exclusion (bloom-proven
                # absent for every probed key): such a dir contributes no
                # rows for those keys, so dropping it cannot change their
                # latest-seq reconciliation. `dirty` stays as computed —
                # a conservative aggregation over the surviving dirs.
                if skip_dirs and fe["dir"] in skip_dirs:
                    continue
                by_schema.setdefault((fe["schema_id"], dirty), []).append(
                    os.path.join(self.root, fe["dir"])
                )
                if dirty:
                    seq_bounds = (fe.get("stats") or {}).get(SEQ_COL)
                    dirty_meta.setdefault(b, []).append(
                        (seq_bounds, fe.get("rows"))
                    )

        def _union(keys: list[tuple[int, bool]]) -> DataFrame | None:
            parts: list[DataFrame] = []
            for sid, dirty in sorted(keys):
                s = _phys(T.StructType.fromJson(json.loads(snap["schemas"][str(sid)])))
                df = self.spark.read.schema(s).parquet(*by_schema[(sid, dirty)])
                df = _remap(df, snap, sid)
                parts.append(_align(df, cur_phys))
            if not parts:
                return None
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
            return out

        clean = _union([k for k in by_schema if not k[1]])
        dirty = _union([k for k in by_schema if k[1]])
        self.last_reconcile = None
        if dirty is not None:
            strategy = self._reconcile_strategy(dirty_meta)
            self.last_reconcile = strategy
            if strategy == "prefilter":
                # Winner-prefilter reconciliation (guide §2.3: shuffle keys,
                # not payloads): the narrow (key, __seq) winner aggregation
                # is column-pruned to two columns at the scans, so the
                # kB-scale payloads never enter an aggregation buffer or a
                # shuffle (measured: the max_by path shuffled 815k full-width
                # rows ≈ 800 MB to count a 4-delta bench table; this path
                # shuffles ~20 MB of keys). Correct only when no two file
                # groups of a bucket can hold the same (key, seq) row — the
                # per-bucket seq-bounds disjointness check in
                # _reconcile_strategy (re-delivered events overlap an older
                # group's seq range and fall back to max_by) — and the
                # winner set must fit a broadcast (row-count gate from the
                # manifest).
                dirty = C.latest_by_winner_join(dirty, key, SEQ_COL)
            else:
                dirty = C.latest_per_key(dirty, [key], SEQ_COL)
        if clean is None and dirty is None:
            out = self.spark.createDataFrame([], cur_phys)
        elif clean is None:
            out = dirty
        elif dirty is None:
            out = clean
        else:
            out = clean.unionByName(dirty)
        if where:
            for c, op, v in where:
                out = out.filter(_PRED_OPS[op](F.col(c), F.lit(v)))
        if not include_deleted:
            out = out.filter(~F.coalesce(F.col(DELETED_COL), F.lit(False)))
        if not include_system:
            out = out.drop(SEQ_COL, DELETED_COL)
        return out

    def _reconcile_strategy(self, dirty_meta: "dict[str, list[tuple]]") -> str:
        """Choose the MOR reconciliation plan from manifest metadata alone
        (Iceberg-style scan planning; no data read):

        ``prefilter`` (narrow winner agg + broadcast join — see ``read``)
        requires (a) every dirty file group to carry ``__seq`` bounds and a
        row count in the manifest, (b) per bucket, pairwise-DISJOINT seq
        ranges — the no-duplicate-(key, seq) proof: each group holds ≤1 row
        per key (merge contract), so a duplicate (key, seq) needs two
        groups whose seq spans overlap (a re-delivered event replays an old
        seq), and (c) total dirty rows under the broadcast gate
        (``PREFILTER_READ_ROWS``). Anything else → ``max_by``,
        the always-correct wide aggregation."""
        total = 0
        for groups in dirty_meta.values():
            ranges = []
            for bounds, rows in groups:
                if not bounds or rows is None:
                    return "max_by"
                try:
                    lo, hi = int(bounds[0]), int(bounds[1])
                except (TypeError, ValueError):
                    return "max_by"
                ranges.append((lo, hi))
                total += rows
            ranges.sort()
            for (_, h1), (l2, _) in zip(ranges, ranges[1:]):
                if l2 <= h1:
                    return "max_by"
        if total > PREFILTER_READ_ROWS:
            return "max_by"
        return "prefilter"

    def _prune_where(
        self, snap: dict, want: set[int], where: "list[tuple[str, str, Any]]"
    ) -> set[int]:
        """Manifest-bounds scan planning (see ``read``): return the subset
        of ``want`` whose buckets may contain predicate-satisfying rows,
        recording the decision in ``self.last_scan``."""
        for _, op, _ in where:
            if op not in _PRED_OPS:
                raise ValueError(f"unsupported predicate op {op!r} (use = < <= > >=)")
        cur_sid = snap["current_schema_id"]
        kept: set[int] = set()
        skipped: list[int] = []
        for b in want:
            entry = _norm_entry(snap["buckets"].get(str(b)))
            groups = ([entry["base"]] if entry["base"] else []) + entry["deltas"]
            if not groups:
                continue  # empty bucket: nothing to read either way
            if all(_group_excluded(g, where, cur_sid) for g in groups):
                skipped.append(b)
            else:
                kept.add(b)
        self.last_scan = {
            "where": [list(p) for p in where],
            "buckets_read": sorted(kept),
            "buckets_skipped": sorted(skipped),
        }
        return kept

    def lookup(self, keys: list, use_blooms: bool = True) -> DataFrame:
        """Point lookup by key(s): bucket-pruned read + key filter.

        A key lives in exactly one bucket (the table's hash transform), so
        the scan touches only ``len(set(bucket(k)))`` of ``n_buckets``
        bucket directories — O(table/n_buckets) I/O per probed bucket
        instead of a full-table scan, the lake-table analogue of the
        reference's per-accession entity fetch
        (``omicidx_etl/sra/catalog.py:151-168``). The key predicate is also
        pushed into the parquet reader for row-group pruning within the
        bucket.

        Within the probed buckets, dirs carrying a bloom sidecar
        (``build_blooms``) that excludes every probed key are skipped
        entirely — the MOR delta-chain defense: a 1-base + N-delta bucket
        reads only the dirs that might hold a probed key. Dirs without a
        sidecar always scan (safe default).

        Planning runs on the driver: buckets and bloom bits come from the
        driver ports of Spark's hashes (``lake.hashing``), and a
        ``get_spark`` session lists the chosen dirs on the driver, so the
        first Spark job is the caller's action on the returned frame."""
        snap = self.snapshot()
        key, nb = snap["table"]["key"], snap["table"]["n_buckets"]
        dtype = self.current_schema(snap)[key].dataType.simpleString()
        buckets = sorted({bucket_of(k, nb, dtype) for k in keys})
        skip: "set[str] | None" = None
        if use_blooms:
            from omicidx_etl_spark.lake.bloom import dirs_to_skip

            cand = []
            for b in buckets:
                e = _norm_entry(snap["buckets"].get(str(b)))
                for fe in ([e["base"]] if e["base"] else []) + e["deltas"]:
                    cand.append(fe["dir"])
            skip = dirs_to_skip(self, keys, cand) or None
        return self.read(buckets=buckets, skip_dirs=skip).filter(
            F.col(key).isin(list(keys))
        )

    def build_blooms(self, **kw) -> dict[str, int]:
        """Build per-dir bloom sidecars for point-lookup file skipping —
        see ``lake.bloom.build_blooms`` (incremental, idempotent; run from
        the maintenance job cadence)."""
        from omicidx_etl_spark.lake.bloom import build_blooms

        return build_blooms(self, **kw)

    # ------------------------------------------------------------ constraints
    def add_constraint(
        self, name: str, expr: str, validate: bool = True
    ) -> dict[str, Any]:
        """Add a CHECK constraint (Delta `ALTER TABLE ADD CONSTRAINT`):
        every future write validates its batch against ``expr`` before
        staging. Standard-SQL CHECK semantics: a row violates only when
        the expression evaluates to FALSE — NULL/unknown passes (delete
        events' NULL payloads are additionally exempt by construction).

        ``validate=True`` first proves the EXISTING table satisfies the
        constraint (one scan — O(table), the Delta behavior; pass False
        for a large table known-clean to register without scanning).
        Constraint metadata rides the snapshot, so it is versioned,
        branch-visible, and survives ``load``."""
        snap = self.snapshot()
        cons = dict(snap.get("constraints") or {})
        if name in cons:
            raise ValueError(f"constraint {name!r} already exists")
        # resolution check against the current schema (typo'd columns fail
        # HERE, not at the next merge)
        probe = self.spark.createDataFrame([], _phys(self.current_schema(snap)))
        probe.filter(F.expr(expr)).schema
        if validate:
            n_bad = (
                self.read()
                .filter(~F.coalesce(F.expr(expr), F.lit(True)))
                .count()
            )
            if n_bad:
                raise ConstraintViolation(
                    f"cannot add constraint {name!r}: {n_bad} existing "
                    f"row(s) violate ({expr})"
                )
        cons[name] = expr
        return self._commit(
            snap, snap["snapshot_id"] + 1, dict(snap["buckets"]), None, None,
            summary={"operation": "add_constraint", "constraint": name,
                     "expr": expr},
            constraints=cons,
        )

    def drop_constraint(self, name: str) -> dict[str, Any]:
        snap = self.snapshot()
        cons = dict(snap.get("constraints") or {})
        if name not in cons:
            raise KeyError(f"unknown constraint {name!r}")
        del cons[name]
        return self._commit(
            snap, snap["snapshot_id"] + 1, dict(snap["buckets"]), None, None,
            summary={"operation": "drop_constraint", "constraint": name},
            constraints=cons,
        )

    def constraints(self) -> dict[str, str]:
        return dict(self.snapshot().get("constraints") or {})

    def _enforce_constraints(
        self,
        df: DataFrame,
        cons: "dict[str, str]",
        on_violation: str,
        exempt: "Any | None" = None,
    ) -> "tuple[DataFrame, dict[str, Any]]":
        """Validate a write batch against CHECK constraints BEFORE staging.
        ``exempt`` rows (delete events — their payload is NULL by design)
        are never checked. ``'fail'``: one batch-sized aggregation counts
        violations per constraint and raises :class:`ConstraintViolation`
        (nothing staged, table unchanged); ``'drop'``: violating rows are
        filtered out and the count reported in the commit summary. Cost:
        one extra pass over the BATCH, never the table."""
        if on_violation not in ("fail", "drop"):
            raise ValueError(
                f"on_violation must be 'fail' or 'drop', got {on_violation!r}"
            )
        checked = [
            (n, F.coalesce(F.expr(e), F.lit(True)))
            for n, e in sorted(cons.items())
        ]
        ex = exempt if exempt is not None else F.lit(False)
        if on_violation == "fail":
            row = df.agg(
                *[
                    F.sum((~c & ~ex).cast("long")).alias(n)
                    for n, c in checked
                ]
            ).first()
            bad = {
                n: int(row[n]) for n, _ in checked if row[n]
            }
            if bad:
                raise ConstraintViolation(
                    "constraint(s) violated, nothing committed: "
                    + ", ".join(
                        f"{n} ({cons[n]}): {c} row(s)"
                        for n, c in sorted(bad.items())
                    )
                )
            return df, {}
        keep = None
        for _, c in checked:
            term = c | ex
            keep = term if keep is None else keep & term
        dropped = int(df.filter(~keep).count())
        return df.filter(keep), {"constraint_dropped_rows": dropped}

    def changes(
        self,
        from_sid: int,
        to_sid: int | None = None,
        include_seq: bool = False,
        include_before: bool = False,
    ) -> DataFrame:
        """Incremental changelog scan between two snapshots (Iceberg's
        ``table_changes`` / ``incremental read``): the **net change per
        key** committed after ``from_sid`` up to ``to_sid`` (default:
        current). One row per changed key with ``_change_type`` ∈
        {'upsert', 'delete'}; keys untouched in the interval do not appear.

        Physical plan: scan only data dirs added between the two manifests
        — MOR delta dirs are new data and stream through unfiltered, while
        new *base* dirs (COW merges / compaction rewrites) also carry old
        rows, so they are filtered to ``__seq > from.seq_ceiling`` (the
        high-water mark the *from* snapshot had seen). Net-per-key is one
        map-side-combinable ``max_by`` over just the changed rows — cost is
        O(changes in the interval), never O(table), which is what makes a
        downstream incremental consumer viable at 10^10 rows.

        Caveat (documented contract): a key whose only event in the
        interval carries a seq ≤ the from-snapshot's ceiling (out-of-order
        late arrival of a brand-new key) is visible through MOR commits but
        not through COW rewrites of that interval. The replay pipeline
        assigns monotone seqs per commit, where the distinction never
        arises.

        A ``purge_tombstones`` commit inside the interval physically
        removes delete rows, so the scan could silently drop those delete
        events from the changelog; that is detected from snapshot
        summaries and raised — read the changelog before purging, or purge
        only below the consumers' watermark (``before_seq`` ≤ every
        consumer's ``from`` ceiling).

        ``include_before=True`` adds a ``_before`` struct column: the
        key's full row as of ``from_sid`` (the Debezium pre-image; NULL
        for keys absent at ``from_sid``, i.e. inserts — ``_change_type``
        stays {'upsert','delete'} so existing consumers are unaffected).
        The pre-image scan stays O(changes): changed keys are hashed
        through the FROM-snapshot's bucket transform (rebucket-safe) and
        only those bucket directories of the from-snapshot are read — the
        ``lookup``/canonicalize bucket-pruning convention — then joined on
        the key. The bucket-id collect is bounded by n_buckets (driver
        metadata, not data). Columns inside ``_before`` follow the
        from-snapshot's schema (pre-rename names if the interval evolved
        the schema)."""
        to_snap = self.snapshot() if to_sid is None else self.snapshot_at(to_sid)
        from_snap = self.snapshot_at(from_sid)
        floor = from_snap.get("seq_ceiling", -1)
        for s in self.history():
            if not (from_sid < s["snapshot_id"] <= to_snap["snapshot_id"]):
                continue
            summ = s.get("summary") or {}
            if (summ.get("operation") == "purge_tombstones"
                    and int(summ.get("before_seq", -1)) > floor + 1):
                raise ValueError(
                    f"changes({from_sid}, {to_snap['snapshot_id']}) is lossy: "
                    f"purge_tombstones(before_seq={summ['before_seq']}) at "
                    f"snapshot {s['snapshot_id']} removed tombstones inside "
                    "the interval; purge only below consumers' watermarks"
                )
            if summ.get("operation") == "rollback":
                raise ValueError(
                    f"changes({from_sid}, {to_snap['snapshot_id']}) crosses a "
                    f"rollback at snapshot {s['snapshot_id']} (to "
                    f"{summ.get('rolled_back_to')}): events committed then "
                    "un-happened inside the interval cannot be netted — "
                    "restart the consumer from the rollback commit"
                )
        key = to_snap["table"]["key"]
        cur_phys = _phys(self.current_schema(to_snap))

        old_dirs: set[str] = set()
        for raw in from_snap["buckets"].values():
            e = _norm_entry(raw)
            for fe in ([e["base"]] if e["base"] else []) + e["deltas"]:
                old_dirs.add(fe["dir"])
        # (schema_id, is_rewrite) -> dirs added since from_snap
        by_schema: dict[tuple[int, bool], list[str]] = {}
        for raw in to_snap["buckets"].values():
            e = _norm_entry(raw)
            if e["base"] and e["base"]["dir"] not in old_dirs:
                fe = e["base"]
                # Manifest seq-bounds pruning: a rewrite dir (compaction /
                # COW) whose max(__seq) <= the from-snapshot's ceiling holds
                # only rows the consumer has already seen — skip the scan
                # entirely. This is what keeps the changelog O(delta) even
                # when the interval contains a full-table compaction: the
                # rewritten bases carry old seqs and prune away instead of
                # being scanned-then-filtered.
                st = (fe.get("stats") or {}).get(SEQ_COL)
                if st is not None and st[1] <= floor:
                    continue
                by_schema.setdefault((fe["schema_id"], True), []).append(
                    os.path.join(self.root, fe["dir"])
                )
            # delta dirs are NEVER seq-pruned: a post-from delta whose seqs
            # are all <= floor is exactly the documented late-arrival case,
            # which MOR commits must keep visible
            for fe in e["deltas"]:
                if fe["dir"] not in old_dirs:
                    by_schema.setdefault((fe["schema_id"], False), []).append(
                        os.path.join(self.root, fe["dir"])
                    )

        parts: list[DataFrame] = []
        for (sid, is_rewrite), dirs in sorted(by_schema.items()):
            s = _phys(T.StructType.fromJson(json.loads(to_snap["schemas"][str(sid)])))
            df = self.spark.read.schema(s).parquet(*dirs)
            if is_rewrite:
                df = df.filter(F.col(SEQ_COL) > F.lit(floor))
            df = _remap(df, to_snap, sid)
            parts.append(_align(df, cur_phys))
        if not parts:
            base = self.spark.createDataFrame([], cur_phys)
        else:
            base = parts[0]
            for p in parts[1:]:
                base = base.unionByName(p)

        net = C.latest_per_key(base, [key], SEQ_COL)
        out = net.withColumn(
            "_change_type",
            F.when(
                F.coalesce(F.col(DELETED_COL), F.lit(False)), F.lit("delete")
            ).otherwise(F.lit("upsert")),
        )
        if include_seq:
            out = out.withColumn("_seq", F.col(SEQ_COL))
        out = out.drop(SEQ_COL, DELETED_COL)
        if include_before:
            fnb = from_snap["table"]["n_buckets"]
            bks = sorted(
                r["b"]
                for r in net.select(bucket_expr(key, fnb).alias("b"))
                .distinct()
                .collect()
            )
            before = self.read(buckets=bks, as_of=from_sid)
            pre = [c for c in before.columns if c != key]
            out = out.join(
                before.select(key, F.struct(*pre).alias("_before")),
                on=key,
                how="left",
            )
        return out

    # ------------------------------------------------------------- overwrite
    def overwrite(
        self,
        df: DataFrame,
        app_id: str | None = None,
        batch_id: int | None = None,
        seq_value: int = 0,
        on_violation: str = "fail",
    ) -> dict[str, Any]:
        """Replace the whole table content atomically (initial load path).
        Rows get version ``seq_value`` (later change events must carry a
        higher seq to supersede them). CHECK constraints are enforced on
        the incoming rows (``on_violation``: 'fail' | 'drop')."""
        snap = self.snapshot()
        if _already_committed(snap, app_id, batch_id):
            return _skipped(snap, app_id, batch_id)
        key, nb = snap["table"]["key"], snap["table"]["n_buckets"]
        cur = self.current_schema(snap)
        aligned = (
            _align(df, cur)
            .withColumn(SEQ_COL, F.lit(seq_value).cast("long"))
            .withColumn(DELETED_COL, F.lit(False))
            .withColumn(BUCKET_COL, bucket_expr(key, nb))
        )
        cons = snap.get("constraints") or {}
        cons_info: dict[str, Any] = {}
        if cons:
            aligned, cons_info = self._enforce_constraints(
                aligned, cons, on_violation
            )
        new_sid = snap["snapshot_id"] + 1
        rel = self._stage_write(aligned, new_sid, nb, key)
        buckets = _base_only_buckets(
            self._file_entries(rel, snap["current_schema_id"]), nb
        )
        return self._commit(
            snap, new_sid, buckets, app_id, batch_id,
            summary={"operation": "overwrite", "max_seq": seq_value,
                     **cons_info},
        )

    # ----------------------------------------------------------------- merge
    def merge(
        self,
        changes: DataFrame,
        op_col: str = "op",
        delete_value: str = "D",
        seq_col: str = "seq",
        app_id: str | None = None,
        batch_id: int | None = None,
        extra_summary: "dict[str, Any] | Callable[[], dict[str, Any]] | None" = None,
        mode: str = "cow",
        branch: str | None = None,
        on_violation: str = "fail",
    ) -> dict[str, Any]:
        """MERGE INTO this table USING ``changes`` ON key, versioned:

        a change applies only if ``changes.seq`` is greater than the stored
        row version (``__seq``) — so replay is **order-independent** across
        micro-batches: late or re-delivered events are per-row no-ops, the
        T3 watermark guard. Deletes persist as tombstone rows (``__deleted``)
        carrying their seq, so an older event can never resurrect a deleted
        key (merge-on-read tombstones; reclaim via ``purge_tombstones``).

        ``mode="cow"``: ``changes`` must already be deduplicated to ≤1 row
        per key (use ``cdc.dedup_latest``) — Iceberg's multi-match rule, by
        contract. Physical plan: changes are bucketed with the table
        transform; only touched buckets are scanned (manifest pruning) and
        rewritten (copy-on-write). One full-outer shuffle join on the key per
        merge; AQE splits residual skew.

        ``mode="mor"``: ``changes`` may hold many events per key; the
        latest ``seq`` per key wins. Physical plan: changes are bucketed,
        deduplicated inside the bucket exchange and landed as delta files —
        ONE shuffle of the batch (Exchange → Sort → SortAggregate → write),
        zero base reads/rewrites. CHECK constraints and the summary counts
        apply to the deduplicated rows. Latest-seq-wins reconciliation
        against older file groups moves to read time (see ``read``);
        call ``compact()`` to fold deltas into the base. At 10^10 events this
        is the sustained-throughput path: per-batch cost is O(batch), not
        O(touched table).

        ``branch`` commits onto a named ref instead of main (the W of
        write-audit-publish; auto-forked from current main on first write,
        like Iceberg's ``wap.branch``): main readers never see the batch
        until ``publish``. Conflict validation and rebase run against the
        BRANCH head, so concurrent main commits don't fail branch writes —
        they surface at ``publish`` time instead.
        """
        refs = self._read_refs() if branch is not None else {}
        snap = (
            self.snapshot_at(refs[branch])
            if branch in refs
            else self.snapshot()
        )
        if _already_committed(snap, app_id, batch_id):
            return _skipped(snap, app_id, batch_id)
        key, nb = snap["table"]["key"], snap["table"]["n_buckets"]
        cur = self.current_schema(snap)

        ch = changes.withColumn(BUCKET_COL, bucket_expr(key, nb))
        is_del = F.coalesce(F.col(op_col) == F.lit(delete_value), F.lit(False))
        have = set(ch.columns)
        user_cols = [
            (F.col(f.name).cast(f.dataType) if f.name in have else F.lit(None).cast(f.dataType)).alias(f.name)
            for f in cur.fields
        ]
        ch_phys = ch.select(
            *user_cols,
            F.col(seq_col).cast("long").alias(SEQ_COL),
            is_del.alias(DELETED_COL),
            F.col(BUCKET_COL),
        )
        if mode == "mor":
            # latest row per key inside the one bucket exchange (see
            # _bucket_exchange); the constraints and the observation see
            # the deduplicated rows, as they do on the COW path
            ch_phys = self._bucket_exchange(ch_phys, nb, key, latest=True)
        cons = snap.get("constraints") or {}
        if cons:
            # CHECK constraints gate the batch BEFORE staging; delete
            # events are exempt (their payload is NULL by design)
            ch_phys, cons_info = self._enforce_constraints(
                ch_phys, cons, on_violation, exempt=F.col(DELETED_COL)
            )
            if cons_info:
                prev = extra_summary
                extra_summary = lambda: {  # noqa: E731
                    **(prev() if callable(prev) else (prev or {})),
                    **cons_info,
                }
        new_sid = snap["snapshot_id"] + 1

        if mode == "mor":
            obs = Observation(f"merge_mor_{new_sid}")
            delta = ch_phys.observe(
                obs,
                F.count(F.lit(1)).alias("rows_written"),
                F.sum(F.col(DELETED_COL).cast("long")).alias("tombstone_rows"),
                F.max(F.col(SEQ_COL)).alias("max_seq"),
            )
            # AQE has nothing to offer this plan — a prefiltered batch's
            # join is an explicit broadcast (no strategy to revise), the
            # bucket exchange is REPARTITION_BY_NUM (AQE never coalesces
            # it, and skew-splitting applies only to joins) — while its
            # stage-by-stage materialization turns the single write action
            # into map-job + replan + write-job with a driver gap between
            # (measured ~0.25 s/batch on the 2M-event replay: 19.1 vs
            # 20.1 s with AQE on, clean-steal A/B). Scoped OFF for just
            # this action and restored; reads, COW merges and compaction
            # keep AQE (skew splitting / coalescing matter there). On a
            # 4-core host, trickle_mixed latency_s measured ~10% worse
            # without the flip (10 interleaved pairs). The engine submits
            # no concurrent Spark jobs, so the session-conf flip cannot leak
            # into a sibling query's planning: replay's prefetch thread only
            # builds the next batch's read, and get_spark's
            # parallelPartitionDiscovery.threshold keeps that listing on the
            # driver however many paths it names.
            sess_conf = self.spark.conf
            prev_aqe = sess_conf.get("spark.sql.adaptive.enabled", "true")
            flip_aqe = str(prev_aqe).lower() == "true"
            try:
                if flip_aqe:
                    sess_conf.set("spark.sql.adaptive.enabled", "false")
                rel = self._write_staged(delta, new_sid, codec=DELTA_CODEC)
            finally:
                if flip_aqe:
                    sess_conf.set("spark.sql.adaptive.enabled", prev_aqe)
            # zero-row batch (e.g. a merge_into where no clause fired):
            # nothing was staged, and the Observation row is empty/absent
            # because AQE collapses the empty write plan — don't fetch it
            metrics = obs.get if rel else {}
            new_entries = self._file_entries(rel, snap["current_schema_id"])
            buckets = {b: _norm_entry(e) for b, e in snap["buckets"].items()}
            for b, fe in new_entries.items():
                buckets[str(b)] = {
                    "base": buckets[str(b)]["base"],
                    "deltas": buckets[str(b)]["deltas"] + [fe],
                }
            summary = {
                "operation": "merge",
                "mode": "mor",
                "touched_buckets": len(rel),
                "rows_written": int(metrics.get("rows_written") or 0),
                "tombstone_rows": int(metrics.get("tombstone_rows") or 0),
                "max_seq": int(metrics.get("max_seq") or -1),
            }
            if extra_summary:
                summary.update(extra_summary() if callable(extra_summary) else extra_summary)

            # Delta appends COMMUTE with any concurrent commit (other delta
            # appends, compaction, COW rewrites of other batches): seq-based
            # reconciliation is order-independent, so losing the snapshot
            # race just replays the same entry additions on the winner's
            # bucket map (Iceberg fast-append rebase).
            def rebase(cur: dict) -> dict[str, Any]:
                _check_same_layout(snap, cur, "mor merge")
                out = {b: _norm_entry(e) for b, e in cur["buckets"].items()}
                for b, fe in new_entries.items():
                    out[str(b)] = {
                        "base": out[str(b)]["base"],
                        "deltas": out[str(b)]["deltas"] + [fe],
                    }
                return out

            return self._commit(
                snap, new_sid, buckets, app_id, batch_id, summary,
                rebase=rebase, ref=branch,
            )

        if mode != "cow":
            raise ValueError(f"unknown merge mode {mode!r}")

        # touched-bucket discovery: tiny collect (<= n_buckets values)
        touched = sorted(r[0] for r in ch_phys.select(BUCKET_COL).distinct().collect())
        if not touched:
            return self._commit(
                snap, snap["snapshot_id"] + 1, dict(snap["buckets"]),
                app_id, batch_id, ref=branch,
                summary={"operation": "merge", "touched_buckets": 0},
                # nothing written: a rebase just adopts the winner's buckets
                rebase=lambda cur: {
                    b: _norm_entry(e) for b, e in cur["buckets"].items()
                },
            )

        phys_cols = [f.name for f in cur.fields] + [SEQ_COL, DELETED_COL]
        c_side = ch_phys.select(
            F.col(key).alias("__k"), F.struct(*phys_cols).alias("__c")
        )
        # as_of pins the base scan to the snapshot this merge planned
        # against (which is the BRANCH head for branch merges) — the join
        # must not silently absorb a concurrently-committed main snapshot
        # the conflict check below would then fail to notice.
        b_side = self.read(
            buckets=touched, include_deleted=True, include_system=True,
            as_of=snap["snapshot_id"],
        ).select(F.col(key).alias("__k"), F.struct(*phys_cols).alias("__b"))

        joined = b_side.join(c_side, "__k", "full_outer")
        winner = (
            F.when(F.col("__c").isNull(), F.col("__b"))
            .when(F.col("__b").isNull(), F.col("__c"))
            .when(F.col("__c")[SEQ_COL] > F.col("__b")[SEQ_COL], F.col("__c"))
            .otherwise(F.col("__b"))
        )
        obs = Observation(f"merge_{snap['snapshot_id'] + 1}")
        merged = (
            joined.select(winner.alias("__w"))
            .select("__w.*")
            .observe(
                obs,
                F.count(F.lit(1)).alias("rows_written"),
                F.sum(F.col(DELETED_COL).cast("long")).alias("tombstone_rows"),
                F.max(F.col(SEQ_COL)).alias("max_seq"),
            )
            .withColumn(BUCKET_COL, bucket_expr(key, nb))
        )

        rel = self._stage_write(merged, new_sid, nb, key, buckets=touched)
        metrics = obs.get
        entries = self._file_entries(rel, snap["current_schema_id"])
        buckets = {b: _norm_entry(e) for b, e in snap["buckets"].items()}
        for b in touched:
            buckets[str(b)] = {"base": entries.get(b), "deltas": []}
        summary = {
            "operation": "merge",
            "mode": "cow",
            "touched_buckets": len(touched),
            "rows_written": int(metrics.get("rows_written") or 0),
            "tombstone_rows": int(metrics.get("tombstone_rows") or 0),
            "max_seq": int(metrics.get("max_seq") or -1),
        }
        if extra_summary:
            summary.update(extra_summary() if callable(extra_summary) else extra_summary)
        return self._commit(
            snap, new_sid, buckets, app_id, batch_id, summary,
            rebase=_disjoint_rewrite_rebase(snap, touched, buckets, "cow merge"),
            ref=branch,
        )

    def merge_into(
        self,
        source: DataFrame,
        *,
        update_set: "dict[str, Any] | str | None" = None,
        update_condition: "Any | None" = None,
        delete_condition: "Any | None" = None,
        insert_values: "dict[str, Any] | str | None" = None,
        insert_condition: "Any | None" = None,
        mode: str = "mor",
        app_id: str | None = None,
        batch_id: int | None = None,
        branch: str | None = None,
        extra_summary: "dict[str, Any] | None" = None,
    ) -> dict[str, Any]:
        """Conditional MERGE INTO (Iceberg/Delta WHEN MATCHED / WHEN NOT
        MATCHED clauses). Clauses compile to a minimal versioned change set
        (see ``lake/merge_into.py``) that flows through :meth:`merge`, so
        MOR/COW plans, exactly-once batch ids, branches and OCC rebase are
        inherited. Conditions/assignments are Columns or SQL strings over
        ``source.<col>`` / ``target.<col>``; ``"*"`` means every same-named
        source column. Snapshot-isolated — for serializable audit-then-swap,
        merge onto a ``branch`` and ``publish`` it."""
        from .merge_into import compile_merge_changes

        refs = self._read_refs() if branch is not None else {}
        snap = (
            self.snapshot_at(refs[branch])
            if branch in refs
            else self.snapshot()
        )
        if _already_committed(snap, app_id, batch_id):
            return _skipped(snap, app_id, batch_id)
        target = self.read(
            include_deleted=True, include_system=True,
            as_of=snap["snapshot_id"],
        )
        ch = compile_merge_changes(
            target, source, snap["table"]["key"],
            [f.name for f in self.current_schema(snap).fields],
            update_set=update_set, update_condition=update_condition,
            delete_condition=delete_condition, insert_values=insert_values,
            insert_condition=insert_condition,
        )
        summary = {"operation": "merge_into"}
        if extra_summary:
            summary.update(extra_summary)
        return self.merge(
            ch, mode=mode, app_id=app_id, batch_id=batch_id, branch=branch,
            extra_summary=summary,
        )

    def compact(
        self,
        buckets: list[int] | None = None,
        sort_by_key: bool = False,
        sort_by: "list[str] | None" = None,
        tasks_per_bucket: int = 1,
        target_records_per_file: int | None = None,
        zorder_by: "list[str] | None" = None,
        zorder_bits: int | None = None,
    ) -> dict[str, Any]:
        """Fold merge-on-read delta files into the base (Iceberg
        ``rewrite_data_files``). Rewrites only buckets that carry deltas
        (optionally restricted to ``buckets``); tombstones are preserved —
        reclaim them separately via ``purge_tombstones``. Reads stay fast
        again afterwards: bucket entries return to base-only, so ``read``
        skips the reconciliation aggregation.

        ``sort_by_key=True`` clusters each rewritten base by the bucket key
        (Iceberg table *sort order* applied at rewrite time): parquet
        row-group min/max stats on the key become tight, so the pushed key
        predicate of ``lookup`` skips row groups inside the bucket — point
        reads cost O(row group), not O(bucket). Sort cost is local to each
        bucket task (no extra shuffle: the data is already clustered
        per-bucket for the write).

        ``tasks_per_bucket``/``target_records_per_file``: parallelize one
        bucket's rewrite across k tasks and bound output file sizes
        (Iceberg binpack) — see ``_bucket_exchange``. With slicing, key order
        holds within each file (row-group stats stay tight) but the bucket
        dir holds k overlapping key ranges; lookups still push the key
        predicate per file.

        ``sort_by=[cols]`` is the general Iceberg *sort order*: cluster the
        rewritten bases by arbitrary (non-partition) columns. The manifest
        prunes at bucket granularity on the KEY; for every other column,
        this is what makes parquet row-group min/max stats selective, so a
        pushed predicate on e.g. ``source`` or an event-date column skips
        row groups inside every bucket instead of decoding them. Task-local
        sort, no extra shuffle; overrides ``sort_by_key``.

        ``zorder_by=[cols]`` is the multi-dimensional sort order (Iceberg
        ``zorder(...)``, Delta ``OPTIMIZE ... ZORDER BY``): the rewritten
        bases are clustered by a Morton interleave of the columns' bits, so
        row-group stats are tight on EVERY listed column simultaneously
        and a pushed predicate on any subset skips row groups (a plain
        ``sort_by`` only localizes its leading column). Quantizer bounds
        come from the snapshot manifest's per-file-group stats when they
        cover every column (no data scan), else one min/max aggregation.
        Same cost shape as ``sort_by``: task-local sort, no extra shuffle.
        """
        snap = self.snapshot()
        key, nb = snap["table"]["key"], snap["table"]["n_buckets"]
        todo = [
            int(b)
            for b, e in snap["buckets"].items()
            if _norm_entry(e)["deltas"]
            and (buckets is None or int(b) in set(buckets))
        ]
        if not todo:
            return snap
        merged = self.read(
            buckets=todo, include_deleted=True, include_system=True
        ).withColumn(BUCKET_COL, bucket_expr(key, nb))
        if zorder_by:
            from omicidx_etl_spark.lake.zorder import (
                bounds_from_manifest,
                zorder_sort_expr,
            )

            zb = bounds_from_manifest(snap, todo, zorder_by)
            if zb is None:
                row = merged.select(
                    *(F.min(c).alias(f"__lo{i}") for i, c in enumerate(zorder_by)),
                    *(F.max(c).alias(f"__hi{i}") for i, c in enumerate(zorder_by)),
                ).first()
                zb = {
                    c: (row[f"__lo{i}"], row[f"__hi{i}"])
                    for i, c in enumerate(zorder_by)
                }
            sort_by = [
                zorder_sort_expr(
                    self.current_schema(snap), zb, zorder_by, zorder_bits
                )
            ]
        new_sid = snap["snapshot_id"] + 1
        rel = self._stage_write(
            merged, new_sid, nb, key, buckets=todo,
            sort_by_key=sort_by_key, sort_by=sort_by,
            tasks_per_bucket=tasks_per_bucket,
            target_records_per_file=target_records_per_file,
        )
        entries = self._file_entries(rel, snap["current_schema_id"])
        out = {b: _norm_entry(e) for b, e in snap["buckets"].items()}
        for b in todo:
            out[str(b)] = {"base": entries.get(b), "deltas": []}
        return self._commit(
            snap, new_sid, out, None, None,
            summary={"operation": "compact", "buckets": len(todo)},
            rebase=_disjoint_rewrite_rebase(snap, todo, out, "compact"),
        )

    def rebucket(self, n_buckets: int) -> dict[str, Any]:
        """Bucket-layout evolution: re-cluster the whole table into
        ``n_buckets`` buckets in one atomic snapshot — the maintenance op
        for a table whose data outgrew (or over-shards under) its
        create-time spec. One clustered rewrite (single shuffle, same cost
        shape as a full ``compact``); readers pinned to older snapshots
        keep the old layout (time travel unaffected), and rewritten rows
        keep their ``__seq``/tombstones, so the changelog's seq-ceiling
        prune treats the rewrite like a compaction (no phantom changes).

        Iceberg evolves partition specs lazily (new spec applies only to
        new files); this engine keeps exactly ONE layout per snapshot so
        bucket pruning, per-bucket reconciliation and the disjoint-rewrite
        OCC rules stay single-epoch — the rewrite is that invariant's
        price, paid once per evolution. Bumping ``spec_id`` makes every
        in-flight commit that planned placements under the old layout
        conflict out instead of stranding rows (``_check_same_layout``)."""
        snap = self.snapshot()
        nb = int(n_buckets)
        if nb < 1:
            raise ValueError("n_buckets must be >= 1")
        if nb == snap["table"]["n_buckets"]:
            return snap
        key = snap["table"]["key"]
        full = self.read(
            include_deleted=True, include_system=True,
            as_of=snap["snapshot_id"],
        ).withColumn(BUCKET_COL, bucket_expr(key, nb))
        new_sid = snap["snapshot_id"] + 1
        rel = self._stage_write(full, new_sid, nb, key)
        buckets = _base_only_buckets(
            self._file_entries(rel, snap["current_schema_id"]), nb
        )
        return self._commit(
            snap, new_sid, buckets, None, None,
            summary={
                "operation": "rebucket",
                "from_buckets": snap["table"]["n_buckets"],
                "n_buckets": nb,
            },
            table_meta={
                **snap["table"],
                "n_buckets": nb,
                "spec_id": snap["table"].get("spec_id", 0) + 1,
            },
        )

    def purge_tombstones(self, before_seq: int) -> dict[str, Any]:
        """Retention: rewrite all buckets dropping tombstones older than
        ``before_seq`` (safe once no event with seq < before_seq can still
        arrive — the retention watermark). The reference analogue is the
        superseded-batch cleanup (``catalog.py:212-275``)."""
        snap = self.snapshot()
        key, nb = snap["table"]["key"], snap["table"]["n_buckets"]
        kept = self.read(include_deleted=True, include_system=True).filter(
            ~(F.col(DELETED_COL) & (F.col(SEQ_COL) < before_seq))
        ).withColumn(BUCKET_COL, bucket_expr(key, nb))
        new_sid = snap["snapshot_id"] + 1
        rel = self._stage_write(kept, new_sid, nb, key)
        buckets = _base_only_buckets(
            self._file_entries(rel, snap["current_schema_id"]), nb
        )
        return self._commit(
            snap, new_sid, buckets, None, None,
            summary={"operation": "purge_tombstones", "before_seq": before_seq},
        )

    def delete_where(
        self,
        where: list[tuple[str, str, Any]],
        app_id: str | None = None,
        batch_id: int | None = None,
        mode: str = "mor",
    ) -> dict[str, Any]:
        """Row-level predicate delete — Iceberg ``DELETE FROM t WHERE …``.

        Plans like a read: the predicate triples go through the manifest's
        per-file-group column bounds (``_prune_where``), so only buckets
        that can possibly match are scanned to find the doomed keys; the
        keys then flow through ``merge`` as tombstone events at
        ``seq_ceiling + 1`` — one seq above every event the table has ever
        seen, so the delete supersedes all stored versions while later
        genuine change events (with higher seqs) can still re-insert the
        key. ``mode="mor"`` lands the tombstones as an O(matching-keys)
        delta append; ``mode="cow"`` rewrites the touched buckets.

        Single-logical-writer contract for the seq choice: a *concurrent*
        upsert committing at the same ``seq_ceiling + 1`` would tie with
        the delete (the OCC rebase keeps both commits, but which row wins
        the tie is undefined). Reference analogue: the superseded-record
        cleanup loop (``omicidx_etl/sra/catalog.py:212-275``) expressed as
        one declarative change set.
        """
        snap = self.snapshot()
        key = snap["table"]["key"]
        seq = snap.get("seq_ceiling", -1) + 1
        doomed = self.read(where=where).select(key)
        ch = doomed.withColumn("op", F.lit("D")).withColumn(
            "seq", F.lit(seq).cast("long")
        )
        return self.merge(
            ch,
            app_id=app_id,
            batch_id=batch_id,
            mode=mode,
            extra_summary={"delete_where": [list(w) for w in where]},
        )

    def rollback(self, to_sid: int) -> dict[str, Any]:
        """Roll main back to a previous snapshot — Iceberg
        ``rollback_to_snapshot``: a NEW commit whose bucket manifest is the
        target snapshot's, so history is never rewritten (the bad commits
        stay inspectable via ``history()``/``read(as_of=)``) and
        time-travel/branch refs stay valid. The target must be an ancestor
        of the current main head (rolling back to another branch's commit
        would silently adopt its data — use ``publish`` for that).

        Schema metadata is NOT rolled back (Iceberg semantics: rollback
        moves the data pointer only): the restored data dirs re-map to the
        current schema through field ids like any other old files.

        ``changes()`` intervals that cross a rollback raise — the interval
        would net events that the rollback then un-happened (same lossiness
        class as ``purge_tombstones``, detected the same way).
        """
        snap = self.snapshot()
        target = self.snapshot_at(to_sid)
        sid, seen = snap["snapshot_id"], False
        walk = snap
        while True:
            if walk["snapshot_id"] == to_sid:
                seen = True
                break
            parent = walk.get("parent_id")
            if parent is None or parent < 0 or parent == walk["snapshot_id"]:
                break
            walk = self.snapshot_at(parent)
        if not seen:
            raise ValueError(
                f"snapshot {to_sid} is not an ancestor of main head {sid}; "
                "rollback only walks main's own history"
            )
        buckets = {b: _norm_entry(e) for b, e in target["buckets"].items()}
        return self._commit(
            snap, snap["snapshot_id"] + 1, buckets, None, None,
            summary={
                "operation": "rollback",
                "rolled_back_to": to_sid,
                "rolled_back_from": sid,
            },
        )

    # -------------------------------------------------------- schema evolution
    def _cur_field_ids(self, snap: dict) -> dict[str, int]:
        fids = snap.get("field_ids") or {}
        cur = fids.get(str(snap["current_schema_id"]))
        if cur is not None:
            return dict(cur)
        # legacy snapshot: synthesize positional ids for the current schema
        return {f.name: i for i, f in enumerate(self.current_schema(snap).fields)}

    def add_column(self, name: str, dtype: T.DataType) -> None:
        snap = self.snapshot()
        cur = self.current_schema(snap)
        if name in cur.fieldNames():
            return  # idempotent
        ids = self._cur_field_ids(snap)
        all_ids = [
            i for m in (snap.get("field_ids") or {}).values() for i in m.values()
        ] or list(ids.values())
        ids[name] = max(all_ids, default=-1) + 1  # never reuse a retired id
        new = T.StructType(cur.fields + [T.StructField(name, dtype, True)])
        self._evolve(snap, new, f"add_column {name}", field_ids=ids)

    def rename_column(self, old: str, new: str) -> None:
        """Rename a column without rewriting data (Iceberg ``RENAME
        COLUMN``): the stable field id carries identity, so files written
        under the old name re-map at read time. The bucket key cannot be
        renamed (its name is part of the table transform contract)."""
        snap = self.snapshot()
        cur = self.current_schema(snap)
        if old == snap["table"]["key"]:
            raise ValueError("cannot rename the bucket key column")
        if old not in cur.fieldNames():
            raise ValueError(f"no such column {old!r}")
        if new in cur.fieldNames():
            raise ValueError(f"column {new!r} already exists")
        ids = self._cur_field_ids(snap)
        ids[new] = ids.pop(old)
        fields = [
            T.StructField(new, f.dataType, f.nullable) if f.name == old else f
            for f in cur.fields
        ]
        self._evolve(
            snap, T.StructType(fields), f"rename_column {old}->{new}", field_ids=ids
        )

    def drop_column(self, name: str) -> None:
        """Drop a column without rewriting data: historical files keep the
        bytes, readers stop projecting them (and column pruning means they
        are never decoded). The retired field id is never reused, so a
        later ``add_column`` with the same name is a NEW column — old
        files' values do not resurrect under it (Iceberg drop semantics)."""
        snap = self.snapshot()
        cur = self.current_schema(snap)
        if name == snap["table"]["key"]:
            raise ValueError("cannot drop the bucket key column")
        if name not in cur.fieldNames():
            return  # idempotent
        ids = self._cur_field_ids(snap)
        ids.pop(name, None)
        fields = [f for f in cur.fields if f.name != name]
        self._evolve(snap, T.StructType(fields), f"drop_column {name}", field_ids=ids)

    def widen_column(self, name: str, dtype: T.DataType) -> None:
        snap = self.snapshot()
        cur = self.current_schema(snap)
        if name == snap["table"]["key"] and cur[name].dataType != dtype:
            # xxhash64 hashes int and bigint differently: a widened key
            # would bucket new rows away from their existing versions
            raise ValueError("cannot widen the bucket key column")
        fields = []
        for f in cur.fields:
            if f.name == name:
                pair = (f.dataType.simpleString(), dtype.simpleString())
                if f.dataType == dtype:
                    return  # idempotent
                if pair not in _WIDEN_OK:
                    raise ValueError(f"illegal widen {pair[0]} -> {pair[1]}")
                fields.append(T.StructField(name, dtype, f.nullable))
            else:
                fields.append(f)
        self._evolve(
            snap,
            T.StructType(fields),
            f"widen_column {name}",
            field_ids=self._cur_field_ids(snap),
        )

    def _evolve(
        self,
        snap: dict,
        new_schema: T.StructType,
        op: str,
        field_ids: dict[str, int] | None = None,
    ) -> None:
        # Registered CHECK constraints must still resolve against the new
        # schema — otherwise a drop/rename leaves a constraint that makes
        # EVERY later write raise an unresolved-column error (constraints
        # get the same protection the bucket key already has). Exact check:
        # analyze each expression against an empty frame of the new schema.
        cons = snap.get("constraints") or {}
        if cons:
            probe = self.spark.createDataFrame([], _phys(new_schema))
            for cname, cexpr in sorted(cons.items()):
                try:
                    probe.filter(F.expr(cexpr)).schema
                except Exception as ex:
                    raise ValueError(
                        f"{op} would break CHECK constraint {cname!r} "
                        f"({cexpr}): {type(ex).__name__} — drop the "
                        "constraint first (drop_constraint), then re-add "
                        "it against the new schema"
                    ) from ex
        new_schema_id = max(int(k) for k in snap["schemas"]) + 1
        new = dict(snap)
        new["parent_id"] = snap["snapshot_id"]
        new["schemas"] = dict(snap["schemas"], **{str(new_schema_id): new_schema.json()})
        if field_ids is not None:
            fids = dict(snap.get("field_ids") or {})
            # Backfill positional ids for every pre-feature schema id still
            # referenced by the snapshot: before field_ids existed only
            # add_column/widen_column could evolve a schema, so a name's
            # position is stable across all legacy schemas and positional
            # ids are exact. Without this, _remap sees `old is None` for
            # legacy file groups, returns identity, and a rename would read
            # their data back as NULL (_align drops the old-named physical
            # column and null-fills the new name).
            for sid_key, schema_json in snap["schemas"].items():
                if sid_key not in fids:
                    legacy = T.StructType.fromJson(json.loads(schema_json))
                    fids[sid_key] = {f.name: i for i, f in enumerate(legacy.fields)}
            new["field_ids"] = dict(fids, **{str(new_schema_id): field_ids})
        new["current_schema_id"] = new_schema_id
        new["summary"] = {"operation": op}
        new["committed_at"] = time.time()
        with _commit_lock(self._meta_dir):
            cur = self.snapshot()
            if cur["snapshot_id"] != snap["snapshot_id"]:
                raise CommitConflict(
                    f"snapshot advanced {snap['snapshot_id']} -> "
                    f"{cur['snapshot_id']} during {op!r}; schema evolution "
                    "cannot be rebased — retry against the current snapshot"
                )
            # id from the global allocator: parent+1 may name an existing
            # branch snapshot (forked DAG), which this write must not clobber
            new["snapshot_id"] = self._next_sid()
            self._write_snapshot(new)

    # -------------------------------------------------------------- retention
    def auto_maintain(self, **policy) -> dict[str, Any]:
        """Policy-driven maintenance: compact only buckets whose MOR delta
        chain exceeds the policy threshold (bucket-sliced, per-slice
        expiry), expire history past retention + slack, refresh bloom
        sidecars only where previously built (see lake/maintain.py; purge
        stays explicit — the table cannot see subscriber offsets)."""
        from omicidx_etl_spark.lake.maintain import auto_maintain

        return auto_maintain(self, **policy)

    def fsck(self, deep: bool = False) -> dict[str, Any]:
        """Integrity audit of the current snapshot (see lake/fsck.py):
        metadata tier always (manifest-bounded, no jobs); ``deep=True``
        adds executor-side footer checks, bounds-containment, seq-ceiling
        and key-uniqueness proofs."""
        from omicidx_etl_spark.lake.fsck import check_table

        return check_table(self, deep=deep)

    def clone(
        self,
        dest_root: str,
        at: int | None = None,
        as_of_ts: float | None = None,
        io_parallelism: int | None = None,
    ) -> "LakeTable":
        """Deep-clone one snapshot of this table into an independent new
        table at ``dest_root`` (see lake/clone.py for semantics: preserves
        key/buckets/all schema versions/field ids/bounds stats/txn
        watermarks/seq_ceiling/constraints; resets history; copies bytes in
        a width-proportional Spark job)."""
        from omicidx_etl_spark.lake.clone import clone_table

        return clone_table(
            self, dest_root, at=at, as_of_ts=as_of_ts,
            io_parallelism=io_parallelism,
        )

    def expire_snapshots(
        self, keep_last: int = 2, orphan_grace_s: float = 3600.0
    ) -> list[str]:
        """Drop old snapshot files and delete data dirs no retained snapshot
        references. Returns deleted data-dir relpaths.

        Retained: the last ``keep_last`` snapshots of MAIN's ancestry (not
        the last N ids — branch commits interleave ids, and "newest N files"
        could otherwise expire main's own current snapshot), plus every live
        branch head and its chain back to a retained snapshot (``publish``
        must be able to walk head → main to prove fast-forward ancestry).

        Two deletion classes (Iceberg expire_snapshots + remove_orphan_files):
        dirs referenced only by snapshots being expired delete immediately
        (deliberate expiry); dirs referenced by NO snapshot at all — a
        crashed writer's staging, an OCC loser's files — delete only when
        older than ``orphan_grace_s``, because an identical-looking dir is
        what a CONCURRENT in-flight commit is writing right now (files land
        outside the commit lock on purpose). Pass 0 to sweep everything in
        tests/offline maintenance."""
        keep_ids: set[int] = set()
        sid: int | None = self.snapshot()["snapshot_id"]
        for _ in range(max(keep_last, 1)):
            if sid is None:
                break
            keep_ids.add(sid)
            try:
                sid = self.snapshot_at(sid).get("parent_id")
            except FileNotFoundError:
                break
        for head in self._read_refs().values():
            chain: int | None = head
            while chain is not None and chain not in keep_ids:
                keep_ids.add(chain)
                try:
                    chain = self.snapshot_at(chain).get("parent_id")
                except FileNotFoundError:
                    break
        # tags pin only their own snapshot (reads resolve one manifest);
        # a tag's history stays walkable only while retention keeps it
        keep_ids.update(self._read_tags().values())
        snaps = self.history()
        keep = [s for s in snaps if s["snapshot_id"] in keep_ids]
        referenced = set()
        for s in keep:
            for raw in s["buckets"].values():
                entry = _norm_entry(raw)
                for fe in ([entry["base"]] if entry["base"] else []) + entry["deltas"]:
                    referenced.add(fe["dir"])
        # every dir ANY historical snapshot references — computed before the
        # metadata removal below, to distinguish "expired" from "never
        # committed" (the latter may be a concurrent writer's in-flight
        # staging and gets the grace period)
        referenced_any = set(referenced)
        for s in snaps:
            for raw in s["buckets"].values():
                entry = _norm_entry(raw)
                for fe in ([entry["base"]] if entry["base"] else []) + entry["deltas"]:
                    referenced_any.add(fe["dir"])
        deleted = []
        # snapshot metadata
        for s in snaps:
            if s["snapshot_id"] not in keep_ids:
                p = self._snap_path(s["snapshot_id"])
                if os.path.exists(p):
                    os.remove(p)
        # orphan data dirs (two-pass like catalog.py:212-275, but manifest-driven)
        now = time.time()
        if os.path.isdir(self._data_dir):
            for snapdir in os.listdir(self._data_dir):
                for bdir in os.listdir(os.path.join(self._data_dir, snapdir)):
                    rel = os.path.join("data", snapdir, bdir)
                    if rel in referenced:
                        continue
                    full = os.path.join(self.root, rel)
                    if rel not in referenced_any:
                        try:
                            mt = max(
                                [os.path.getmtime(full)]
                                + [e.stat().st_mtime for e in os.scandir(full)]
                            )
                        except OSError:
                            continue  # racing a writer creating it right now
                        if now - mt < orphan_grace_s:
                            continue  # possibly in-flight: let it age first
                    shutil.rmtree(full, ignore_errors=True)
                    deleted.append(rel)
            for snapdir in os.listdir(self._data_dir):
                full = os.path.join(self._data_dir, snapdir)
                if not os.listdir(full):
                    os.rmdir(full)
        return deleted

    # -------------------------------------------------------------- internals
    def _bucket_exchange(
        self,
        df: DataFrame,
        nb: int,
        key: str,
        buckets: "list[int] | None" = None,
        latest: bool = False,
        sort_by_key: bool = False,
        sort_by: "list[str] | None" = None,
        tasks_per_bucket: int = 1,
    ) -> DataFrame:
        """The one shuffle of a staged write: ``df`` (carrying BUCKET_COL)
        repartitioned so each task writes whole buckets (one file per
        bucket), optionally deduplicated and sorted, ready for
        ``_write_staged``.

        Partitions: P = min(buckets written, ``defaultParallelism``).
        ``buckets`` names the buckets that can carry rows (default all
        ``nb``); the remap (``_bucket_partition_col``) deals them out
        round-robin, so each task writes at most ⌈buckets/P⌉ whole buckets
        and every task gets some. Sizing from the bucket count instead put 16
        write tasks on 4 cores for a 5k-event MOR commit, each paying
        ~46 ms to deserialize, and gave an 8-bucket compaction slice 16
        tasks, half of them empty. At P == buckets (as many cores as
        buckets) every bucket gets its own task, as before.

        ``latest=True`` keeps the latest ``__seq`` row per key INSIDE this
        exchange: ``latest_per_key`` groups by (BUCKET_COL, partition col,
        key), whose clustering the hash partitioning already satisfies, so
        the plan is Exchange → Sort → SortAggregate → write with no second
        shuffle, and the aggregate's output order (BUCKET_COL first) is the
        order the partitioned writer needs. A frame that already has one
        row per key comes out unchanged but still pays the sort and the
        aggregate: on the ``bench.py`` replay (prefiltered 500k-event
        batches of wide rows, 32 buckets, 4 cores) that cost did not show,
        71.99 → 71.07 s median over 6 interleaved runs each.

        ``sort_by_key`` adds a task-local key sort (tight row-group stats
        for point lookups); ``sort_by`` sorts by other columns instead.

        ``tasks_per_bucket > 1`` splits each bucket's rewrite across k tasks
        (a deterministic key-hash slice inside the bucket): at 100 TB a hot
        bucket's base is tens of GB and one task per bucket makes the
        compaction wall equal to the largest bucket — slicing restores
        width-proportional rewrites at the cost of k files per bucket dir
        (the manifest tracks dirs, so reads are unchanged). The slices are
        then the units dealt out to the P partitions."""
        k = tasks_per_bucket
        used = [
            b * k + s for b in (range(nb) if buckets is None else sorted(buckets))
            for s in range(k)
        ]
        p = max(1, min(len(used), self.spark.sparkContext.defaultParallelism))
        idx = F.col(BUCKET_COL)
        if k > 1:
            idx = idx * k + F.pmod(F.xxhash64(F.col(key), F.lit(7)), F.lit(k))
        out = df.withColumn(
            PART_COL, _bucket_partition_col(idx, nb * k, p, used)
        ).repartition(p, PART_COL)
        if latest:
            out = C.latest_per_key(out, [BUCKET_COL, PART_COL, key], SEQ_COL)
        out = out.drop(PART_COL)
        if sort_by or sort_by_key:
            # Leading BUCKET_COL matters: the dynamic-partition writer
            # requires ordering by the partition column and would insert its
            # own (key-order-destroying) sort unless the child's ordering
            # already satisfies it.
            out = out.sortWithinPartitions(
                BUCKET_COL, *(list(sort_by) if sort_by else [key])
            )
        return out

    def _write_staged(
        self,
        df: DataFrame,
        sid: int,
        target_records_per_file: int | None = None,
        codec: str | None = None,
    ) -> dict[int, str]:
        """Write an exchanged frame (``_bucket_exchange``) under
        data/snap-{sid}/ partitioned by bucket; returns {bucket: relpath}
        for buckets that produced files. ``target_records_per_file`` bounds
        file size within a task (``maxRecordsPerFile`` — Iceberg's binpack
        target).

        The dir carries a per-attempt suffix: concurrent writers both plan
        the same next sid, and optimistic concurrency stages WITHOUT
        coordination — same-named stage dirs would overwrite each other's
        files before either commits. A losing attempt's dir is simply never
        referenced (expire_snapshots reclaims orphans by reference, not by
        name)."""
        stage_rel = os.path.join("data", f"snap-{sid:09d}-{uuid.uuid4().hex[:8]}")
        stage = os.path.join(self.root, stage_rel)
        writer = df.write.mode("overwrite")
        if codec:
            # per-write codec override (see merge mor: delta files default
            # to snappy — write-hot, short-lived; bases keep the session
            # codec, zstd, where ratio pays off over many reads)
            writer = writer.option("compression", codec)
        if target_records_per_file:
            writer = writer.option("maxRecordsPerFile", str(target_records_per_file))
        writer.partitionBy(BUCKET_COL).parquet(stage)
        out: dict[int, str] = {}
        if os.path.isdir(stage):
            for name in os.listdir(stage):
                if name.startswith(f"{BUCKET_COL}="):
                    b = int(name.split("=", 1)[1])
                    out[b] = os.path.join(stage_rel, name)
        return out

    def _stage_write(
        self,
        df: DataFrame,
        sid: int,
        nb: int,
        key: str,
        buckets: "list[int] | None" = None,
        sort_by_key: bool = False,
        sort_by: "list[str] | None" = None,
        tasks_per_bucket: int = 1,
        target_records_per_file: int | None = None,
    ) -> dict[int, str]:
        """``_bucket_exchange`` then ``_write_staged``: stage ``df`` as one
        file group per bucket (see those two for the arguments)."""
        out = self._bucket_exchange(
            df, nb, key, buckets=buckets, sort_by_key=sort_by_key,
            sort_by=sort_by, tasks_per_bucket=tasks_per_bucket,
        )
        return self._write_staged(
            out, sid, target_records_per_file=target_records_per_file
        )

    def _file_entry(self, rel_dir: str, schema_id: int) -> dict[str, Any]:
        """Manifest entry for one staged file group: dir + schema id +
        per-column [min, max] bounds (see _dir_stats) + row count (drives
        the read-side reconciliation strategy choice — see ``read``)."""
        full = os.path.join(self.root, rel_dir)
        stats, rows = _dir_stats_rows(full)
        return {
            "dir": rel_dir,
            "schema_id": schema_id,
            "stats": stats,
            "rows": rows,
        }

    def _file_entries(
        self, rels: "dict[int, str]", schema_id: int
    ) -> "dict[int, dict[str, Any]]":
        """_file_entry over many staged dirs, footers read CONCURRENTLY.
        The commit-time footer scrape is serial driver work between Spark
        jobs (guide §5: the driver should do almost no data work) — at one
        dir per bucket per MOR batch it was ~32 sequential footer opens
        per commit, a measurable slice of the per-batch wall. pyarrow
        releases the GIL during footer IO, so a small thread pool
        parallelizes it; ordering of the returned dict is normalized by
        bucket id for deterministic manifests."""
        if len(rels) <= 1:
            return {b: self._file_entry(d, schema_id) for b, d in rels.items()}
        from concurrent.futures import ThreadPoolExecutor

        items = sorted(rels.items())
        with ThreadPoolExecutor(max_workers=min(8, len(items))) as pool:
            entries = list(
                pool.map(lambda bd: self._file_entry(bd[1], schema_id), items)
            )
        return {b: e for (b, _), e in zip(items, entries)}

    def _commit(
        self,
        parent: dict,
        new_sid: int,
        buckets: dict[str, Any],
        app_id: str | None,
        batch_id: int | None,
        summary: dict[str, Any],
        rebase: "Callable[[dict], dict[str, Any]] | None" = None,
        ref: str | None = None,
        table_meta: "dict[str, Any] | None" = None,
        constraints: "dict[str, str] | None" = None,
    ) -> dict[str, Any]:
        """Optimistic-concurrency commit (Iceberg commit protocol): data
        files are already staged; under the commit lock, validate that the
        snapshot this operation planned against is still current. If a
        concurrent commit won the race, either replay the metadata change
        on top of the new current snapshot (``rebase`` — provided by
        operations that commute, e.g. merge-on-read delta appends and
        disjoint copy-on-write rewrites) or raise :class:`CommitConflict`.
        A losing writer's staged files become unreferenced orphans exactly
        as if it had crashed — never a partially-visible commit.

        ``ref`` commits onto that branch: validation runs against the branch
        head (auto-forking from current main if the branch does not exist
        yet), the snapshot file is written WITHOUT moving the main pointer,
        and the ref advances instead — main readers are oblivious until
        ``publish``."""
        with _commit_lock(self._meta_dir):
            refs = self._read_refs()
            if ref is not None and ref in refs:
                cur = self.snapshot_at(refs[ref])
            else:
                cur = self.snapshot()
            if cur["snapshot_id"] != parent["snapshot_id"]:
                if _already_committed(cur, app_id, batch_id):
                    return _skipped(cur, app_id, batch_id)
                if rebase is None:
                    raise CommitConflict(
                        f"snapshot advanced {parent['snapshot_id']} -> "
                        f"{cur['snapshot_id']} during "
                        f"{summary.get('operation')!r}; operation cannot be "
                        "rebased — retry against the current snapshot"
                    )
                buckets = rebase(cur)
                summary = dict(summary, rebased_from=parent["snapshot_id"])
                parent = cur
            txn = dict(parent["txn"])
            if app_id is not None and batch_id is not None:
                txn[app_id] = max(batch_id, txn.get(app_id, -1))
            # With branches the snapshot graph forks: parent+1 is not unique
            # across refs, so ids come from the global allocator (still under
            # the lock, so still race-free).
            new_sid = self._next_sid()
            snap = {
                "snapshot_id": new_sid,
                "parent_id": parent["snapshot_id"],
                "table": table_meta if table_meta is not None else parent["table"],
                "current_schema_id": parent["current_schema_id"],
                "schemas": parent["schemas"],
                "field_ids": parent.get("field_ids"),
                "constraints": (
                    constraints
                    if constraints is not None
                    else parent.get("constraints") or {}
                ),
                "buckets": buckets,
                "txn": txn,
                "summary": dict(summary, skipped=False),
                # monotone high-water mark of event seqs ever written; the
                # changelog scan (``changes``) uses the *from* snapshot's
                # ceiling to exclude rows that rewrites (compaction/COW)
                # carried into newer data dirs.
                "seq_ceiling": max(
                    parent.get("seq_ceiling", -1), int(summary.get("max_seq", -1))
                ),
                "committed_at": time.time(),
            }
            self._write_snapshot(snap, swap_pointer=ref is None)
            if ref is not None:
                refs[ref] = new_sid
                self._write_refs(refs)
        return snap


def _stat_value(v):
    """JSON-safe projection of a parquet footer stat; None = not storable."""
    if isinstance(v, bool) or v is None:
        return None
    if isinstance(v, (int, float, str)):
        return v
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bytes):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            return None
    return None


_PRED_OPS = {
    "=": lambda c, v: c == v,
    "<": lambda c, v: c < v,
    "<=": lambda c, v: c <= v,
    ">": lambda c, v: c > v,
    ">=": lambda c, v: c >= v,
}


def _group_excluded(
    group: dict, where: "list[tuple[str, str, Any]]", cur_sid: int
) -> bool:
    """True iff this file group provably contains NO row satisfying the
    predicate conjunction, judged from its recorded [min, max] bounds.
    Conservative on every gap: no stats, stats missing the column, a
    non-current schema id (stats carry physical pre-rename names), or a
    cross-type comparison all mean "cannot exclude" — pruning may only ever
    remove provably-dead IO, never rows."""
    if group.get("schema_id") != cur_sid:
        return False
    stats = group.get("stats") or {}
    for col, op, val in where:
        if col not in stats:
            continue
        lo, hi = stats[col]
        try:
            if op == "=" and (val < lo or val > hi):
                return True
            if op == "<" and not (lo < val):
                return True
            if op == "<=" and not (lo <= val):
                return True
            if op == ">" and not (hi > val):
                return True
            if op == ">=" and not (hi >= val):
                return True
        except TypeError:
            continue  # incomparable types: never prune on this predicate
    return False


def _dir_stats_rows(path: str) -> "tuple[dict[str, list] | None, int | None]":
    """ONE footer pass per file returning (column bounds, total rows) —
    previously two separate helpers each re-opened every footer, doubling
    the serial driver-side metadata IO at commit time (guide §5). Bounds
    semantics unchanged: a column is recorded only when every row group
    carries exact min/max, so recorded bounds are always safe to prune
    with; rows is None when any footer is unreadable (consumers treat
    missing as 'unknown' and fall back conservatively). On a distributed
    deployment the write tasks would report these with their output
    (Iceberg's DataFile stats); a driver-side footer scrape is the
    local-FS equivalent."""
    try:
        import pyarrow.parquet as pq
    except ImportError:
        return None, None
    mins: dict[str, Any] = {}
    maxs: dict[str, Any] = {}
    bad: set[str] = set()
    total = 0
    try:
        names = [n for n in os.listdir(path) if n.endswith(".parquet")]
        for name in names:
            md = pq.ParquetFile(os.path.join(path, name)).metadata
            total += md.num_rows
            for rg in range(md.num_row_groups):
                row_group = md.row_group(rg)
                for ci in range(row_group.num_columns):
                    col = row_group.column(ci)
                    cname = col.path_in_schema
                    if "." in cname:  # nested/list leaf — not a top-level column
                        continue
                    st = col.statistics
                    lo = _stat_value(st.min if st and st.has_min_max else None)
                    hi = _stat_value(st.max if st and st.has_min_max else None)
                    if lo is None or hi is None:
                        bad.add(cname)
                        continue
                    mins[cname] = lo if cname not in mins else min(mins[cname], lo)
                    maxs[cname] = hi if cname not in maxs else max(maxs[cname], hi)
    except Exception:  # noqa: BLE001 — any footer oddity → unknown (as _dir_rows did)
        return None, None
    out = {c: [mins[c], maxs[c]] for c in mins if c not in bad and c in maxs}
    return out or None, total


def _dir_stats(path: str) -> dict[str, list] | None:
    """Column bounds only — see :func:`_dir_stats_rows`."""
    return _dir_stats_rows(path)[0]


def _dir_rows(path: str) -> int | None:
    """Row count only — see :func:`_dir_stats_rows`."""
    return _dir_stats_rows(path)[1]


def _check_same_layout(parent: dict, cur: dict, op: str) -> None:
    """A rebase computed bucket placements under ``parent``'s bucket spec;
    if a concurrent ``rebucket`` changed the layout, those placements are
    wrong for the new spec — adopting them would strand rows in buckets
    their key no longer hashes to. Conflict out instead."""
    if parent["table"].get("spec_id", 0) != cur["table"].get("spec_id", 0):
        raise CommitConflict(
            f"bucket layout changed concurrently during {op} "
            f"(spec {parent['table'].get('spec_id', 0)} -> "
            f"{cur['table'].get('spec_id', 0)}); retry against the current "
            "snapshot"
        )


def _disjoint_rewrite_rebase(
    parent: dict, rewritten: list[int], my_buckets: dict[str, Any], op: str
) -> "Callable[[dict], dict[str, Any]]":
    """Rebase for operations that REWROTE a set of buckets from the parent
    state (copy-on-write merge, compaction). Safe iff no concurrent commit
    touched the same buckets — the rewrite was computed from their parent
    entries, so adopting it would silently drop the other commit's rows
    (e.g. a delta file appended mid-rewrite). Disjoint buckets commute:
    take the winner's entries for everything this operation didn't rewrite
    (Iceberg RewriteFiles validation)."""
    before = {str(b): _norm_entry(parent["buckets"][str(b)]) for b in rewritten}

    def rebase(cur: dict) -> dict[str, Any]:
        _check_same_layout(parent, cur, op)
        out = {b: _norm_entry(e) for b, e in cur["buckets"].items()}
        for b in rewritten:
            if out[str(b)] != before[str(b)]:
                raise CommitConflict(
                    f"bucket {b} changed concurrently during {op} "
                    f"(snapshot {parent['snapshot_id']} -> "
                    f"{cur['snapshot_id']}); rewrite cannot be rebased — "
                    "retry against the current snapshot"
                )
            out[str(b)] = my_buckets[str(b)]
        return out

    return rebase


def _norm_entry(entry: dict[str, Any] | None) -> dict[str, Any]:
    """Normalize a snapshot bucket entry. Accepts the legacy base-only form
    ({"dir", "schema_id"} | None) and the current {"base", "deltas"} form."""
    if entry is None:
        return {"base": None, "deltas": []}
    if "base" in entry or "deltas" in entry:
        return {"base": entry.get("base"), "deltas": list(entry.get("deltas") or [])}
    return {"base": entry, "deltas": []}


def _base_only_buckets(
    entries: "dict[int, dict[str, Any]]", nb: int
) -> dict[str, Any]:
    buckets: dict[str, Any] = {str(b): _norm_entry(None) for b in range(nb)}
    for b, fe in entries.items():
        buckets[str(b)] = {"base": fe, "deltas": []}
    return buckets


def _phys(user_schema: T.StructType) -> T.StructType:
    """Physical file schema = user schema + system columns."""
    return T.StructType(
        user_schema.fields
        + [
            T.StructField(SEQ_COL, T.LongType(), True),
            T.StructField(DELETED_COL, T.BooleanType(), True),
        ]
    )


def _remap(df: DataFrame, snap: dict, sid: int) -> DataFrame:
    """Re-map a file group written under schema ``sid`` onto current
    column names, joined on stable field ids: renamed fields alias to
    their current name; fields whose id was retired (dropped columns) are
    projected OUT even if a later ``add_column`` reused the name — old
    bytes never resurrect under a new column. Identity (no projection
    node) when no rename/drop separates the schemas or for legacy
    snapshots without ``field_ids``."""
    fids = snap.get("field_ids") or {}
    cur = fids.get(str(snap["current_schema_id"]))
    old = fids.get(str(sid))
    if cur is None or old is None:
        return df
    id_to_cur = {v: k for k, v in cur.items()}
    cols, changed = [], False
    for c in df.columns:
        if c in old:
            oid = old[c]
            if oid not in id_to_cur:
                changed = True  # retired id: drop the physical column
                continue
            if id_to_cur[oid] != c:
                changed = True
                cols.append(F.col(c).alias(id_to_cur[oid]))
                continue
        cols.append(F.col(c))  # unchanged field or system column
    return df.select(*cols) if changed else df


def _align(df: DataFrame, schema: T.StructType) -> DataFrame:
    """Project df onto schema: cast matching columns, null-fill missing ones,
    drop extras. Column-expression only."""
    cols = []
    have = {f.name for f in df.schema.fields}
    for f in schema.fields:
        if f.name in have:
            cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return df.select(*cols)


def _already_committed(snap: dict, app_id: str | None, batch_id: int | None) -> bool:
    if app_id is None or batch_id is None:
        return False
    return snap["txn"].get(app_id, -1) >= batch_id


def _skipped(snap: dict, app_id: str | None, batch_id: int | None) -> dict[str, Any]:
    return dict(
        snap,
        summary={"operation": "merge", "skipped": True, "app_id": app_id, "batch_id": batch_id},
    )
