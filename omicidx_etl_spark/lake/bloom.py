"""Per-data-dir bloom-filter sidecars: point-lookup file skipping.

Iceberg/Delta keep per-file bloom filters so point reads skip data files
the key provably isn't in; this is that feature at the engine's manifest
granularity (file-group dirs). Because committed data dirs are IMMUTABLE
(every write stages a new ``snap-*`` dir; compaction replaces dirs, never
edits them), a bloom built for a dir is valid forever — no invalidation
protocol, new dirs just build lazily on the next ``build_blooms`` pass
(the maintenance-job cadence).

Why it matters at scale: ``lookup`` already prunes to the key's bucket,
but a long-lived MOR bucket holds a base plus many delta dirs and a point
read must open ALL of them (any delta might hold a newer version of the
key). With sidecars, dirs whose bloom excludes every probed key drop out
of the scan — for a key updated once, a 1-base + 20-delta bucket reads 2
dirs instead of 21. Skipping by KEY at dir granularity is reconciliation-
safe (unlike value-predicate pruning, see ``read``): a dir with no rows
for the probed keys contributes nothing to those keys' latest-seq-wins
merge.

Layout: ``<root>/_index/bloom/<dir with '/'→'__'>.json`` holding
``{m, j, n, bits: base64}``. Bit positions are ``pmod(xxhash64(key,
seed), m)`` for seed in 0..j-1 — computed by the JVM at build time and by
the driver port (``lake.hashing``) at probe time, so a probe submits no
Spark job; the raw 64-bit hashes are computed once per key and reduced
``mod m`` per dir, so dirs with different m share them. Sizing: m =
next-pow2(10 bits/key), capped at 2^20 bits (128 KiB) — the build-time
``distinct`` of set bit positions is therefore driver-bounded by m, never
by dir row count.
"""

from __future__ import annotations

import base64
import json
import os
from typing import Any, Iterable

from pyspark.sql import functions as F

from omicidx_etl_spark.lake import manifest as M
from omicidx_etl_spark.lake.hashing import xxhash64

BLOOM_SUBDIR = os.path.join("_index", "bloom")
DEFAULT_HASHES = 4


def _bloom_path(root: str, rel_dir: str) -> str:
    return os.path.join(
        root, BLOOM_SUBDIR, rel_dir.replace(os.sep, "__") + ".json"
    )


def _size_bits(n: int, bits_per_key: int, lo: int, hi: int) -> int:
    target = max(1, n * bits_per_key)
    return max(lo, min(hi, 1 << (target - 1).bit_length()))


def build_blooms(
    table,
    bits_per_key: int = 10,
    n_hashes: int = DEFAULT_HASHES,
    max_bits: int = 1 << 20,
    min_bits: int = 1 << 10,
) -> dict[str, int]:
    """Build missing sidecars for every dir the CURRENT snapshot references
    (older snapshots' dirs age out with retention; time-travel lookups fall
    back to unfiltered reads). Idempotent and incremental: existing
    sidecars are never rebuilt. Also PRUNES sidecars whose data dir no
    longer exists on disk (each sidecar records its dir; compaction /
    expire_snapshots delete dirs, and without this sweep the ~128 KiB
    sidecars of every historical dir would accumulate forever). Returns
    {"built", "existing", "pruned"}."""
    from omicidx_etl_spark.lake.table import atomic_write_json

    snap = table.snapshot()
    key = snap["table"]["key"]
    built = existing = 0
    for _, fe, _ in M.snapshot_file_groups(snap):
        rel = fe["dir"]
        path = _bloom_path(table.root, rel)
        if os.path.exists(path):
            existing += 1
            continue
        df = table.spark.read.parquet(
            os.path.join(table.root, rel)
        ).select(key)
        n = df.count()
        m = _size_bits(n, bits_per_key, min_bits, max_bits)
        cols = [
            F.pmod(F.xxhash64(F.col(key), F.lit(s)), F.lit(m)).cast("long")
            for s in range(n_hashes)
        ]
        pos = (
            df.select(F.explode(F.array(*cols)).alias("p"))
            .distinct()
            .collect()
        )
        bits = bytearray((m + 7) // 8)
        for r in pos:
            p = r["p"]
            bits[p >> 3] |= 1 << (p & 7)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        atomic_write_json(
            path,
            {
                "dir": rel,
                "m": m,
                "j": n_hashes,
                "n": n,
                "bits": base64.b64encode(bytes(bits)).decode(),
            },
        )
        built += 1
    d = prune_blooms(table, detail=True)
    return {
        "built": built,
        "existing": existing,
        "pruned": d["pruned"],
        "tmp_removed": d["tmp_removed"],
    }


TMP_GRACE_SEC = 3600.0


def prune_blooms(
    table, tmp_grace_sec: float = TMP_GRACE_SEC, *, detail: bool = False
) -> "int | dict[str, int]":
    """Delete sidecars whose data dir is gone (expired/compacted-away).
    Safe by construction: a sidecar names its dir; a dir that no longer
    exists can never be scanned, so its sidecar is dead weight. Sidecars
    missing the dir field (unreadable/foreign files) are also removed —
    dirs_to_skip would never trust them anyway. Orphaned ``.tmp-*`` files
    from a crashed ``atomic_write_json`` are deleted once older than
    ``tmp_grace_sec`` (the grace period protects a concurrent in-flight
    write; without the sweep they would accumulate forever).

    Returns the count of SIDECARS pruned (the number auto-maintain's
    action accounting understands); tmp-orphan deletions are tracked
    separately — pass ``detail=True`` for
    ``{"pruned": sidecars, "tmp_removed": orphans}`` (ADVICE r5: the two
    were previously conflated in one counter)."""
    import time

    bdir = os.path.join(table.root, BLOOM_SUBDIR)
    if not os.path.isdir(bdir):
        return {"pruned": 0, "tmp_removed": 0} if detail else 0
    pruned = 0
    tmp_removed = 0
    now = time.time()
    for name in os.listdir(bdir):
        if name.endswith(".tmp") or ".tmp-" in name:
            path = os.path.join(bdir, name)
            try:
                if now - os.path.getmtime(path) > tmp_grace_sec:
                    os.remove(path)
                    tmp_removed += 1
            except OSError:
                pass
            continue
        path = os.path.join(bdir, name)
        try:
            with open(path) as f:
                rel = json.load(f).get("dir")
        except (OSError, ValueError):
            rel = None
        if rel is None or not os.path.isdir(os.path.join(table.root, rel)):
            try:
                os.remove(path)
                pruned += 1
            except OSError:
                pass
    return {"pruned": pruned, "tmp_removed": tmp_removed} if detail else pruned


def _load_meta(root: str, rel_dir: str) -> "dict[str, Any] | None":
    path = _bloom_path(root, rel_dir)
    try:
        with open(path) as f:
            meta = json.load(f)
    except (OSError, ValueError):
        return None
    meta["_bits"] = base64.b64decode(meta["bits"])
    return meta


def dirs_to_skip(
    table, keys: Iterable[Any], candidate_dirs: "list[str]"
) -> "set[str]":
    """Among ``candidate_dirs`` (manifest relpaths), the dirs whose bloom
    proves NONE of ``keys`` can be present. Dirs without a sidecar are
    never skipped (build_blooms hasn't visited them). Pure driver work:
    ``F.xxhash64(key, lit(s))`` chains as ``xxhash64(s, seed=xxhash64(key))``,
    so the len(keys) × j raw hashes come from ``lake.hashing``; the per-dir
    ``mod m`` test is pure Python."""
    keys = list(keys)
    metas = {d: _load_meta(table.root, d) for d in candidate_dirs}
    metas = {d: m for d, m in metas.items() if m is not None}
    if not metas or not keys:
        return set()
    snap = table.snapshot()
    key = snap["table"]["key"]
    dtype = table.current_schema(snap)[key].dataType.simpleString()
    j = max(m["j"] for m in metas.values())
    hrows = []
    for k in keys:
        h = xxhash64(k, dtype)
        hrows.append([xxhash64(s, "int", seed=h) for s in range(j)])
    skip: set[str] = set()
    for d, meta in metas.items():
        m, bits, jj = meta["m"], meta["_bits"], meta["j"]
        hit = False
        for r in hrows:
            if all(bits[(r[s] % m) >> 3] >> ((r[s] % m) & 7) & 1 for s in range(jj)):
                hit = True
                break
        if not hit:
            skip.add(d)
    return skip
