"""The snapshot manifest format: the one module that knows how snapshot
files are named and how a bucket entry is laid out. It imports nothing
from the engine, so every module can import it at top level.

A table's metadata lives in ``<root>/_meta``. Each commit writes one
immutable ``snapshot-{sid:09d}.json``, and ``_current`` names the current
one (the atomic pointer swap in ``lake/table.py`` is the commit point).
A snapshot's ``buckets`` maps a bucket id (str) to an entry::

    {"base": group | None, "deltas": [group, ...]}
    group = {"dir": relpath, "schema_id": int, "stats": {col: [lo, hi]}, "rows": int}

``base`` is the bucket's compacted (or copy-on-write) file group;
``deltas`` are its merge-on-read appends, oldest first. ``stats`` and
``rows`` are optional. Every walk visits buckets in snapshot order and
the base before the deltas: that order is the dir order of a read.

Tables written before the delta tier stored an entry as ``None`` or as a
bare group. ``load_snapshot`` normalizes those on read, the only place
the legacy forms are accepted. A loaded entry is never mutated in place:
writers build new entries (``base_entry``, ``append_deltas``).
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterable, Iterator
from typing import Any

_PREFIX, _SUFFIX = "snapshot-", ".json"


def snapshot_path(meta_dir: str, sid: int) -> str:
    return os.path.join(meta_dir, f"{_PREFIX}{sid:09d}{_SUFFIX}")


def snapshot_ids(meta_dir: str) -> list[int]:
    """Ids of the snapshot files under ``meta_dir``, ascending."""
    return sorted(
        int(name[len(_PREFIX):-len(_SUFFIX)])
        for name in os.listdir(meta_dir)
        if name.startswith(_PREFIX) and name.endswith(_SUFFIX)
    )


def load_snapshot(path: str) -> dict[str, Any]:
    with open(path) as f:
        snap = json.load(f)
    snap["buckets"] = {b: _normalize(e) for b, e in snap["buckets"].items()}
    return snap


def _normalize(entry: dict[str, Any] | None) -> dict[str, Any]:
    if entry is None:
        return base_entry(None)
    if "base" in entry or "deltas" in entry:
        return {"base": entry.get("base"), "deltas": list(entry.get("deltas") or [])}
    return base_entry(entry)


def file_groups(entry: dict[str, Any]) -> list[dict[str, Any]]:
    """An entry's file groups: the base, then the deltas."""
    return ([entry["base"]] if entry["base"] else []) + entry["deltas"]


def snapshot_file_groups(
    snap: dict[str, Any], buckets: Iterable[int] | None = None
) -> Iterator[tuple[int, dict[str, Any], bool]]:
    """``(bucket, group, is_delta)`` for every file group of the snapshot,
    or of ``buckets`` only, in snapshot order."""
    want = None if buckets is None else set(buckets)
    for b, entry in snap["buckets"].items():
        if want is None or int(b) in want:
            if entry["base"]:
                yield int(b), entry["base"], False
            for group in entry["deltas"]:
                yield int(b), group, True


def referenced_dirs(snap: dict[str, Any]) -> set[str]:
    return {group["dir"] for _, group, _ in snapshot_file_groups(snap)}


def delta_chains(snap: dict[str, Any]) -> dict[int, int]:
    """Bucket id -> length of its delta chain."""
    return {int(b): len(e["deltas"]) for b, e in snap["buckets"].items()}


def max_delta_depth(snap: dict[str, Any]) -> int:
    return max(delta_chains(snap).values(), default=0)


def base_entry(group: dict[str, Any] | None) -> dict[str, Any]:
    """A bucket holding ``group`` (None: nothing) and no deltas."""
    return {"base": group, "deltas": []}


def base_only_buckets(
    groups: dict[int, dict[str, Any]], n_buckets: int
) -> dict[str, Any]:
    """A bucket map of ``n_buckets`` base-only entries, empty where
    ``groups`` has no group."""
    return {str(b): base_entry(groups.get(b)) for b in range(n_buckets)}


def append_deltas(
    buckets: dict[str, Any], groups: dict[int, dict[str, Any]]
) -> dict[str, Any]:
    """A new bucket map with each ``groups[b]`` appended to bucket b's
    delta chain; ``buckets`` is left as it is."""
    out = dict(buckets)
    for b, group in groups.items():
        e = out[str(b)]
        out[str(b)] = {"base": e["base"], "deltas": e["deltas"] + [group]}
    return out
