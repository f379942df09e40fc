"""Table integrity checker (Iceberg ``verify`` / Delta FSCK shape): walk the
current snapshot and prove the metadata's claims about the data still hold.
An operator runs this after a suspicious crash, before a migration, or on a
cron — it is the difference between "the pointer swaps atomically so we're
probably fine" and "checked".

Two tiers, because their costs differ by orders of magnitude:

- **metadata checks** (always): driver-side, manifest-bounded — every
  referenced data dir exists, every file entry's schema id resolves, field
  ids cover the current schema, branch/tag refs point at snapshot files
  that exist, CHECK constraints still parse against the current schema,
  bloom sidecars reference live dirs. O(manifest), no Spark jobs.
- **deep checks** (``deep=True``): Spark-job-backed, width-proportional —
  every parquet file's footer opens executor-side (corrupt/truncated files
  surface here, ONE job over the manifest's file list, same shape as
  clone's copy job); manifest [min,max] bounds CONTAIN the actual per-dir
  data (a bound that lies turns bounds-pruned reads into silent row loss —
  this is the check that catches it); ``seq_ceiling`` ≥ the max ``__seq``
  on disk (a low ceiling breaks ``changes()``'s lossy-interval guard); and
  the reconciled view has at most one row per key (the merge invariant).

Findings are ``{"severity": "error"|"warning", "code", "detail"}``; the
report is ``{"ok", "errors", "warnings", "findings", "checked"}``. Errors
mean reads may be wrong; warnings mean derived artifacts are stale (e.g. a
bloom sidecar for a compacted-away dir — harmless, ``build_blooms()``
prunes them).

The reference has no such audit (its consolidation trusts DuckDB file
reads end-to-end, ``omicidx_etl/build_db.py:40-55``); on a 10^10-event
lake an unverifiable table is an outage waiting to be discovered.
"""

from __future__ import annotations

import json
import os
from typing import Any

from omicidx_etl_spark.lake import manifest as M


def _footer_errors(pairs) -> "list[tuple[str, str]]":
    """Executor-side: open each parquet footer; return (path, error) for
    unreadable files. stdlib+pyarrow only — pickled by value."""
    out = []
    import pyarrow.parquet as pq

    for path in pairs:
        try:
            md = pq.ParquetFile(path).metadata
            if md.num_rows < 0:  # pragma: no cover - pyarrow invariant
                out.append((path, "negative num_rows"))
        except Exception as ex:  # noqa: BLE001 - the point is to report it
            out.append((path, repr(ex)[:200]))
    return out


def check_table(table, deep: bool = False) -> dict[str, Any]:
    """Run integrity checks against ``table``'s current snapshot."""
    from pyspark.sql import functions as F

    from omicidx_etl_spark.lake.bloom import BLOOM_SUBDIR

    findings: list[dict[str, str]] = []

    def err(code: str, detail: str) -> None:
        findings.append({"severity": "error", "code": code, "detail": detail})

    def warn(code: str, detail: str) -> None:
        findings.append({"severity": "warning", "code": code, "detail": detail})

    snap = table.snapshot()
    schemas = snap["schemas"]
    entries: list[dict[str, Any]] = []  # every live file-group entry
    for _, ent, _ in M.snapshot_file_groups(snap):
        entries.append(ent)
        if not os.path.isdir(os.path.join(table.root, ent["dir"])):
            err("missing_dir", ent["dir"])
        if str(ent["schema_id"]) not in schemas:
            err("unknown_schema", f"{ent['dir']}: schema_id {ent['schema_id']}")

    # field ids must cover every column of every schema version (rename/drop
    # evolution resolves through them; a hole breaks old-file re-mapping)
    for sid_s in schemas:
        fid = (snap.get("field_ids") or {}).get(sid_s)
        if fid is None:
            err("missing_field_ids", f"schema {sid_s}")
            continue
        import pyspark.sql.types as T

        names = {f.name for f in T.StructType.fromJson(json.loads(schemas[sid_s])).fields}
        holes = names - set(fid)
        if holes:
            err("missing_field_ids", f"schema {sid_s}: {sorted(holes)}")

    # refs/tags must point at snapshot files that exist on disk
    for kind, mapping in (("branch", table.branches()), ("tag", table.tags())):
        for name, sid in mapping.items():
            if not os.path.exists(M.snapshot_path(table._meta_dir, sid)):
                err("dangling_ref", f"{kind} {name!r} -> snapshot {sid}")

    # constraints must still parse against the current schema (a dropped or
    # renamed column slipping past the guard would fail every future write)
    cur = table.current_schema(snap)
    empty = table.spark.createDataFrame([], cur)
    for name, expr in (snap.get("constraints") or {}).items():
        try:
            empty.filter(F.expr(expr)).schema  # analysis only, no job
        except Exception as ex:  # noqa: BLE001
            err("bad_constraint", f"{name}: {type(ex).__name__}")

    # bloom sidecars for dirs no snapshot references anymore -> stale
    live = {ent["dir"] for ent in entries}
    bdir = os.path.join(table.root, BLOOM_SUBDIR)
    n_blooms = 0
    if os.path.isdir(bdir):
        for fname in sorted(os.listdir(bdir)):
            if not fname.endswith(".json"):
                continue
            n_blooms += 1
            try:
                with open(os.path.join(bdir, fname)) as f:
                    rel = json.load(f).get("dir")
            except (OSError, ValueError) as ex:
                # a half-written/bit-rotted sidecar is exactly the post-crash
                # state this audit exists for — report it, don't crash on it
                warn("bad_bloom", f"{fname}: {type(ex).__name__}")
                continue
            if rel not in live:
                warn("stale_bloom", rel or fname)

    checked: dict[str, Any] = {
        "file_groups": len(entries),
        "blooms": n_blooms,
        "deep": deep,
    }

    if deep:
        # 1: every footer opens — corrupt/truncated/zero-byte files surface
        # here. One Spark job over the manifest's file list, bytes touched
        # executor-side only (footers, not data pages).
        files: list[str] = []
        for ent in entries:
            d = os.path.join(table.root, ent["dir"])
            if os.path.isdir(d):
                files.extend(
                    os.path.join(d, n)
                    for n in sorted(os.listdir(d))
                    if n.endswith(".parquet")
                )
        checked["files"] = len(files)
        bad: list[tuple[str, str]] = []
        if files:
            from omicidx_etl_spark.session import ensure_worker_package

            ensure_worker_package(table.spark)  # _footer_errors unpickles
            sc = table.spark.sparkContext      # by module name on workers
            n = min(len(files), sc.defaultParallelism)
            bad = (
                sc.parallelize(files, n)
                .mapPartitions(lambda it: _footer_errors(list(it)))
                .collect()
            )  # bounded: ≤ one tuple per corrupt file
            for path, detail in bad:
                err("unreadable_file", f"{os.path.relpath(path, table.root)}: {detail}")
        if bad:
            # data-reading checks below would crash on the corrupt files;
            # the report already says the table is broken — stop here.
            checked["skipped_data_checks"] = True
            n_err = sum(1 for f in findings if f["severity"] == "error")
            return {
                "ok": False,
                "errors": n_err,
                "warnings": len(findings) - n_err,
                "findings": findings,
                "checked": checked,
            }

        # 2: recorded bounds must CONTAIN the data (per dir, physical names).
        # A lying bound silently drops rows from bounds-pruned reads.
        # ONE Spark job per schema version (dirs sharing a physical schema
        # read together, grouped by input dir), not one job per dir — on a
        # lake with hundreds of file groups a per-dir driver loop walls on
        # per-job serial overhead, the exact cost BENCH/BASELINE.md fits.
        by_schema: dict[int, list[dict[str, Any]]] = {}
        for ent in entries:
            if ent.get("stats") and os.path.isdir(os.path.join(table.root, ent["dir"])):
                by_schema.setdefault(ent["schema_id"], []).append(ent)
        for sid_group, ents in sorted(by_schema.items()):
            dirs = [os.path.join(table.root, e["dir"]) for e in ents]
            df = table.spark.read.parquet(*dirs)
            have = set(df.columns)
            cols = sorted(
                {c for e in ents for c in e["stats"] if c in have}
            )
            if not cols:
                continue
            # input_file_name() -> parent dir (strip file: scheme, collapse
            # slashes, drop the filename)
            dcol = F.regexp_replace(
                F.regexp_replace(F.input_file_name(), "^file:(//)?", "/"),
                "/+",
                "/",
            )
            dcol = F.regexp_replace(dcol, "/[^/]*$", "")
            aggs = []
            for c in cols:
                aggs += [F.min(c).alias(f"lo_{c}"), F.max(c).alias(f"hi_{c}")]
            rows = {
                r["_dir"]: r
                for r in df.withColumn("_dir", dcol).groupBy("_dir").agg(*aggs).collect()
            }  # bounded: one row per live file-group dir
            for e in ents:
                key = os.path.normpath(os.path.join(table.root, e["dir"]))
                r = rows.get(key) or rows.get(key.lstrip("/"))
                if r is None:  # path-form mismatch — fall back to exact read
                    r1 = table.spark.read.parquet(
                        os.path.join(table.root, e["dir"])
                    ).agg(*aggs).first()
                    r = {f"lo_{c}": r1[2 * i] for i, c in enumerate(cols)} | {
                        f"hi_{c}": r1[2 * i + 1] for i, c in enumerate(cols)
                    }
                for c, (lo, hi) in e["stats"].items():
                    if c not in have:
                        continue
                    alo, ahi = r[f"lo_{c}"], r[f"hi_{c}"]
                    if alo is None:
                        continue
                    try:
                        violated = alo < lo or ahi > hi
                    except TypeError:  # cross-type stat (e.g. bytes vs str)
                        continue
                    if violated:
                        err(
                            "stats_bounds",
                            f"{e['dir']}.{c}: data [{alo},{ahi}] outside "
                            f"recorded [{lo},{hi}]",
                        )

        # 3: seq_ceiling must dominate every __seq on disk, and the
        # reconciled view must be unique per key (the merge invariant).
        full = table.read(include_deleted=True, include_system=True)
        max_seq = (
            full.agg(F.max("__seq")).first()[0] if "__seq" in full.columns else None
        )
        if max_seq is not None and max_seq > snap.get("seq_ceiling", -1):
            err("seq_ceiling_low", f"max __seq {max_seq} > ceiling {snap.get('seq_ceiling')}")
        dups = (
            table.read()
            .groupBy(table.key)
            .count()
            .filter(F.col("count") > 1)
            .count()
        )
        if dups:
            err("duplicate_keys", f"{dups} keys with >1 reconciled row")

    n_err = sum(1 for f in findings if f["severity"] == "error")
    n_warn = len(findings) - n_err
    return {
        "ok": n_err == 0,
        "errors": n_err,
        "warnings": n_warn,
        "findings": findings,
        "checked": checked,
    }
