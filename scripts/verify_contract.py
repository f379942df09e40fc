#!/usr/bin/env python
"""End-to-end verification per .claude/skills/verify/SKILL.md.

Drives the two product surfaces exactly as the grading driver does:
1. Driver contract: load __spark_entry__.py by file path from a neutral
   cwd; entry() must return >0 rows; every queries() entry must match its
   oracle_sql() in DuckDB at sf0.01 (sorted-by-all-columns frames, dtypes
   included).
2. CDC engine API: gen_changes -> stream_replay -> table state vs DuckDB
   replay oracle, plus checkpoint-resume / checkpoint-loss / expire /
   lineage probes.

Exit 0 = all green; prints one line per check.
"""

from __future__ import annotations

import importlib.util
import os
import shutil
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = os.environ.get("SPARK_GRAFT_VERIFY_SF", "/root/testdata/sf0.01")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

FAILS: list[str] = []


def check(name: str, ok: bool, detail: str = "") -> None:
    print(("PASS " if ok else "FAIL ") + name + (f" — {detail}" if detail else ""), flush=True)
    if not ok:
        FAILS.append(name)


def canon(pdf):
    pdf = pdf[sorted(pdf.columns)]
    return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)


def main() -> int:
    import duckdb
    import pandas as pd

    os.chdir(tempfile.mkdtemp(prefix="verify_cwd_"))  # neutral cwd
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(REPO, "__spark_entry__.py")
    )
    E = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(E)

    from omicidx_etl_spark.session import get_spark

    spark = get_spark("verify")

    # --- 1. driver contract ---
    rows = E.entry(spark).count()
    check("entry_rows_gt0", rows > 0, f"rows={rows}")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    qs, oracles = E.queries(), E.oracle_sql()
    for name, fn in qs.items():
        try:
            got = canon(fn(spark, SF_DIR).toPandas())
            if name not in oracles:
                check(f"q:{name}", len(got) >= 0, f"rows-only={len(got)} (no oracle)")
                continue
            want = canon(con.execute(oracles[name]).df())
            # dtype compare at kind level (int32 vs int64 is fine — matches
            # the driver's canonicalizer) but catches DuckDB HUGEINT (object
            # kind) and float-vs-int divergence.
            same_schema = list(got.columns) == list(want.columns) and all(
                a.kind == b.kind for a, b in zip(got.dtypes, want.dtypes)
            )
            if same_schema:
                want = want.astype(dict(got.dtypes))
            same = same_schema and len(got) == len(want) and got.equals(want)
            detail = f"rows={len(got)}/{len(want)} schema={same_schema}"
            if not same and same_schema and len(got) == len(want):
                diff = (got != want) & ~(got.isna() & want.isna())
                detail += f" diff_cells={int(diff.values.sum())}"
            check(f"q:{name}", same, detail)
        except Exception as e:  # noqa: BLE001
            check(f"q:{name}", False, repr(e)[:200])

    # --- 2. CDC engine API ---
    from pyspark.sql import types as T

    from omicidx_etl_spark import datagen
    from omicidx_etl_spark.lake import LakeTable
    from omicidx_etl_spark.lineage import LineageLog
    from omicidx_etl_spark.streaming import stream_replay

    work = tempfile.mkdtemp(prefix="verify_cdc_")
    log = os.path.join(work, "log")
    ckpt = os.path.join(work, "ckpt")
    tpath = os.path.join(work, "table")
    ch = datagen.gen_changes(spark, 30_000, 3_000, seed=7)
    datagen.write_change_log(ch, log, files=12)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType()),
            T.StructField("tokens", T.ArrayType(T.IntegerType())),
            T.StructField("n_tok", T.IntegerType()),
            T.StructField("source", T.StringType()),
        ]
    )
    t = LakeTable.create(spark, tpath, schema, key="doc_id", n_buckets=8)
    s1 = stream_replay(spark, t, log, ckpt, max_files_per_trigger=4,
                       lineage=LineageLog(tpath))
    got = {
        (r.doc_id, tuple(r.tokens or ())) for r in t.read().select("doc_id", "tokens").collect()
    }
    want_df = con.execute(
        f"""
        SELECT doc_id, tokens FROM (
          SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY seq DESC) rn
          FROM read_parquet('{log}/*.parquet')
        ) WHERE rn = 1 AND op <> 'D'
        """
    ).fetchall()
    want = {(d, tuple(tk or ())) for d, tk in want_df}
    check("cdc_replay_state", got == want, f"rows={len(got)}/{len(want)}")

    s2 = stream_replay(spark, t, log, ckpt, max_files_per_trigger=4)
    check("cdc_resume_noop", len(s2) == 0, f"batches={len(s2)}")

    shutil.rmtree(ckpt)
    s3 = stream_replay(spark, t, log, ckpt, max_files_per_trigger=4)
    skipped = bool(s3) and all(x["summary"].get("skipped") for x in s3)
    rows_after = t.read().count()
    check("cdc_ckpt_loss_idempotent", skipped and rows_after == len(want),
          f"batches={len(s3)} rows={rows_after}")

    t.expire_snapshots(keep_last=1)
    check("cdc_expire_reads_same", t.read().count() == len(want))
    lin = spark.read.parquet(os.path.join(tpath, "_lineage")).count()
    check("cdc_lineage_rows", lin >= len(s1), f"lineage={lin} committed={len(s1)}")

    spark.stop()
    print(f"\n{'ALL GREEN' if not FAILS else 'FAILURES: ' + ', '.join(FAILS)}")
    return 1 if FAILS else 0


if __name__ == "__main__":
    sys.exit(main())
