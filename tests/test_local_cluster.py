"""Multi-executor deployment shape: the replay job submitted with
``spark-submit --py-files`` onto a ``local-cluster[2,4,2048]`` master —
two REAL executor JVMs with their own Python workers, block managers and
serialization boundaries (the closest a single box gets to the north
rule's "multi-executor cluster at N and 4N executors"; the 32-core
throughput record is in BENCH/BASELINE.md).

What only this test can catch (local[] cannot): code that accidentally
depends on driver-local state — a file:// path visible only to the
driver's process, closures capturing unserializable objects, worker-side
imports that assume the driver's cwd (the --py-files zip is the ONLY way
the package reaches the executors' Python workers here).

Runs in a subprocess via scripts/submit_replay.sh: one SparkContext per
process, and the suite's session-scoped local[] fixture must not collide
with the cluster master.
"""

import json
import os
import subprocess

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_submit_replay_on_two_executor_cluster(tmp_path):
    log = str(tmp_path / "log")
    table = str(tmp_path / "table")
    env = dict(
        os.environ,
        MASTER="local-cluster[2,4,2048]",
        SPARK_DRIVER_MEM="4g",
    )
    r = subprocess.run(
        ["bash", "scripts/submit_replay.sh", "--log", log, "--table", table,
         "--gen-events", "20000", "--gen-docs", "2000", "--chunk", "5000",
         "--mode", "mor", "--buckets", "8"],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=540,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    line = [l for l in r.stdout.splitlines() if l.startswith("{")][-1]
    out = json.loads(line)
    assert out["batches"] == 4 and out["events"] == 20000
    # topology proof: driver + >=2 executor JVMs (local[] reports 1)
    assert out["jvms"] >= 3, out

    # Final-state oracle: latest event per doc_id, deletes drop the key —
    # DuckDB over the same change log vs the table's data files read back.
    con = duckdb.connect()
    expect = con.execute(
        f"""
        WITH ranked AS (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                       ORDER BY seq DESC) AS rn
          FROM read_parquet('{log}/*.parquet'))
        SELECT doc_id, n_tok FROM ranked WHERE rn = 1 AND op <> 'D'
        """
    ).fetchall()
    # read through the engine (table format reconciliation), driver-local
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession() or (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.session.timeZone", "UTC").getOrCreate()
    )
    from omicidx_etl_spark.lake import LakeTable

    got = [
        (r2.doc_id, r2.n_tok)
        for r2 in LakeTable.load(spark, table).read().select("doc_id", "n_tok").collect()
    ]
    assert sorted(got) == sorted(expect)
