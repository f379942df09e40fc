"""Ingest-edge redelivery dedup (dropDuplicatesWithinWatermark): the
streaming path must emit exactly what its shared batch definition
computes."""

from __future__ import annotations

from pyspark.sql import functions as F

from omicidx_etl_spark import datagen
from omicidx_etl_spark.streaming import dedup_redelivered, stream_dedup_events


def _redelivered_log(spark, path: str, n_events=4000, n_docs=250, seed=47) -> None:
    """A change log where ~1/7 of events were delivered twice (the
    at-least-once retry shape)."""
    ch = datagen.gen_changes(spark, n_events, n_docs, seed=seed)
    datagen.write_change_log(ch, path, files=4)
    dup = spark.read.parquet(path).filter(F.col("seq") % 7 == 0)
    dup.write.mode("append").parquet(path)


def test_batch_dedup_drops_exact_redelivery(spark, tmp_path):
    log = str(tmp_path / "log")
    _redelivered_log(spark, log)
    feed = spark.read.parquet(log)
    assert feed.count() > 4000  # duplicates really landed
    clean = dedup_redelivered(feed)
    assert clean.count() == 4000
    assert clean.select("seq").distinct().count() == 4000


def test_stream_dedup_matches_batch(spark, tmp_path):
    log = str(tmp_path / "log")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _redelivered_log(spark, log)

    stream_dedup_events(spark, log, ckpt, out, within="30 minutes")

    got = spark.read.parquet(out)
    assert got.count() == 4000
    # exactly the original events, each once (pandas multiset compare:
    # exceptAll between two frames sharing a scan lineage trips a Spark
    # ReplicateRows attribute-binding bug)
    exp = dedup_redelivered(spark.read.parquet(log))
    cols = ["doc_id", "seq", "op"]
    g = got.select(cols).toPandas().sort_values(cols).reset_index(drop=True)
    e = exp.select(cols).toPandas().sort_values(cols).reset_index(drop=True)
    assert g.equals(e)

    # restart with the same checkpoint: nothing new to emit
    stream_dedup_events(spark, log, ckpt, out, within="30 minutes")
    assert spark.read.parquet(out).count() == 4000

