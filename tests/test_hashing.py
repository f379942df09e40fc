"""Driver ports of Spark's hashes (lake/hashing.py) against the JVM: the
driver plans lookups and bloom probes with them, so any drift would read
the wrong bucket or skip a dir that holds the key."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from omicidx_etl_spark.lake.hashing import (
    _murmur3_int32,
    bucket_expr,
    bucket_of,
    xxhash64,
)

INT_EXTREMES = [0, 1, -1, 7, -7, 255, 256, 65535, -65536, 2**31 - 1, -(2**31)]
LONG_EXTREMES = INT_EXTREMES + [2**31, -(2**31) - 1, 2**32, 2**63 - 1, -(2**63)]


def _strings() -> list:
    # every length 0..120 crosses the 4-, 8- and 32-byte XXH64 stages;
    # multibyte and emoji make byte length differ from char length
    out = ["x" * n for n in range(121)]
    out += [("é" * n)[:n] for n in range(1, 61)]
    out += ["😀" * n for n in range(1, 31)]
    out += ["doc_00000042", "a😀b", "日本語テキスト", "\x00", "tab\tnl\n"]
    return out


CASES = [("string", _strings()), ("int", INT_EXTREMES), ("bigint", LONG_EXTREMES)]


@pytest.mark.parametrize("dtype,values", CASES, ids=[c[0] for c in CASES])
def test_xxhash64_and_bucket_of_match_spark(spark, dtype, values):
    values = values + [None]
    ns = (1, 2, 7, 16, 1000)
    df = spark.createDataFrame([(v,) for v in values], f"k {dtype}")
    rows = df.select(
        F.xxhash64("k").alias("h"),
        *[bucket_expr("k", n).alias(f"b{n}") for n in ns],
    ).collect()
    for v, r in zip(values, rows):
        assert xxhash64(v, dtype) == r["h"], (dtype, v)
        for n in ns:
            assert bucket_of(v, n, dtype) == r[f"b{n}"], (dtype, v, n)


@pytest.mark.parametrize("dtype,values", CASES, ids=[c[0] for c in CASES])
def test_bloom_seed_chain_matches_spark(spark, dtype, values):
    """Bloom bits are ``F.xxhash64(key, lit(s))``: the literal int s is
    hashed with the key's hash as its seed."""
    values = values + [None]
    seeds = range(4)
    df = spark.createDataFrame([(v,) for v in values], f"k {dtype}")
    rows = df.select(
        *[F.xxhash64(F.col("k"), F.lit(s)).alias(f"h{s}") for s in seeds]
    ).collect()
    for v, r in zip(values, rows):
        for s in seeds:
            assert xxhash64(s, "int", seed=xxhash64(v, dtype)) == r[f"h{s}"], (v, s)


def test_xxhash64_rejects_bad_keys():
    with pytest.raises(ValueError, match="unsupported key type"):
        xxhash64(1.5, "double")
    with pytest.raises(TypeError):
        xxhash64(3, "string")
    with pytest.raises(TypeError):
        xxhash64("3", "bigint")
    with pytest.raises(TypeError):
        xxhash64(2**31, "int")


def test_murmur3_int32_matches_spark_hash(spark):
    """The bucket remap (table._bucket_remap) places buckets on shuffle
    partitions through this replica of ``F.hash`` for int32."""
    vals = list(range(-50, 250)) + [2**31 - 1, -(2**31)]
    got = (
        spark.createDataFrame([(v,) for v in vals], "v int")
        .select(F.hash("v").alias("h"))
        .collect()
    )
    assert [r.h for r in got] == [_murmur3_int32(v) for v in vals]
