"""Operator-library unit tests: strategy equivalences and edge semantics."""

from __future__ import annotations

from pyspark.sql import functions as F

from omicidx_etl_spark import datagen
from omicidx_etl_spark.operators import cdc_ops as C
from omicidx_etl_spark.operators import relational as R
from omicidx_etl_spark.functions import multimodal as M


def test_dedup_strategies_agree(spark):
    """``LakeTable.read`` picks either plan from manifest metadata, so the
    two must return the same rows."""
    ch = datagen.gen_changes(spark, 5000, 200, seed=31)
    by_agg = C.latest_per_key(ch, ["doc_id"], "seq").orderBy("doc_id").collect()
    by_join = C.latest_by_winner_join(ch, "doc_id", "seq").orderBy("doc_id").collect()
    assert by_agg == by_join


def test_latest_row_per_key_only_in_cdc_ops():
    """operators/cdc_ops.py is the engine's only spelling of "latest row
    per key": no other engine module may call ``F.max_by(`` or join on
    ``[key, seq]`` / ``[key, SEQ_COL]`` (the winner-join plan)."""
    import pathlib
    import re

    pkg = pathlib.Path(__file__).resolve().parents[1] / "omicidx_etl_spark"
    pattern = re.compile(r"F\.max_by\(|\[\s*key\s*,\s*(?:seq|SEQ_COL)\s*\]")
    hits = [
        f"{path.relative_to(pkg)}:{n}: {line.strip()}"
        for path in sorted(pkg.rglob("*.py"))
        if path.relative_to(pkg).as_posix() != "operators/cdc_ops.py"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if pattern.search(line)
    ]
    assert hits == [], hits


def test_surrogate_ids_scalable_equals_window(spark):
    df = datagen.gen_sequences(spark, 1000, seed=32).select("doc_id")
    a = R.surrogate_ids(df, "doc_id").orderBy("doc_id").collect()
    b = R.scalable_surrogate_ids(df, "doc_id", partitions=7).orderBy("doc_id").collect()
    assert [(r["doc_id"], r["row_id"]) for r in a] == [
        (r["doc_id"], r["row_id"]) for r in b
    ]


def test_union_discriminated_schema(spark):
    a = spark.createDataFrame([(1,)], "x int")
    b = spark.createDataFrame([(2,)], "x int")
    out = R.union_discriminated([(a, "a"), (b, "b")], "kind").collect()
    assert sorted((r["x"], r["kind"]) for r in out) == [(1, "a"), (2, "b")]


def test_exists_flag_null_safe(spark):
    left = spark.createDataFrame([(1,), (2,)], "k int")
    right = spark.createDataFrame([(1,)], "k int")
    out = {r["k"]: r["flag"] for r in R.exists_flag(left, right, "k", "flag").collect()}
    assert out == {1: True, 2: False}


def test_multimodal_byte_features(spark):
    d = spark.createDataFrame([(1, "hello")], "doc_id long, text string")
    bin_df = M.to_binary_payload(d, "doc_id", "text")
    ok = M.extract_features(bin_df).first()
    assert ok["n_bytes"] == 5 and ok["head_hex"] == "68656c6c"


def test_wav_decode_roundtrip():
    """Real RIFF/WAVE parse: encode known PCM16, decode the BYTES back."""
    samples = [0, 1000, -1000, 32767, -32768, 7]
    b = M.encode_wav_pcm16(samples, sample_rate=44100, channels=2)
    d = M.decode_media(b)
    assert d["media_kind"] == "wav"
    assert d["channels"] == 2 and d["sample_rate"] == 44100
    assert d["n_samples"] == 3  # 6 samples / 2 channels
    assert d["amp_peak"] == 32768
    assert d["amp_abs_sum"] == sum(abs(s) for s in samples)


def test_wav_decode_extra_chunks_and_odd_padding():
    """Chunk walk must skip unknown chunks and honor word alignment."""
    import struct

    base = M.encode_wav_pcm16([5, -5], 8000)
    # splice a 3-byte (odd) LIST chunk between WAVE and fmt_
    junk = b"LIST" + struct.pack("<I", 3) + b"abc\x00"
    spliced = base[:12] + junk + base[12:]
    spliced = b"RIFF" + struct.pack("<I", len(spliced) - 8) + spliced[8:]
    d = M.decode_media(spliced)
    assert d["media_kind"] == "wav" and d["amp_abs_sum"] == 10


def test_ppm_decode_roundtrip_and_comments():
    rgb = bytes(range(12))  # 2x2 image
    b = M.encode_ppm(2, 2, rgb)
    d = M.decode_media(b)
    assert d["media_kind"] == "ppm" and (d["width"], d["height"]) == (2, 2)
    assert d["px_sum_r"] == 0 + 3 + 6 + 9
    assert d["px_sum_g"] == 1 + 4 + 7 + 10
    assert d["px_sum_b"] == 2 + 5 + 8 + 11
    # header comments are legal PPM
    commented = b"P6\n# a comment\n2 2\n255\n" + rgb
    assert M.decode_media(commented)["px_sum_r"] == d["px_sum_r"]


def test_corrupt_media_degrades_not_raises():
    for payload in [b"", b"RIFF", b"RIFFxxxxWAVE", b"P6\n9 9\n255\n\x00", b"hello"]:
        assert M.decode_media(payload)["media_kind"] == "unknown"


def test_media_pipeline_sparkside(spark):
    """synth → real decode over mapInPandas: every row classifies, kinds
    follow the parity convention, and the plan is map-shaped (no Exchange)."""
    d = spark.range(0, 40).select(F.col("id").alias("doc_id"))
    out = M.extract_media_features(M.synth_media_payloads(d))
    rows = {r["doc_id"]: r for r in out.collect()}
    assert len(rows) == 40
    assert all(
        r["media_kind"] == ("wav" if i % 2 == 0 else "ppm") for i, r in rows.items()
    )
    assert rows[0]["sample_rate"] == 8000 and rows[2]["sample_rate"] == 9000
    assert rows[1]["width"] == 4 + 1 % 5 and rows[1]["channels"] == 3
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_datagen_deterministic(spark):
    a = datagen.gen_changes(spark, 500, 50, seed=42).collect()
    b = datagen.gen_changes(spark, 500, 50, seed=42).collect()
    assert a == b
    c = datagen.gen_changes(spark, 500, 50, seed=43).collect()
    assert a != c


def test_datagen_invariants(spark):
    ch = datagen.gen_changes(spark, 2000, 100, seed=1)
    bad = ch.filter(
        ((F.col("op") == "D") & F.col("tokens").isNotNull())
        | ((F.col("op") != "D") & (F.size("tokens") != F.col("n_tok")))
    )
    assert bad.count() == 0
    # full-snapshot prefix: first n_docs events insert each doc once
    prefix = ch.filter(F.col("seq") <= 100)
    assert prefix.filter(F.col("op") != "I").count() == 0
    assert prefix.select("doc_id").distinct().count() == 100


def test_fix_encoding_drops_invalid_utf8(spark):
    """D4: lossy utf-8 re-encode equals Python's decode(errors='ignore')."""
    from omicidx_etl_spark.functions.text import fix_encoding

    raw = [
        b"plain ascii",
        b"caf\xc3\xa9 utf8 ok",        # valid multibyte passes through
        b"caf\xe9 broken latin1",       # lone continuation byte dropped
        b"\xff\xfe garbage \x80 mid",   # several invalid sequences
        b"",
    ]
    df = spark.createDataFrame([(i, r) for i, r in enumerate(raw)], "id long, payload binary")
    got = {r.id: r.text for r in fix_encoding(df, "payload").collect()}
    for i, r in enumerate(raw):
        assert got[i] == r.decode("utf-8", errors="ignore"), (i, r)


def test_asof_join_semantics(spark):
    """Inclusive-tie, carry-latest, and no-preceding-version-null semantics
    of the union+window as-of join (mirrors DuckDB ASOF LEFT JOIN >=)."""
    left = spark.createDataFrame(
        [("u1", 5, "a"), ("u1", 10, "b"), ("u1", 20, "c"), ("u2", 7, "d")],
        "k string, ts long, ev string",
    )
    right = spark.createDataFrame(
        [("u1", 10, 100), ("u1", 15, 150), ("u3", 1, 999)],
        "k string, valid_from long, attr int",
    )
    got = {
        (r.k, r.ts): r.attr
        for r in R.asof_join(left, right, key="k", left_ts="ts",
                             right_ts="valid_from").collect()
    }
    assert got[("u1", 5)] is None          # before any version
    assert got[("u1", 10)] == 100          # tie is inclusive (>=)
    assert got[("u1", 20)] == 150          # latest preceding, not first
    assert got[("u2", 7)] is None          # key with no versions at all


def test_gen_changes_seq_range_slices_identically(spark):
    """The lazily-sliced log (seq_range) must be row-identical to the same
    seq span of the full log — the 10^8-event mega replay depends on it
    (scripts/mega_replay.py generates each micro-batch this way)."""
    full = datagen.gen_changes(spark, 2000, 150, seed=9)
    mid = datagen.gen_changes(spark, 2000, 150, seed=9, seq_range=(500, 900))
    a = full.filter("seq > 500 AND seq <= 900").orderBy("seq").collect()
    b = mid.orderBy("seq").collect()
    assert a == b and len(b) == 400
    # the full-snapshot prefix survives slicing (depends only on seq)
    head = datagen.gen_changes(spark, 2000, 150, seed=9, seq_range=(0, 150))
    assert head.filter("op <> 'I'").count() == 0


def test_salted_join_equals_plain_join(spark):
    """salted_join is result-invariant vs the plain join — inner and left,
    including duplicate keys on BOTH sides (each matching pair must appear
    exactly once per multiplicity) and unmatched left rows."""
    from omicidx_etl_spark.operators.relational import salted_join

    big = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c"), (3, "d"), (3, "d"), (9, "x")],
        "k int, v string",
    )
    small = spark.createDataFrame(
        [(1, "p"), (1, "q"), (2, "r"), (3, "s")], "k int, w string"
    )
    for how in ("inner", "left"):
        got = sorted(
            map(tuple, salted_join(big, small, "k", n_salts=4, how=how).collect())
        )
        exp = sorted(map(tuple, big.join(small, "k", how).collect()))
        assert got == exp, (how, got, exp)
