"""lake/maintain.py: maintenance fires only when the snapshot metadata
says it is due, touches only what is due, and a quiescent table is a
strict no-op (a cron that churns commits on idle tables is a bug)."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from omicidx_etl_spark import datagen
from omicidx_etl_spark.cdc import dedup_latest
from omicidx_etl_spark.lake import LakeTable, manifest

SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("tokens", T.ArrayType(T.IntegerType())),
        T.StructField("n_tok", T.IntegerType()),
        T.StructField("source", T.StringType()),
    ]
)


def _changes_df(spark, rows):
    return spark.createDataFrame(
        rows,
        "seq long, op string, doc_id string, tokens array<int>, n_tok int, source string",
    )


def _chains(t):
    return manifest.delta_chains(t.snapshot())


@pytest.fixture()
def table(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, key="doc_id", n_buckets=4)
    t.overwrite(datagen.gen_sequences(spark, 40, seed=21))
    return t


def test_quiescent_table_is_noop(table):
    before = table.snapshot()["snapshot_id"]
    out = table.auto_maintain()
    assert out["actions"] == []
    assert table.snapshot()["snapshot_id"] == before


def test_compacts_only_long_chains(spark, table):
    # 5 deltas onto ONE key (one bucket's chain grows); other buckets stay short
    for seq in range(100, 105):
        table.merge(
            dedup_latest(
                _changes_df(spark, [(seq, "U", "doc_00000001", [seq], 1, "web")])
            ),
            mode="mor",
        )
    chains = _chains(table)
    hot = [b for b, n in chains.items() if n >= 4]
    cold = [b for b, n in chains.items() if 0 < n < 4]
    assert hot  # the fixture produced a long chain
    want = sorted(
        (r["doc_id"], r["n_tok"]) for r in table.read().select("doc_id", "n_tok").collect()
    )

    out = table.auto_maintain(max_delta_chain=4, keep_last=2, orphan_grace_s=0)
    compacted = [a for a in out["actions"] if a["action"] == "compact"]
    assert compacted and sorted(sum((a["buckets"] for a in compacted), [])) == hot

    after = _chains(table)
    assert all(after[b] == 0 for b in hot)  # due chains folded
    assert all(after[b] == chains[b] for b in cold)  # cold buckets untouched
    got = sorted(
        (r["doc_id"], r["n_tok"]) for r in table.read().select("doc_id", "n_tok").collect()
    )
    assert got == want  # contents invariant
    assert table.fsck(deep=True)["ok"]


def test_expire_fires_past_retention_slack(spark, table):
    for seq in range(200, 207):
        table.merge(
            dedup_latest(
                _changes_df(spark, [(seq, "U", f"doc_{seq}", [1], 1, "web")])
            ),
            mode="mor",
        )
    out = table.auto_maintain(
        max_delta_chain=99, keep_last=2, expire_slack=2, orphan_grace_s=0
    )
    assert any(a["action"] == "expire" for a in out["actions"])
    assert len(table.history()) <= 3  # keep_last + this run's margin
    # second run: history now inside retention+slack -> no-op
    out2 = table.auto_maintain(max_delta_chain=99, keep_last=2, expire_slack=2)
    assert not any(a["action"] == "expire" for a in out2["actions"])


def test_blooms_refresh_only_if_opted_in(spark, table):
    # never built -> auto_maintain must NOT create an index
    out = table.auto_maintain()
    assert not any(a["action"] == "blooms" for a in out["actions"])

    table.build_blooms()
    table.merge(
        dedup_latest(_changes_df(spark, [(300, "U", "doc_00000002", [9], 1, "web")])),
        mode="mor",
    )  # new delta dir without a sidecar
    out2 = table.auto_maintain(max_delta_chain=99)
    blooms = [a for a in out2["actions"] if a["action"] == "blooms"]
    assert blooms and blooms[0]["built"] > 0
    # now covered -> next run is a no-op again
    out3 = table.auto_maintain(max_delta_chain=99)
    assert not any(a["action"] == "blooms" for a in out3["actions"])


def test_maintain_job_auto_flag(spark, table, tmp_path, monkeypatch, capsys):
    import json

    import jobs.maintain_job as MJ

    for seq in range(400, 405):
        table.merge(
            dedup_latest(
                _changes_df(spark, [(seq, "U", "doc_00000003", [seq], 1, "web")])
            ),
            mode="mor",
        )
    monkeypatch.setattr(
        "sys.argv",
        ["maintain_job.py", "--table", table.root, "--auto",
         "--orphan-grace-s", "0", "--fsck", "deep"],
    )
    MJ.main()
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["auto"]["n_actions"] >= 1
    assert out["fsck"]["ok"]


def test_auto_compact_preserves_policy_retention(spark, table):
    """Review-fix regression: per-slice expiry during auto compact must
    honor the POLICY's keep_last — compaction must not destroy snapshots
    the operator asked to retain (read(as_of=) of a retained ancestor
    still works afterwards)."""
    for seq in range(500, 505):
        table.merge(
            dedup_latest(
                _changes_df(spark, [(seq, "U", "doc_00000004", [seq], 1, "web")])
            ),
            mode="mor",
        )
    retained_sid = table.snapshot()["snapshot_id"] - 1  # parent of current
    before = table.read(as_of=retained_sid).count()
    out = table.auto_maintain(max_delta_chain=4, keep_last=3, orphan_grace_s=0)
    assert any(a["action"] == "compact" for a in out["actions"])
    assert table.read(as_of=retained_sid).count() == before


def test_auto_threads_sort_spec(spark, table):
    """Review-fix regression: auto_maintain(sort_by=...) clusters the
    rewritten bases (values sorted within each parquet file)."""
    import pyarrow.parquet as pq
    import os

    for seq in range(600, 605):
        table.merge(
            dedup_latest(
                _changes_df(spark, [(seq, "U", "doc_00000006", [seq], seq, "web")])
            ),
            mode="mor",
        )
    out = table.auto_maintain(max_delta_chain=4, sort_by=["n_tok"], orphan_grace_s=0)
    comp = [a for a in out["actions"] if a["action"] == "compact"]
    assert comp
    snap = table.snapshot()
    b = str(comp[0]["buckets"][0])
    base = snap["buckets"][b]["base"]
    d = os.path.join(table.root, base["dir"])
    for fn in os.listdir(d):
        if fn.endswith(".parquet"):
            vals = pq.read_table(os.path.join(d, fn), columns=["n_tok"])[
                "n_tok"
            ].to_pylist()
            nn = [v for v in vals if v is not None]
            assert nn == sorted(nn)
