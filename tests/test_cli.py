"""Unified CLI dispatcher (python -m omicidx_etl_spark <job> ...).

Reference parity: one entry point with subcommands like ``oidx``
(``omicidx_etl/cli.py:30``). The dispatcher must preserve each job's
argparse contract, JSON-line output and exit codes exactly.
"""

from __future__ import annotations

import importlib
import json

import pytest

from omicidx_etl_spark import datagen
from omicidx_etl_spark.__main__ import JOBS, main
from omicidx_etl_spark.lake import LakeTable


def test_help_lists_every_job(capsys):
    assert main([]) == 0
    out = capsys.readouterr().out
    for name in JOBS:
        assert name in out
    assert main(["--help"]) == 0


def test_unknown_job_exit_2(capsys):
    assert main(["frobnicate"]) == 2
    assert "unknown job" in capsys.readouterr().err


def test_dispatch_maintain_auto(spark, tmp_path, capsys):
    """A real dispatch: `maintain --auto` on a quiescent table returns 0
    and prints the same one-line JSON the direct job main prints."""
    root = str(tmp_path / "t")
    t = LakeTable.create(
        spark,
        root,
        datagen.gen_sequences(spark, 50, seed=3).schema,
        key="doc_id",
        n_buckets=2,
    )
    t.overwrite(datagen.gen_sequences(spark, 50, seed=3))
    rc = main(["maintain", "--table", root, "--auto"])
    assert rc == 0
    lines = [
        l for l in capsys.readouterr().out.strip().splitlines() if l.startswith("{")
    ]
    assert lines, "job JSON line missing"
    out = json.loads(lines[-1])
    assert out["auto"]["actions"] == [] and out["auto"]["n_actions"] == 0


def test_dispatch_preserves_exit_code(spark, tmp_path, capsys):
    """maintain --fsck deep exits 2 on a damaged table THROUGH the
    dispatcher (SystemExit is translated, not swallowed). The damage is a
    lying stats bound — reads still work, fsck must fail."""
    root = str(tmp_path / "t2")
    t = LakeTable.create(
        spark,
        root,
        datagen.gen_sequences(spark, 50, seed=5).schema,
        key="doc_id",
        n_buckets=2,
    )
    t.overwrite(datagen.gen_sequences(spark, 50, seed=5))
    from omicidx_etl_spark.lake.table import _norm_entry, atomic_write_json

    snap = t.snapshot()
    tampered = False
    for b, raw in snap["buckets"].items():
        e = _norm_entry(raw)
        if e["base"] and e["base"].get("stats", {}).get("n_tok"):
            lo, hi = e["base"]["stats"]["n_tok"]
            if hi > lo:
                e["base"]["stats"]["n_tok"] = [lo, lo]
                snap["buckets"][b] = e
                tampered = True
                break
    assert tampered
    atomic_write_json(t._snap_path(snap["snapshot_id"]), snap)
    rc = main(["maintain", "--table", root, "--auto", "--fsck", "deep"])
    assert rc == 2
    capsys.readouterr()


def test_missing_jobs_dir_exit_2(monkeypatch, capsys):
    """No jobs/ package next to the install: exit 2 with a pointer to
    the repo checkout, not a traceback."""

    def _no_jobs(name):
        raise ModuleNotFoundError(f"No module named {name!r}", name="jobs")

    monkeypatch.setattr(importlib, "import_module", _no_jobs)
    assert main(["maintain", "--table", "x"]) == 2
    assert "jobs/ directory" in capsys.readouterr().err


def test_missing_dependency_in_job_is_not_masked(monkeypatch):
    """A ModuleNotFoundError raised by a job module's OWN imports (here a
    missing ``yaml``) propagates instead of being reported as a missing
    jobs/ directory."""

    def _job_needs_yaml(name):
        raise ModuleNotFoundError("No module named 'yaml'", name="yaml")

    monkeypatch.setattr(importlib, "import_module", _job_needs_yaml)
    with pytest.raises(ModuleNotFoundError) as ei:
        main(["maintain", "--table", "x"])
    assert ei.value.name == "yaml"
