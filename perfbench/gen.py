"""Seeded benchmark inputs.

Change logs come from the engine's own generator: ``datagen.gen_changes``
(all-insert full-snapshot prefix, then 70% U / 20% I / 10% D deltas with
power-law key skew, 1..2048 tokens per event) landed by
``datagen.write_change_log`` as seq-range parquet segments. Generation
runs in a child process with its own bare Spark session, so neither its
time nor its memory lands in the measured run. Every expression of
``gen_changes`` is a pure function of (seq, seed, n_docs), so the same
(seed, size) always yields the same events; a log is cached under the
work dir keyed by (workload, generator seed, size) and published with a
completion marker (``_DONE``).

The registry tables of ``curation_queries`` are not generated: ``data/``
holds a byte copy of the repository's fixed sf0.01 test tables.

    python3 perfbench/gen.py --events N --docs D --skew K --files F --log SEED DIR [--log SEED DIR ...]
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
REGISTRY_SF = os.path.join(HERE, "data", "sf0.01")


def ready(path: str) -> bool:
    """True if ``path`` holds a complete build (its ``_DONE`` marker); a
    hit refreshes the dir's mtime, the use time ``prune_cache`` sorts by."""
    if not os.path.exists(os.path.join(path, "_DONE")):
        return False
    os.utime(path)
    return True


def prune_cache(root: str, keep: int) -> None:
    """Keep only the ``keep`` most recently used entries under ``root``."""
    if not os.path.isdir(root):
        return
    entries = sorted(
        (os.path.join(root, n) for n in os.listdir(root)),
        key=os.path.getmtime,
        reverse=True,
    )
    for p in entries[keep:]:
        shutil.rmtree(p, ignore_errors=True)


def change_logs(outs: dict[str, int], n_events: int, n_docs: int, skew: float, files: int) -> None:
    """Write one change log per ``{out_dir: generator_seed}`` from a single
    child process, each to ``<out_dir>.building`` first, then publish it
    with its ``_DONE`` marker (a killed build is redone). Raise if the
    child fails."""
    from perfbench.jvm import run_child

    cmd = [
        sys.executable, os.path.abspath(__file__), "--events", str(n_events),
        "--docs", str(n_docs), "--skew", str(skew), "--files", str(files),
    ]
    for out, seed in outs.items():
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(out + ".building", ignore_errors=True)
        cmd += ["--log", str(seed), out + ".building"]
    rc = run_child(cmd, stdout=subprocess.DEVNULL)
    if rc != 0:
        raise RuntimeError(f"change-log generation exited {rc}")
    for out in outs:
        open(os.path.join(out + ".building", "_DONE"), "w").close()
        os.replace(out + ".building", out)


def main() -> int:
    ap = argparse.ArgumentParser(description="write seeded change logs")
    ap.add_argument("--events", type=int, required=True)
    ap.add_argument("--docs", type=int, required=True)
    ap.add_argument("--skew", type=float, required=True)
    ap.add_argument("--files", type=int, required=True)
    ap.add_argument("--log", nargs=2, action="append", required=True, metavar=("SEED", "OUT"))
    args = ap.parse_args()
    sys.path.insert(0, ROOT)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))  # unwind, stop the session

    from pyspark.sql import SparkSession

    from omicidx_etl_spark import datagen
    from perfbench.jvm import stop_session

    cpus = len(os.sched_getaffinity(0))
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("perfbench-gen")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", str(args.files))
        .getOrCreate()
    )
    try:
        spark.sparkContext.setLogLevel("ERROR")
        for seed, out in args.log:
            changes = datagen.gen_changes(spark, args.events, args.docs, seed=int(seed), skew=args.skew)
            datagen.write_change_log(changes, out, files=args.files)
    finally:
        stop_session(spark)
    return 0


if __name__ == "__main__":
    sys.exit(main())
