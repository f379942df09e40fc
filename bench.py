#!/usr/bin/env python
"""Headline benchmark: the 17 headline query leaves plus the MOR replay.

Prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec", "sf": ...,
   "queries": {name: sec, ...}, "replay": {"events_per_sec": ..., ...}}

Two parts, both on one ``session.get_spark`` session (cores from
``$SPARK_GRAFT_CPUS``, else this process's CPU affinity):
1. The headline leaves (``perfbench.layers.HEADLINE``) of
   ``omicidx_etl_spark.queries`` on the tables at ``$SPARK_GRAFT_SF_DIR``
   (default: the sf0.1 test tables), each forced through a noop sink so
   every column materializes (no collect-to-driver skew in the timing).
2. Change-events/sec of a MOR replay (prefilter dedup, 32 buckets, 4
   batches) of a cached deterministic change log (``datagen.gen_changes``)
   into a fresh LakeTable: 2M events over 200k docs at sf0.1.

The change-log cache and the replay table live under
``$SPARK_GRAFT_BENCH_SCRATCH`` (default /tmp/spark_graft_bench). The full
result goes to last_run_detail.json there; the line keeps the headline.

Usage:
  python bench.py
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from perfbench.layers import HEADLINE  # noqa: E402

SCRATCH = os.environ.get("SPARK_GRAFT_BENCH_SCRATCH") or "/tmp/spark_graft_bench"
CACHE = os.path.join(SCRATCH, "cache")
DETAIL = os.path.join(SCRATCH, "last_run_detail.json")

# The headline replay shape. prefilter: narrow winner agg + broadcast join,
# so the wide token arrays never shuffle (winners per batch ~200k ≈ 5 MB
# broadcast at sf0.1).
MODE = "mor"
DEDUP = "prefilter"
BUCKETS = 32
SEED = 42
FILES = 128
# A replay attempt that lost more than this share of its CPU time to the
# hypervisor measured the neighbours, not the engine: retry, keep the best.
STEAL_OK = 0.02
RETRIES = 3

_T0 = time.time()
_RESULT: dict = {}
_EMITTED = False


def _compact_result(full: dict) -> dict:
    """Keep the emitted line under 1500 chars: callers that capture only
    the last ~2000 chars of output could not parse a 4 KB line despite
    rc 0. Detail lives in ``DETAIL``; the line keeps the headline."""
    out = dict(full)
    rp = out.get("replay")
    if isinstance(rp, dict):
        keep = ("events_per_sec", "sec", "events", "chunk", "mode", "dedup",
                "final_rows", "attempts", "steal_frac")
        out["replay"] = {k: rp[k] for k in keep if k in rp}
    out.pop("scratch", None)
    line = json.dumps(out)
    if len(line) > 1500:  # last resort: per-query detail is in the detail file
        q = out.get("queries")
        if isinstance(q, dict):
            out["queries"] = {k: round(v, 2) for k, v in q.items()}
        if len(json.dumps(out)) > 1500:
            out.pop("queries", None)
            out["queries_detail"] = DETAIL
    return out


def _emit_result() -> None:
    """Print the single JSON line exactly once (main exit or signal)."""
    global _EMITTED
    if _EMITTED:
        return
    _EMITTED = True
    _RESULT["elapsed_sec"] = round(time.time() - _T0, 1)
    try:
        os.makedirs(SCRATCH, exist_ok=True)
        with open(DETAIL, "w") as f:
            json.dump(_RESULT, f, indent=1)
    except OSError:
        pass  # never let detail-spill block the line
    sys.stdout.write("\n" + json.dumps(_compact_result(_RESULT)) + "\n")
    sys.stdout.flush()


def _emit_on_signal() -> None:
    """A harness ``timeout`` sends SIGTERM before SIGKILL: print the partial
    line the instant we are told to die, so a killed run still leaves
    parseable evidence. A signal that lands while the line is being
    printed returns, and the normal exit finishes it."""

    def _on_signal(signum, frame):
        if _EMITTED:
            return
        _RESULT.setdefault("killed_by_signal", signum)
        _emit_result()
        os._exit(0)

    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, _on_signal)


def _table_schema():
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField("doc_id", T.StringType()),
            T.StructField("tokens", T.ArrayType(T.IntegerType())),
            T.StructField("n_tok", T.IntegerType()),
            T.StructField("source", T.StringType()),
        ]
    )


def _steal_jiffies() -> int:
    """Cumulative CPU-steal clock ticks over the CPUs this process may run
    on (field 8 of the per-cpu /proc/stat lines). The host occasionally
    steals 10-70% of CPU for minutes at a time."""
    cpus = os.sched_getaffinity(0)
    total = 0
    try:
        with open("/proc/stat") as f:
            for ln in f:
                name = ln.split(" ", 1)[0]
                if not name.startswith("cpu"):
                    break
                if name != "cpu" and int(name[3:]) in cpus:
                    total += int(ln.split()[8])
    except (OSError, IndexError, ValueError):
        return 0
    return total


def _steal_frac(steal_delta: int, wall_s: float) -> float:
    """Share of this run's CPU time (wall × affinity CPUs) the host stole."""
    ticks = max(wall_s, 0.001) * len(os.sched_getaffinity(0)) * os.sysconf("SC_CLK_TCK")
    return steal_delta / ticks


def ensure_change_log(spark, n_events: int, n_docs: int, seed: int, files: int) -> str:
    """Generate-once cache of the deterministic change log (datagen is pure
    column expressions — same (n, seed) is bit-identical, so the cache key
    fully determines content)."""
    from omicidx_etl_spark import datagen

    path = os.path.join(CACHE, f"log_e{n_events}_d{n_docs}_s{seed}_f{files}")
    marker = os.path.join(path, "_SUCCESS")
    if os.path.exists(marker):
        return path
    shutil.rmtree(path, ignore_errors=True)
    ch = datagen.gen_changes(spark, n_events, n_docs, seed=seed)
    datagen.write_change_log(ch, path, files=files)
    return path


def run_replay(spark, log_path: str, n_events: int, chunk: int, workdir: str) -> dict:
    """Replay the whole log into a fresh LakeTable; return throughput facts."""
    from omicidx_etl_spark.cdc.replay import replay_log
    from omicidx_etl_spark.lake.table import LakeTable

    tbl_path = os.path.join(workdir, "bench_table")
    best = None
    for attempt in range(1, RETRIES + 1):
        shutil.rmtree(tbl_path, ignore_errors=True)
        tbl = LakeTable.create(spark, tbl_path, _table_schema(), key="doc_id",
                               n_buckets=BUCKETS)
        s0 = _steal_jiffies()
        t0 = time.time()
        snaps = replay_log(spark, tbl, log_path, chunk_events=chunk, mode=MODE,
                           dedup_method=DEDUP)
        dt = time.time() - t0
        stolen = _steal_frac(_steal_jiffies() - s0, dt)
        res = {
            "events": n_events,
            "sec": round(dt, 3),
            "events_per_sec": round(n_events / dt, 1),
            "chunk": chunk,
            "batches": len(snaps),
            "final_rows": tbl.read().count(),
            "mode": MODE,
            "dedup": DEDUP,
            "steal_frac": round(stolen, 4),
        }
        if best is None or res["events_per_sec"] > best["events_per_sec"]:
            best = res
        if stolen <= STEAL_OK:
            break
    best["attempts"] = attempt
    return best


def bench_queries(spark, sf_dir: str) -> dict[str, float]:
    from omicidx_etl_spark import queries as Q

    reg = Q.queries()
    # untimed warmup: JVM/JIT/codegen + parquet footer caches, so the first
    # timed query doesn't absorb session startup (standard bench hygiene)
    warm = next((n for n in HEADLINE if n in reg), None)
    if warm is not None:
        reg[warm](spark, sf_dir).write.format("noop").mode("overwrite").save()
    out: dict[str, float] = {}
    for name in HEADLINE:
        if name not in reg:
            continue
        t0 = time.time()
        df = reg[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        out[name] = round(time.time() - t0, 3)
    return out


def main() -> None:
    from omicidx_etl_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = 0.1
    # Replay size scales with sf: sf0.1 -> 2M events / 200k docs.
    n_events = max(int(20_000_000 * sf), 100_000)
    n_docs = max(int(2_000_000 * sf), 10_000)
    chunk = max(n_events // 4, 1)

    _emit_on_signal()
    _RESULT.update({
        "metric": "headline-suite seconds (queries + CDC replay) at sf; "
                  "replay.events_per_sec is the north-star throughput",
        "value": None,
        "unit": "sec",
        "sf": sf,
        "scratch": SCRATCH,
    })
    spark = get_spark("bench")
    q_times = bench_queries(spark, sf_dir)
    _RESULT["queries"] = q_times
    _RESULT["value"] = round(sum(q_times.values()), 3)
    log_path = ensure_change_log(spark, n_events, n_docs, SEED, FILES)
    replay = run_replay(spark, log_path, n_events, chunk,
                        os.path.join(CACHE, "replay_main"))
    _RESULT["replay"] = replay
    _RESULT["value"] = round(sum(q_times.values()) + replay["sec"], 3)
    spark.stop()
    _emit_result()


if __name__ == "__main__":
    main()
