"""The three closed-loop workloads.

Each workload has an input spec (generated before the session starts and
cached), then runs in three phases against a live session:
set-up (timed into ``setup_s``), the measured loop (``--seconds`` of
back-to-back operations, each issued when the previous one completed),
and the output checks, which run after the clock stops. The peak RSS is
read when the loop ends, before the checks.

``replay_bulk``      few large MOR batches over a Zipf-skewed log.
``trickle_mixed``    many small MOR batches over near-uniform keys, driven
                     by ``replay_log``'s progress hook: a point lookup after
                     every commit, a full aggregate read plus
                     ``auto_maintain`` every ``READ_EVERY`` commits.
``curation_queries`` the 17 headline registry leaves through a noop sink.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import sys
import threading
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass, field
from typing import Any

from perfbench import check, gen
from perfbench.jvm import tree_peak_rss_mb
from perfbench.layers import HEADLINE

now = time.perf_counter

# replay_bulk: a 25k-event warm-up batch, then 100k-event batches
BULK_LOG = dict(n_events=300_000, n_docs=100_000, skew=3.0, files=12)
BULK_CHUNK = 100_000
BULK_WARMUP_CHUNK = 25_000
BULK_BUCKETS = 32
# trickle_mixed: 5k-event batches, one log segment per batch. A cycle is
# READ_EVERY commits, the default auto_maintain delta-chain limit, so every
# cycle ends with the same compaction of every bucket and any number of
# whole cycles measures the same mix. The warm-up cycle starts with the
# 10k-doc snapshot prefix; the log holds at most TRICKLE_MAX_COMMITS
# measured commits after it.
TRICKLE_CHUNK = 5_000
READ_EVERY = 4
TRICKLE_DOCS = 10_000
TRICKLE_MAX_COMMITS = 2 * READ_EVERY
_TRICKLE_EVENTS = (READ_EVERY + TRICKLE_MAX_COMMITS) * TRICKLE_CHUNK
TRICKLE_LOG = dict(
    n_events=_TRICKLE_EVENTS, n_docs=TRICKLE_DOCS, skew=1.0, files=_TRICKLE_EVENTS // TRICKLE_CHUNK,
)
TRICKLE_BUCKETS = 16
# the seed picks one of this many change-log variants (see ``inputs``)
LOG_VARIANTS = 3
# two keys from the snapshot prefix, two from the insert-only upper range
LOOKUP_KEYS = [f"doc_{i:08d}" for i in (0, 7, TRICKLE_DOCS + 11, 2 * TRICKLE_DOCS - 3)]


def table_schema():
    from pyspark.sql import types as T

    return T.StructType([
        T.StructField("doc_id", T.StringType()),
        T.StructField("tokens", T.ArrayType(T.IntegerType())),
        T.StructField("n_tok", T.IntegerType()),
        T.StructField("source", T.StringType()),
    ])


class TimeUp(Exception):
    """Raised from a replay progress hook once the measured window ends."""


class Clock:
    """``replay_log`` progress hook: per-batch latency is the time between
    consecutive commits (the first from ``start``)."""

    def __init__(self, deadline: float) -> None:
        self.deadline = deadline
        self.mark = now()
        self.latencies: list[float] = []
        self.events = 0

    def start(self) -> None:
        self.mark = now()

    def update(self, n: int) -> None:
        t = now()
        self.latencies.append(t - self.mark)
        self.mark = t
        self.events += n
        if t >= self.deadline:
            raise TimeUp

    @property
    def expired(self) -> bool:
        return now() >= self.deadline


@dataclass
class Ctx:
    spark: Any
    work: str
    seconds: float
    inputs: dict[str, str]
    tracer: Any = None

    def span(self, name: str, **attrs):
        return self.tracer.span(name, **attrs) if self.tracer else nullcontext()

    def measuring(self) -> None:
        """Mark the start of the measured loop for the per-layer metrics."""
        if self.tracer:
            self.tracer.mark = time.perf_counter()


@dataclass
class Result:
    setup_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    throughput_per_s: float = 0.0
    latency_s: float = 0.0
    peak_rss_mb: float = 0.0
    # named metrics for the human report: name -> (value, unit, note)
    report: dict[str, tuple[float, str, str]] = field(default_factory=dict)
    detail: dict[str, Any] = field(default_factory=dict)

    def fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(what)
        print(f"perfbench: FAILED {what}", file=sys.stderr)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.fail(what)


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs: list[float]) -> tuple[float, str]:
    """Highest of p50/p75/p90/p95/p99 with at least ten samples beyond it;
    with fewer than 20 samples no percentile qualifies and the median is
    reported, labelled as such."""
    n = len(xs)
    if not n:
        return 0.0, "no samples"
    best = None
    for p in (50, 75, 90, 95, 99):
        if n * (100 - p) / 100 >= 10:
            best = p
    if best is None:
        return median(xs), f"p50 of {n} (p75 needs >= 40 samples)"
    q = statistics.quantiles(xs, n=100, method="inclusive")
    return float(q[best - 1]), f"p{best} of {n}"


def du(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def _log_bytes(log_dir: str, n_events: int, hi_seq: int) -> float:
    return du(log_dir) * min(hi_seq, n_events) / n_events


def _duck_log(ctx: Ctx, log_dir: str, hi_seq: int, keys: list[str]):
    con = check.duck(os.path.join(ctx.work, "duck"))
    check.load_log(con, log_dir, hi_seq, keys)
    return con


def _check_digest(res: Result, ctx: Ctx, table, con) -> None:
    """Final live rows: Spark digest over the table vs DuckDB over the log
    (already loaded into ``con``), the DuckDB side on a thread while Spark
    scans."""
    expect: dict[str, Any] = {}
    hi = con.execute("SELECT max(seq) FROM ev").fetchone()[0] or 0
    th = threading.Thread(target=lambda: expect.update(v=check.duck_digest(con.cursor(), hi)))
    th.start()
    got = check.spark_digest(table.read())
    th.join()
    ok = got == expect.get("v")
    res.check(ok, f"final-state digest at seq {hi}: spark={got} duckdb={expect.get('v')}")
    res.detail["digest"] = got


# --------------------------------------------------------------- replay_bulk
def replay_bulk(ctx: Ctx) -> Result:
    import omicidx_etl_spark.cdc.replay as replay
    from omicidx_etl_spark.lake.table import LakeTable

    spark, log = ctx.spark, ctx.inputs["log"]
    res = Result()
    t0 = now()
    warm = LakeTable.create(spark, os.path.join(ctx.work, "warmup"), table_schema(),
                            key="doc_id", n_buckets=BULK_BUCKETS)
    replay.replay_log(spark, warm, log, chunk_events=BULK_WARMUP_CHUNK, mode="mor", max_batches=1)
    res.setup_s = now() - t0
    shutil.rmtree(warm.root)

    ctx.measuring()
    clock = Clock(now() + ctx.seconds)
    wall, passes, table = 0.0, 0, None
    while True:
        if table is not None:
            shutil.rmtree(table.root)
        table = LakeTable.create(spark, os.path.join(ctx.work, f"table-{passes}"),
                                 table_schema(), key="doc_id", n_buckets=BULK_BUCKETS)
        passes += 1
        clock.start()
        t = now()
        try:
            replay.replay_log(spark, table, log, chunk_events=BULK_CHUNK, mode="mor", progress=clock)
        except TimeUp:
            pass
        except Exception:  # noqa: BLE001 — a failed batch is a measured outcome
            res.attempted += 1
            res.fail("replay batch: " + traceback.format_exc(limit=3))
        finally:
            wall += now() - t
        if res.failed or clock.expired:
            break
    res.peak_rss_mb = tree_peak_rss_mb()
    batches = len(clock.latencies)
    res.attempted += batches
    done = table.committed_batch("replay")
    hi = 0 if done is None else min((done + 1) * BULK_CHUNK, BULK_LOG["n_events"])
    if not res.failed:
        con = _duck_log(ctx, log, hi, [])
        try:
            _check_digest(res, ctx, table, con)
        finally:
            con.close()
    res.throughput_per_s = clock.events / wall if wall > 0 else 0.0
    res.latency_s = median(clock.latencies)
    ratio = du(table.root) / _log_bytes(log, BULK_LOG["n_events"], hi) if hi else 0.0
    res.report = {
        "events_per_s": (res.throughput_per_s, "1/s", f"{clock.events} events in {wall:.2f} s"),
        "commit_p50_s": (res.latency_s, "s", f"{batches} batches of {BULK_CHUNK}, {passes} pass(es)"),
        "table_bytes_per_log_byte": (ratio, "ratio", f"log prefix up to seq {hi}"),
    }
    res.detail.update(batch_latencies_s=[round(x, 4) for x in clock.latencies], passes=passes)
    return res


# ------------------------------------------------------------- trickle_mixed
class Cycle:
    """``replay_log`` progress hook for ``trickle_mixed``. After each commit
    it runs one point lookup; after every ``READ_EVERY`` commits, one full
    aggregate read and ``auto_maintain()``. A commit's latency is the time
    from the end of the previous hook call (or from ``start``) to this
    call: the engine's prefetched segment resolution and ``replay_batch``.
    With a deadline, it raises ``TimeUp`` at the end of the first whole
    cycle that ends past it, so every run measures the same mix."""

    def __init__(self, ctx: Ctx, table, hi: int, deadline: float | None = None) -> None:
        from pyspark.sql import functions as F

        self.ctx, self.table, self.hi, self.deadline = ctx, table, hi, deadline
        self.F = F
        self.commits: list[float] = []
        self.lookups: list[float] = []
        self.reads: list[float] = []
        self.maint: list[float] = []
        self.lookup_seen: list[tuple[int, list]] = []
        self.read_seen: list[tuple[int, tuple[int, int]]] = []
        self.events = self.actions = 0
        self.mark = now()

    def start(self) -> None:
        self.mark = now()

    def update(self, n: int) -> None:
        self.commits.append(now() - self.mark)
        self.events += n
        self.hi += TRICKLE_CHUNK
        table, F = self.table, self.F
        with self.ctx.span("op.lookup"):
            t = now()
            rows = [tuple(r) for r in table.lookup(LOOKUP_KEYS)
                    .select("doc_id", "tokens", "n_tok", "source").collect()]
            self.lookups.append(now() - t)
        self.lookup_seen.append((self.hi, rows))
        if len(self.commits) % READ_EVERY == 0:
            depth = 0
            if self.ctx.tracer:
                snap = table.snapshot()
                depth = max((len(e.get("deltas") or []) for e in snap["buckets"].values() if e), default=0)
            with self.ctx.span("op.read", delta_depth=depth):
                t = now()
                r = table.read().agg(F.count(F.lit(1)), F.sum("n_tok")).first()
                self.reads.append(now() - t)
            self.read_seen.append((self.hi, (int(r[0]), int(r[1] or 0))))
            t = now()
            self.actions += len(table.auto_maintain()["actions"])
            self.maint.append(now() - t)
            if self.deadline is not None and now() >= self.deadline:
                raise TimeUp
        self.mark = now()


def trickle_mixed(ctx: Ctx) -> Result:
    import omicidx_etl_spark.cdc.replay as replay
    from omicidx_etl_spark.lake.table import LakeTable
    from omicidx_etl_spark.lineage import LineageLog

    spark, log = ctx.spark, ctx.inputs["log"]
    n_events = TRICKLE_LOG["n_events"]
    res = Result()

    def run(hook: Cycle, max_batches: int | None = None) -> None:
        hook.start()
        try:
            replay.replay_log(spark, table, log, chunk_events=TRICKLE_CHUNK, mode="mor",
                              lineage=lineage, max_batches=max_batches, progress=hook)
        except TimeUp:
            pass

    # set-up: one warm-up cycle, starting with the snapshot prefix
    t0 = now()
    table = LakeTable.create(spark, os.path.join(ctx.work, "table"), table_schema(),
                             key="doc_id", n_buckets=TRICKLE_BUCKETS)
    lineage = LineageLog(table.root)
    run(Cycle(ctx, table, 0), max_batches=READ_EVERY)
    res.setup_s = now() - t0

    ctx.measuring()
    hook = Cycle(ctx, table, READ_EVERY * TRICKLE_CHUNK, deadline=now() + ctx.seconds)
    t_loop = now()
    try:
        run(hook)
    except Exception:  # noqa: BLE001 — a failed operation is a measured outcome
        res.fail("trickle operation: " + traceback.format_exc(limit=3))
    wall = now() - t_loop
    res.peak_rss_mb = tree_peak_rss_mb()
    hi = hook.hi
    res.attempted += len(hook.commits) + len(hook.lookups) + len(hook.reads) + len(hook.maint)

    con = _duck_log(ctx, log, hi, LOOKUP_KEYS)
    try:
        for seq_hi, rows in hook.lookup_seen:
            got = sorted((r[0], r[2], r[3], tuple(r[1])) for r in rows)
            res.check(got == check.duck_live_rows(con, seq_hi, LOOKUP_KEYS), f"lookup at seq {seq_hi}")
        for seq_hi, totals in hook.read_seen:
            exp = check.duck_live_totals(con, seq_hi)
            res.check(totals == exp, f"read totals at seq {seq_hi}: {totals} != {exp}")
        if not res.failed:
            _check_digest(res, ctx, table, con)
    finally:
        con.close()

    commits, lookups = hook.commits, hook.lookups
    res.throughput_per_s = hook.events / wall if wall > 0 else 0.0
    res.latency_s = median(commits)
    c_tail, c_note = tail(commits)
    l_tail, l_note = tail(lookups)
    res.report = {
        "events_per_s": (res.throughput_per_s, "1/s", f"{hook.events} events in {wall:.2f} s (loop wall)"),
        "commit_p50_s": (res.latency_s, "s", f"{len(commits)} commits of {TRICKLE_CHUNK}"),
        "commit_tail_s": (c_tail, "s", c_note),
        "read_p50_s": (median(hook.reads), "s", f"{len(hook.reads)} full aggregate reads"),
        "lookup_p50_s": (median(lookups), "s", f"{len(lookups)} lookups of {len(LOOKUP_KEYS)} keys"),
        "lookup_tail_s": (l_tail, "s", l_note),
        "table_bytes_per_log_byte": (
            du(table.root) / _log_bytes(log, n_events, hi), "ratio", f"log prefix up to seq {hi}"
        ),
    }
    res.detail.update(
        commit_latencies_s=[round(x, 4) for x in commits],
        maintain_s=[round(x, 4) for x in hook.maint],
        maintain_actions=hook.actions,
        log_exhausted=hi >= n_events,
    )
    return res


# ---------------------------------------------------------- curation_queries
def curation_queries(ctx: Ctx) -> Result:
    from omicidx_etl_spark import queries as Q

    spark, sf = ctx.spark, ctx.inputs["sf"]
    reg = Q.queries()
    res = Result()
    # set-up: one warm-up pass that collects every leaf's result; those
    # results are checked against DuckDB after the clock stops
    t0 = now()
    got: dict[str, Any] = {}
    for leaf in HEADLINE:
        try:
            got[leaf] = reg[leaf](spark, sf).toPandas()
        except Exception:  # noqa: BLE001 — reported by the check below
            print(traceback.format_exc(limit=3), file=sys.stderr)
    res.setup_s = now() - t0

    # the leaves round-robin until --seconds has passed, at least one whole
    # pass; each leaf's time is the median of its runs
    ctx.measuring()
    times: dict[str, list[float]] = {leaf: [] for leaf in HEADLINE}
    deadline = now() + ctx.seconds
    t_all = now()
    runs = 0
    try:
        while runs < len(HEADLINE) or now() < deadline:
            leaf = HEADLINE[runs % len(HEADLINE)]
            res.attempted += 1
            with ctx.span(f"op.leaf.{leaf}"):
                t = now()
                reg[leaf](spark, sf).write.format("noop").mode("overwrite").save()
                times[leaf].append(now() - t)
            runs += 1
    except Exception:  # noqa: BLE001 — a failed leaf is a measured outcome
        res.fail("leaf: " + traceback.format_exc(limit=3))
    wall = now() - t_all
    res.peak_rss_mb = tree_peak_rss_mb()

    oracle = Q.oracle_sql()
    con = check.duck(os.path.join(ctx.work, "duck"))
    try:
        check.duck_registry(con, sf)
        for leaf in HEADLINE:
            if leaf == "dedup_cluster_cc":
                exp = check.clusters_from_pairs(con.execute(oracle["dedup_minhash_lsh"]).df())
            else:
                exp = con.execute(oracle[leaf]).df()
            why = "no result" if leaf not in got else check.frames_equal(got[leaf], exp)
            res.check(why is None, f"{leaf} vs oracle: {why}")
    finally:
        con.close()

    leaf_meds = [median(v) for v in times.values() if v]
    suite = sum(leaf_meds) if len(leaf_meds) == len(HEADLINE) else 0.0
    res.throughput_per_s = len(HEADLINE) / suite if suite > 0 else 0.0
    res.latency_s = math.exp(sum(math.log(x) for x in leaf_meds) / len(leaf_meds)) if leaf_meds else 0.0
    res.report = {
        "suite_s": (suite, "s", f"sum of the per-leaf medians; {runs} leaf runs in {wall:.2f} s"),
        "leaf_geomean_s": (res.latency_s, "s", f"geometric mean of {len(leaf_meds)} per-leaf medians"),
    }
    res.detail["leaf_s"] = {k: round(median(v), 4) for k, v in times.items()}
    return res


def inputs(workload: str, cache: str, seed: int) -> dict[str, str]:
    """Generate (or reuse) the workload's inputs for ``seed``.

    A replay workload's change log is ``gen_changes`` with generator seed
    ``seed % LOG_VARIANTS``. The generator makes about 3k events/s on four
    cores, so a fresh log for every seed would add 20 s or more to every
    run, and the run right after a generation measures slow. So a
    checkout generates each variant once, and ``trickle_mixed`` generates
    all of its variants in its first run. The registry tables of
    ``curation_queries`` are fixed."""
    if workload == "curation_queries":
        return {"sf": gen.REGISTRY_SF}
    spec = BULK_LOG if workload == "replay_bulk" else TRICKLE_LOG
    size = "-".join(f"{v}" for v in spec.values())
    paths = {v: os.path.join(cache, f"{workload}-v{v}-{size}") for v in range(LOG_VARIANTS)}
    variant = seed % LOG_VARIANTS
    wanted = paths if workload == "trickle_mixed" else {variant: paths[variant]}
    missing = {p: v for v, p in wanted.items() if not gen.ready(p)}
    if missing:
        gen.change_logs(missing, **spec)
    return {"log": paths[variant]}


WORKLOADS = {
    "replay_bulk": replay_bulk,
    "trickle_mixed": trickle_mixed,
    "curation_queries": curation_queries,
}
