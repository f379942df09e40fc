"""Benchmark entry point.

    python3 perfbench/run.py --workload <name|all> --seed N --seconds S --trace 0|1

Run from the repository root. One process per workload: generate (or
reuse) the seeded inputs, start the engine's session on ``local[nproc]``,
set up, run the closed loop for ``--seconds``, check outputs, stop every
process it started. It prints a human report (every end-to-end metric by
name with its unit, host health, and every env var and conf it set), then
as its last stdout line one JSON object:

    {"correct": bool, "attempted": int, "failed": int,
     "metrics": {name: {"value": float, "unit": str}}}

``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` wraps the engine's layer callables, tags their Spark jobs
and parses the event log, and reports the per-layer metrics instead,
with the tracing overhead against an untraced run of the same seed and
code (an earlier one from ``results.jsonl``, else one it runs first).

All I/O stays under ``.perfbench_work/`` in the current directory:
``cache/`` keeps generated change logs per (workload, variant, size),
``run/`` (tables, shuffle and temp dirs, event log) is deleted before
every run, ``results.jsonl`` collects every run's result.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAMES = ("replay_bulk", "trickle_mixed", "curation_queries")
MIN_FREE_BYTES = 4 << 30
DEADLINE_S = 170  # a run must end within 180 s of its inputs being ready
CACHE_KEEP = 8  # generated change logs kept across runs (all workloads)


def _proc_stat() -> tuple[int, int]:
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:9]]
    return sum(vals), vals[7]


def _abort(why: str) -> None:
    """Stop child runs (input generation, the untraced reference), kill
    this process's session JVM, and exit non-zero."""
    from perfbench.jvm import kill_session_jvm, stop_children

    print(f"perfbench: {why}, stopping", file=sys.stderr, flush=True)
    stop_children()
    kill_session_jvm()
    os._exit(4)


def _arm_watchdog(deadline: float) -> threading.Timer:
    """Abort at ``deadline`` (epoch seconds)."""
    timer = threading.Timer(max(deadline - time.time(), 0.0), _abort, ["run exceeded its deadline"])
    timer.daemon = True
    timer.start()
    return timer


def _fresh_dir(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.join(path, "tmp"))


def _env(work: str, cpus: int) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    return {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark_local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_PYTHON": os.environ.get("PYSPARK_PYTHON") or sys.executable,
    }


def _code_id() -> str:
    """Digest of the engine's and the benchmark's Python sources, so a
    traced run compares only with untraced runs of the same code."""
    h = hashlib.sha1()
    for top in ("omicidx_etl_spark", "perfbench"):
        for root, dirs, files in os.walk(os.path.join(ROOT, top)):
            dirs.sort()
            for n in sorted(files):
                if n.endswith(".py"):
                    path = os.path.join(root, n)
                    h.update(os.path.relpath(path, ROOT).encode())
                    with open(path, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()[:16]


def _reference(path: str, args, code: str) -> dict | None:
    """Latest untraced result in this checkout with the same workload,
    seed, window and code."""
    if not os.path.exists(path):
        return None
    ref = None
    with open(path) as f:
        for line in f:
            r = json.loads(line)
            if (r["workload"], r["seed"], r["seconds"], r["code"], r["trace"]) == (
                args.workload, args.seed, args.seconds, code, 0
            ):
                ref = r
    return ref


def _untraced_reference(args, hist: str, code: str, deadline: float) -> dict | None:
    """The untraced run a traced run measures its overhead against: an
    earlier one from this checkout, else one run now, in a child, before
    the traced run starts. Its report goes to stderr."""
    from perfbench.jvm import run_child

    ref = _reference(hist, args, code)
    if ref is not None:
        return ref
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
    rc = run_child(cmd, stdout=sys.stderr, env={**os.environ, "PERFBENCH_DEADLINE": repr(deadline)})
    if rc != 0:
        print(f"perfbench: untraced reference run exited {rc}", file=sys.stderr)
        return None
    return _reference(hist, args, code)


def run_all(args) -> int:
    """``--workload all``: each workload in its own process, in turn."""
    lines = []
    for name in NAMES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
        p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        out = p.stdout.rstrip("\n").split("\n")
        print("\n".join(out[:-1]), flush=True)
        if p.returncode != 0:
            print(f"perfbench: {name} exited {p.returncode}", file=sys.stderr)
            return p.returncode
        lines.append((name, json.loads(out[-1])))
    print(json.dumps({
        "correct": all(r["correct"] for _, r in lines),
        "attempted": sum(r["attempted"] for _, r in lines),
        "failed": sum(r["failed"] for _, r in lines),
        "metrics": {f"{n}.{k}": v for n, r in lines for k, v in r["metrics"].items()},
    }))
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*NAMES, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "omicidx_etl_spark")):
        print(f"perfbench: engine package omicidx_etl_spark/ not found under {ROOT}", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    sys.path.insert(0, ROOT)
    signal.signal(signal.SIGTERM, lambda *_: _abort("terminated"))
    deadline = float(os.environ.get("PERFBENCH_DEADLINE") or time.time() + DEADLINE_S)
    watchdog = _arm_watchdog(deadline)

    base = os.path.join(os.getcwd(), ".perfbench_work")
    work = os.path.join(base, "run")
    cache = os.path.join(base, "cache")
    hist = os.path.join(base, "results.jsonl")
    _fresh_dir(work)
    os.makedirs(cache, exist_ok=True)
    st = os.statvfs(base)
    if st.f_bavail * st.f_frsize < MIN_FREE_BYTES:
        print(f"perfbench: less than {MIN_FREE_BYTES >> 30} GiB free under {base}", file=sys.stderr)
        return 3

    cpus = len(os.sched_getaffinity(0))
    env = _env(work, cpus)
    os.environ.update(env)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR

    from perfbench import gen, layers
    from perfbench.jvm import stop_session
    from perfbench.trace import Tracer, executor_metrics, rollup
    from perfbench.workloads import WORKLOADS, Ctx, inputs

    # inputs first; building them (a cache miss) extends the deadline
    t = time.perf_counter()
    ins = inputs(args.workload, cache, args.seed)
    gen.prune_cache(cache, CACHE_KEEP)
    os.sync()  # no write-back of fresh inputs during the measured run
    gen_s = time.perf_counter() - t
    if gen_s > 1.0:
        watchdog.cancel()
        deadline += gen_s
        watchdog = _arm_watchdog(deadline)

    code = _code_id()
    ref = None
    if args.trace:
        ref = _untraced_reference(args, hist, code, deadline)
        if ref is None:
            return 5
        _fresh_dir(work)

    conf = {
        "spark.local.dir": env["SPARK_LOCAL_DIRS"],
        "spark.ui.showConsoleProgress": "false",
    }
    tracer = None
    if args.trace:
        evdir = os.path.join(work, "eventlog")
        os.makedirs(evdir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{evdir}",
            "spark.eventLog.compress": "false",
        })
        tracer = Tracer()
        layers.install(tracer)

    import omicidx_etl_spark.session as session

    cpu0 = _proc_stat()
    t = time.perf_counter()
    spark = session.get_spark("perfbench", extra_conf=conf)
    session_s = time.perf_counter() - t
    if tracer:
        tracer.sc = spark.sparkContext
    try:
        ctx = Ctx(spark=spark, work=work, seconds=args.seconds, inputs=ins, tracer=tracer)
        res = WORKLOADS[args.workload](ctx)
    finally:
        stop_session(spark)
    cpu1 = _proc_stat()
    steal = (cpu1[1] - cpu0[1]) / max(cpu1[0] - cpu0[0], 1)
    load1 = os.getloadavg()[0]
    setup_s = session_s + res.setup_s
    correct = res.failed == 0

    e2e = {
        "setup_s": (setup_s, "s"),
        "throughput_per_s": (res.throughput_per_s, "1/s"),
        "latency_s": (res.latency_s, "s"),
        "peak_rss_mb": (res.peak_rss_mb, "MB"),
    }
    if tracer:
        tracer.unwrap_all()
        overhead = res.latency_s / ref["latency_s"] - 1.0
        ex = rollup(tracer, executor_metrics(os.path.join(work, "eventlog")))
        values = layers.metrics(tracer, ex, overhead)
        metrics = {n: {"value": values[n], "unit": u} for n, u in layers.PER_LAYER}
    else:
        metrics = {n: {"value": v, "unit": u} for n, (v, u) in e2e.items()}

    w = args.workload
    print(f"perfbench {w} seed={args.seed} seconds={args.seconds:g} trace={args.trace} cpus={cpus}")
    for k, v in env.items():
        print(f"  env  {k}={v}")
    for k, v in conf.items():
        print(f"  conf {k}={v}")
    print(f"  gen_s                     {gen_s:10.3f} s      (inputs; built once per checkout, not in setup_s)")
    print(f"  setup_s                   {setup_s:10.3f} s      (session {session_s:.3f} s + workload set-up {res.setup_s:.3f} s)")
    for k, (v, unit, note) in res.report.items():
        print(f"  {k:<25} {v:10.4f} {unit:<6} ({note})")
    print(f"  peak_rss_mb               {res.peak_rss_mb:10.1f} MB     (sum of VmHWM over the process tree at the end of the loop)")
    frac = res.failed / res.attempted if res.attempted else 1.0
    print(f"  failed_ops_frac           {frac:10.4f} frac   ({res.failed} of {res.attempted} operations)")
    print(f"  correctness               {'PASS' if correct else 'FAIL'}")
    for e in res.errors:
        print(f"    - {e.splitlines()[0][:300]}")
    print(f"  host: steal_frac={steal:.4f} loadavg_1m={load1:.2f}")
    if tracer:
        print(f"  trace overhead: latency_s {overhead:+.3f}, throughput_per_s "
              f"{res.throughput_per_s / ref['throughput_per_s'] - 1.0:+.3f} (vs the untraced run of this seed "
              f"and code at {time.strftime('%H:%M:%S', time.localtime(ref['time']))})")
        for n, m in metrics.items():
            print(f"  layer {n:<52} {m['value']:14.4f} {m['unit']}")
    with open(hist, "a") as f:
        f.write(json.dumps({
            "workload": w, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
            "code": code, "time": time.time(),
            **{k: v for k, (v, _) in e2e.items()}, "steal_frac": steal, "loadavg_1m": load1,
            "report": {k: v for k, (v, _, _) in res.report.items()}, "detail": res.detail,
        }) + "\n")
    print(json.dumps({
        "correct": correct,
        "attempted": max(res.attempted, 1),
        "failed": res.failed,
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
