"""Process helpers: stop a PySpark session's JVM and wait for it, run and
stop child processes, and read the peak RSS of this process tree."""

from __future__ import annotations

import os
import subprocess

CHILDREN: list[subprocess.Popen] = []


def run_child(cmd: list[str], **kwargs) -> int:
    """Run ``cmd`` to completion; ``stop_children`` can stop it meanwhile."""
    p = subprocess.Popen(cmd, **kwargs)
    CHILDREN.append(p)
    try:
        return p.wait()
    finally:
        CHILDREN.remove(p)


def stop_children() -> None:
    """Ask every running child to stop (each stops its own JVM on SIGTERM),
    and wait for it."""
    for p in list(CHILDREN):
        p.terminate()
        try:
            p.wait(timeout=8)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()


def stop_session(spark) -> None:
    """Stop the session, then the gateway JVM (it exits when its stdin
    closes), and wait for it; its Python workers exit with it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def kill_session_jvm() -> None:
    """Kill the gateway JVM of this process, if one runs, and reap it."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.kill()
        proc.wait(timeout=10)


def _tree() -> set[int]:
    """This process and its live descendants (the driver JVM and the
    Python workers it forks)."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    parent[int(name)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    tree, todo = set(), [os.getpid()]
    while todo:
        p = todo.pop()
        tree.add(p)
        todo.extend(c for c, pp in parent.items() if pp == p and c not in tree)
    return tree


def tree_peak_rss_mb() -> float:
    """Sum of the kernel's per-process RSS high-water marks (VmHWM) over
    the process tree."""
    kb = 0
    for p in _tree():
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024

