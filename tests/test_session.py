"""session.get_spark is the engine's one session factory: engine confs on
every session it builds, topology only when it launches the JVM itself,
an active session returned as is. Per-context caches are keyed on the
application id."""

from __future__ import annotations

import os
import pathlib
import re
from types import SimpleNamespace

from omicidx_etl_spark import session

REPO = pathlib.Path(__file__).resolve().parents[1]
PKG = REPO / "omicidx_etl_spark"


def test_active_session_returned_as_is(spark):
    got = session.get_spark("other-app", shuffle_partitions=3)
    assert got.sparkContext.applicationId == spark.sparkContext.applicationId
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"


def test_topology_resolved_per_call(monkeypatch):
    """SPARK_GRAFT_CPUS is read when the session is built, for both the
    master and the shuffle partitions; unset, it is the CPU affinity."""
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    monkeypatch.delenv("SPARK_MASTER", raising=False)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    conf = session._session_conf(None, None, None)
    assert conf["spark.master"] == "local[3]"
    assert conf["spark.sql.shuffle.partitions"] == "3"
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    n = len(os.sched_getaffinity(0))
    conf = session._session_conf(None, None, {"spark.ui.enabled": "true"})
    assert conf["spark.master"] == f"local[{n}]"
    assert conf["spark.sql.shuffle.partitions"] == str(n)
    assert conf["spark.ui.enabled"] == "true"  # extra_conf applies last


def _host_conf(monkeypatch, ram_gib):
    """The confs a new session gets on a host with ``ram_gib`` of RAM."""
    pages = int(ram_gib * 2**30) // 4096
    sysconf = {"SC_PHYS_PAGES": pages, "SC_PAGE_SIZE": 4096}
    monkeypatch.setattr(session.os, "sysconf", sysconf.__getitem__)
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    return session._session_conf(None, None, None)


def test_driver_heap_sized_from_the_host(monkeypatch):
    """Half of physical RAM in whole GiB, capped at 48g, unless
    SPARK_DRIVER_MEM is set; -Xmn4g only at 16 GiB of heap and up;
    maxResultSize is half the heap, at most 4g."""
    for ram_gib, env, heap, xmn, max_result in (
        (15.7, None, "7g", False, "3584m"),
        (40, None, "20g", True, "4096m"),
        (256, None, "48g", True, "4096m"),
        (256, "3g", "3g", False, "1536m"),
        # no unit (Spark reads MiB): the guard stays 4g, never 0 (= unlimited)
        (256, "4096", "4096", False, "4096m"),
    ):
        if env:
            monkeypatch.setenv("SPARK_DRIVER_MEM", env)
        else:
            monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
        conf = _host_conf(monkeypatch, ram_gib)
        assert conf["spark.driver.memory"] == heap, (ram_gib, env)
        assert ("-Xmn4g" in conf["spark.driver.extraJavaOptions"]) == xmn, (ram_gib, env)
        assert conf["spark.driver.maxResultSize"] == max_result, (ram_gib, env)


def test_spark_submit_keeps_its_topology(monkeypatch):
    """Under spark-submit only the engine confs are set: master, shuffle
    partitions, driver sizing and the UI stay spark-submit's, whatever
    the host or ``SPARK_DRIVER_MEM``."""
    monkeypatch.setenv("SPARK_DRIVER_MEM", "3g")
    _host_conf(monkeypatch, 256)
    monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "12345")
    conf = session._session_conf("local[2]", 3, None)
    assert conf == session.ENGINE_CONF


def test_worker_package_shipped_once_per_application(monkeypatch):
    """A new context can reuse a stopped one's id(); the ship cache must
    still add the package to it."""
    monkeypatch.setattr(session, "_SHIPPED_CONTEXTS", set())
    shipped = []
    sc = SimpleNamespace(applicationId="local-stub-1", addPyFile=shipped.append)
    stub = SimpleNamespace(sparkContext=sc)
    session.ensure_worker_package(stub)
    session.ensure_worker_package(stub)
    sc.applicationId = "local-stub-2"
    session.ensure_worker_package(stub)
    assert len(shipped) == 2


def _lines(paths):
    for path in paths:
        for n, line in enumerate(path.read_text().splitlines(), 1):
            yield path.relative_to(REPO).as_posix(), n, line.strip()


def test_session_built_and_configured_only_in_session_py():
    """No module but session.py builds a session or reads the environment,
    and it reads only the three deployment knobs plus pyspark's
    spark-submit marker."""
    engine = sorted(PKG.rglob("*.py")) + sorted((REPO / "jobs").glob("*.py"))
    allowed = {"SPARK_GRAFT_CPUS", "SPARK_MASTER", "SPARK_DRIVER_MEM", "PYSPARK_GATEWAY_PORT"}
    builders, env_reads = [], []
    for rel, n, line in _lines(engine):
        where = f"{rel}:{n}: {line}"
        if "SparkSession.builder" in line and rel != "omicidx_etl_spark/session.py":
            builders.append(where)
        if re.search(r"\b(environ|getenv)\b", line):
            names = set(re.findall(r"[\"']([A-Z][A-Z0-9_]*)[\"']", line))
            if rel != "omicidx_etl_spark/session.py" or not names or not names <= allowed:
                env_reads.append(where)
    assert builders == [], builders
    assert env_reads == [], env_reads


def test_retired_options_stay_gone():
    """Deleted options, the bench's 32-core scaling harness included, stay
    deleted; only get_spark picks the core count and the default driver
    heap; scripts stand alone."""
    assert not (PKG / "config.py").exists()
    for gone in ("bench_extra.py", "scripts/executor_scaling.py", "scripts/sustained_replay.py"):
        assert not (REPO / gone).exists(), gone
    retired = re.compile(
        r"fanout|SPARK_GRAFT_(PQ_BATCH|SHUFFLE_COMPRESS|WAL_CODEC|READ_PREFILTER_ROWS"
        r"|SESSION_WARMUP|COMPUTE_PARTS|BENCH_FANOUT)|SPARK_DRIVER_JAVA_OPTS"
        r"|SPARK_GRAFT_BENCH_(BUDGET|STEAL_OK|PROBE_\w+|FAULT_OK|AGG_OK|BW_OK|SUPER_OK"
        r"|SCALING|MODE|DEDUP|CACHE)|SPARK_GRAFT_SCALE_|SPARK_GRAFT_EXEC_"
        # a hard-coded core count or heap: environ.get/setdefault("SPARK_GRAFT_CPUS", "32"),
        # environ["SPARK_DRIVER_MEM"] = "48g" or ${SPARK_DRIVER_MEM:-48g}
        r"|(SPARK_GRAFT_CPUS|SPARK_DRIVER_MEM)([\"']\s*(,|\]\s*=)|:-\d)"
        r"|^(import|from) bench\b"
    )
    files = (
        sorted(PKG.rglob("*.py"))
        + sorted((REPO / "jobs").glob("*.py"))
        + sorted((REPO / "scripts").glob("*.py"))
        + sorted((REPO / "scripts").glob("*.sh"))
        + [REPO / "bench.py"]
    )
    hits = [f"{rel}:{n}: {line}" for rel, n, line in _lines(files) if retired.search(line)]
    assert hits == [], hits


# py4j round-trip budgets of one 5k-event MOR commit into a 16-bucket table
# and of one 4-key lookup: measured 433 and 244 with the DataFrame-debugging
# call-site capture off (ENGINE_CONF), plus ~10%. With it on, PySpark sends
# ~4 more per Column/F.* call, about twice as many.
COMMIT_ROUND_TRIPS = 480
LOOKUP_ROUND_TRIPS = 270


def test_commit_and_lookup_round_trip_budget(spark, tmp_path, count_round_trips):
    """Driver→JVM round trips are the per-commit fixed cost on a small
    batch: lock the budget of one MOR commit and one lookup, so a change
    that multiplies them (a per-bucket or per-column py4j call, the call-
    site capture turned back on) fails here instead of in the benchmark."""
    from omicidx_etl_spark import datagen
    from omicidx_etl_spark.cdc.replay import replay_batch
    from omicidx_etl_spark.lake.table import LakeTable

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    ch = datagen.gen_changes(spark, 10000, 2000, seed=3)
    t = LakeTable.create(
        spark, str(tmp_path / "t"), ch.drop("seq", "op", "event_ts").schema,
        key="doc_id", n_buckets=16,
    )
    replay_batch(t, ch.filter("seq <= 5000"), batch_id=0, app_id="rt", mode="mor")
    batch = ch.filter("seq > 5000")
    _, commit = count_round_trips(
        lambda: replay_batch(t, batch, batch_id=1, app_id="rt", mode="mor")
    )
    keys = [
        r.doc_id
        for r in ch.select("doc_id").distinct().orderBy("doc_id").limit(4).collect()
    ]
    rows, lookup = count_round_trips(lambda: t.lookup(keys).collect())
    assert rows
    assert commit <= COMMIT_ROUND_TRIPS, commit
    assert lookup <= LOOKUP_ROUND_TRIPS, lookup
