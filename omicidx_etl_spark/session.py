"""SparkSession factory: the one place the engine builds a session.

Reference parity: the reference configures its engine (DuckDB) once with
memory/temp/ordering knobs (``omicidx_etl/db.py:26-29``); this is the Spark
analogue. Jobs, scripts, tests and benchmarks all call ``get_spark``;
it returns an already-active session as is, with no conf re-applied.

Two kinds of conf:
- Engine confs (``ENGINE_CONF``) apply to every session it builds: AQE,
  Arrow, PySpark call-site capture off, UTC, zstd, driver-side partition
  discovery, the parquet batch size, shuffle compression and executor GC.
- Topology and sizing (master, shuffle partitions, driver heap and JVM
  options, UI) are set only when ``get_spark`` launches the JVM itself.
  Under ``spark-submit`` (pyspark sets ``PYSPARK_GATEWAY_PORT``) they come
  from spark-submit.

The engine's only knobs are deployment settings: ``SPARK_GRAFT_CPUS``
(core count, default: this process's CPU affinity), ``SPARK_MASTER`` and
``SPARK_DRIVER_MEM`` (driver heap, default: half of physical RAM in whole
GiB, capped at 48g; see ``_driver_mem``). Anything else goes through
``extra_conf``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Vectorized-reader batch rows (default 4096): the engine's rows carry
# kB-scale token arrays, so a 4096-row column batch is tens of MB of
# short-lived large arrays per task — at 32 concurrent tasks that
# allocation churn was the top GC driver of the replay's wide scan
# (measured r6, 2M-event replay: halving to 2048 cut GC 9.8 -> ~3.4 s and
# wall 26.5 -> ~18 s). Narrow-row tables see no measurable cost (batch
# count doubles but per-batch work halves).
PARQUET_BATCH_ROWS = 2048

# Shuffle-payload compression is off, measured: the engine's dominant
# shuffle payload (token arrays, embeddings, md5 hex) is high-entropy; lz4
# on the replay's winner shuffle achieved 1.09x (2948 MB vs 3228 MB raw)
# while costing 17% wall and a third of the GC (22.1 vs 26.5 s measured
# r6). For compressible payloads on a network cluster, pass
# ``extra_conf={"spark.shuffle.compress": "true"}``.
SHUFFLE_COMPRESS = "false"

ENGINE_CONF = {
    # --- planner / runtime re-planning ---
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # --- python boundary: Arrow everywhere ---
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # PySpark 4.1 wraps every Column method and F.* call in _with_origin
    # (pyspark/errors/utils.py), which sends the Python call site to the
    # JVM: ~4 extra py4j round trips per call. Off, a 5k-event MOR commit
    # into 16 buckets makes 433 round trips instead of 973, a 4-key lookup
    # 248-268 instead of 538-558, a full read 333 instead of 603 and
    # auto_maintain 864 instead of 1784 (tests/test_session.py locks the
    # budget). Runtime error messages lose the Python call site;
    # extra_conf can turn it back on.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    # --- determinism / oracle comparability ---
    "spark.sql.session.timeZone": "UTC",
    # --- IO ---
    "spark.sql.parquet.compression.codec": "zstd",
    "spark.sql.files.maxPartitionBytes": "128m",
    # List a read's input paths on the driver however many there are.
    # Past the default threshold (32 paths) Spark lists them with a Spark
    # job; a manifest-resolved lake read names one dir per file group (16
    # buckets x base + 4 deltas = 80), and on a host-local lake that job
    # (40-80 tasks, 137-340 ms measured on 4 cores) only adds scheduling
    # to what the driver lists in milliseconds. It also keeps replay's
    # prefetch read job-free (cdc/replay.py _mk_batch).
    "spark.sql.sources.parallelPartitionDiscovery.threshold": str(2**31 - 1),
    "spark.sql.parquet.columnarReaderBatchSize": str(PARQUET_BATCH_ROWS),
    "spark.shuffle.compress": SHUFFLE_COMPRESS,
    # ParallelGC: token-array rows are kB-scale objects; G1's humongous-
    # allocation handling collapses under that churn (GCLocker retries,
    # 4-5x slower full-width scans at high thread counts). Throughput
    # collector is the right choice for this allocation profile.
    "spark.executor.extraJavaOptions": "-XX:+UseParallelGC",
}


def _mem_gib(mem: str) -> float:
    """Parse a JVM memory string ('48g', '512m') to GiB; 0.0 if unparseable."""
    try:
        unit = mem[-1].lower()
        val = float(mem[:-1])
    except (ValueError, IndexError):
        return 0.0
    return {"g": val, "m": val / 1024, "k": val / (1024 * 1024), "t": val * 1024}.get(unit, 0.0)


def _driver_mem() -> str:
    """The driver heap: ``$SPARK_DRIVER_MEM``, else half of physical RAM
    rounded down to whole GiB (at least 1g), capped at 48g. In local mode
    the driver JVM runs every task, so its heap is the engine's memory
    budget; the other half stays for Python workers, the page cache and
    tmpfs shuffle files. Measured on a 4-core / 15.7 GiB host (perfbench,
    10 interleaved pairs per workload): a fixed 48g with -Xmn4g peaked at
    a median 5.2-5.4 GB RSS; the 7g this rule picks there, 2.7 GB, with
    throughput and latency unchanged within noise. 48g stays the size on
    hosts with 96 GiB and more."""
    mem = os.environ.get("SPARK_DRIVER_MEM")
    if mem:
        return mem
    ram = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{min(48, max(1, ram // 2**31))}g"


def _default_driver_opts(mem: str) -> str:
    """ParallelGC (see ``ENGINE_CONF``) plus a BOUNDED young gen on large
    heaps: ParallelGC's adaptive sizing grows the young gen toward heap/3
    (16 GiB on the 48 GiB local driver), and 32-thread stop-the-world
    scavenges over a young gen that big pause every running task —
    measured on the bench-shaped 2M-event replay (r6): GC 9.8 s of a
    26.5 s wall with adaptive sizing, 3.2 s of 17.1 s with -Xmn4g, and the
    run-to-run spread collapses because the pause cadence stops drifting.
    A fixed LARGE young gen is the anti-optimization (-Xmn16g measured
    29.1 s / 11.0 s GC). Skipped on heaps < 16 GiB where -Xmn4g would
    starve the old gen (adaptive sizing behaves at that scale; measured
    24 GiB heap ~ Xmn4g within noise). ``extra_conf`` overrides
    ``spark.driver.extraJavaOptions`` wholesale."""
    base = "-XX:+UseParallelGC"
    if _mem_gib(mem) >= 16:
        return base + " -Xmn4g"
    return base


def _session_conf(
    master: str | None, shuffle_partitions: int | None, extra_conf: dict[str, str] | None
) -> dict[str, str]:
    """The confs ``get_spark`` builds a new session with (see its docstring)."""
    conf = dict(ENGINE_CONF)
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
        mem = _driver_mem()
        conf.update({
            "spark.master": master or os.environ.get("SPARK_MASTER", f"local[{cpus}]"),
            "spark.sql.shuffle.partitions": str(shuffle_partitions or cpus),
            "spark.ui.enabled": "false",
            "spark.driver.memory": mem,
            # At most half the heap, so a big collect trips this guard
            # before the driver runs out of heap; 4g on 8 GiB and up. An
            # unparseable heap string keeps 4g rather than 0 (= unlimited).
            "spark.driver.maxResultSize": f"{min(4096, int(_mem_gib(mem) * 512)) or 4096}m",
            "spark.driver.extraJavaOptions": _default_driver_opts(mem),
        })
    conf.update(extra_conf or {})
    return conf


def get_spark(
    app_name: str = "omicidx-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """The active session as is, else a new one with ``ENGINE_CONF``.

    When this call launches the JVM, it also sets the topology:
    ``master`` (default ``$SPARK_MASTER``, else ``local[$SPARK_GRAFT_CPUS]``),
    ``shuffle_partitions`` (default the core count), the driver heap
    (``$SPARK_DRIVER_MEM``, default half of physical RAM capped at 48g),
    ``spark.driver.maxResultSize`` (half the heap, at most 4g) and GC
    options, and turns the UI off. Under spark-submit those come from
    spark-submit and the arguments are ignored. ``extra_conf`` is applied
    last.
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    spark = (
        SparkSession.builder.appName(app_name)
        .config(map=_session_conf(master, shuffle_partitions, extra_conf))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    _warm_session(spark)
    return spark


# Keyed on applicationId, not id(sc): CPython can reuse a stopped
# context's id for a new one.
_WARMED_CONTEXTS: set[str] = set()


def _warm_session(spark: SparkSession) -> None:
    """Once-per-context warmup of shared engine primitives (md5, wide hash
    aggregation, window/sort, broadcast hash join, explode) over a few
    thousand synthetic rows. First-execution latency of these paths is
    JIT/codegen-framework warmup that every first real query otherwise
    absorbs — measured: a cold 16-way md5 min-aggregation runs 5.0 s vs
    3.1 s after this warmup (same query warm: 1.3 s); broadcast-join
    chains show a similar cold tax. This computes nothing reusable and
    caches no data — it compiles code paths, the same thing the first
    query of any long-lived job/service session would do implicitly.

    Paid once by every new session, CLI jobs included. On a 4-core /
    15.7 GiB host it is 6-11 s of a 12-18 s ``get_spark`` (not the 2 s of
    a 32-core host), and it moves rather than saves time: in three
    interleaved perfbench ``curation_queries`` pairs, sessions without it
    started in 6.5-7.1 s but their checked first pass of the 17 leaves
    took 29.1-31.3 s instead of 22.1-26.3 s, so ``setup_s`` was 35.7,
    35.8, 38.4 s without it against 34.4, 40.5, 44.5 s with it; two
    earlier pairs measured 43.5/49.9 s without against 40.8/43.9 s
    with. Net: within the run-to-run spread, so it stays."""
    sc = spark.sparkContext
    if sc.applicationId in _WARMED_CONTEXTS:
        return
    _WARMED_CONTEXTS.add(sc.applicationId)
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    try:
        sc.setJobDescription("session warmup: primitive codepaths")
        d = spark.range(0, 20000).select(
            (F.col("id") % 97).alias("g"), F.col("id").cast("string").alias("s")
        )
        wide = (
            d.select(
                "g",
                F.explode(
                    F.array(*[F.concat(F.lit(f"{j}|"), F.col("s")) for j in range(4)])
                ).alias("e"),
            )
            .groupBy("g")
            .agg(
                *[
                    F.min(F.md5(F.concat(F.lit(f"{j}|"), F.col("e")))).alias(f"m{j}")
                    for j in range(16)
                ]
            )
        )
        wide.write.format("noop").mode("overwrite").save()
        dim = spark.range(0, 97).select(F.col("id").alias("g"), F.lit("x").alias("v"))
        w = Window.partitionBy("g").orderBy(F.col("id").desc())
        chain = (
            spark.range(0, 20000)
            .select((F.col("id") % 97).alias("g"), "id")
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 3)
            .join(F.broadcast(dim), "g")
            .orderBy("g", "id")
            .limit(100)
        )
        chain.write.format("noop").mode("overwrite").save()
    except Exception:  # pragma: no cover — warmup must never fail a session
        pass
    finally:
        sc.setJobDescription(None)


# Keyed on applicationId, like _WARMED_CONTEXTS.
_SHIPPED_CONTEXTS: set[str] = set()


def ensure_worker_package(spark: SparkSession) -> None:
    """Make this package importable on Python workers regardless of the
    driver's cwd/sys.path — mapInPandas / applyInPandas(WithState) UDFs
    unpickle by module name on the worker. Zips the package once per
    process and addPyFile()s it per SparkContext (the same mechanism
    ``spark-submit --py-files`` uses). No-op when the package is already
    running from a --py-files zip, or on repeat calls."""
    sc = spark.sparkContext
    if sc.applicationId in _SHIPPED_CONTEXTS:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    if os.path.isdir(pkg_dir):
        import hashlib
        import tempfile
        import zipfile

        # Deterministic walk; the zip name is keyed on a content hash of the
        # package sources so an edited source always ships a fresh zip
        # (a fixed name would let workers import a stale cached copy), and a
        # pre-created foreign file at the path can never be shipped: we only
        # reuse a zip whose name already encodes the bytes we would write.
        # Bytes are read ONCE here and reused for the zip write below:
        # re-reading at write time would race concurrent edits two ways
        # (a vanished file raises mid-write; changed content gets cached
        # under the OLD content's hash name, poisoning later runs).
        entries: list[tuple[str, bytes]] = []
        digest = hashlib.sha256()
        for root, dirs, files in os.walk(pkg_dir):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    rel = os.path.join(
                        "omicidx_etl_spark", os.path.relpath(full, pkg_dir)
                    )
                    try:
                        with open(full, "rb") as fh:
                            data = fh.read()
                    except FileNotFoundError:
                        continue  # editor temp file vanished mid-walk
                    entries.append((rel, data))
                    digest.update(rel.encode())
                    digest.update(data)
        sha = digest.hexdigest()[:16]
        zpath = os.path.join(
            tempfile.gettempdir(), f"omicidx_etl_spark_pyfiles-{sha}.zip"
        )
        if not (
            os.path.exists(zpath)
            and os.stat(zpath).st_uid == os.getuid()
        ):
            tmp = zpath + f".tmp-{os.getpid()}"
            with zipfile.ZipFile(tmp, "w", zipfile.ZIP_STORED) as z:
                for rel, data in entries:
                    z.writestr(rel, data)
            os.replace(tmp, zpath)
        try:
            sc.addPyFile(zpath)
        except Exception:
            pass  # already registered on this context
    _SHIPPED_CONTEXTS.add(sc.applicationId)
