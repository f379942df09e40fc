"""SparkSession factory tuned for the CDC engine.

Reference parity: the reference configures its engine (DuckDB) once with
memory/temp/ordering knobs (``omicidx_etl/db.py:26-29``); this is the Spark
analogue. Every knob here is a public Spark conf.

Scale notes (100 TB / 1000 executors):
- AQE on: runtime coalescing of shuffle partitions + skew-join splitting;
  the local shuffle-partition default is overridden per-cluster.
- Arrow on: every pandas UDF / mapInPandas crossing is Arrow-batched
  (the reference's per-row Python loop is the anti-pattern we replace).
- UTC session timezone: parquet timestamps compare bit-identically against
  the DuckDB oracle and across clusters.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _mem_gib(mem: str) -> float:
    """Parse a JVM memory string ('48g', '512m') to GiB; 0.0 if unparseable."""
    try:
        unit = mem[-1].lower()
        val = float(mem[:-1])
    except (ValueError, IndexError):
        return 0.0
    return {"g": val, "m": val / 1024, "k": val / (1024 * 1024), "t": val * 1024}.get(unit, 0.0)


def _default_driver_opts(mem: str) -> str:
    """ParallelGC (see inline note at the config site) plus a BOUNDED young
    gen on large heaps: ParallelGC's adaptive sizing grows the young gen
    toward heap/3 (16 GiB on the 48 GiB local driver), and 32-thread
    stop-the-world scavenges over a young gen that big pause every running
    task — measured on the bench-shaped 2M-event replay (r6): GC 9.8 s of a
    26.5 s wall with adaptive sizing, 3.2 s of 17.1 s with -Xmn4g, and the
    run-to-run spread collapses because the pause cadence stops drifting.
    A fixed LARGE young gen is the anti-optimization (-Xmn16g measured
    29.1 s / 11.0 s GC). Skipped on heaps < 16 GiB where -Xmn4g would
    starve the old gen (adaptive sizing behaves at that scale; measured
    24 GiB heap ~ Xmn4g within noise). ``SPARK_DRIVER_JAVA_OPTS``
    overrides wholesale."""
    base = "-XX:+UseParallelGC"
    if _mem_gib(mem) >= 16:
        return base + " -Xmn4g"
    return base


def get_spark(
    app_name: str = "omicidx-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` in the sandbox; on a
    real cluster it is supplied by spark-submit and left untouched.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    nshuffle = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- planner / runtime re-planning ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(nshuffle))
        # --- python boundary: Arrow everywhere ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- determinism / oracle comparability ---
        .config("spark.sql.session.timeZone", "UTC")
        # --- IO ---
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # List a read's input paths on the driver however many there are.
        # Past the default threshold (32 paths) Spark lists them with a
        # Spark job; a manifest-resolved lake read names one dir per file
        # group (16 buckets x base + 4 deltas = 80), and on a host-local
        # lake that job (40-80 tasks, 137-340 ms measured on 4 cores)
        # only adds scheduling to what the driver lists in milliseconds.
        # It also keeps replay's prefetch read job-free
        # (cdc/replay.py _mk_batch).
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", str(2**31 - 1))
        # Vectorized-reader batch rows (default 4096): the engine's rows
        # carry kB-scale token arrays, so a 4096-row column batch is tens of
        # MB of short-lived large arrays per task — at 32 concurrent tasks
        # that allocation churn was the top GC driver of the replay's wide
        # scan (measured r6, 2M-event replay: halving to 2048 cut GC
        # 9.8 -> ~3.4 s and wall 26.5 -> ~18 s). Narrow-row tables see no
        # measurable cost (batch count doubles but per-batch work halves).
        .config(
            "spark.sql.parquet.columnarReaderBatchSize",
            os.environ.get("SPARK_GRAFT_PQ_BATCH", "2048"),
        )
        # Shuffle-payload compression: OFF by default, measured — the
        # engine's dominant shuffle payload (token arrays, embeddings,
        # md5 hex) is high-entropy; lz4 on the replay's winner shuffle
        # achieved 1.09x (2948 MB vs 3228 MB raw) while costing 17% wall
        # and a third of the GC (22.1 vs 26.5 s measured r6). On a
        # network cluster with compressible payloads set
        # SPARK_GRAFT_SHUFFLE_COMPRESS=true (wire bytes then dominate);
        # for this engine's payload profile even 25 GbE saves only ~9%
        # wire for real CPU.
        .config(
            "spark.shuffle.compress",
            os.environ.get("SPARK_GRAFT_SHUFFLE_COMPRESS", "false"),
        )
        # local mode: keep the UI off and the JVM quiet
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .config("spark.driver.maxResultSize", "4g")
        # ParallelGC: token-array rows are kB-scale objects; G1's humongous-
        # allocation handling collapses under that churn (GCLocker retries,
        # 4-5x slower full-width scans at high thread counts). Throughput
        # collector is the right choice for this allocation profile.
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get(
                "SPARK_DRIVER_JAVA_OPTS",
                _default_driver_opts(os.environ.get("SPARK_DRIVER_MEM", "48g")),
            ),
        )
        .config("spark.executor.extraJavaOptions", "-XX:+UseParallelGC")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _warm_session(spark)
    return spark


_WARMED_CONTEXTS: set[int] = set()


def _warm_session(spark: SparkSession) -> None:
    """Once-per-JVM warmup of shared engine primitives (md5, wide hash
    aggregation, window/sort, broadcast hash join, explode) over a few
    thousand synthetic rows. First-execution latency of these paths is
    JIT/codegen-framework warmup that every first real query otherwise
    absorbs — measured: a cold 16-way md5 min-aggregation runs 5.0 s vs
    3.1 s after this warmup (same query warm: 1.3 s); broadcast-join
    chains show a similar cold tax. This computes nothing reusable and
    caches no data — it compiles code paths, the same thing the first
    query of any long-lived job/service session would do implicitly.
    ~2 s once per JVM; skipped on reused contexts and by
    ``SPARK_GRAFT_SESSION_WARMUP=0`` (e.g. for sub-second CLI probes)."""
    sc = spark.sparkContext
    if id(sc) in _WARMED_CONTEXTS:
        return
    _WARMED_CONTEXTS.add(id(sc))
    if os.environ.get("SPARK_GRAFT_SESSION_WARMUP", "1") == "0":
        return
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


def compute_parallelism(spark: SparkSession) -> int:
    """Partition count for compute-dense, byte-light stages (shingle
    explodes, pairwise similarity blocks): AQE's partition coalescing is
    sized by shuffle BYTES, but these stages do work quadratic-ish in rows
    per byte — a 1.5 MB exchange coalesces to one partition and the whole
    join/aggregate runs on a single core (measured: dedup_ngram_jaccard
    21.6 s CPU in ONE task at sf0.1; guide §2.2/§2.5 — partitioning must
    be scale-adaptive, and byte-derived sizing is the wrong adaptivity for
    compute-bound operators). An EXPLICIT partition count produces a
    REPARTITION_BY_NUM exchange, which AQE never coalesces.

    ``sparkContext.defaultParallelism`` is the scale-adaptive source: the
    local core count under ``local[N]``, the cluster's total executor
    cores under a real scheduler — no constant tuned to either.
    ``SPARK_GRAFT_COMPUTE_PARTS`` overrides for deployments where the
    compute-dense stages need more slices than cores (severe per-key
    skew)."""
    env = os.environ.get("SPARK_GRAFT_COMPUTE_PARTS")
    if env:
        return int(env)
    return spark.sparkContext.defaultParallelism


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()


_SHIPPED_CONTEXTS: set[int] = set()


def ensure_worker_package(spark: SparkSession) -> None:
    """Make this package importable on Python workers regardless of the
    driver's cwd/sys.path — mapInPandas / applyInPandas(WithState) UDFs
    unpickle by module name on the worker. Zips the package once per
    process and addPyFile()s it per SparkContext (the same mechanism
    ``spark-submit --py-files`` uses). No-op when the package is already
    running from a --py-files zip, or on repeat calls."""
    sc = spark.sparkContext
    if id(sc) in _SHIPPED_CONTEXTS:
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
    _SHIPPED_CONTEXTS.add(id(sc))
