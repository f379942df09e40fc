from __future__ import annotations

import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")

# All test scratch (pytest tmp_path, Spark local/checkpoint dirs, Hadoop
# temp) goes to tmpfs when it has headroom: /tmp sits on a shared virtio
# disk that collapses to <10 MB/s for an hour at a time (BENCH/BASELINE.md
# noise source 5), and the streaming tests fsync checkpoints + parquet on
# every micro-batch — measured 2× suite wall under a collapsed window.
try:
    _st = os.statvfs("/dev/shm")
    if _st.f_bavail * _st.f_frsize > (16 << 30):
        _tmp = "/dev/shm/spark_graft_pytest"
        os.makedirs(_tmp, exist_ok=True)
        os.environ.setdefault("TMPDIR", _tmp)
        import tempfile

        tempfile.tempdir = None  # re-read TMPDIR even if already cached
except OSError:
    pass

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from omicidx_etl_spark.session import get_spark

    extra = {}
    tmp = os.environ.get("TMPDIR", "")
    if tmp.startswith("/dev/shm"):
        extra["spark.local.dir"] = os.path.join(tmp, "spark_local")
    s = get_spark("tests", master="local[8]", shuffle_partitions=8,
                  extra_conf=extra)
    yield s
    s.stop()


@pytest.fixture()
def count_jobs(spark):
    """``count_jobs(fn)`` runs ``fn()`` under a fresh job group and returns
    ``(fn(), number of Spark jobs it submitted)``, read from the status
    tracker once the listener bus has delivered every job-start event."""
    import uuid

    sc = spark.sparkContext

    def count(fn):
        group = f"count-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return count


@pytest.fixture()
def count_round_trips(spark):
    """``count_round_trips(fn)`` runs ``fn()`` and returns ``(fn(), number
    of py4j commands this thread sent to the JVM meanwhile)``: each is one
    blocking driver↔JVM round trip. Commands from other threads are not
    counted: py4j's finalizer thread tells the JVM about freed proxies at
    its own pace, whoever created them."""
    import threading

    client = spark.sparkContext._gateway._gateway_client

    def count(fn):
        sent = 0
        me = threading.get_ident()
        real = client.send_command

        def send(*args, **kwargs):
            nonlocal sent
            if threading.get_ident() == me:
                sent += 1
            return real(*args, **kwargs)

        client.send_command = send
        try:
            out = fn()
        finally:
            del client.send_command
        return out, sent

    return count
