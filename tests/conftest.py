import contextlib
import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bazof_spark.datasource import BazofDataSource  # noqa: E402
from bazof_spark.session import get_spark  # noqa: E402

# Environmental Python-worker-spawn failures (opt round 2). The host
# this suite runs on has documented multi-minute scheduler-wakeup
# degradation windows (OPTIMIZATION_r12.md "Session 3"); during one,
# a freshly spawned Python worker (the NON-daemon simple worker the
# Python Data Source planner/stream reader uses) can take longer than
# PythonWorkerFactory's HARDCODED 10 s accept timeout
# (Selector.select(10000L) — no Spark conf raises it) to import
# pyspark and connect back, which killed the r12 driver's suite at
# tests/test_delete.py (fail-fast) on
# "java.net.SocketTimeoutException: Timed out while waiting for the
# Python worker to connect back". The failure is load, not logic:
# the same test passed 3x in full-suite runs on the same tree. A
# bounded, signature-gated rerun makes the suite robust to the window
# without masking real failures — only these exact worker-spawn
# signatures ever retry, and at most twice per test.
_WORKER_SPAWN_SIGNATURES = (
    "Timed out while waiting for the Python worker to connect back",
    "Python worker failed to connect back",
    "Python worker exited unexpectedly",
)
_MAX_WORKER_SPAWN_RERUNS = 2


def _is_worker_spawn_flake(report) -> bool:
    if not report.failed:
        return False
    text = str(getattr(report, "longrepr", "") or "")
    return any(sig in text for sig in _WORKER_SPAWN_SIGNATURES)


def pytest_runtest_protocol(item, nextitem):
    from _pytest.runner import runtestprotocol

    reports = runtestprotocol(item, nextitem=nextitem, log=False)
    for _ in range(_MAX_WORKER_SPAWN_RERUNS):
        if not any(_is_worker_spawn_flake(r) for r in reports):
            break
        sys.stderr.write(
            f"\n[conftest] {item.nodeid}: environmental Python-worker "
            "spawn timeout (hardcoded 10s accept window on a degraded "
            "host) — retrying once\n"
        )
        reports = runtestprotocol(item, nextitem=nextitem, log=False)
    for report in reports:
        item.ihook.pytest_runtest_logreport(report=report)
    return True


REFERENCE_DATA = "/root/reference/test-data"


@pytest.fixture(scope="session")
def reference_data():
    """Root of the reference implementation's golden test-data tree
    (read-only). Tests that need it skip with a reason when it is not
    mounted, instead of erroring on a missing path."""
    if not os.path.isdir(REFERENCE_DATA):
        pytest.skip(f"reference test data not mounted at {REFERENCE_DATA}")
    return REFERENCE_DATA


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="bazof-tests", shuffle_partitions=8)
    # tests read spark.read.format("bazof") directly; the library
    # registers the source only on its own read_table / write_table /
    # stream paths (Lakehouse.scan never goes through it)
    s.dataSource.register(BazofDataSource)
    # Pre-warm the Python worker daemon before any test runs: the
    # first Python-boundary job of a session pays daemon + worker
    # interpreter startup, exactly the phase the degraded-host windows
    # tax hardest. One trivial Arrow-batched job makes the daemon and
    # one pooled worker exist up front, off any test's clock.
    try:
        from pyspark.sql import functions as F

        s.range(2).select(
            F.udf(lambda x: x, "long", useArrow=True)("id")
        ).write.format("noop").mode("overwrite").save()
    except Exception:
        pass  # warmup is best-effort; tests proceed regardless
    yield s


@pytest.fixture()
def executor_lookups(spark):
    """Keyed ``Lakehouse.scan`` lookups take the executor routes (JVM
    parquet scan, or ``mapInArrow`` on object stores) instead of the
    driver read: the broadcast threshold that bounds the driver read is
    set to -1 (off) for the test and restored afterwards."""
    conf = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(conf)
    spark.conf.set(conf, "-1")
    try:
        yield
    finally:
        spark.conf.set(conf, saved)


@pytest.fixture()
def driver_reads(monkeypatch):
    """Paths ``datasource.read_file_range`` opens in the test process —
    on the driver route of a keyed lookup, the files the lookup read
    (a local relation has no ``inputFiles()``)."""
    from bazof_spark import datasource

    opened: list[str] = []
    read = datasource.read_file_range

    def recording(path, *args, **kwargs):
        opened.append(path)
        return read(path, *args, **kwargs)

    monkeypatch.setattr(datasource, "read_file_range", recording)
    return opened


@pytest.fixture()
def spark_jobs(spark):
    """``with spark_jobs() as ids:`` — after the block, ``ids`` holds
    the ids of the Spark jobs started inside it (own job group)."""
    sc = spark.sparkContext

    @contextlib.contextmanager
    def jobs():
        group = f"jobs-{uuid.uuid4().hex}"
        ids: list[int] = []
        sc.setJobGroup(group, group)
        try:
            yield ids
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            # job events reach the status store through the async bus
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            ids.extend(sc.statusTracker().getJobIdsForGroup(group))

    return jobs
