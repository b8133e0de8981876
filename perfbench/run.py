"""Core-format benchmark: as-of lookups, as-of scans, ingest and
object-store reads, with a per-layer trace.

    python3 perfbench/run.py --workload scan_asof --seed 1 --seconds 5 --trace 0

Run from the repository root. The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the end-to-end metrics, with ``--trace 1`` the per-layer
metrics (see perfbench/README.md). Lines before it are a readable
report. Everything the run writes lives under ``.perfbench/`` in the
working directory; the scratch part is removed at exit, traces of
``--trace 1`` runs are kept under ``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: table builds per run; ``setup_s`` reports their median
SETUP_REPEATS = 3


def parse_args(argv=None):
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full")
    p.add_argument("--out", default=os.path.join(os.getcwd(), ".perfbench"))
    return p.parse_args(argv)


def configure_env(workdir: str) -> int:
    """Environment the driver JVM and its Python workers inherit: the
    checkout on ``PYTHONPATH`` (Data Source planning runs in a separate
    worker that must import ``bazof_spark``), ``local[nproc]``, and every
    scratch directory inside the run's work dir."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH", "")
    os.environ.update({
        "PYTHONPATH": ROOT + (os.pathsep + path if path else ""),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": os.path.join(workdir, "spark-local"),
        "BAZOF_DRIVER_MEM": "2g",
        "TMPDIR": tmp,
        "TZ": "UTC",
        # the S3 client talks only to the in-process server: never probe
        # for cloud instance metadata
        "AWS_EC2_METADATA_DISABLED": "true",
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false "
            f"--conf spark.sql.warehouse.dir={os.path.join(workdir, 'warehouse')} "
            f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell"
        ),
    })
    for k in ("BAZOF_FS_EMULATE", "BAZOF_FS_EMULATE_ROOT", "BAZOF_S3_ENDPOINT"):
        os.environ.pop(k, None)
    time.tzset()
    return cpus


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    t_start = time.perf_counter()
    sys.path.insert(0, ROOT)
    args = parse_args(argv)
    try:
        import bazof_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the library: {exc}", file=sys.stderr)
        return 2
    workdir = os.path.join(args.out, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    cpus = configure_env(workdir)
    s3 = spark = bench = None
    try:
        from perfbench import report, tracing, workloads

        if args.workload in workloads.S3_WORKLOADS:
            from bazof_spark.s3server import S3Server

            s3 = S3Server().start()
            os.environ["BAZOF_S3_ENDPOINT"] = s3.endpoint
        t0 = time.perf_counter()
        from bazof_spark.session import get_spark

        spark = get_spark(
            app_name="perfbench", master=f"local[{cpus}]", shuffle_partitions=cpus
        )
        spark.sparkContext.setLogLevel("ERROR")
        spark_start = time.perf_counter() - t0

        tracer = tracing.Tracer(trace_run=bool(args.trace))
        bench = workloads.Bench(
            spark, args.workload, args.seed, args.scale, workdir, tracer, s3
        )
        tracer.enabled = tracer.trace_run
        if tracer.enabled:
            bench.probes.install()
        try:
            builds = bench.setup(SETUP_REPEATS)
        finally:
            bench.probes.uninstall()
            tracer.enabled = False
        t1 = time.perf_counter()
        bench.warm_up()
        t2 = time.perf_counter()
        samples = bench.measure(args.seconds)
        t3 = time.perf_counter()
        result = report.summarize(
            bench, samples, spark_start, builds, traced=bool(args.trace)
        )
        print(f"# phases: set-up {t1 - t0:.1f} s, warm-up {t2 - t1:.1f} s, "
              f"timed loop {t3 - t2:.1f} s, report {time.perf_counter() - t3:.1f} s")
        if args.trace:
            tracer.dump(os.path.join(
                args.out, "traces", f"{args.workload}-seed{args.seed}.jsonl"
            ))
    finally:
        if bench is not None:
            bench.oracle.close()
        if spark is not None:
            stop_spark(spark)
        if s3 is not None:
            s3.stop()
        shutil.rmtree(workdir, ignore_errors=True)
    print(f"# wall {time.perf_counter() - t_start:.1f} s")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
