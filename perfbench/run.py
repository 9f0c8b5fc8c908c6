"""Benchmark entry point.

    python3 perfbench/run.py --workload {warehouse_stream,textops_batch}
                             --seed N --seconds S --trace {0,1}

Run from the root of a checkout. The last line of standard output is
one JSON object ``{"correct", "attempted", "failed", "metrics"}``; with
``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``, with ``--trace 1`` the per-layer ones. The line
before it is a JSON stamp (core count, versions, commit, load average
before and after) that makes a load-contaminated run identifiable.
Spans of a traced run are written to
``.perfbench_out/trace-<workload>-<seed>.json``.

Each run starts one Spark session (``local[nproc]``) from this process
and runs one Spark job at a time. See ``perfbench/README.md`` for the
workloads, the metric definitions and what each layer metric should
move.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

WORKLOADS = ("warehouse_stream", "textops_batch")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True, help="minimum measured time per run")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="tiny: smallest inputs, for the benchmark's own tests")
    ap.add_argument("--corrupt", action="store_true",
                    help="drop one output row before the correctness check (tests the check)")
    return ap.parse_args(argv)


def _env(work: str) -> None:
    nproc = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    # Python workers import the library (applyInPandasWithState,
    # pandas UDFs) from the checkout, whatever the caller's cwd.
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    # Scratch files of Spark, the JVM and Python stay inside the checkout
    # (-XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*).
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def session_conf(workload: str) -> dict[str, str]:
    if workload == "warehouse_stream":
        # Structured Streaming runs without AQE, so every stateful
        # operator keeps spark.sql.shuffle.partitions state stores per
        # micro-batch. At the library's default of 32 a pass of the DAG
        # costs ~95 s on 4 cores (4-7 s per stateful micro-batch), more
        # than a run can afford; one store per core keeps it near 40 s.
        # This departs from the shipped configuration: the 32-store cost
        # does not show here, and a change to the library's partition
        # default cannot move this workload (see perfbench/README.md).
        return {"spark.sql.shuffle.partitions": os.environ["SPARK_GRAFT_CPUS"]}
    return {}


def start_session(tracer, extra_conf: dict[str, str]):
    """Set-up: JVM start and session (``session.get_spark``), then a
    warm-up touching codegen, a shuffle and a Python (Arrow) worker."""
    from rt_bigdata_spark.session import get_spark

    t0 = time.time()
    spark = get_spark("perfbench", extra_conf=extra_conf)
    t1 = time.time()
    spark.sparkContext.setLogLevel("ERROR")
    df = spark.range(0, 20_000, numPartitions=4).selectExpr("id % 97 AS k", "id * 2 AS v")
    df.groupBy("k").sum("v").collect()
    df.groupBy("k").applyInPandas(lambda p: p.head(1), schema="k long, v long").count()
    t2 = time.time()
    tracer.add("session.get_spark", t0, t1, trace="setup")
    tracer.add("session.warmup", t1, t2, trace="setup")
    return spark, {"setup_s": t2 - t0, "session.get_spark_s": t1 - t0, "session.warmup_s": t2 - t1}


def stop_session(spark) -> None:
    """Stop the session and the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:  # the JVM did not exit on its own: make sure it is gone
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import rt_bigdata_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program under test from {ROOT}: {e}", file=sys.stderr)
        return 2

    from perfbench import telemetry

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    _env(work)
    load_before = telemetry.loadavg()
    tracer = telemetry.Tracer(enabled=bool(args.trace))
    spark = None
    try:
        if args.workload == "warehouse_stream":
            from perfbench.workloads import StreamWorkload as W
        else:
            from perfbench.workloads import BatchWorkload as W
        wl = W(args, work, tracer)
        wl.prepare()
        spark, setup = start_session(tracer, session_conf(args.workload))
        wl.run(spark)
        stamp = telemetry.stamp(ROOT, spark)
        stop_session(spark)
        spark = None
        result = wl.result(setup)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    tracer.dump(os.path.join(ROOT, ".perfbench_out", f"trace-{args.workload}-{args.seed}.json"))
    stamp.update(workload=args.workload, seed=args.seed, seconds=args.seconds, trace=args.trace,
                 loadavg_before=load_before, loadavg_after=telemetry.loadavg(),
                 problems=result.pop("problems"))
    print(json.dumps({"stamp": stamp}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
