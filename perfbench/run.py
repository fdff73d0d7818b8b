#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload pipeline|query_mix \
        --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --workload all     # every workload, one table

Run from the root of a checkout. Inputs are generated from ``--seed``
into ``.perfbench_work/`` under the checkout, which is removed on exit;
Spark's local dirs, the JVM's temp dir and Python's temp dir point
there too. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "end_to_end_etl_using_snowflake_spark"
WORKLOADS = ("pipeline", "query_mix")


def _prepare_env(work: str) -> None:
    """Keep every file the run writes inside ``work``; must run before
    pyspark or tempfile pick their directories."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'"
        " --conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    import tempfile

    tempfile.tempdir = None


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def measure(workload: str, seed: int, seconds: float, trace: bool, work: str) -> dict:
    t0 = time.perf_counter()
    sys.path[:0] = [ROOT]
    from end_to_end_etl_using_snowflake_spark.session import get_spark

    spark = get_spark(app_name=f"perfbench-{workload}")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    try:
        import metrics
        import tracing
        import workloads

        cls = {"pipeline": workloads.Pipeline, "query_mix": workloads.QueryMix}[workload]
        wl = cls(spark, work, seed, tracing.Tracer if trace else None)
        wl.run(seconds)  # reads the JVM's peak memory before the checks
        t = time.perf_counter()
        wl.check()
        check_s = time.perf_counter() - t
        for err in wl.errors:
            print(f"failed: {err}", file=sys.stderr)
        detail = {"session_s": session_s, **wl.setup_s, "check_s": check_s,
                  "units": wl.samples.units, "ops": wl.samples.ops,
                  "unit_cpu": wl.samples.unit_cpu, "op_cpu": wl.samples.op_cpu}
        print(f"detail: {json.dumps(detail)}", file=sys.stderr)
        return metrics.report(wl, session_s, trace)
    finally:
        _stop(spark)


def run_all(seed: int, seconds: float) -> int:
    """Every workload in its own process, untraced; prints a table."""
    rc = 0
    for w in WORKLOADS:
        p = subprocess.run(
            [sys.executable, __file__, "--workload", w, "--seed", str(seed),
             "--seconds", str(seconds), "--trace", "0"],
            capture_output=True, text=True, cwd=ROOT,
        )
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(f"{w}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
            rc = 1
            continue
        res = json.loads(lines[-1])
        rate = res["failed"] / res["attempted"]
        print(f"{w}: correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']} error_rate={rate:.4f}")
        for line in lines[:-1]:
            print(f"  {line}")
        for name, m in res["metrics"].items():
            print(f"  {name:>12} = {m['value']:.4f} {m['unit']}")
        rc |= 0 if res["correct"] else 1
    return rc


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, ENGINE)):
        print(f"engine package {ENGINE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args.seed, args.seconds)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    _prepare_env(work)
    try:
        result = measure(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))  # only when no other run uses it
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
