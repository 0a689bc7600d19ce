#!/usr/bin/env python3
"""Benchmark of the table and dedup layers: ``ingest``, ``query``, ``admit``.

Run from the root of a checkout:

    python3 perfbench/run.py --workload query --seed 1 --seconds 20 --trace 0

prints human-readable lines, then, as the last line, one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.

    python3 perfbench/run.py --report --workload query --runs 5

runs a workload ``--runs`` times (seeds 1..runs) in fresh processes and
prints each end-to-end metric's median and quartile spread against its
bound in ``BENCHMARK.json``. See ``perfbench/README.md`` for the design.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()  # setup_s counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MAX_CORES = 4


def hermetic_env(run_dir: str) -> dict[str, str]:
    """Environment for Spark and its Python workers: a fixed core count
    (never session.py's local[32] fallback), the checkout on PYTHONPATH
    so workers import iceberg_core_spark from any working directory,
    and every scratch directory inside this run's own directory."""
    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
    local = os.path.join(run_dir, "spark-local")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    return {
        "SPARK_GRAFT_CPUS": str(cores),
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": "pyspark-shell",
        # every JVM, spark-submit's launcher included: scratch files in
        # the run directory, no /tmp/hsperfdata_* entry
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_once(args) -> int:
    if not os.path.isfile(os.path.join(ROOT, "iceberg_core_spark", "__init__.py")):
        print(f"perfbench: no iceberg_core_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench_runs")
    os.makedirs(base, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base)
    spark = None
    try:
        env = hermetic_env(run_dir)
        os.environ.update(env)
        sys.path.insert(0, ROOT)
        sys.path.insert(0, HERE)
        from iceberg_core_spark.session import get_spark
        from workloads import WORKLOADS

        spark = get_spark(app_name="perfbench",
                          extra_conf={"spark.ui.showConsoleProgress": "false"})
        spark.sparkContext.setLogLevel("ERROR")
        start_s = time.perf_counter() - T0
        run = WORKLOADS[args.workload](spark, run_dir, args.seed, args.seconds,
                                       bool(args.trace), T0, start_s)
        res = run.run()
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass  # another run is using it
    print("perfbench env: " + json.dumps(
        {k: env[k] for k in ("SPARK_GRAFT_CPUS", "PYTHONPATH",
                             "SPARK_LOCAL_DIRS")}))
    print("perfbench run: " + json.dumps(res["info"]))
    metrics = res["layers"] if args.trace else res["e2e"]
    for name, (val, unit) in metrics.items():
        print(f"  {name:40s} {val:14.4f} {unit}")
    print(json.dumps({
        "correct": res["correct"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {n: {"value": v, "unit": u} for n, (v, u) in metrics.items()},
    }))
    return 0


def report(args) -> int:
    """Run a workload ``--runs`` times and print spreads against bounds."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = args.seconds or bench["run_seconds"]
    values: dict[str, list[float]] = {}
    for k in range(args.runs):
        seed = args.seed + k
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload",
             args.workload, "--seed", str(seed), "--seconds", str(seconds),
             "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, check=True)
        res = json.loads(out.stdout.strip().splitlines()[-1])
        line = {n: round(m["value"], 4) for n, m in res["metrics"].items()}
        print(f"seed {seed}: correct={res['correct']} failed={res['failed']}"
              f"/{res['attempted']} {line}", flush=True)
        for n, m in res["metrics"].items():
            values.setdefault(n, []).append(m["value"])
    if args.runs < 2:
        return 0
    from metrics import quartile_spread

    for m in bench["end_to_end"]:
        xs = values[m["name"]]
        s = quartile_spread(xs)
        flag = "ok" if s < m["bound"] / 3 else ("within bound" if s < m["bound"] else "TOO NOISY")
        print(f"{m['name']:30s} median {statistics.median(xs):12.4f} {m['unit']:6s}"
              f" spread {s:7.2%} bound {m['bound']:.0%}  {flag}")
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("ingest", "query", "admit"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--report", action="store_true")
    ap.add_argument("--runs", type=int, default=5)
    args = ap.parse_args(argv)
    if args.report:
        sys.path.insert(0, HERE)
        return report(args)
    if args.seconds is None:
        ap.error("--seconds is required")
    return run_once(args)


if __name__ == "__main__":
    sys.exit(main())
