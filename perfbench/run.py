"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload sql_interactive --seed 1 --seconds 10 --trace 0

One process, one Spark session on ``local[<cores>]``, one closed-loop
client. The run

1. writes the workload's inputs from ``--seed`` (not timed);
2. sets up: imports the engine, starts the session and runs one
   first-touch query (``setup_s``);
3. pins every operation's answer with DuckDB (not timed);
4. runs passes over the workload's fixed operation list until
   ``--seconds`` have passed, at least one pass. Each operation starts
   from a cleared relation cache in its own job group, and its output is
   checked after its clock stops.

With ``--trace 0`` it reports the end-to-end metrics. With ``--trace 1``
the same schedule runs traced, and it reports the per-layer totals per
pass, including the tracer's own time inside the timed operations (the
tracing overhead). Every metric is printed as one
``metric <name> <value> <unit>`` line; per-operation detail goes to the
artifact file named on stdout; the last line is the JSON result.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
REPO = BENCH_DIR.parent
WORK = BENCH_DIR / "_work"
WORKLOADS = ("sql_interactive", "tpch_batch", "corpus_pipeline")

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "latency_p50_s": "s",
    "latency_p90_s": "s",
    "peak_rss_mb": "MB",
}


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def spark_conf() -> dict[str, str]:
    """Session settings on top of ``get_spark``'s: Python workers find the
    engine from any working directory, and every scratch file stays in
    the benchmark's work directory. The driver heap is fixed at 1 GB
    (-Xms = -Xmx): with a growable heap the JVM's resident size follows
    the collector's sizing heuristics and varied by 20% between runs."""
    tmp = WORK / "tmp"
    return {
        "spark.executorEnv.PYTHONPATH": str(REPO),
        "spark.driver.memory": "1g",
        "spark.local.dir": str(WORK / "spark-local"),
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Xms1g -Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident sets (VmHWM) of the given processes."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024


def betainc(a: float, b: float, x: float) -> float:
    """Regularized incomplete beta function I_x(a, b), by the continued
    fraction of Numerical Recipes' ``betai``/``betacf`` (Lentz's method)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    if x > (a + 1) / (a + b + 2):
        return 1.0 - betainc(b, a, 1.0 - x)
    tiny = 1e-300
    c, d = 1.0, 1.0 - (a + b) * x / (a + 1)
    d = 1.0 / (d if abs(d) > tiny else tiny)
    frac = d
    for m in range(1, 500):
        num_even = m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m))
        num_odd = -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 2 * m + 1))
        for num in (num_even, num_odd):
            d = 1.0 + num * d
            d = 1.0 / (d if abs(d) > tiny else tiny)
            c = 1.0 + num / c
            c = c if abs(c) > tiny else tiny
            frac *= d * c
        if abs(d * c - 1.0) < 1e-15:
            break
    log_front = (
        math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
        + a * math.log(x) + b * math.log1p(-x)
    )
    return math.exp(log_front) * frac / a


def quantile(values: list[float], q: float) -> float:
    """Harrell-Davis estimate of the q-quantile: the mean of all order
    statistics weighted by a Beta((n+1)q, (n+1)(1-q)) density. A run has a
    few dozen operations, and p90 read off one or two order statistics
    moved with whichever statements happened to run slowest; the weighted
    mean leans on several."""
    s = sorted(values)
    n = len(s)
    if n == 1:
        return s[0]
    a, b = (n + 1) * q, (n + 1) * (1 - q)
    cdf = [betainc(a, b, i / n) for i in range(n + 1)]
    return sum(x * (hi - lo) for x, lo, hi in zip(s, cdf, cdf[1:]))


def run_op(spark, op, tracer, group: str) -> dict:
    """One timed operation plus its untimed check."""
    spark.catalog.clearCache()
    spark.sparkContext.setJobGroup(group, op.key)
    error = None
    check_s = 0.0
    start = time.perf_counter()
    try:
        with tracer.operation(op.key, group):
            start = time.perf_counter()
            handle = op.run(tracer)
            latency = time.perf_counter() - start
        check_start = time.perf_counter()
        error = op.check(handle)
        check_s = time.perf_counter() - check_start
    except Exception as exc:  # noqa: BLE001 - a failed operation is counted, the run goes on
        latency = time.perf_counter() - start
        error = f"{type(exc).__name__}: {exc}"[:500]
    return {"op": op.key, "latency_s": latency, "check_s": check_s, "error": error}


def measure(spark, ops, seconds: float, tracer) -> tuple[list[dict], list[dict]]:
    """Passes over ``ops`` until ``seconds`` have passed (at least one)."""
    records, passes = [], []
    start = time.perf_counter()
    while not passes or time.perf_counter() - start < seconds:
        n = len(passes)
        recs = [run_op(spark, op, tracer, f"perfbench-{n}-{i}") for i, op in enumerate(ops)]
        records += [{**r, "pass": n} for r in recs]
        passes.append({"pass": n, "wall_s": sum(r["latency_s"] for r in recs)})
    return records, passes


def stop_spark(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (REPO / "squirreling_spark").is_dir() or not (REPO / "tests" / "parity.py").is_file():
        print(f"perfbench: no engine source next to {BENCH_DIR}", file=sys.stderr)
        return 2
    for sub in ("tmp", "spark-local", "artifacts"):
        (WORK / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    sys.path[:0] = [str(REPO), str(REPO / "tests")]

    from perfbench.trace import PER_LAYER, NullTracer, Tracer
    from perfbench.workloads import Workload

    workload = Workload(args.workload, args.seed, str(WORK))
    t0 = time.perf_counter()
    workload.prepare()
    inputs_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    from squirreling_spark import inventory
    from squirreling_spark.session import get_spark

    inventory.load_all()
    cpus = len(os.sched_getaffinity(0))
    spark = get_spark("perfbench", cpus=cpus, extra_conf=spark_conf())
    try:
        workload.warm_up(spark)
        setup_s = time.perf_counter() - t0

        t0 = time.perf_counter()
        workload.expect()
        oracle_s = time.perf_counter() - t0

        ops = workload.ops(spark)
        tracer = Tracer(spark, workload.udf_counter) if args.trace else NullTracer()
        records, passes = measure(spark, ops, args.seconds, tracer)
        jvm = spark.sparkContext._gateway.proc.pid
        rss = peak_rss_mb([os.getpid(), jvm])
        rss_py = peak_rss_mb([os.getpid()])
    finally:
        stop_spark(spark)

    failed = sum(1 for r in records if r["error"])
    info = {
        "inputs_s": (inputs_s, "s"),
        "oracle_s": (oracle_s, "s"),
        "cores": (cpus, "count"),
        "peak_rss_python_mb": (rss_py, "MB"),
        "ops_per_pass": (len(ops), "count"),
        "passes": (len(passes), "count"),
        "attempted": (len(records), "count"),
        "error_ratio": (failed / len(records), "ratio"),
    }
    if args.trace:
        values = tracer.finish(passes)
        units = PER_LAYER
        spans = tracer.spans
    else:
        latencies = [r["latency_s"] for r in records]
        values = {
            "setup_s": setup_s,
            "wall_s": statistics.median(p["wall_s"] for p in passes),
            "latency_p50_s": quantile(latencies, 0.5),
            "latency_p90_s": quantile(latencies, 0.9),
            "peak_rss_mb": rss,
        }
        units = END_TO_END
        spans = []
    metrics = {name: (values[name], unit) for name, unit in units.items()}

    artifact = WORK / "artifacts" / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(artifact, "w") as fh:
        json.dump(
            {
                "workload": args.workload,
                "seed": args.seed,
                "trace": args.trace,
                "metrics": {k: v for k, (v, _u) in metrics.items()},
                "info": {k: v for k, (v, _u) in info.items()},
                "passes": passes,
                "operations": records,
                "spans": spans,
            },
            fh,
            indent=1,
        )
    for r in records:
        if r["error"]:
            print(f"FAILED {r['op']}: {r['error'][:200]}", file=sys.stderr)
    print(f"artifact {artifact.relative_to(REPO)}")
    for name, (value, unit) in {**info, **metrics}.items():
        print(f"metric {name} {value:.6g} {unit}")
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": len(records),
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
