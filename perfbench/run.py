"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. One process runs one workload
in-process on `get_spark()` with `SPARK_GRAFT_CPUS` set to the number
of usable cores, driven by a single client thread (a closed loop: the
next operation starts when the previous one returns).

A run is: set-up (session start, input generation, one untimed warm
cycle, and for query_mix the stored oracle answers), then a fixed
number of timed cycles that fills about `--seconds`. Every cycle's
output is checked; failures are counted against the operations
attempted.

With `--trace 0` the last stdout line carries the end-to-end metrics
named in BENCHMARK.json; with `--trace 1` it carries the per-layer
metrics, taken from traced cycles that alternate with untraced ones,
and `tracing.overhead_s` is the median traced cycle minus the median
untraced cycle. A layer a workload does not exercise reads 0. The
lines before the last one give the run's context (load average, core
count), every metric with its sample count and tail percentile, and
any correctness problem.

Exits non-zero without a result line when the engine cannot be
imported (for example, outside a checkout of the repository).
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC_PATH = os.path.join(ROOT, "BENCHMARK.json")
WORK_DIR = os.path.join(ROOT, ".bench_work")


def _parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _context_line() -> dict:
    with open("/proc/loadavg", encoding="ascii") as fh:
        load = [float(x) for x in fh.read().split()[:3]]
    return {"loadavg": load, "nproc": len(os.sched_getaffinity(0))}


def _configure_environment(work: str) -> None:
    """Keep every file Spark and Python write inside the checkout,
    and size the session to the usable cores."""
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # spark-submit first runs a short launcher JVM; keep its files here too
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def _start_spark(work: str):
    from target_hdfs_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _summary(name: str, unit: str, samples: list[float]) -> str:
    from spans import tail_percentile

    line = f"{name}: median {statistics.median(samples):.6g} {unit} (n={len(samples)})"
    tail = tail_percentile(samples)
    if tail is not None:
        line += f", p{tail[0]:g} {tail[1]:.6g} {unit}"
    return line


def _measure(workload, seconds: float, trace: bool) -> list:
    """The timed cycles: as many as fill `seconds` at the workload's
    nominal cycle length, and at least two. The count does not depend
    on how fast this machine runs them, so every run's median is taken
    over the same cycles. A traced run takes at least four, untraced
    and traced in the order U T T U (repeated), so a warm-up trend
    cancels out of the overhead."""
    from workloads import Cycle

    n = max(4 if trace else 2, round(seconds / workload.nominal_cycle_s))
    cycles = []
    for index in range(n):
        traced = trace and index % 4 in (1, 2)
        try:
            cycle = workload.run_cycle(index, traced)
        except Exception as e:  # counted as a failure; the run stops
            cycles.append(Cycle(0.0, 0, [], 1, 1, [f"{type(e).__name__}: {e}"]))
            break
        cycle.traced = traced
        cycles.append(cycle)
        gc.collect()
    return cycles


def _end_to_end(setup_s: float, cycles: list) -> dict[str, list[float]]:
    done = [c for c in cycles if c.items]
    if not done:
        return {"setup_s": [setup_s], "cycle_s": [0], "throughput_per_s": [0],
                "latency_ms": [0]}  # the run failed; `failed` says so
    return {
        "setup_s": [setup_s],
        "cycle_s": [c.seconds for c in done],
        "throughput_per_s": [c.items / c.seconds for c in done],
        "latency_ms": [x * 1000.0 for c in done for x in c.latencies],
    }


def _per_layer(workload, cycles: list, names: list[str]) -> dict[str, list[float]]:
    traced = [c for c in cycles if c.traced and not c.failed]
    plain = [c for c in cycles if not c.traced and not c.failed]
    samples: dict[str, list[float]] = {n: [0] for n in names}
    if not (traced and plain):
        return samples  # the run failed; `failed` says so
    for n in workload.layers:
        samples[n] = [c.layers[n] for c in traced]
    samples["tracing.overhead_s"] = [
        statistics.median(c.seconds for c in traced)
        - statistics.median(c.seconds for c in plain)
    ]
    return samples


def main(argv: list[str]) -> int:
    t0 = time.perf_counter()
    args = _parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        with open(SPEC_PATH, encoding="utf-8") as fh:
            spec = json.load(fh)
        import pyspark  # noqa: F401

        import target_hdfs_spark  # noqa: F401
        import workloads
    except (OSError, ImportError) as e:
        print(f"perfbench: cannot load the benchmark or the engine: {e}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    section = "per_layer" if args.trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in spec[section]}
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "trace": args.trace, **_context_line()}))

    work = os.path.join(WORK_DIR, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _configure_environment(work)
    spark = None
    try:
        spark = _start_spark(work)
        ctx = workloads.Context(spark, work, args.seed, bool(args.trace))
        workload = workloads.WORKLOADS[args.workload](ctx)
        unknown = set(workload.layers) - {m["name"] for m in spec["per_layer"]}
        if unknown:
            raise RuntimeError(f"layers missing from BENCHMARK.json: {sorted(unknown)}")
        workload.generate()
        warm = workload.run_cycle(-1, False)
        setup_s = time.perf_counter() - t0
        gc.collect()
        cycles = _measure(workload, args.seconds, bool(args.trace))
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        if os.path.isdir(WORK_DIR) and not os.listdir(WORK_DIR):
            os.rmdir(WORK_DIR)

    if args.trace:
        samples = _per_layer(workload, cycles, list(units))
    else:
        samples = _end_to_end(setup_s, cycles)
    problems = warm.problems + [p for c in cycles for p in c.problems]
    for p in problems:
        print(f"problem: {p}")
    for name, unit in units.items():
        print(_summary(name, unit, samples[name]))
    attempted = sum(c.attempted for c in cycles)
    failed = sum(c.failed for c in cycles)
    print(json.dumps({
        "context": _context_line(),
        "cycle_seconds": [round(c.seconds, 4) for c in cycles],
        "traced": [c.traced for c in cycles],
    }))
    print(json.dumps({
        "correct": not problems and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            name: {"value": statistics.median(samples[name]), "unit": unit}
            for name, unit in units.items()
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
