"""Benchmark runner: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload etl_refresh --seed 1 --seconds 1 --trace 0

Run from the repository root. A run starts its own Spark session through
``session.get_spark``, builds its inputs from the seed, checks the outputs
once (untimed; this is the cold pass), then measures passes until
``--seconds`` have elapsed, at least one. The last line of standard output
is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
traced and untraced passes and reports the per-layer metrics, including
the tracing overhead. A diagnostics line (host steal, load, warm-up
trend, sample counts) precedes the result and is never gated on.

Everything the run writes goes under ``.perfbench_work/`` in the current
directory, which is removed at the end. The exit code is 0 when every
check passed, 1 when a check or an operation failed, 2 when the package
cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def _process_age() -> float:
    """Seconds since this process started (from /proc, 10 ms resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _quantile(xs: list[float], q: float) -> float:
    """Linear-interpolated quantile (0 <= q <= 1) of a non-empty sample."""
    xs = sorted(xs)
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def _environment(work: str) -> int:
    """Keep every file the run writes inside ``work``; returns the core
    count the session will use."""
    nproc = len(os.sched_getaffinity(0))
    cores = min(nproc, int(os.environ.get("SPARK_GRAFT_CPUS") or min(4, nproc)))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return cores


def _stop(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    sys.dont_write_bytecode = True
    sys.path[:0] = [HERE, root]
    try:
        import workloads  # imports the package and pyspark
        import probes
    except ImportError as ex:
        print(f"perfbench: cannot import the package from {root}: {ex}",
              file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(root, ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    cores = _environment(work)
    host0 = probes.host_snapshot()
    t_start = time.perf_counter() - _process_age()

    from etl_power_bi_dashboard_spark.session import get_spark

    phases = {"start": time.perf_counter() - t_start}

    def phase(name: str) -> None:
        phases[name] = time.perf_counter() - t_start - sum(phases.values())

    spark = get_spark(app_name=f"perfbench-{args.workload}")
    try:
        spark.sparkContext.setLogLevel("ERROR")
        phase("session")
        wl = workloads.WORKLOADS[args.workload](spark, work, args.seed, cores)
        wl.prepare()
        phase("inputs")
        # the check runs the cold pass; the time budget holds no further
        # warm-up pass (see METHOD.md)
        results = wl.check()
        phase("check")
        setup_s = time.perf_counter() - t_start
        if args.trace:
            metrics, samples = _traced(wl, spark, args.seconds)
        else:
            metrics, samples = _untraced(wl, args.seconds)
        phase("measure")
    finally:
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    phase("stop")

    failed_checks = [(n, why) for n, why in results if why]
    for name, why in failed_checks:
        print(f"perfbench: check failed: {name}: {why}", file=sys.stderr)
    host1 = probes.host_snapshot()
    diag = {
        "workload": args.workload, "seed": args.seed, "cores": cores,
        "nproc": host0["nproc"], "spark_graft_cpus": host0["spark_graft_cpus"],
        "steal_s": round(host1["steal_s"] - host0["steal_s"], 2),
        "loadavg": host1["loadavg"], "checks": len(results),
        "phases_s": {k: round(v, 2) for k, v in phases.items()}, **samples,
    }
    print("perfbench-diag " + json.dumps(diag))
    if not args.trace:
        metrics["setup_s"] = {"value": setup_s, "unit": "s"}
    print(json.dumps({
        "correct": not failed_checks,
        "attempted": len(results) + samples["ops"],
        "failed": len(failed_checks),
        "metrics": metrics,
    }))
    return 1 if failed_checks else 0


def _untraced(wl, seconds: float) -> tuple[dict, dict]:
    import probes

    walls, cpus, ops = [], [], []
    t_end = time.perf_counter() + seconds
    while not walls or time.perf_counter() < t_end:
        tree = probes.process_tree()
        c0, t0 = probes.cpu_seconds(tree), time.perf_counter()
        ops.extend(wl.run_pass())
        walls.append(time.perf_counter() - t0)
        cpus.append(probes.cpu_seconds(probes.process_tree()) - c0)
    metrics = {
        "pass_s": statistics.median(walls),
        "cpu_s": statistics.median(cpus),
        "query_p50_s": _quantile(ops, 0.5),
        "query_p90_s": _quantile(ops, 0.9),
    }
    samples = {
        "passes": len(walls), "ops": len(ops),
        "peak_rss_mb": round(probes.peak_rss_mb(), 1),
        "pass_walls": [round(w, 3) for w in walls],
        "last_over_first": round(walls[-1] / walls[0], 3),
    }
    return {k: {"value": v, "unit": "s"} for k, v in metrics.items()}, samples


def _traced(wl, spark, seconds: float) -> tuple[dict, dict]:
    import probes
    import workloads

    sp, jp = probes.StatusProbe(spark), probes.JvmProbe(spark)
    plain, traced, layers = [], [], []
    ops = 0
    t_end = time.perf_counter() + seconds
    while not traced or time.perf_counter() < t_end:
        # traced first: its pass sits where an untraced run measures, and
        # the warmer untraced pass after it makes the overhead an upper bound
        t0 = time.perf_counter()
        layers.append(wl.traced_pass(sp, jp))
        traced.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        ops += 2 * len(wl.run_pass())  # one traced and one untraced pass
        plain.append(time.perf_counter() - t0)
    metrics = {}
    for name, unit in workloads.PER_LAYER:
        value = statistics.median(m.get(name, 0) for m in layers)
        metrics[name] = {"value": value, "unit": unit}
    metrics["session.peak_rss_mb"]["value"] = probes.peak_rss_mb()
    metrics["trace.pass_s"]["value"] = statistics.median(traced)
    metrics["trace.overhead_s"]["value"] = (
        statistics.median(traced) - statistics.median(plain))
    samples = {
        "passes": len(plain) + len(traced), "ops": ops,
        "pass_walls": [round(w, 3) for w in plain],
        "traced_walls": [round(w, 3) for w in traced],
        "last_over_first": round(plain[-1] / plain[0], 3),
    }
    return metrics, samples


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
