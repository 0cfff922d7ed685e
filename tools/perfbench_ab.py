"""A/B two checkouts on one perfbench workload, with interleaved runs.

    python3 tools/perfbench_ab.py A_DIR B_DIR --workload etl_refresh --seeds 1 2 3

Each pair runs ``perfbench/run.py`` once per checkout with one seed, for
A's ``BENCHMARK.json`` ``run_seconds``; the side that goes first alternates.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

METRICS = ("pass_s", "cpu_s", "query_p50_s", "query_p90_s", "setup_s")


def run(checkout: str, workload: str, seed: int, seconds: float) -> dict:
    """One perfbench run in ``checkout``: its result line plus its steal
    and peak RSS from the diagnostics line."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, check=False)
    lines = proc.stdout.strip().splitlines()
    if not lines or not lines[-1].startswith("{"):
        sys.exit(f"{checkout}: perfbench exited {proc.returncode} without a result")
    result = json.loads(lines[-1])
    diag = next((json.loads(ln.split(" ", 1)[1]) for ln in lines
                 if ln.startswith("perfbench-diag ")), {})
    result["steal_s"] = diag.get("steal_s", float("nan"))
    result["peak_rss_mb"] = diag.get("peak_rss_mb", float("nan"))
    return result


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3), interpolated; one sample is its own quartiles."""
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("a_dir")
    ap.add_argument("b_dir")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", default=[1, 2, 3])
    args = ap.parse_args(argv)
    dirs = {"A": os.path.abspath(args.a_dir), "B": os.path.abspath(args.b_dir)}
    with open(os.path.join(dirs["A"], "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]

    pairs: list[dict[str, dict]] = []
    ok = True
    for i, seed in enumerate(args.seeds):
        order = "AB" if i % 2 == 0 else "BA"
        pair = {s: run(dirs[s], args.workload, seed, seconds) for s in order}
        pairs.append(pair)
        cells = []
        for m in METRICS:
            a, b = pair["A"]["metrics"][m]["value"], pair["B"]["metrics"][m]["value"]
            cells.append(f"{m} {a:.3f} {b:.3f} ({b / a if a else float('nan'):.2f})")
        for s in "AB":
            ok &= pair[s]["correct"] and pair[s]["failed"] == 0
        print(f"pair {i + 1} seed {seed} {order} | " + " | ".join(cells)
              + f" | steal {pair['A']['steal_s']}/{pair['B']['steal_s']}"
              + f" | correct {pair['A']['correct']}/{pair['B']['correct']}",
              flush=True)

    print(f"median [quartiles] over {len(pairs)} pairs "
          f"(A={dirs['A']}, B={dirs['B']}):")
    for m in METRICS:
        a = [p["A"]["metrics"][m]["value"] for p in pairs]
        b = [p["B"]["metrics"][m]["value"] for p in pairs]
        (qa1, ma, qa3), (qb1, mb, qb3) = quartiles(a), quartiles(b)
        wins = sum(y < x for x, y in zip(a, b))
        print(f"  {m:12s} A {ma:.3f} [{qa1:.3f}, {qa3:.3f}]"
              f"  B {mb:.3f} [{qb1:.3f}, {qb3:.3f}]"
              f"  B/A {mb / ma if ma else float('nan'):.3f}"
              f"  B lower in {wins}/{len(pairs)}"
              f"  |B-A| {'>' if abs(mb - ma) > qa3 - qa1 else '<='} A's IQR")
    # not gated: memory is what a speed lever most often trades
    (qa1, ma, qa3), (qb1, mb, qb3) = (
        quartiles([p[s]["peak_rss_mb"] for p in pairs]) for s in "AB")
    print(f"  {'peak_rss_mb':12s} A {ma:.1f} [{qa1:.1f}, {qa3:.1f}]"
          f"  B {mb:.1f} [{qb1:.1f}, {qb3:.1f}]")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
