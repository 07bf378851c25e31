#!/usr/bin/env python3
"""Steadiness self-check: run the benchmark in two sets of ten seeded runs per
workload and report, per (workload, end-to-end metric), whether the figures
stay within the bounds in BENCHMARK.json.

    python3 perfbench/selfcheck.py [--first-seed N]

Set k uses seeds first_seed + 10k ... first_seed + 10k + 9. For each set and
metric it prints the median and the spread (interquartile distance over the
median, ``statistics.quantiles(n=4)``); a spread is steady below a third of
the bound and acceptable up to the bound. The spread of setup_s is printed
but not gated: the acceptance rule exempts it, because one process start per
run is at the mercy of the host's scheduler; its drift is gated like every
other metric's. The second set's median may be worse than the first's by at
most the bound.

Each run records the share of CPU ticks the hypervisor stole from this
machine. A (workload, set) whose mean steal share exceeds STEAL_LIMIT ran on
a noisy host: its verdicts read UNRESOLVED instead of passing or failing,
and so does the whole self-check (exit code 2) unless something failed on a
quiet set (exit code 1). Every run's record and result are saved under
.perfbench/selfcheck/.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUNS = 10
SETS = 2
STEAL_LIMIT = 0.05


def one_run(bench: dict, workload: str, seed: int) -> dict:
    cmd = bench["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(bench["run_seconds"]), "--trace", "0",
    ]
    t = time.monotonic()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    wall = time.monotonic() - t
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
    record = next((json.loads(x[7:]) for x in lines if x.startswith("record ")), None)
    return {"workload": workload, "seed": seed, "rc": proc.returncode, "wall_s": wall,
            "result": result, "record": record,
            "stderr_tail": proc.stderr[-2000:] if result is None else ""}


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def worse_by(metric: dict, first: float, later: float) -> float:
    """Share by which ``later`` is worse than ``first`` (negative: better)."""
    delta = later - first if metric["better"] == "lower" else first - later
    return delta / first


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()
    workloads = [w["name"] for w in bench["workloads"]]

    out_dir = os.path.join(ROOT, ".perfbench", "selfcheck")
    os.makedirs(out_dir, exist_ok=True)
    runs = []
    for k in range(SETS):
        for w in workloads:
            for i in range(RUNS):
                r = one_run(bench, w, args.first_seed + k * RUNS + i)
                r["set"] = k
                runs.append(r)
                status = "ok" if r["result"] and r["result"]["correct"] else f"FAILED rc={r['rc']}"
                print(f"set {k} {w} seed {r['seed']}: {r['wall_s']:.1f} s {status}", flush=True)
                if r["stderr_tail"]:
                    print(r["stderr_tail"], file=sys.stderr)
    stamp = time.strftime("%Y%m%d-%H%M%S")
    with open(os.path.join(out_dir, f"runs-{stamp}.json"), "w") as f:
        json.dump(runs, f, indent=1)

    failed = not all(r["result"] and r["result"]["correct"] for r in runs)
    unresolved = False
    walls = [r["wall_s"] for r in runs]
    print(f"\nrun wall time: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s, "
          f"total {sum(walls):.0f} s over {len(walls)} runs")
    print(f"{'workload':<18}{'metric':<14}{'set':>4}{'median':>12}{'spread':>9}"
          f"{'bound':>7}{'worse':>8}{'steal':>7}  verdict")
    for w in workloads:
        steal = {}
        for k in range(SETS):
            shares = [r["record"]["cpu_steal_share"] for r in runs
                      if r["set"] == k and r["workload"] == w and r["record"]]
            steal[k] = statistics.mean(shares) if shares else 0.0
        for metric in bench["end_to_end"]:
            name, bound = metric["name"], metric["bound"]
            medians = []
            for k in range(SETS):
                vals = [r["result"]["metrics"][name]["value"] for r in runs
                        if r["set"] == k and r["workload"] == w and r["result"]]
                if len(vals) < 2:
                    continue
                med, sp = statistics.median(vals), spread(vals)
                medians.append(med)
                worse = worse_by(metric, medians[0], med)
                noisy = steal[k] > STEAL_LIMIT
                verdict = []
                if name == "setup_s":
                    verdict.append("spread not gated")
                elif noisy:
                    verdict.append("spread UNRESOLVED")
                else:
                    verdict.append("steady" if sp < bound / 3 else
                                   "within bound" if sp <= bound else "TOO NOISY")
                    failed |= sp > bound
                if k and (noisy or steal[0] > STEAL_LIMIT):
                    verdict.append("drift UNRESOLVED")
                elif k:
                    verdict.append("agrees" if worse <= bound else "DRIFTS")
                    failed |= worse > bound
                unresolved |= noisy
                print(f"{w:<18}{name:<14}{k:>4}{med:>12.4g}{sp:>9.3f}{bound:>7.2f}"
                      f"{worse:>8.3f}{steal[k]:>7.3f}  {', '.join(verdict)}")
    if failed:
        print("\nself-check FAILED")
        return 1
    if unresolved:
        print(f"\nself-check UNRESOLVED: mean CPU steal above {STEAL_LIMIT} on some set; "
              "run it again on a quieter host")
        return 2
    print("\nself-check PASSED")
    return 0


if __name__ == "__main__":
    sys.exit(main())
