"""Paired A/B runs of linkbench: a parent and a change checkout on the same
seeds, alternating which side runs first.

Usage:
  python scripts/ab_linkbench.py PARENT_DIR CHANGE_DIR \\
      --workload link_batch --seeds 1 2 3 4 5 [--out pairs.json]

Per seed it runs the benchmark command of ``BENCHMARK.json`` with
``--seconds <run_seconds> --trace 0`` in each checkout (odd seeds: parent
first; even seeds: change first). It then prints, per end-to-end metric,
both medians, the median paired ratio change/parent, how many pairs the
change won, and the parent's IQR/median (the spread a gain must clear).
Exits 1 if any run is not ``"correct"``. Runs are serial: two JVMs at once
would time each other.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

BENCH = json.loads((Path(__file__).resolve().parents[1] / "BENCHMARK.json").read_text())


def run_once(checkout: str, workload: str, seed: int) -> dict:
    cmd = [*BENCH["command"], "--workload", workload, "--seed", str(seed),
           "--seconds", str(BENCH["run_seconds"]), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    try:
        return json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        sys.stderr.write(proc.stderr[-2000:])
        return {"correct": False, "attempted": 0, "failed": 0, "metrics": {}}


def iqr_over_median(xs: list[float]) -> float:
    if len(xs) < 2:
        return float("nan")
    q1, _, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return (q3 - q1) / statistics.median(xs)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in BENCH["workloads"]])
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--out", help="write every run's result here as JSON")
    args = ap.parse_args()

    runs: list[dict] = []
    for i, seed in enumerate(args.seeds):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        pair = {"seed": seed}
        for side in order:
            res = run_once(getattr(args, side), args.workload, seed)
            pair[side] = res
            vals = {k: round(v["value"], 3) for k, v in res["metrics"].items()}
            print(f"seed {seed} {side:6s} correct={res['correct']} "
                  f"failed={res['failed']}/{res['attempted']} {vals}", flush=True)
        runs.append(pair)
    if args.out:
        Path(args.out).write_text(json.dumps(runs, indent=1))

    print(f"\n{args.workload}: {len(runs)} pairs")
    print(f"{'metric':14s} {'parent':>10s} {'change':>10s} {'ratio':>7s} "
          f"{'wins':>6s} {'par IQR/med':>11s}")
    ok = [p for p in runs if p["parent"]["metrics"] and p["change"]["metrics"]]
    for m in BENCH["end_to_end"] if ok else []:
        name = m["name"]
        par = [p["parent"]["metrics"][name]["value"] for p in ok]
        chg = [p["change"]["metrics"][name]["value"] for p in ok]
        lower = m["better"] == "lower"
        wins = sum((c < p) if lower else (c > p) for p, c in zip(par, chg))
        ratio = statistics.median([c / p if p else float("nan") for p, c in zip(par, chg)])
        print(f"{name:14s} {statistics.median(par):10.3f} {statistics.median(chg):10.3f} "
              f"{ratio:7.3f} {wins:3d}/{len(ok):<2d} {iqr_over_median(par):11.3f}")
    for side in ("parent", "change"):
        failed = sum(p[side]["failed"] for p in runs)
        attempted = sum(p[side]["attempted"] for p in runs)
        print(f"{side} failed ops: {failed}/{attempted}")
    bad = [(p["seed"], s) for p in runs for s in ("parent", "change") if not p[s]["correct"]]
    if bad:
        print(f"not correct: {bad}")
        sys.exit(1)


if __name__ == "__main__":
    main()
