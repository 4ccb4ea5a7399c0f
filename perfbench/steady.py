#!/usr/bin/env python3
"""Steadiness check: run each workload on several seeds and report, per
end-to-end metric, the spread (interquartile range over median, as
``statistics.quantiles(values, n=4)`` gives the quartiles) and the
median, next to the metric's bound from BENCHMARK.json.

    python3 perfbench/steady.py --seeds 1-10 [--workloads a,b]
                                [--out set1.json] [--against set0.json]

Every metric's spread, ``setup_s`` included, must stay within its bound.
``--out`` saves the set; ``--against`` compares this set's medians with a
saved one (the two-set check: the two medians may differ, either way, by
at most the bound as a share of the first). Runs are sequential, never
concurrent.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def _spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else float("inf")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default="")
    ap.add_argument("--out")
    ap.add_argument("--against")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m for m in bench["end_to_end"]}
    workloads = args.workloads.split(",") if args.workloads else [w["name"] for w in bench["workloads"]]
    runs: dict[str, list[dict]] = {}
    for wl in workloads:
        for seed in _seeds(args.seeds):
            cmd = [*bench["command"], "--workload", wl, "--seed", str(seed),
                   "--seconds", str(bench["run_seconds"]), "--trace", "0"]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            if proc.returncode != 0:
                print(f"{wl} seed {seed}: exit {proc.returncode}", file=sys.stderr)
                return 1
            res = json.loads(proc.stdout.strip().splitlines()[-1])
            runs.setdefault(wl, []).append(res)
            vals = {k: round(v["value"], 3) for k, v in res["metrics"].items()}
            print(f"{wl} seed {seed}: correct={res['correct']} failed={res['failed']}/{res['attempted']} {vals}", flush=True)

    prev = {}
    if args.against:
        with open(args.against) as f:
            prev = json.load(f)["medians"]
    medians: dict[str, dict[str, float]] = {}
    ok = True
    for wl, results in runs.items():
        medians[wl] = {}
        ok &= all(r["correct"] and r["failed"] == 0 for r in results)
        for name, spec in bounds.items():
            values = [r["metrics"][name]["value"] for r in results]
            med = statistics.median(values)
            medians[wl][name] = med
            spread = _spread(values)
            line = f"{wl:14s} {name:16s} median {med:10.3f} spread {spread:6.3f} bound {spec['bound']}"
            ok &= spread <= spec["bound"]
            if wl in prev and name in prev[wl]:
                old = prev[wl][name]
                change = (med - old) / old
                line += f" vs previous {old:10.3f} ({change:+.3f})"
                ok &= abs(change) <= spec["bound"]
            print(line)
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"medians": medians, "runs": runs}, f)
    print("steady" if ok else "NOT steady")
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
