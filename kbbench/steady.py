#!/usr/bin/env python3
"""Steadiness check: run every workload on several seeds and report, per
end-to-end metric, the median and the spread (first-to-third quartile
distance over the median, as ``statistics.quantiles(values, n=4)`` gives
the quartiles) against the metric's bound in BENCHMARK.json.

    python3 kbbench/steady.py --seeds 1 2 3 4 5 6 7 8 9 10 \\
        --out kbbench/results/steady.json [--compare earlier.json]

With ``--compare``, each median is also checked against the earlier
file's median: it may be worse by at most the bound. Exits 1 when a run
fails its output check or a spread (other than setup_s's) exceeds its
bound.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, check=False,
    )
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines else {}
    result["exit"] = proc.returncode
    result["seed"] = seed
    if len(lines) > 1:
        result["record"] = json.loads(lines[0])
    return result


def summarize(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values),
            "values": values}


def worse_by(metric: dict, new: float, old: float) -> float:
    """Relative worsening of ``new`` against ``old`` (negative = better)."""
    change = (new - old) / old
    return change if metric["better"] == "lower" else -change


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--workloads", nargs="+")
    ap.add_argument("--out", required=True)
    ap.add_argument("--compare")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    workloads = args.workloads or [w["name"] for w in bench["workloads"]]
    earlier = {}
    if args.compare:
        with open(args.compare, encoding="utf-8") as f:
            earlier = json.load(f)["workloads"]

    ok = True
    report = {"seeds": args.seeds, "workloads": {}}
    for w in workloads:
        runs = [run_once(w, s, bench["run_seconds"]) for s in args.seeds]
        bad = [s for s, r in zip(args.seeds, runs)
               if r.get("exit") != 0 or not r.get("correct")]
        metrics = {}
        for m in bench["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in runs
                    if m["name"] in r.get("metrics", {})]
            if len(vals) < 2:
                continue
            s = summarize(vals)
            s["bound"] = m["bound"]
            s["spread_ok"] = (m["name"] == "setup_s"
                              or s["spread"] <= m["bound"])
            prev = earlier.get(w, {}).get("metrics", {}).get(m["name"])
            if prev:
                s["worse_than_compare"] = worse_by(m, s["median"],
                                                   prev["median"])
                s["median_ok"] = s["worse_than_compare"] <= m["bound"]
                ok &= s["median_ok"]
            ok &= s["spread_ok"]
            metrics[m["name"]] = s
            print(f"{w:10s} {m['name']:12s} median {s['median']:10.4f} "
                  f"spread {s['spread']:.4f} (bound {m['bound']})"
                  + (f" vs compare {s['worse_than_compare']:+.4f}"
                     if prev else ""))
        ok &= not bad
        report["workloads"][w] = {"failed_seeds": bad, "metrics": metrics,
                                  "runs": runs}
        if bad:
            print(f"{w}: failed seeds {bad}")
    with open(args.out, "w", encoding="utf-8") as f:
        json.dump(report, f, indent=1)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
