"""Steadiness check: run each workload N times with distinct seeds and
print, per metric, the median, the quartiles, min/max and the spread
(interquartile distance as a share of the median, the figure the bounds
in BENCHMARK.json are set against).

    python3 perfbench/steady.py --runs 10 --seed0 100 \\
        [--workloads typing_refresh,web_requests] [--trace 0]

Runs go one after another (each starts its own Spark session); the
per-run JSON lines are appended to ``--out`` so a long check can be
inspected while it runs.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def summarize(values: list[float]) -> dict:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3, "min": min(values),
            "max": max(values), "spread": (q3 - q1) / med if med else float("nan")}


def main() -> int:
    bench = _bench()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=100)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", default=os.path.join(ROOT, ".perfbench_work", "steady.jsonl"))
    args = ap.parse_args()
    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    for wl in args.workloads.split(","):
        results, walls = [], []
        for k in range(args.runs):
            seed = args.seed0 + k
            t0 = time.time()
            proc = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                 "--seed", str(seed), "--seconds", str(args.seconds),
                 "--trace", str(args.trace)],
                cwd=ROOT, capture_output=True, text=True, timeout=600)
            walls.append(time.time() - t0)
            if proc.returncode != 0:
                print(proc.stderr[-2000:], file=sys.stderr)
                return 1
            res = json.loads(proc.stdout.strip().splitlines()[-1])
            results.append(res)
            with open(args.out, "a") as f:
                f.write(json.dumps({"workload": wl, "seed": seed, "end": time.time(),
                                    "wall_s": walls[-1], **res}) + "\n")
        print(f"\n{wl}: {args.runs} runs, seeds {args.seed0}..{args.seed0 + args.runs - 1}, "
              f"wall {statistics.median(walls):.1f} s median, {sum(walls):.0f} s total, "
              f"all correct: {all(r['correct'] for r in results)}, "
              f"failed/attempted: {sum(r['failed'] for r in results)}/"
              f"{sum(r['attempted'] for r in results)}")
        print(f"{'metric':42} {'median':>10} {'q1':>10} {'q3':>10} {'min':>10} "
              f"{'max':>10} {'spread':>7} {'bound':>6}")
        for name in results[0]["metrics"]:
            s = summarize([r["metrics"][name]["value"] for r in results])
            b = bounds.get(name)
            print(f"{name:42} {s['median']:10.4g} {s['q1']:10.4g} {s['q3']:10.4g} "
                  f"{s['min']:10.4g} {s['max']:10.4g} {s['spread']:7.3f} "
                  f"{'' if b is None else b:>6}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
