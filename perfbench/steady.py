"""Repeat the benchmark over several seeds and report, per workload and
metric, the median, the quartiles and the spread (q3 - q1) / median,
next to the metric's bound in BENCHMARK.json.

    python3 perfbench/steady.py --seeds 1-10 [--workloads kg_increments] [--trace 1]
                                [--out results.json]

Run from the repository root. Runs are sequential, so they never
compete with each other for the cores.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time


def parse_seeds(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def run_once(bench: dict, workload: str, seed: int, trace: int) -> dict:
    cmd = [*bench["command"], "--workload", workload, "--seed", str(seed),
           "--seconds", str(bench["run_seconds"]), "--trace", str(trace)]
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise RuntimeError(f"{' '.join(cmd)} exited {proc.returncode}:\n{proc.stderr[-2000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", nargs="*")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out")
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    workloads = args.workloads or [w["name"] for w in bench["workloads"]]
    report = {}
    for wl in workloads:
        runs = []
        for seed in parse_seeds(args.seeds):
            t0 = time.perf_counter()
            res = run_once(bench, wl, seed, args.trace)
            runs.append({"seed": seed, "run_s": time.perf_counter() - t0, **res})
            vals = " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items())
            print(f"{wl} seed {seed}: {runs[-1]['run_s']:.1f} s, correct={res['correct']} "
                  f"failed={res['failed']}/{res['attempted']} {vals[:400]}",
                  file=sys.stderr, flush=True)
        stats = {}
        for name in runs[0]["metrics"]:
            vals = [r["metrics"][name]["value"] for r in runs]
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4)
            stats[name] = {"unit": runs[0]["metrics"][name]["unit"], "median": med,
                           "q1": q1, "q3": q3,
                           "spread": (q3 - q1) / med if med else None,
                           "bound": bounds.get(name)}
        report[wl] = {"runs": runs, "stats": stats}
        print(f"\n{wl}: {len(runs)} runs, all correct: {all(r['correct'] for r in runs)}, "
              f"{sum(r['run_s'] for r in runs):.0f} s in all")
        print(f"{'metric':<44}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>9}{'bound':>8}")
        for name, s in stats.items():
            spread = "-" if s["spread"] is None else f"{s['spread']:.3f}"
            bound = "" if s["bound"] is None else f"{s['bound']:.2f}"
            print(f"{name:<44}{s['median']:>12.4f}{s['q1']:>12.4f}{s['q3']:>12.4f}"
                  f"{spread:>9}{bound:>8}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
