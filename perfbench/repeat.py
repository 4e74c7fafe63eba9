#!/usr/bin/env python3
"""Repeats benchmark runs over seeds and summarises each end-to-end metric.

    python3 perfbench/repeat.py [--workloads a,b] [--seeds 1-10] [--json FILE]

Runs `perfbench/run.py` once per (workload, seed), in that order, from the
checkout root, with BENCHMARK.json's run_seconds. For every workload and
end-to-end metric it prints the median, the first and third quartiles
(Python's statistics.quantiles(n=4)) and the spread (Q3 - Q1) / median next
to the metric's bound. `--json` also writes the runs and the summary.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--json")
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    runs, summary = [], {}
    for w in args.workloads.split(","):
        values = {}
        for seed in seeds(args.seeds):
            t0 = time.monotonic()
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", w,
                                "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
                                "--trace", "0"], cwd=ROOT, capture_output=True, text=True)
            wall = time.monotonic() - t0
            lines = p.stdout.strip().splitlines()
            res = json.loads(lines[-1]) if p.returncode == 0 and lines else None
            runs.append({"workload": w, "seed": seed, "wall_s": round(wall, 1),
                         "exit": p.returncode, "result": res})
            if res is None:
                print(f"{w} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}", flush=True)
                continue
            print(f"{w} seed {seed}: {wall:.0f} s correct={res['correct']} "
                  f"attempted={res['attempted']} failed={res['failed']} " +
                  " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        summary[w] = {}
        for k, v in values.items():
            if len(v) < 2:
                continue
            q1, med, q3 = statistics.quantiles(v, n=4)[0], statistics.median(v), statistics.quantiles(v, n=4)[2]
            spread = (q3 - q1) / med
            summary[w][k] = {"median": med, "q1": q1, "q3": q3, "spread": spread, "n": len(v)}
            print(f"  {w:<13} {k:<16} median {med:<12.5g} q1 {q1:<12.5g} q3 {q3:<12.5g} "
                  f"spread {spread:.3f} (bound {bounds.get(k)})", flush=True)
    if args.json:
        Path(args.json).write_text(json.dumps({"runs": runs, "summary": summary}, indent=1) + "\n")


if __name__ == "__main__":
    main()
