#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py <workload> <first_seed> <n_runs> [--trace 1] [--out file.json]

Runs the benchmark n_runs times on consecutive seeds from a checkout
root and reports, per metric, the median and the quartile spread: the
distance between the first and third quartile (statistics.quantiles,
n=4) as a share of the median. Every run must check correct.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent


def run_once(workload, seed, seconds, trace, cwd="."):
    t0 = time.time()
    out = subprocess.run([sys.executable, str(Path(cwd) / "perfbench" / "run.py"),
                          "--workload", workload, "--seed", str(seed),
                          "--seconds", str(seconds), "--trace", str(trace)],
                         cwd=cwd, capture_output=True, text=True)
    if out.returncode != 0:
        raise SystemExit(f"run failed (seed {seed}):\n{out.stderr[-2000:]}")
    res = json.loads(out.stdout.strip().splitlines()[-1])
    res["wall_s"] = time.time() - t0
    full = json.loads((Path(cwd) / "perfbench" / ".work" / "run" / "result.json").read_text())
    res["ops"] = [(o["name"], round(o["secs"], 4)) for o in full["ops"]]
    return res


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "iqr_share": (q3 - q1) / statistics.median(values)}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("workload")
    ap.add_argument("first_seed", type=int)
    ap.add_argument("n_runs", type=int)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    args = ap.parse_args()
    seconds = json.loads((HERE.parent / "BENCHMARK.json").read_text())["run_seconds"]
    runs = [run_once(args.workload, args.first_seed + k, seconds, args.trace)
            for k in range(args.n_runs)]
    names = runs[0]["metrics"].keys()
    report = {
        "workload": args.workload, "seeds": [args.first_seed, args.first_seed + args.n_runs - 1],
        "all_correct": all(r["correct"] and r["failed"] == 0 for r in runs),
        "run_wall_s": spread([r["wall_s"] for r in runs]),
        "metrics": {m: dict(spread([r["metrics"][m]["value"] for r in runs]),
                            values=[r["metrics"][m]["value"] for r in runs]) for m in names},
        "ops": [r["ops"] for r in runs],
    }
    text = json.dumps(report, indent=1)
    if args.out:
        Path(args.out).write_text(text + "\n")
    print(text)


if __name__ == "__main__":
    main()
