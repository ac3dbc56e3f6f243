#!/usr/bin/env python3
"""Alternating-pair A/B of two checkouts on one workload.

    python3 perfbench/ab.py <parent_checkout> <change_checkout> <workload> <pairs> [first_seed] [--out f.json]

Both checkouts hold the same perfbench/ and BENCHMARK.json. Pair k runs
seed first_seed + k on both sides, the parent first in even pairs and the
change first in odd ones. Reports each side's median and quartiles per
end-to-end metric, how many pairs the change won, and whether the
difference would meet the claim rule: the change wins at least nine
tenths of the pairs and the medians differ by more than the parent's own
quartile spread.
"""
import argparse
import json
import statistics
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
from spread import run_once  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("workload")
    ap.add_argument("pairs", type=int)
    ap.add_argument("first_seed", type=int, nargs="?", default=100)
    ap.add_argument("--out")
    args = ap.parse_args()
    spec = json.loads((Path(args.change) / "BENCHMARK.json").read_text())
    sides = {"parent": [], "change": []}
    for k in range(args.pairs):
        order = ["parent", "change"] if k % 2 == 0 else ["change", "parent"]
        for side in order:
            res = run_once(args.workload, args.first_seed + k, spec["run_seconds"], 0,
                           cwd=getattr(args, side))
            if not res["correct"] or res["failed"]:
                raise SystemExit(f"{side} run {k} failed its checks")
            sides[side].append({m: v["value"] for m, v in res["metrics"].items()})
            print(f"pair {k} {side}: {json.dumps(sides[side][-1])}", file=sys.stderr)
    report = {"workload": args.workload, "pairs": args.pairs, "metrics": {}}
    for m in spec["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        p = [r[name] for r in sides["parent"]]
        c = [r[name] for r in sides["change"]]
        wins = sum((b < a) if lower else (b > a) for a, b in zip(p, c))
        losses = sum((b > a) if lower else (b < a) for a, b in zip(p, c))
        pq, cq = statistics.quantiles(p, n=4), statistics.quantiles(c, n=4)
        gap = abs(statistics.median(c) - statistics.median(p))
        report["metrics"][name] = {
            "parent": {"q1": pq[0], "median": pq[1], "q3": pq[2]},
            "change": {"q1": cq[0], "median": cq[1], "q3": cq[2]},
            "change_wins": wins, "change_losses": losses,
            "median_change_share": (statistics.median(c) - statistics.median(p)) / statistics.median(p),
            "parent_iqr": pq[2] - pq[0],
            "meets_claim_rule": wins >= 0.9 * args.pairs and gap > pq[2] - pq[0],
        }
    text = json.dumps(report, indent=1)
    if args.out:
        Path(args.out).write_text(text + "\n")
    print(text)


if __name__ == "__main__":
    main()
