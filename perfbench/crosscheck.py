#!/usr/bin/env python3
"""Cross-checks of the benchmark's tracer.

    python3 perfbench/crosscheck.py jobprofile [query ...]
    python3 perfbench/crosscheck.py repeat <workload> <seed> [pause_s]

jobprofile: the tracer's job count per query must equal the one
graft.tools.JobProfile prints, under the same settings (local[4], 4
shuffle partitions, AQE on, the engine's extensions) on the same seeded
sf0.01 fixture. Default queries: the IVF/PQ training queries.

repeat: two traced runs of one workload and seed, `pause_s` apart, must
agree exactly on the job, stage, task and exchange counts of every traced
op; counters that differ are listed (adaptive execution may re-plan).

Each prints a JSON report on stdout and exits 1 when a check fails.
"""
import json
import os
import re
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import run  # noqa: E402

DEFAULT_QUERIES = ["q31_ivf_recall", "q59_pq_recall", "q60_ivfpq_recall", "q70c_clustered_dedup"]
STRUCTURAL = ["jobs", "stages", "tasks", "exchanges"]


def jobprofile(queries):
    base = run.WORK / "crosscheck"
    fixture = base / "fixture"
    traced_dir, profile_dir = base / "tracer", base / "jobprofile"
    out = traced_dir / "counts.json"
    # the fixture lives outside both run dirs, which jvm() empties
    base.mkdir(parents=True, exist_ok=True)
    rc, _ = run.jvm(traced_dir, "perfbench.Crosscheck", [str(fixture), str(out)] + queries)
    if rc != 0:
        run.fail(f"tracer crosscheck JVM failed (rc={rc})")
    traced = {q: int(c["jobs"]) for q, c in json.loads(out.read_text()).items()}
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=str(fixture), SPARK_GRAFT_CPUS="4")
    rc, text = run.jvm(profile_dir, "graft.tools.JobProfile", queries, env=env)
    if rc != 0:
        run.fail(f"JobProfile JVM failed (rc={rc})")
    profiled = {m.group(1): int(m.group(2))
                for m in re.finditer(r"\[jp\] ==== (\S+) total .* (\d+) jobs ====", text)}
    rows = {q: {"tracer_jobs": traced.get(q), "jobprofile_jobs": profiled.get(q)} for q in queries}
    return {"check": "jobprofile", "queries": rows,
            "agree": all(r["tracer_jobs"] == r["jobprofile_jobs"] for r in rows.values())}


def traced_run(workload, seed):
    cmd = [sys.executable, str(run.HERE / "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "1", "--trace", "1"]
    subprocess.run(cmd, check=True, stdout=subprocess.DEVNULL)
    res = json.loads((run.WORK / "run" / "result.json").read_text())
    return [(o["name"], o["counters"]) for o in res["op_counters"]]


def repeat(workload, seed, pause):
    first = traced_run(workload, seed)
    time.sleep(pause)
    second = traced_run(workload, seed)
    differing = {}
    for (name, a), (name2, b) in zip(first, second):
        for k in STRUCTURAL:
            if name != name2 or a[k] != b[k]:
                differing.setdefault(k, []).append({"op": name, "first": a[k], "second": b[k]})
    return {"check": "repeat", "workload": workload, "seed": seed, "pause_s": pause,
            "ops": [len(first), len(second)],
            "agree": len(first) == len(second) and not differing,
            "differing_counters": differing}


def main():
    if len(sys.argv) < 2 or sys.argv[1] not in ("jobprofile", "repeat"):
        run.fail(__doc__)
    if sys.argv[1] == "jobprofile":
        report = jobprofile(sys.argv[2:] or DEFAULT_QUERIES)
    else:
        report = repeat(sys.argv[2], int(sys.argv[3]),
                        float(sys.argv[4]) if len(sys.argv) > 4 else 60.0)
    print(json.dumps(report, indent=1))
    sys.exit(0 if report["agree"] else 1)


if __name__ == "__main__":
    main()
