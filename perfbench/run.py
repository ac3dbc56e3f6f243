#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (perfbench/build.sbt depends on the repo's
own build), later runs reuse the build while the sources are unchanged.
Each run starts one JVM (Spark local[4]) that makes its inputs from the
seed, sets up several times, measures for the given seconds with one
closed-loop client, and checks its outputs untimed. Human-readable lines
(every end-to-end figure by name, with unit and sample count) go to
stdout first; the last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"} with the end-to-end metrics
of BENCHMARK.json when --trace 0 and its per-layer metrics when --trace 1.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
WORKLOADS = ("ddl_migrate", "query_suite", "index_maintain")


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input to the build."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group; on timeout kill the group and
    wait for it. Returns (returncode, stdout)."""
    p = subprocess.Popen(cmd, start_new_session=True, stdout=subprocess.PIPE,
                         text=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        return None, ""
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise


def build():
    """Compile with sbt unless the stamped build is current; return the
    runtime classpath."""
    cp_file, stamp_file = WORK / "classpath.txt", WORK / "build.stamp"
    stamp = source_stamp()
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text()
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    log = WORK / "build.log"
    t0 = time.time()
    rc, out = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "compile", "export perfbench/Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=HERE, env=env, stderr=subprocess.STDOUT)
    log.write_text(out or "")
    lines = [l for l in (out or "").splitlines() if "perfbench" in l and "classes" in l
             and not l.startswith("[")]
    if rc != 0 or not lines:
        fail(f"build failed (rc={rc}); see {log}")
    cp_file.write_text(lines[-1].strip())
    stamp_file.write_text(stamp)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return lines[-1].strip()


def jvm(run_dir, main_class, args, env=None):
    """Build if needed, then run `main_class` in a fresh JVM whose
    scratch files all stay under run_dir (emptied first)."""
    WORK.mkdir(exist_ok=True)
    cp = build()
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    argfile = run_dir / "java.args"
    argfile.write_text("-cp\n" + cp + "\n")
    cmd = ["java", f"@{argfile}", "-Xmx3g", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={run_dir / 'tmp'}",
           f"-Dderby.system.home={run_dir}",
           f"-Dlog4j2.configurationFile={(HERE / 'log4j2.properties').as_uri()}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for o in JAVA_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    return run_bounded(cmd + [main_class] + args, RUN_TIMEOUT_S, cwd=run_dir, env=env)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    bench = ROOT / "BENCHMARK.json"
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"{ROOT} holds no engine sources to build")
    if not bench.is_file():
        fail("BENCHMARK.json is missing")
    spec = json.loads(bench.read_text())

    run_dir = WORK / "run"
    result_path = run_dir / "result.json"
    rc, _ = jvm(run_dir, "perfbench.Main", [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", str(run_dir), "--out", str(result_path)])
    if rc != 0 or not result_path.exists():
        fail(f"benchmark JVM failed (rc={rc})")
    res = json.loads(result_path.read_text())

    problems = list(res["check_failures"])
    if (run_dir / "results" / "oracle_sql.json").exists():
        sys.path.insert(0, str(HERE))
        import oracle
        problems += oracle.check(run_dir / "results")

    print(f"workload {args.workload} seed {args.seed}: {res['attempted']} ops, "
          f"{res['failed']} failed, {res['wall_s']:.1f} s timed, "
          f"inputs {' '.join(f'{s:.1f}' for s in res['setup_runs_s'])} s, "
          f"warm-up {res['warm_up_s']:.1f} s, checks {res['check_s']:.1f} s")
    for d in res["detail"]:
        v = "n/a" if d["value"] is None else f"{d['value']:.6g}"
        print(f"  {d['name']:<40} {v:>14} {d['unit']:<6} n={d['n']}")
    for f in res["failed_ops"]:
        print(f"  failed op: {f}")
    for p in problems:
        print(f"  check failed: {p}")

    want = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = res["per_layer"] if args.trace else res["metrics"]
    metrics = {}
    for m in want:
        if not isinstance(source.get(m["name"]), (int, float)):
            problems.append(f"metric {m['name']} not measured")
            continue
        metrics[m["name"]] = {"value": source[m["name"]], "unit": m["unit"]}
    if args.trace:
        for k, v in sorted(res["per_layer"].items()):
            print(f"  layer {k:<40} {v:>14.6g}")
    print(json.dumps({"correct": not problems, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
