#!/usr/bin/env python3
"""Repository benchmark: catalog, serve and pipeline workloads.

Run from the root of a checkout:

    python3 perfbench/run.py --workload catalog --seed 3 --seconds 10 --trace 0

The first run in a checkout builds the engine and the harness with sbt
(`perfbench/build.sbt`); later runs reuse the exported classpath while the
sources are unchanged. Each run gets a private work directory and
`java.io.tmpdir` under `.bench_build/runs/`, deleted when the run ends.
Traced runs (`--trace 1`) keep their spans in `.bench_build/traces/`.

A run's time limit starts once the build is done: a run that builds may
take up to BUILD_LIMIT_S longer than RUN_LIMIT_S.

The last line of stdout is the result: {"correct", "attempted", "failed",
"metrics"}; the line before it is a report with the workload's named
metrics, provenance, input shares and failures.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
DATA = os.path.join("perfbench", "data", "sf0.01")
PINS = os.path.join("perfbench", "catalog_pins.json")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 700
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_key():
    """Digest of every source the build reads."""
    h = hashlib.sha256()
    roots = ["build.sbt", "project", "src", os.path.join("perfbench", "build.sbt"),
             os.path.join("perfbench", "project"), os.path.join("perfbench", "src", "main")]
    for r in roots:
        paths = []
        if os.path.isfile(r):
            paths = [r]
        else:
            for d, dirs, files in os.walk(r):
                dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
                paths += [os.path.join(d, f) for f in sorted(files)]
        for p in sorted(paths):
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def classpath():
    """Build once per source state; return the runtime classpath."""
    cp_file = os.path.join(BUILD, f"classpath-{source_key()}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip()
    log("building engine and harness (sbt)")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, text=True, timeout=BUILD_LIMIT_S)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    log(f"built in {time.time() - t0:.1f} s")
    return lines[-1].strip()


def run_jvm(cp, args, tmp, deadline):
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={os.path.join(tmp, 'spark')}",
           f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
           f"-Dderby.system.home={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"] + args
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        log("run exceeded its time limit; stopping the JVM")
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["catalog", "serve", "pipeline"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    needed = ["BENCHMARK.json", "build.sbt", os.path.join("src", "main", "scala", "graft"),
              DATA] + ([PINS] if a.workload == "catalog" else [])
    missing = [p for p in needed if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        log(f"not a checkout of the engine (missing {', '.join(missing)})")
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]

    cp = classpath()
    t_start = time.time()
    run_dir = os.path.join(ROOT, ".bench_build", "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    tmp, work = os.path.join(run_dir, "tmp"), os.path.join(run_dir, "work")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(tmp)
    os.makedirs(work)
    result_file = os.path.join(run_dir, "result.json")
    spans = os.path.join(ROOT, ".bench_build", "traces", f"{a.workload}-seed{a.seed}.jsonl")
    try:
        code = run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed),
                            "--seconds", str(a.seconds), "--trace", str(a.trace),
                            "--work", work, "--data", DATA, "--pins", PINS,
                            "--result", result_file,
                            "--spans", spans],
                       tmp, t_start + RUN_LIMIT_S - 5)
        if code != 0 or not os.path.exists(result_file):
            log(f"benchmark JVM failed (exit {code})")
            return 1
        with open(result_file) as f:
            r = json.load(f)
        failures = list(r["failures"])
        failed = r["failed_ops"]
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    source = r["per_layer"] if a.trace else r["e2e"]
    metrics = {}
    for m in wanted:
        v = source.get(m["name"])
        if v is None or not math.isfinite(v):
            log(f"metric {m['name']} missing from the {a.workload} result")
            return 1
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    ops = max(1, r["ops"])
    report = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "named": r["named"], "ops": r["ops"], "failed_ops": failed,
        "failed_ratio": failed / ops,
        "tail": r.get("serve_tail") or r.get("query_tail"),
        "shares": r.get("shares"), "provenance": r.get("provenance"),
        "checked_answers": r.get("checked_answers"), "per_cycle": r.get("per_cycle"),
        "failures": failures[:20],
        "wall_s": round(time.time() - t_start, 1),
    }
    if a.trace:
        report["spans_file"] = os.path.relpath(spans, ROOT)
        report["self_ms"] = r["self_ms"]
    print("PERFBENCH_REPORT " + json.dumps(report, sort_keys=True))
    print(json.dumps({"correct": failed == 0, "attempted": ops, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
