#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the load
generator (perfbench/harness) with sbt, together with the checkout's
program through the program's own build; later runs reuse the build
while the sources are unchanged. Each run then generates its inputs from the seed, runs
the workload in one JVM on local[nproc], checks every operation's output
(perfbench/checks.py) and prints, as its last line,
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics
with --trace 0, the per-layer metrics (perfbench/layers.py) with
--trace 1. Everything it writes stays under .bench_build/ in the
checkout; the run's own scratch directory is removed when it ends.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import checks  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
HARNESS = os.path.join(HERE, "harness")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
HEAP = "4g"

# Input scale factor (perfbench/gen.py) per workload, and set-ups per run;
# the README explains both.
SCALE = {"recsys-topk": 0.002, "stream-ingest": 0.04}
SETUPS = 2

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_fingerprint():
    h = hashlib.sha256()
    with open(os.path.join(ROOT, "build.sbt"), "rb") as fh:
        h.update(fh.read())
    for top in (PROGRAM_SRC, HARNESS):
        for d, dirs, files in sorted(os.walk(top)):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            for f in sorted(files):
                if f.endswith((".scala", ".sbt")):
                    p = os.path.join(d, f)
                    h.update(p[len(ROOT):].encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the harness with the program's sources; returns the classpath."""
    os.makedirs(BUILD, exist_ok=True)
    stamp = os.path.join(BUILD, "classpath.txt")
    fp = source_fingerprint()
    if os.path.exists(stamp):
        with open(stamp) as f:
            cached_fp, cp = f.read().split("\n", 1)
        classes = cp.split(":")[0]
        if cached_fp == fp and os.path.exists(os.path.join(classes, "perfbench", "Harness.class")):
            return cp.strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env["SBT_OPTS"] = opts.strip()
    env["PERFBENCH_PROGRAM"] = ROOT
    env["PERFBENCH_TARGET"] = os.path.join(BUILD, "target")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "harness/compile", "export harness/Runtime/fullClasspath"],
            cwd=HARNESS, env=env, stdout=out, stderr=subprocess.STDOUT, timeout=840)
    with open(log) as f:
        lines = f.read().splitlines()
    if r.returncode != 0:
        print("\n".join(lines[-30:]), file=sys.stderr)
        fail("build failed")
    cp = next(x for x in reversed(lines) if ".jar" in x and ":" in x)
    with open(stamp, "w") as f:
        f.write(fp + "\n" + cp)
    return cp


def commit():
    """The checkout's git commit, or "unknown" outside a git work tree."""
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def ncpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_harness(cp, workload, seed, seconds, trace, data, work):
    cpus = ncpus()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # C1 only: the JIT settles within the run's first set-up instead of
    # compiling through the timed passes (perfbench/README.md)
    cmd = ["java", f"-Xmx{HEAP}", "-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=512m",
           "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={work}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Harness", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace), "--data", data,
            "--work", work, "--cpus", str(cpus),
            "--setups", str(SETUPS)]
    with open(os.path.join(work, "harness.log"), "w") as log:
        r = subprocess.run(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT, timeout=150)
    if r.returncode != 0 or not os.path.exists(os.path.join(work, "result.json")):
        with open(os.path.join(work, "harness.log")) as f:
            print("".join(f.readlines()[-40:]), file=sys.stderr)
        fail(f"harness exited with {r.returncode}")
    with open(os.path.join(work, "result.json")) as f:
        res = json.load(f)
    res["cpus"] = cpus
    return res


def end_to_end(res):
    passes = res["passes"]
    return {
        # CPU, not wall: the host's noise moved wall set-up times by half
        # between sets of runs made minutes apart (perfbench/README.md)
        "setup_s": (statistics.median(res["setup_cpu_s"]), "s"),
        "cpu_s": (statistics.median(p["cpu_s"] for p in passes), "s"),
        "state_mb": ((res["cache_bytes"] + passes[-1]["stored_bytes"]) / 2**20, "MB"),
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SCALE))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", help="append the run's full record (inputs, machine, "
                    "commit, checks, result) to this JSON-lines file")
    a = ap.parse_args()
    if not os.path.exists(os.path.join(PROGRAM_SRC, "graft", "SparkEntry.scala")):
        fail("run from the root of a checkout of the program (src/main/scala is missing)")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail("java and sbt are required")

    cp = build()
    work = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    try:
        rows = gen.generate(data, a.seed, SCALE[a.workload])
        res = run_harness(cp, a.workload, a.seed, a.seconds, a.trace, data, work)
        verdict = checks.check_run(a.workload, res, data, work)
        if a.trace:
            metrics = layers.per_layer(os.path.join(work, "spans.jsonl"), res)
        else:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in end_to_end(res).items()}
        correct, attempted, failed = checks.outcome(res, verdict)
        result = {"correct": correct, "attempted": attempted, "failed": failed,
                  "metrics": metrics}
        record = {"commit": commit(), "fingerprint": source_fingerprint(),
                  "workload": a.workload, "seed": a.seed, "trace": a.trace,
                  "seconds": a.seconds, "sf": SCALE[a.workload], "input_rows": rows,
                  "cpus": res["cpus"], "heap_mb": res["heap_mb"],
                  "setups": len(res["setup_s"]), "setup_s": res["setup_s"],
                  "setup_cpu_s": res["setup_cpu_s"],
                  "passes": res["passes"],
                  "checks": verdict, "failures": res["failures"], "result": result}
        if a.record:
            with open(a.record, "a") as f:
                f.write(json.dumps(record) + "\n")
        print(json.dumps(result))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
