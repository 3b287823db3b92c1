#!/usr/bin/env python3
"""Run one benchmark workload and print its result.

Usage, from the root of a checkout:

    python3 sqlbench/run.py --workload oltp_mix --seed 1 --seconds 12 --trace 0

Builds the harness (sqlbench/build.sbt, which compiles the engine sources
of the checkout) when its sources changed, launches one JVM for the run,
prints every metric with its unit, and ends with one JSON line:
{"correct", "attempted", "failed", "metrics"}. `--trace 1` reports the
per-layer metrics of BENCHMARK.json instead of the end-to-end ones.
`--write-expected` (pipeline_df) rewrites sqlbench/expected/pipeline_df.tsv.
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

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "sqlbench")
WORK = os.path.join(BENCH, "work")
CP_FILE = os.path.join(BENCH, "target", "sqlbench-classpath.txt")
WORKLOADS = ("oltp_mix", "tpch_sql", "pipeline_df")
RUN_TIMEOUT_S = 170
# Methods reach the JIT's compiled tiers after a quarter of the default
# invocation counts, so a fresh JVM settles within the warm-up a run can
# afford (pipeline_df's cold pass: 12-14 s instead of 20 s); see README.
JIT_SCALING = 0.25
BUILD_TIMEOUT_S = 840
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"sqlbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads from the checkout, in a stable order."""
    out = []
    for top in ("src/main", "sqlbench/src", "sqlbench/project"):
        base = os.path.join(ROOT, top)
        for d, dirs, files in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x != "target")
            out += [os.path.join(d, f) for f in sorted(files)]
    return out + [os.path.join(BENCH, "build.sbt")]


def tree_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(stamp):
    """Compile with sbt unless the classpath file matches this source tree."""
    if os.path.exists(CP_FILE):
        with open(CP_FILE) as fh:
            lines = fh.read().splitlines()
        if len(lines) == 2 and lines[0] == stamp:
            return lines[1]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser("~/.sbt/repositories")
        env["SBT_OPTS"] = "-Dsbt.offline=true -Xmx2g" + (
            f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
            if os.path.exists(repos) else "")
    if "SPARK_HOME" not in env and shutil.which("spark-submit"):
        spark_bin = os.path.dirname(os.path.realpath(shutil.which("spark-submit")))
        env["SPARK_HOME"] = os.path.dirname(spark_bin)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "compile", "export Runtime/fullClasspath"]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=BENCH, env=env, stdout=subprocess.PIPE,
                       stderr=sys.stderr, text=True, timeout=BUILD_TIMEOUT_S,
                       stdin=subprocess.DEVNULL)
    sys.stderr.write(p.stdout)
    if p.returncode != 0:
        fail(f"build failed (sbt exit {p.returncode})")
    cp = p.stdout.strip().splitlines()[-1].strip()
    if "sqlbench" not in cp or "[" in cp:
        fail("build did not print a classpath")
    os.makedirs(os.path.dirname(CP_FILE), exist_ok=True)
    with open(CP_FILE, "w") as fh:
        fh.write(stamp + "\n" + cp + "\n")
    print(f"sqlbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp


def git_stamp():
    """(commit SHA, dirty flag) of the checkout, or ("none", "unknown")
    when the checkout is not itself a git work tree."""
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return "none", "unknown"
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=20)
        if sha.returncode != 0:
            return "none", "unknown"
        st = subprocess.run(["git", "status", "--porcelain"],
                            cwd=ROOT, capture_output=True, text=True, timeout=20)
        return sha.stdout.strip(), str(bool(st.stdout.strip())).lower()
    except (OSError, subprocess.SubprocessError):
        return "none", "unknown"


def run_jvm(cp, args, stamp):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    sha, dirty = git_stamp()
    cmd = ["java", "-Xmx3g", f"-XX:CompileThresholdScaling={JIT_SCALING}",
           f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "sqlbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", WORK, "--expected", os.path.join(BENCH, "expected"),
            "--stamp", f"git_sha={sha}", "--stamp", f"git_dirty={dirty}",
            "--stamp", f"source_tree_sha256={stamp}"]
    if args.write_expected:
        cmd.append("--write-expected")
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    if proc.returncode != 0:
        fail(f"benchmark JVM exited with {proc.returncode}")
    for line in out.splitlines():
        if line.startswith("SQLBENCH_RESULT "):
            return json.loads(line[len("SQLBENCH_RESULT "):])
    fail("benchmark JVM printed no result")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--write-expected", action="store_true")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found; run from the repository root")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    stamp = tree_hash()
    cp = build(stamp)
    report = run_jvm(cp, args, stamp)

    metrics = {}
    for m in wanted:
        got = report["metrics"].get(m["name"])
        if got is None or not isinstance(got["value"], (int, float)) \
                or not math.isfinite(got["value"]):
            fail(f"metric {m['name']} missing or not finite: {got}")
        metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}

    samples = report["samples"]
    print(f"# {report['workload']} seed={report['seed']} trace={int(report['trace'])} "
          f"env={json.dumps(report['env'], sort_keys=True)}")
    for name, m in sorted(report["metrics"].items()):
        print(f"# {name} = {m['value']} {m['unit']}")
    print(f"# samples {json.dumps(samples, sort_keys=True)}")
    print(f"# checks {json.dumps(report['checks'])}")
    print(f"# error_rate = {report['error_rate']} ({report['failed']} of {report['attempted']})")
    for f in report["failures"]:
        print(f"# failed {f['stmt']}: {f['class']}: {f['message']}")
    print(json.dumps({"correct": bool(report["correct"]),
                      "attempted": int(report["attempted"]),
                      "failed": int(report["failed"]),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
