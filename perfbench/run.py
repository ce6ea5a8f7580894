#!/usr/bin/env python3
"""Build the engine and its benchmark harness, run one workload, check
its outputs and print the result as one JSON line.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds with sbt into
`.bench_build/` (and the sbt `target/` dirs) and writes the query tables
there; later runs reuse both until a source file changes. With
`--trace 0` the metrics are BENCHMARK.json's `end_to_end` list, with
`--trace 1` its `per_layer` list. Everything a run writes stays inside
the checkout; the run directory is removed when the run ends.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
RUN_TIMEOUT_S = 160
BUILD_TIMEOUT_S = 800

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def stamp(patterns):
    """Hash of every file matching `patterns` (relative to the root)."""
    h = hashlib.sha256()
    for pat in patterns:
        for f in sorted(glob.glob(os.path.join(ROOT, pat), recursive=True)):
            if os.path.isfile(f):
                h.update(os.path.relpath(f, ROOT).encode())
                with open(f, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the engine and the harness; return the runtime classpath."""
    srcs = ["build.sbt", "project/*.properties", "src/main/**/*",
            "perfbench/build.sbt", "perfbench/project/*.properties",
            "perfbench/src/main/**/*"]
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        fail("no engine build.sbt at the checkout root")
    key, cp_file = stamp(srcs), os.path.join(BUILD, "classpath.txt")
    if os.path.isfile(cp_file):
        with open(cp_file) as fh:
            old_key, cp = fh.read().split("\n", 1)
        if old_key == key:
            return cp.strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.forcestart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts + [env.get("SBT_OPTS", "-Xmx2g")])
    try:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, capture_output=True, text=True,
            timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(key + "\n" + lines[-1].strip())
    return lines[-1].strip()


def tables():
    """The read-only query tables, written once per generator version."""
    key = stamp(["perfbench/tables.py"])[:16]
    out = os.path.join(BUILD, "tables-" + key)
    if not os.path.isdir(out):
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        subprocess.run([sys.executable, os.path.join(HERE, "tables.py"), tmp],
                       check=True)
        os.rename(tmp, out)
    return out


def heap():
    """Driver heap: half the machine's memory, clamped to 2..8 GiB."""
    try:
        with open("/proc/meminfo") as fh:
            kb = int(re.search(r"MemTotal:\s+(\d+)", fh.read()).group(1))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, AttributeError):
        return "2g"


def run_jvm(cp, args, data, out):
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Xmx{heap()}", "-XX:-UsePerfData", "-XX:+UnlockDiagnosticVMOptions",
              "-XX:GCLockerRetryAllocationCount=64", f"-Djava.io.tmpdir={tmp}",
              "-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--data", data, "--out", out])
    log = os.path.join(out, "jvm.log")
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                             start_new_session=True)
        try:
            stdout, _ = p.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"run exceeded {RUN_TIMEOUT_S} s")
    sys.stdout.write(stdout)
    result = os.path.join(out, "result.json")
    if p.returncode != 0 or not os.path.isfile(result):
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"benchmark JVM exited with {p.returncode}")
    with open(result) as fh:
        return json.load(fh)


def selfcheck(data, check_dir):
    """Run the repo's oracle comparison on the query outputs; return the
    number of mismatching queries."""
    script = os.path.join(ROOT, "tools", "selfcheck.py")
    if not os.path.isfile(script):
        fail("tools/selfcheck.py is missing")
    p = subprocess.run([sys.executable, script, data, check_dir],
                       capture_output=True, text=True, timeout=120)
    fails = [l for l in p.stdout.splitlines() if l.startswith("FAIL")]
    for line in fails:
        print(f"problem: selfcheck {line}")
    if p.returncode != 0 and not fails:
        sys.stderr.write(p.stdout[-2000:] + p.stderr[-2000:])
        fail("selfcheck did not run")
    print(f"selfcheck: {len(fails)} mismatches")
    return len(fails)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload}")
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    cp = build()
    data = tables()
    out = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    try:
        res = run_jvm(cp, args, data, out)
        failed = res["failed"]
        if args.workload.startswith("query"):
            failed += selfcheck(data, os.path.join(out, "check"))
        if args.trace:
            shutil.copy(os.path.join(out, "spans.json"),
                        os.path.join(BUILD, f"spans-{args.workload}-{args.seed}.json"))
    finally:
        shutil.rmtree(out, ignore_errors=True)

    missing = [m["name"] for m in wanted if m["name"] not in res["metrics"]]
    if missing:
        fail(f"metrics not measured: {missing}")
    print(json.dumps({
        "correct": failed == 0 and not res["problems"],
        "attempted": res["attempted"],
        "failed": failed,
        "metrics": {m["name"]: {"value": res["metrics"][m["name"]], "unit": m["unit"]}
                    for m in wanted},
    }))


if __name__ == "__main__":
    main()
