#!/usr/bin/env python3
"""Benchmark entry point for the graft engine.

    python3 perfbench/run.py --workload <etl_request|catalog>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
harness from source with sbt (outputs under .bench_build/ and the sbt
target directories) and generates the catalog tables; later runs reuse
both while the sources are unchanged. Each run starts one JVM for its
workload and prints one JSON result as the last line of stdout.

Maintenance commands (not part of a measured run):
    --record-goldens [--dump DIR]   re-record perfbench/goldens.json from
                                    this tree; with --dump also write each
                                    output and its DuckDB oracle SQL to DIR
                                    for tools/localverify.py
    --selftest                      run the harness self-tests (sbt test)
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("etl_request", "catalog")
SCALE = "0.01"  # catalog tables: lineitem 60k rows, events 10k, documents 500
RUN_LIMIT_S = 170  # the harness JVM's limit; a run must end within 180 s
BUILD_LIMIT_S = 660  # first run in a checkout: build + tables + JVM within 900 s
HEAP = "3g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def tree_hash(paths):
    """Hash of every file under `paths` (files or directories)."""
    h = hashlib.sha256()
    for p in paths:
        full = os.path.join(ROOT, p)
        files = [full] if os.path.isfile(full) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(full) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def check_checkout():
    needed = ["build.sbt", "project/build.properties", "src/main/scala/graft",
              "perfbench/build.sbt", "perfbench/src/main/scala/perfbench"]
    missing = [p for p in needed if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        fail(f"not a graft checkout (missing {', '.join(missing)}); run from the repository root")


def sbt(args, timeout):
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    env["SBT_OPTS"] = (opts + " -Dsbt.server.autostart=false -Dsbt.offline=true"
                       " -XX:-UsePerfData").strip()
    return subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true"] + args,
                          cwd=HERE, env=env, stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT, text=True, timeout=timeout)


def build():
    """Compiles engine + harness once per source state; returns the classpath."""
    stamp = tree_hash(["build.sbt", "project/build.properties", "src/main",
                       "perfbench/build.sbt", "perfbench/project/build.properties",
                       "perfbench/src/main"])
    cp_file = os.path.join(STATE, "classpath.txt")
    stamp_file = os.path.join(STATE, "build.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(STATE, exist_ok=True)
    print("[perfbench] building engine and harness with sbt", file=sys.stderr)
    out = sbt(["export Runtime/fullClasspath"], BUILD_LIMIT_S)
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-4000:])
        fail("sbt build failed")
    classpath = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(classpath)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath


def tables():
    """Generates the catalog tables once per generator version."""
    stamp = tree_hash(["perfbench/gen_tables.py"]) + SCALE
    data = os.path.join(STATE, "data")
    stamp_file = os.path.join(STATE, "data.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return data
    shutil.rmtree(data, ignore_errors=True)
    subprocess.run([sys.executable, os.path.join(HERE, "gen_tables.py"), data, SCALE],
                   check=True, timeout=60)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return data


def jvm(classpath, data, work, harness_args, timeout):
    """Runs the harness JVM; returns (exit code, stdout)."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # -UsePerfData: the JVM would otherwise write its counters outside the checkout
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.stream.error.file={work}/derby.log",
            "-Dspark.ui.enabled=false", "-cp", classpath, "perfbench.Main",
            "--data", data, "--work", work] + harness_args
    log_path = os.path.join(work, "jvm.log")
    t0 = time.time()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=log,
                                text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"harness exceeded {timeout:.0f} s; log: {log_path}")
    print(f"[perfbench] jvm {time.time() - t0:.1f} s", file=sys.stderr)
    shutil.copy(log_path, os.path.join(STATE, "last-run.log"))
    with open(log_path) as f:
        lines = f.readlines()
    if proc.returncode != 0:
        sys.stderr.write("".join(lines[-40:]))
    else:
        sys.stderr.write("".join(l for l in lines if l.startswith("[perfbench]")))
    return proc.returncode, out


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-goldens", action="store_true")
    ap.add_argument("--dump")
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    check_checkout()
    classpath = build()

    if a.selftest:
        out = sbt(["test"], BUILD_LIMIT_S)
        print(out.stdout[-3000:])
        sys.exit(out.returncode)
    data = tables()
    goldens = os.path.join(HERE, "goldens.json")
    files = ["--goldens", goldens]
    work = os.path.join(STATE, "work", f"{a.workload or 'goldens'}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        if a.record_goldens:
            extra = ["--dump", os.path.abspath(a.dump)] if a.dump else []
            code, _ = jvm(classpath, data, work, ["--mode", "goldens"] + files + extra,
                          BUILD_LIMIT_S)
            sys.exit(code)
        if not a.workload:
            fail("--workload is required")
        if not os.path.exists(goldens):
            fail("perfbench/goldens.json is missing; record it with --record-goldens")
        # the build and the tables are not charged to the run's limit
        code, out = jvm(classpath, data, work, [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace)] + files, RUN_LIMIT_S)
        lines = [l for l in out.splitlines() if l.strip()]
        if code != 0 or not lines:
            fail(f"harness exited with code {code}")
        result = json.loads(lines[-1])
        trace_dir = os.path.join(work, "trace")
        if os.path.isdir(trace_dir):
            keep = os.path.join(STATE, "traces")
            os.makedirs(keep, exist_ok=True)
            for f in os.listdir(trace_dir):
                shutil.copy(os.path.join(trace_dir, f), keep)
            print(f"[perfbench] trace in {keep}", file=sys.stderr)
        print(json.dumps(result))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
