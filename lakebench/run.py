#!/usr/bin/env python3
"""Run one workload of the engine's benchmark and print its result line.

    python3 lakebench/run.py --workload olap_short|lakehouse --seed N \
        --seconds S --trace 0|1 [--cores N]

From the root of a checkout this
  1. builds the engine and the benchmark from the checkout's sources with
     sbt, once per source state (the first run of a checkout pays it);
  2. generates the OLAP tables at sf0.1, once per checkout;
  3. runs the workload in one JVM with `local[N]` Spark (N = 4 by default);
  4. prints the result as the last line of standard output:
     {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
     with the end-to-end metrics (--trace 0) or the per-layer ones
     (--trace 1).

Everything it writes stays in lakebench/work/ and the sbt target
directories. The JVM's log goes to lakebench/work/logs/. Exits non-zero,
printing no result, when the engine's sources are missing, the build
fails, the run fails or it overruns its time limit.
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
WORK = os.path.join(HERE, "work")
DATA = os.path.join(WORK, "data")
DATA_SEED = 42  # the stored oracle digests are for the tables of this seed
SCALES = ("0.1",)
WORKLOADS = ("olap_short", "lakehouse")
BUILD_TIMEOUT_S = 850
RUN_LIMIT_S = 175  # the whole run, build excluded
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"lakebench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the whole group on timeout.
    Returns (exit code or None on timeout, stdout text)."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        for sig in (signal.SIGTERM, signal.SIGKILL):
            try:
                os.killpg(proc.pid, sig)
            except ProcessLookupError:
                break
            try:
                proc.wait(timeout=10)
                break
            except subprocess.TimeoutExpired:
                continue
        proc.wait()
        return None, None


def sources():
    """Files whose content decides the build."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for proj in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        if os.path.isdir(proj):
            files += [os.path.join(proj, n) for n in os.listdir(proj)
                      if n.endswith((".sbt", ".scala", ".properties"))]
    for src in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(src):
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def build():
    """Returns the runtime classpath, building first if the sources changed."""
    for need in (os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main", "scala"),
                 os.path.join(HERE, "build.sbt")):
        if not os.path.exists(need):
            fail(f"missing {os.path.relpath(need, ROOT)}: run from a full checkout of the engine")
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    stamp_file = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    code, out = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                           "export lakebench/Runtime/fullClasspath"],
                          BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT, text=True)
    if code != 0:
        if out:
            sys.stderr.write(out[-4000:])
        fail("build failed" if code is not None else "build timed out", 1)
    lines = [x for x in out.splitlines() if x.strip() and not x.startswith("[")]
    if not lines or "classes" not in lines[-1]:
        sys.stderr.write(out[-4000:])
        fail("build printed no classpath", 1)
    with open(cp_file, "w") as fh:
        fh.write(lines[-1].strip())
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return lines[-1].strip()


def data():
    for sf in SCALES:
        out = os.path.join(DATA, f"sf{sf}")
        if not os.path.isdir(out):
            code, _ = run_group([sys.executable, os.path.join(HERE, "gen_data.py"), out, sf,
                                 str(DATA_SEED)], 300)
            if code != 0:
                fail(f"generating sf{sf} failed", 1)
    return DATA


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else None
    return exe if exe and os.path.exists(exe) else "java"


def run_jvm(cp, jvm_args, timeout, log_name):
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    logs = os.path.join(WORK, "logs")
    for d in (tmp, local, logs):
        os.makedirs(d, exist_ok=True)
    cmd = [java(), "-Xmx3g", "-Xss4m", f"-Djava.io.tmpdir={tmp}", "-Duser.timezone=UTC"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "lakebench.Main"] + jvm_args
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = local
    with open(os.path.join(logs, log_name), "w") as log:
        code, _ = run_group(cmd, timeout, cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT)
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(local, ignore_errors=True)
    return code


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=4)
    ap.add_argument("--record", help="write the engine's result digests here (oracle.py)")
    a = ap.parse_args()
    os.makedirs(WORK, exist_ok=True)
    cp = build()
    data_dir = data()
    started = time.monotonic()
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    tag = f"{a.workload}-s{a.seed}-t{a.trace}-c{a.cores}"
    result = os.path.join(results, f"{tag}.json")
    if os.path.exists(result):
        os.remove(result)
    jvm_args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--cores", str(a.cores), "--data", data_dir,
                "--work", WORK, "--expected", os.path.join(HERE, "expected.json"),
                "--result", result]
    if a.record:
        jvm_args += ["--record", os.path.abspath(a.record)]
    limit = RUN_LIMIT_S - (time.monotonic() - started)
    code = run_jvm(cp, jvm_args, limit, f"{tag}.log")
    if code is None:
        fail(f"run exceeded {RUN_LIMIT_S} s (log: lakebench/work/logs/{tag}.log)", 1)
    if code != 0:
        fail(f"run failed with exit code {code} (log: lakebench/work/logs/{tag}.log)", 1)
    if a.record:
        return
    with open(result) as fh:
        line = fh.read().strip()
    json.loads(line)
    print(line)


if __name__ == "__main__":
    main()
