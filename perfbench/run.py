#!/usr/bin/env python3
"""Run one workload of the graft benchmark and print its result line.

    python3 perfbench/run.py --workload merge --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run builds the library and
the benchmark from source with sbt (offline) into perfbench/target and
generates the base tables into perfbench/.work; later runs reuse both
while their sources are unchanged. Each run then starts one fresh JVM
(no sbt in the timed path), which prints the result as its last stdout
line: {"correct", "attempted", "failed", "metrics"}. Everything else the
JVM prints goes to stderr. A JSON run record with every sample is left
in perfbench/.work/records.
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
WORK = os.path.join(HERE, ".work")
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "runtime-classpath.txt")
STAMP = os.path.join(TARGET, "build-stamp.txt")
WORKLOADS = ("merge", "corpus")
DEADLINE_S = 175
BUILD_TIMEOUT_S = 840

# The JVM flags Spark needs on JDK 17 outside spark-submit (the same
# list as the root build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def tree_hash(paths):
    """sha256 over the bytes and relative names of every file under paths."""
    h = hashlib.sha256()
    for top in paths:
        files = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build_inputs():
    return [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
            os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project", "build.properties"), os.path.join(HERE, "src", "main")]


def cpus():
    n = len(os.sched_getaffinity(0))
    want = os.environ.get("SPARK_GRAFT_CPUS")
    return max(1, min(n, int(want))) if want else n


def heap():
    """SPARK_DRIVER_MEM, else half the machine's memory clamped to 2g..8g."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    with open("/proc/meminfo") as fh:
        kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
    return f"{min(8, max(2, kb // 2097152))}g"


def build(tmp):
    """Builds unless the classpath is current; returns whether it built."""
    stamp = tree_hash(build_inputs())
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return False
    log("building the library and the benchmark with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g", f"-Djava.io.tmpdir={tmp}"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0 or not os.path.exists(CLASSPATH):
        raise SystemExit(f"[perfbench] build failed (sbt exit {r.returncode})")
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    return True


def java(main_args, tmp, deadline, stdout):
    """Runs the benchmark main in a fresh JVM in its own process group."""
    cmd = ["java", f"-Xmx{heap()}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", open(CLASSPATH).read().strip(), "graft.perfbench.Main"] + main_args
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir: keep its
    # scratch inside the checkout
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"))
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=stdout, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit("[perfbench] the benchmark JVM ran out of time")
    return proc.returncode, out


def commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except OSError:
        pass
    return "tree-" + tree_hash(build_inputs())[:16]


def record_expected(data, tmp):
    """Fingerprints every non-merge registry query in two fresh JVMs and
    writes the first set as the expected file. Queries whose two
    fingerprints differ are printed: list each in
    expected/nondeterministic.tsv with its reason."""
    runs = []
    for i in range(2):
        out = os.path.join(WORK, f"record-{i}.tsv")
        work = os.path.join(WORK, f"record-{i}")
        code, _ = java(["--record", out, "--data", data, "--work", work, "--cpus", str(cpus())],
                       tmp, time.time() + 3600, sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        if code != 0:
            raise SystemExit(f"[perfbench] recording failed ({code})")
        runs.append(dict(l.rstrip("\n").split("\t", 1) for l in open(out)))
    first, second = runs
    for name in sorted(first):
        if first[name] != second.get(name):
            log(f"nondeterministic: {name} {first[name]} vs {second.get(name)}")
    with open(os.path.join(HERE, "expected", "fingerprints.tsv"), "w") as fh:
        fh.write("# query\trows:hash over the benchmark's base tables (run.py --record-expected)\n")
        for name in sorted(first):
            fh.write(f"{name}\t{first[name]}\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-expected", action="store_true",
                    help="re-record expected/fingerprints.tsv (two JVMs) instead of a run")
    args = ap.parse_args()
    if not args.record_expected and None in (args.workload, args.seed, args.seconds):
        ap.error("--workload, --seed and --seconds are required")
    started = time.time()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        raise SystemExit("[perfbench] no graft sources next to perfbench/: nothing to measure")

    os.makedirs(WORK, exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    built = build(tmp)
    # the base tables depend only on the generator; made once per checkout
    data = os.path.join(WORK, "data-" + tree_hash(
        [os.path.join(HERE, "src", "main", "scala", "graft", "perfbench", "DataGen.scala")])[:12])
    if not os.path.isdir(data):
        built = True
        log("generating the base tables")
        for old in os.listdir(WORK):
            if old.startswith("data-"):
                shutil.rmtree(os.path.join(WORK, old), ignore_errors=True)
        code, _ = java(["--generate", data, "--cpus", str(cpus())], tmp,
                       time.time() + BUILD_TIMEOUT_S, sys.stderr)
        if code != 0:
            raise SystemExit(f"[perfbench] generating the base tables failed ({code})")

    if args.record_expected:
        record_expected(data, tmp)
        return

    run_dir = os.path.join(WORK, f"run-{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    if args.workload == "merge":
        import instances
        instances.carve(data, args.seed, os.path.join(run_dir, "instances", "src"),
                        os.path.join(run_dir, "instances", "dest"))
    # a run that had to build gets its full budget after the build
    deadline = (time.time() if built else started) + DEADLINE_S
    try:
        code, out = java(
            ["--workload", args.workload, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace),
             "--data", data, "--work", run_dir, "--cpus", str(cpus()),
             "--expected", os.path.join(HERE, "expected"),
             "--records", os.path.join(WORK, "records"), "--commit", commit()],
            tmp, deadline, subprocess.PIPE)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = out.decode("utf-8", "replace").splitlines()
    result = None
    for line in lines:
        if line.startswith("{") and '"metrics"' in line:
            result = line
        else:
            print(line, file=sys.stderr)
    if code != 0 or result is None:
        raise SystemExit(f"[perfbench] the benchmark JVM exited {code} without a result")
    parsed = json.loads(result)
    if set(parsed) != {"correct", "attempted", "failed", "metrics"}:
        raise SystemExit("[perfbench] malformed result line")
    print(result, flush=True)


if __name__ == "__main__":
    main()
