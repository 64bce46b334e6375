#!/usr/bin/env python3
"""Run one benchmark workload and print its result line.

  python3 perfbench/run.py --workload serve|cdc_ingest|curation \
      --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the library and the
benchmark with sbt (offline) and caches the runtime classpath under
perfbench/.build, keyed by a hash of every source and build file; later
runs start the JVM directly. Each run gets a fresh scratch directory under
perfbench/.work (warehouses, Spark local dirs, temp files), removed when
the JVM has ended. The last stdout line is the result object; see
perfbench/README.md for the metrics.

  python3 perfbench/run.py --dump-oracles <file>

writes the curation queries' DuckDB oracle SQL (input to oracle_answers.py).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(BENCH, ".build")
WORK = os.path.join(BENCH, ".work")
DATA = os.path.join(BENCH, "data", "sf0.1")
ANSWERS = os.path.join(BENCH, "answers", "curation_sf0.1.json")
MAIN = "graft.perfbench.Main"
# whole-run budget: a run must end within 180 s, the first (building) one
# within 900 s
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700

# Spark 4 on JDK 17 outside spark-submit needs these (the library build
# passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every file the build reads, so an edited source rebuilds."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
            os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "build.sbt"),
            os.path.join(BENCH, "project"), os.path.join(BENCH, "src", "main")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, dirs, files in os.walk(top)
            for f in files if "target" not in os.path.relpath(d, top).split(os.sep))
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline=true" not in opts:
        opts += " -Dsbt.offline=true"
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        if os.path.isfile(repos) and "sbt.repository.config" not in opts:
            opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env["SBT_OPTS"] = opts.strip()
    return env


def classpath():
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        cwd=BENCH, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S, text=True)
    sys.stderr.write(proc.stdout[-4000:])
    lines = [l for l in proc.stdout.splitlines() if l and not l.startswith("[") and os.sep in l]
    if proc.returncode != 0 or not lines:
        fail(f"build failed (sbt exit {proc.returncode})")
    cp = lines[-1].strip()
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp + "\n")
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    print(f"[perfbench] built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp


def java_cmd(cp, work, args):
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return [java, *opens, "-Xms3g", "-Xmx3g", "-XX:+UseG1GC",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp, MAIN, *args]


def run_jvm(cmd, deadline):
    """Run the JVM in its own process group; kill the group on timeout.
    Returns (exit code, stdout lines)."""
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail("run timed out", 3)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    return proc.returncode, out.splitlines()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--dump-oracles")
    a = ap.parse_args()

    needs = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main", "scala"),
             os.path.join(DATA, "orders.parquet")]
    if a.workload == "curation":
        needs.append(ANSWERS)
    for need in needs:
        if not os.path.exists(need):
            fail(f"missing {os.path.relpath(need, ROOT)}: run from a full checkout of the repository")

    start = time.time()
    cp = classpath()
    if not a.dump_oracles and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")
    os.makedirs(WORK, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=WORK)
    try:
        if a.dump_oracles:
            code, _ = run_jvm(java_cmd(cp, work, ["--dump-oracles", os.path.abspath(a.dump_oracles)]),
                              time.time() + RUN_TIMEOUT_S)
            sys.exit(code)
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--data", DATA, "--work", work, "--answers", ANSWERS]
        # the run's own budget starts after a (first-run) build
        deadline = max(start + RUN_TIMEOUT_S, time.time() + RUN_TIMEOUT_S - 20)
        code, lines = run_jvm(java_cmd(cp, work, args), deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not lines:
        fail(f"benchmark JVM exited with {code}", 4)
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result line", 5)
    for line in lines:
        print(line)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
