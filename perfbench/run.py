#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the program and the harness from
source with sbt (skipped while the sources are unchanged since the last
build), then runs one seeded workload in one JVM (Spark local[N], N = the
host's cores) and relays the harness output. The last stdout line is the
result JSON: {"correct", "attempted", "failed", "metrics"}.

Everything it writes in the checkout stays under perfbench/work/ and the
sbt output directories perfbench/target/ and perfbench/project/.
See perfbench/README.md for the workloads, metrics and layer map.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
STAMP = os.path.join(HERE, "target", "bench-build.txt")
WORKLOADS = ("ratatool_core", "curation_pipeline", "index_serve")
RUN_LIMIT_S = 175  # a run must end within 180 s once built
BUILD_LIMIT_S = 850
JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]
SBT_OFFLINE_OPTS = ("-Dsbt.override.build.repos=true "
                    "-Dsbt.repository.config=%s -Dsbt.offline=true -Xmx3g")


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def wait_for(proc, limit_s, what, log):
    """communicate() with `proc` (started in its own session), killing its
    whole process group on timeout or on a signal."""
    def kill():
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()

    def stop(signum, _frame):
        kill()
        fail("%s stopped by signal %d" % (what, signum))
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        return proc.communicate(timeout=limit_s)
    except subprocess.TimeoutExpired:
        kill()
        fail("%s exceeded %d s; see %s" % (what, limit_s, log))


def source_files():
    """Every file whose content defines the build, in a stable order."""
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, subdirs, names in os.walk(top):
            subdirs.sort()
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def source_stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Returns the runtime classpath, rebuilding when the sources changed."""
    stamp = source_stamp()
    if os.path.exists(STAMP):
        with open(STAMP) as fh:
            lines = fh.read().splitlines()
        if len(lines) == 2 and lines[0] == stamp:
            return lines[1]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = SBT_OFFLINE_OPTS % repos
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
           "export Runtime/fullClasspath"]
    os.makedirs(WORK, exist_ok=True)
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=HERE, env=env, stdout=out,
                                stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        wait_for(proc, BUILD_LIMIT_S, "build", log)
        code = proc.returncode
    with open(log) as fh:
        lines = fh.read().splitlines()
    if code != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed (exit %d); see %s" % (code, log))
    cps = [l.strip() for l in lines if l.strip().startswith("/") and ".jar" in l]
    if not cps:
        fail("build printed no classpath; see " + log)
    os.makedirs(os.path.dirname(STAMP), exist_ok=True)
    with open(STAMP, "w") as fh:
        fh.write(stamp + "\n" + cps[-1] + "\n")
    return cps[-1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("program sources (build.sbt, src/main/scala) not found at " + ROOT)

    classpath = build()
    # scratch left by an earlier run that was killed
    for d in ("run", "spark-local", "tmp"):
        shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
    for d in ("tmp", "logs"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    cores = len(os.sched_getaffinity(0))  # what nproc reports
    opens = []
    for p in JDK_OPENS:
        opens += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
    # a fixed heap: letting G1 size it per run doubled the run-to-run spread
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+UseG1GC",
            "-Djava.io.tmpdir=" + os.path.join(WORK, "tmp")] + opens +
           ["-cp", classpath, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cores", str(cores), "--work", WORK])
    log = os.path.join(WORK, "logs", "%s-s%d-t%d.log" % (a.workload, a.seed, a.trace))
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                                stderr=err, stdin=subprocess.DEVNULL, text=True,
                                start_new_session=True)
        out, _ = wait_for(proc, RUN_LIMIT_S, "run", log)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail("harness failed (exit %d); see %s" % (proc.returncode, log))
    sys.stdout.write("\n".join(lines) + "\n")


if __name__ == "__main__":
    main()
