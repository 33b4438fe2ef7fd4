#!/usr/bin/env python3
"""Serving benchmark launcher: build from source, run one workload, relay.

    python3 perfbench/run.py --workload dashboard|ingest \
        --seed N --seconds S --trace 0|1

Run from the repository root. Compiles the program (src/main/scala) and the
benchmark (perfbench/src) with the Scala compiler that ships with Spark into
.bench_build/, skipping the compile when no source changed; then runs one
workload in a fresh JVM with a scratch directory under .bench_build/work/,
which it removes afterwards; the JVM's log goes to .bench_build/logs/. The
JVM prints a report (lines starting with "#") and, last, one JSON result
line, which is relayed as the last line of standard output. Exits non-zero, printing no result, when the build or the
run fails. See perfbench/README.md.
"""

import argparse
import fcntl
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against
    (its unmanagedBase); None when neither is known."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        return None
    return m.group(1) if m else None


SPARK_JARS = spark_jars()
HEAP = "2g"
ADD_OPENS = [
    "java.base/" + p + "=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


def log(msg):
    print("perfbench: " + msg, file=sys.stderr, flush=True)


def sources(rel):
    return sorted(glob.glob(os.path.join(ROOT, rel, "**", "*.scala"), recursive=True))


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def scalac(out, srcs, extra_cp):
    """Compile srcs into a fresh out directory; False on a compile error."""
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss16m", "-Xmx2g", "-cp", os.path.join(SPARK_JARS, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", out]
    if extra_cp:
        cmd += ["-classpath", extra_cp]
    r = subprocess.run(cmd + ["@" + argfile], stdout=sys.stderr, stderr=sys.stderr)
    os.remove(argfile)
    return r.returncode == 0


def build():
    """Compile the program, then the benchmark against it, unless the
    stamp shows both are current. Returns the runtime classpath or None."""
    main_src, bench_src = sources("src/main/scala"), sources("perfbench/src")
    if not main_src or not bench_src:
        log("no sources to build (src/main/scala, perfbench/src)")
        return None
    if not SPARK_JARS or not os.path.isdir(SPARK_JARS):
        log("Spark jars not found (set SPARK_HOME)")
        return None
    main_out = os.path.join(BUILD, "classes", "main")
    bench_out = os.path.join(BUILD, "classes", "bench")
    stamp_file = os.path.join(BUILD, "classes", "stamp")
    stamp = digest(main_src) + "/" + digest(bench_src)
    try:
        with open(stamp_file) as f:
            if f.read() == stamp:
                return main_out + os.pathsep + bench_out
    except OSError:
        pass
    t0 = time.time()
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    if not scalac(main_out, main_src, None):
        log("program compile failed")
        return None
    if not scalac(bench_out, bench_src, main_out):
        log("benchmark compile failed")
        return None
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log("built in %.1f s" % (time.time() - t0))
    return main_out + os.pathsep + bench_out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["dashboard", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)  # one compile at a time per checkout
        cp = build()
    if cp is None:
        return 2

    work_root = os.path.join(BUILD, "work")
    os.makedirs(work_root, exist_ok=True)
    leftovers = os.listdir(work_root)
    work = os.path.join(work_root, "%s-%d" % (a.workload, os.getpid()))
    os.makedirs(os.path.join(work, "tmp"))
    cpus = min(4, os.cpu_count() or 1)
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_CONF", None)
    env.update(SPARK_GRAFT_CPUS=str(cpus), SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    jvm = ["java"] + [x for o in ADD_OPENS for x in ("--add-opens", o)] + [
        "-Xms" + HEAP, "-Xmx" + HEAP,
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp + os.pathsep + os.path.join(SPARK_JARS, "*"),
        "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work,
        "--traces", os.path.join(BUILD, "traces")]
    timeout_s = 130 + 2 * a.seconds  # set-ups and checks, then the timed phase
    log_dir = os.path.join(BUILD, "logs")
    os.makedirs(log_dir, exist_ok=True)
    log_path = os.path.join(log_dir, "%s-seed%d-trace%d.log" % (a.workload, a.seed, a.trace))
    with open(log_path, "w") as err:  # the JVM's (Spark's) log, kept for diagnosis
        proc = subprocess.Popen(jvm, env=env, stdout=subprocess.PIPE, stderr=err,
                                text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        log("run exceeded %d s" % timeout_s)
        return 3
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    lines = out.splitlines()
    result = None
    if proc.returncode == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if result is None:
        sys.stdout.write("\n".join(l for l in lines if l.startswith("#")) + "\n")
        log("run failed (exit %d); JVM log: %s" % (proc.returncode, log_path))
        return 4
    for l in lines[:-1]:
        print(l)
    print("# scratch: work directory removed; %d left behind by earlier runs%s" % (
        len(leftovers), (": " + ", ".join(sorted(leftovers))) if leftovers else ""))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
