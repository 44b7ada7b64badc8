#!/usr/bin/env python3
"""graft CDC benchmark launcher.

Builds the benchmark harness (graft's main sources plus perfbench/src) with
sbt, offline, whenever those sources differ from the last build's, then
starts the benchmark JVM directly on the exported classpath, so neither sbt
start-up nor a build is part of any measurement.

    python3 perfbench/run.py --workload cdc_backlog --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. Everything it writes goes under
`.bench_build/` in that checkout. The last line of standard output is the
result JSON; the line before it records the run environment.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("cdc_backlog", "cdc_live")
DEADLINE_S = 170
BUILD_TIMEOUT_S = 840
JAVA_OPENS = [
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
    sys.exit(2)


def spark_jars():
    """The Spark distribution's jars dir, the root build's unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    return os.path.join(home, "jars") if home else None


def preflight():
    src = os.path.join(ROOT, "src", "main", "scala", "graft")
    if not os.path.isdir(src):
        fail(f"graft sources not found at {src}; run from a full checkout")
    jars = spark_jars()
    if jars is None or not os.path.isdir(jars):
        fail("Spark jars not found: set SPARK_HOME to a Spark distribution"
             + ("" if jars is None else f" ({jars} is missing)"))
    if shutil.which("java") is None:
        fail("java not found on PATH")
    return jars


def source_key(jars):
    """Hash of everything the build reads: graft's main sources and
    resources, the harness's sources and build files, and the jars dir's
    path."""
    h = hashlib.sha256(jars.encode())
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for dirpath, dirnames, names in os.walk(base):
            dirnames.sort()
            files += [os.path.join(dirpath, n) for n in sorted(names)]
    for f in files:
        h.update(b"\0" + os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(build_dir, jars):
    """Compile when the sources differ from the last build's; otherwise
    reuse its exported classpath. sbt compiles incrementally, so a rebuild
    after a small change is quick."""
    cp_file = os.path.join(build_dir, "classpath.txt")
    key = source_key(jars)
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            built_key, _, cp = f.read().partition("\n")
        cp = cp.strip()
        if built_key == key and cp and all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH; it is needed to build the harness")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx4g")
    log = os.path.join(build_dir, "build.log")
    with open(log, "w") as out:
        rc = subprocess.call(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", f"-Dperfbench.spark.jars={jars}",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    with open(log) as f:
        lines = f.read().splitlines()
    cps = [l for l in lines if os.sep + "classes" in l and ":" in l and not l.startswith("[")]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (sbt exit {rc}); full log in {log}")
    tmp = cp_file + ".tmp"
    with open(tmp, "w") as f:
        f.write(key + "\n" + cps[-1])
    os.replace(tmp, cp_file)
    return cps[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs and warm-up, for a seconds-long end-to-end check")
    args = ap.parse_args()
    jars = preflight()

    build_dir = os.path.join(os.getcwd(), ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    classpath = build(build_dir, jars)
    # the deadline covers the run, not a first run's build
    started = time.monotonic()

    work = os.path.join(build_dir, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "scratch"):
        os.makedirs(os.path.join(work, d))
    env = dict(os.environ)
    # SPARK_LOCAL_DIRS would override spark.local.dir; the run pins its own
    env.pop("SPARK_LOCAL_DIRS", None)
    env["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    env["SPARK_GRAFT_SCRATCH_DIR"] = os.path.join(work, "scratch")
    # A fixed, pre-touched heap keeps heap growth out of the timings; the
    # harness reports the heap the program keeps, not the resident set.
    # Compiler threads that live as long as the JVM let the harness
    # subtract JIT CPU from the work CPU it reports.
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch", "-XX:+UseG1GC",
           "-XX:-UseDynamicNumberOfCompilerThreads",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work]
    if args.smoke:
        cmd.append("--smoke")

    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(10, DEADLINE_S - (time.monotonic() - started)))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"benchmark JVM did not finish within {DEADLINE_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not lines or '"correct"' not in lines[-1]:
        fail(f"benchmark JVM exited {proc.returncode} without a result")
    for l in lines[-2:]:
        print(l)
    return 0


if __name__ == "__main__":
    sys.exit(main())
