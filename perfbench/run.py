#!/usr/bin/env python3
"""Runs one graft benchmark workload and prints its result.

    python3 perfbench/run.py --workload sql_interactive --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the engine and the
benchmark from source (sbt, offline) and generates the tables with the
engine's own generator; both are kept under perfbench/.work and reused
while the sources are unchanged. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}.

    python3 perfbench/run.py --freeze [name regex]

re-records the reference files in perfbench/frozen from the current
engine (see perfbench/README.md before doing that).
"""
import argparse
import glob
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
ENGINE_SRC = os.path.join(ROOT, "src", "main")
WORKLOADS = ("sql_interactive", "batch_sf01", "stream_ingest")
# A run at the default --seconds 10 must end within 175 s. Every second
# beyond that buys about one more second of timed rounds, and a traced
# run puts an untraced round before each traced one.
BASE_DEADLINE_S = 175


def deadline_s(seconds, trace):
    return BASE_DEADLINE_S + max(0, seconds - 10) * 2 * (2 if trace else 1)

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


def source_stamp():
    """Hash of every file the build reads."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r)
            if "target" not in d.split(os.sep) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def sbt_env():
    """Offline sbt, and SPARK_HOME for build.sbt: taken from the
    environment, else from the spark-submit on PATH."""
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                       f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx2g")
    if not env.get("SPARK_HOME"):
        # the first spark-submit on PATH that sits in a Spark installation
        # (wrappers such as a Python package's spark-submit have no jars/)
        homes = [os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
                 for d in env.get("PATH", "").split(os.pathsep)
                 if os.path.isfile(os.path.join(d, "spark-submit"))]
        homes = [h for h in homes if glob.glob(os.path.join(h, "jars", "spark-core_*.jar"))]
        if not homes:
            fail("Spark not found: set SPARK_HOME or put Spark's bin/ on PATH")
        env["SPARK_HOME"] = homes[0]
    return env


def build():
    """Compiles engine + benchmark once per source state; returns the classpath."""
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp_file = os.path.join(WORK, "build.stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(WORK, exist_ok=True)
    log = os.path.join(WORK, "build.log")
    if os.path.exists(log):
        os.remove(log)
    rc, _ = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                       "export Runtime/fullClasspath"],
                      800, "build.log", cwd=HERE, env=sbt_env())
    with open(log) as f:
        lines = f.read().splitlines()
    if rc != 0 or not lines:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (log: {log})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def java_cmd(cp, main, args, heap="3g"):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # a fixed heap: a heap that grows as the run goes sizes itself
    # differently from run to run, and the timed rounds follow it. The
    # whole heap is touched at start: a virtual machine may hand the memory
    # a process frees back to its host, and the first touch of each page
    # then costs a host page fault, which is charged to the thread as CPU
    # time at a price that follows the host's load. A fixed set of JIT
    # threads: the CPU time of the JIT is taken out of cpu_ms_per_op, which
    # needs every JIT thread alive to the end.
    return (["java"] + opens +
            [f"-Xms{heap}", f"-Xmx{heap}", "-XX:+AlwaysPreTouch",
             "-XX:-UseDynamicNumberOfCompilerThreads",
             f"-Djava.io.tmpdir={tmp}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
             "-cp", cp, main] + args)


def run_group(cmd, timeout, log_name, stdout=None, cwd=WORK, env=None):
    """Runs `cmd` in its own process group, appending stderr (and stdout,
    unless piped) to .work/<log_name>; kills the whole group on timeout."""
    with open(os.path.join(WORK, log_name), "a") as log:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout or log, stderr=log,
                             stdin=subprocess.DEVNULL, start_new_session=True,
                             text=True)
        try:
            out, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"{os.path.basename(cmd[0])} timed out after {timeout:.0f} s")
    return p.returncode, out


def run_java(cmd, timeout, stdout=None):
    return run_group(cmd, timeout, "java.log", stdout)


def ensure_tables(cp):
    data = os.path.join(WORK, "data")
    if os.path.isdir(data):
        return
    # generate elsewhere and rename, so an interrupted run leaves no half tables
    gen_work = os.path.join(WORK, "gen")
    shutil.rmtree(gen_work, ignore_errors=True)
    rc, _ = run_java(java_cmd(cp, "perfbench.GenTables", [gen_work]), 600)
    if rc != 0:
        fail("table generation failed (see perfbench/.work/java.log)")
    os.rename(os.path.join(gen_work, "data"), data)
    shutil.rmtree(gen_work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--freeze", nargs="?", const="", default=None)
    a = ap.parse_args()
    if a.freeze is None and a.workload is None:
        ap.error("--workload is required")
    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala", "graft")):
        fail(f"engine sources not found under {ENGINE_SRC}")
    cp = build()
    ensure_tables(cp)
    if a.freeze is not None:
        args = [WORK, os.path.join(HERE, "frozen")] + ([a.freeze] if a.freeze else [])
        rc, _ = run_java(java_cmd(cp, "perfbench.Freeze", args), 3600)
        sys.exit(rc)
    t0 = time.time()
    rc, out = run_java(
        java_cmd(cp, "perfbench.Main",
                 [WORK, HERE, a.workload, str(a.seed), str(a.seconds), str(a.trace)]),
        deadline_s(a.seconds, a.trace), stdout=subprocess.PIPE)
    lines = [l for l in out.splitlines() if l.strip()]
    result = lines[-1] if lines and lines[-1].startswith('{"correct"') else None
    for l in lines[:-1] if result else lines:
        print(l)
    if rc != 0 or result is None:
        fail(f"workload {a.workload} failed (exit {rc}, {time.time() - t0:.0f} s; "
             "see perfbench/.work/java.log)")
    print(result)


if __name__ == "__main__":
    main()
