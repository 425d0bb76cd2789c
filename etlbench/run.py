#!/usr/bin/env python3
"""Run one etlbench workload from the root of a source checkout.

    python3 etlbench/run.py --workload ingest|lake --seed N --seconds S --trace 0|1

Builds the library and the harness from source with sbt (once per
checkout, again whenever a source file changes), then runs the harness
JVM. Everything the run writes goes under etlbench/.work/<run>, which is
removed at exit; the one results file lands in etlbench/results/. The
last line of stdout is the harness's JSON result. Any failure to build
or run exits non-zero without printing a result.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
STAMP = os.path.join(BENCH, "target", "etlbench.stamp")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 175
# Offline sbt; no sbt server (its socket would go to the system temp
# dir) and no JVM perf-data file (also there), so a build writes only to
# the checkout and sbt's own caches.
SBT_OPTS = ("-Dsbt.override.build.repos=true -Dsbt.repository.config={home}/.sbt/repositories "
            "-Dsbt.offline=true -Dsbt.server.autostart=false -XX:-UsePerfData -Xmx2g")
# Spark 4 on JDK 17 needs these outside spark-submit (see build.sbt).
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"etlbench: {msg}", file=sys.stderr, flush=True)


def spark_home():
    """The local Spark install: $SPARK_HOME, else the first spark-submit on
    PATH that sits in a Spark distribution (bin/ next to jars/)."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    return next((h for h in homes if h and os.path.isdir(os.path.join(h, "jars"))), None)


def source_stamp():
    """Hash of every input to the build: library and harness sources."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        log(f"no library sources under {ROOT}/src/main/scala")
        return False
    stamp = source_stamp()
    if os.path.isfile(STAMP) and open(STAMP).read() == stamp and os.path.isdir(CLASSES):
        return True
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home(),
               SBT_OPTS=SBT_OPTS.format(home=os.path.expanduser("~")))
    log("building with sbt (first run in this checkout, or sources changed)")
    try:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                           cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
                           stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        log(f"build failed: {e}")
        return False
    if r.returncode != 0:
        log(f"build failed: sbt exited {r.returncode}")
        return False
    with open(STAMP, "w") as f:
        f.write(stamp)
    return True


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["ingest", "lake"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    ap.add_argument("--record", help="write lake reference digests to this file")
    args = ap.parse_args()

    if not spark_home():
        log("no Spark install: set SPARK_HOME or put spark-submit on PATH")
        return 3
    if not build():
        return 3
    work = os.path.join(BENCH, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # The harness JVM sees half the host's CPUs: Spark's task threads, the
    # origin's threads and the JVM's own GC and JIT threads all size to
    # it. The other half absorbs CPU time taken by the hypervisor or by
    # other processes, so a stage does not wait on a stalled CPU. On a
    # 4-CPU VM, one busy-looping process beside the run slowed an ingest
    # cycle by 37% when the JVM used all 4 CPUs and by 5% when it used 2.
    host_cpus = len(os.sched_getaffinity(0))
    cpus = max(1, host_cpus // 2)
    # A fixed-size heap with a fixed young generation and no adaptive
    # resizing, so the process high-water RSS follows the workload, not
    # the collector's sizing decisions.
    cmd = (["java", f"-XX:ActiveProcessorCount={cpus}", "-XX:+UseParallelGC",
            "-Xms2g", "-Xmx2g", "-Xmn768m",
            "-XX:-UseAdaptiveSizePolicy", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-cp", f"{CLASSES}:{os.path.join(spark_home(), 'jars')}/*", "etlbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", args.trace, "--nproc", str(host_cpus),
              "--work", work, "--results", os.path.join(BENCH, "results"),
              "--data", os.path.join(BENCH, "data", "sf0.01")]
           + (["--record", os.path.abspath(args.record)] if args.record else []))
    last = None
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir: keep both in work/
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True, start_new_session=True)
    try:
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.communicate()
            log(f"run exceeded {RUN_TIMEOUT_S} s and was killed")
            return 4
        lines = out.splitlines()
        for line in lines[:-1]:
            print(line)
        last = lines[-1] if lines else None
        if proc.returncode != 0 or not last or not last.startswith("{"):
            if last and not last.startswith("{"):
                print(last)
            log(f"harness exited {proc.returncode} without a result")
            return proc.returncode or 5
        print(last, flush=True)
        return 0
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.join(BENCH, ".work"))
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
