#!/usr/bin/env python3
"""Run one benchmark workload against the library in this checkout.

Usage (from the repository root):

    python3 perfbench/run.py --workload tiling --seed 1 --seconds 3 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 3

Builds the benchmark (and with it the library) from source on first use,
then runs the workload in a fresh JVM with fixed flags. The last line of
standard output is the result object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
`--workload all` runs every workload BENCHMARK.json lists, one JVM each,
prints each metric by name with its unit, and exits non-zero unless every
output check passed. Everything a run writes stays under perfbench/ in
this checkout.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
CLASSPATH = os.path.join(TARGET, "perfbench.classpath")
CDS_ARCHIVE = os.path.join(TARGET, "perfbench.jsa")
WORKLOADS = ("tiling", "raster", "graph", "joins")
# sbt, the training run and the first workload run together stay under
# the 900 s a first run in a fresh checkout may take
SBT_TIMEOUT_S = 420
TRAIN_TIMEOUT_S = 240
RUN_TIMEOUT_S = 170

# Fixed JVM flags for every run. The add-opens list is what Spark's
# launcher passes on JDK 17. JVM log output goes to stderr so stdout
# carries only the benchmark's lines.
JVM_FLAGS = [
    "-Xms2g", "-Xmx4g", "-XX:+UseG1GC", "-XX:ActiveProcessorCount=4",
    "-Xlog:all=warning:stderr",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    "-Dlog4j2.configurationFile=" + os.path.join(BENCH, "log4j2.properties"),
] + [arg for pkg in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for arg in ("--add-opens", pkg + "=ALL-UNNAMED")]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def newest_source_mtime():
    newest = 0.0
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
                os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")):
        if os.path.isfile(top):
            newest = max(newest, os.path.getmtime(top))
        for d, _, files in os.walk(top):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def run_group(cmd, timeout, **kw):
    """Run a child in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        fail(f"{cmd[0]} exceeded {timeout} s")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out


def build():
    """Compile and package the benchmark and the library, then record a
    class-data-sharing archive from a training run, so every measured JVM
    starts from the same pre-parsed classes. Caches the runtime classpath."""
    for need in (os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main", "scala")):
        if not os.path.exists(need):
            fail(f"library sources not found next to the benchmark ({need})")
    if os.path.exists(CLASSPATH) and os.path.getmtime(CLASSPATH) >= newest_source_mtime():
        with open(CLASSPATH) as f:
            return f.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = opts.strip()
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "compile", "export Runtime/fullClasspathAsJars"]
    rc, out = run_group(cmd, SBT_TIMEOUT_S, cwd=BENCH, env=env,
                        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    sys.stderr.write(out[-2000:])
    lines = [ln for ln in out.splitlines() if ln and not ln.startswith("[")]
    if rc != 0 or not lines:
        fail(f"build failed (exit {rc})")
    cp = lines[-1].strip()
    if os.path.exists(CDS_ARCHIVE):
        os.remove(CDS_ARCHIVE)
    work = os.path.join(BENCH, "work", f"train-{os.getpid()}")
    try:
        rc, _ = jvm(cp, ["-XX:ArchiveClassesAtExit=" + CDS_ARCHIVE],
                    ["perfbench.Train", work] + listed_workloads(), work, TRAIN_TIMEOUT_S,
                    stdout=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not os.path.exists(CDS_ARCHIVE):
        fail(f"class-data-sharing training run failed (exit {rc})")
    with open(CLASSPATH, "w") as f:
        f.write(cp)
    return cp


def jvm(cp, extra, args, work, timeout, **kw):
    """Run one benchmark JVM with the fixed flags and a scratch dir `work`."""
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "_JAVA_OPTIONS",
                                                             "JAVA_TOOL_OPTIONS", "JDK_JAVA_OPTIONS")}
    cmd = [java] + JVM_FLAGS + extra + ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"), "-cp", cp] + args
    return run_group(cmd, timeout, cwd=ROOT, env=env, text=True, **kw)


def run_workload(cp, workload, seed, seconds, trace):
    """One workload in a fresh JVM; prints its detail line, returns the result."""
    work = os.path.join(BENCH, "work", f"{workload}-{os.getpid()}")
    out_dir = os.path.join(BENCH, "out")
    t0 = time.time()
    try:
        rc, out = jvm(cp, ["-XX:SharedArchiveFile=" + CDS_ARCHIVE],
                      ["perfbench.Main", workload, str(seed), str(seconds), str(trace),
                       work, out_dir], work, RUN_TIMEOUT_S, stdout=subprocess.PIPE)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    results = [ln[len("RESULT "):] for ln in out.splitlines() if ln.startswith("RESULT ")]
    if rc != 0 or not results:
        fail(f"{workload}: JVM exited with {rc} and no result")
    for ln in out.splitlines():
        if not ln.startswith("RESULT "):
            print(ln)
    print(f"perfbench: {workload} seed {seed} took {time.time() - t0:.1f} s", file=sys.stderr)
    return json.loads(results[-1])


def listed_workloads():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [w["name"] for w in json.load(f)["workloads"]]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = build()
    if a.workload != "all":
        result = run_workload(cp, a.workload, a.seed, a.seconds, a.trace)
        print(json.dumps(result, sort_keys=True))
        return
    results = {w: run_workload(cp, w, a.seed, a.seconds, a.trace) for w in listed_workloads()}
    for w, r in results.items():
        print(f"{w}: correct={r['correct']} attempted={r['attempted']} failed={r['failed']}")
        for name, m in sorted(r["metrics"].items()):
            print(f"  {name} = {m['value']:.6g} {m['unit']}")
    print(json.dumps(results, sort_keys=True))
    if not all(r["correct"] for r in results.values()):
        sys.exit(1)


if __name__ == "__main__":
    main()
