#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and the
benchmark from source with sbt (`perfbench/build.sbt`, which compiles the
repo-root build as a dependency); later runs reuse the classpath it
records under perfbench/target until a source file changes.

The JVM (perfbench.Main) runs the workload at local[4] and prints
`perfbench.*` lines; this script relays them and prints the result line:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1
(a traced run also prints its layers report, `perfbench.report`).
Everything the run writes stays under perfbench/.work and is removed
when it ends.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CLASSPATH = os.path.join(HERE, "target", "perfbench.classpath")
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("nightly_pipeline", "store_dml")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 175

# what spark-submit would pass for Spark 4 on JDK 17
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

UNITS = {  # by metric-name suffix, longest first
    "_per_s": "1/s", "_pct": "%", "_frac": "ratio", "_ratio": "ratio",
    "_mb": "MB", "_s": "s", "jobs": "count", "_compiles": "count",
    "_amp": "ratio", "versions": "count", "live_files": "count",
}


def unit_of(name):
    for suffix, unit in sorted(UNITS.items(), key=lambda kv: -len(kv[0])):
        if name.endswith(suffix):
            return unit
    raise ValueError(f"no unit for metric {name}")


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_child(cmd, timeout, **kw):
    """Run `cmd` to completion and return its stdout; kill it and fail
    on timeout or when this script is told to stop."""
    proc = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                            text=True, **kw)

    def stop(*_):
        proc.kill()
        proc.wait()
        fail("stopped")
    signal.signal(signal.SIGTERM, stop)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"{cmd[0]} did not finish within {timeout} s")
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_DFL)
    return proc.returncode, out


def newest_source_mtime():
    newest = 0.0
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
                os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        for d, dirs, files in os.walk(top):
            dirs[:] = [x for x in dirs if x != "target"]
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    for f in (os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        newest = max(newest, os.path.getmtime(f))
    return newest


def classpath():
    """Build with sbt unless the recorded classpath is newer than every
    source and build file; return the classpath."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main")):
        fail("the engine's sources (build.sbt, src/main) are not in this checkout")
    if os.path.isfile(CLASSPATH) and os.path.getmtime(CLASSPATH) > newest_source_mtime():
        with open(CLASSPATH) as f:
            return f.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "compile", "export Runtime/fullClasspath"]
    print("perfbench: building with sbt", file=sys.stderr, flush=True)
    try:
        code, out = run_child(cmd, BUILD_TIMEOUT_S, cwd=HERE, env=env,
                              stderr=subprocess.STDOUT)
    except OSError as e:
        fail(f"build failed: {e}")
    lines = out.splitlines()
    cps = [l for l in lines if ".jar" in l and os.pathsep in l and not l.startswith("[")]
    if code != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (sbt exit {code})")
    os.makedirs(os.path.dirname(CLASSPATH), exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(cps[-1])
    return cps[-1]


def run_jvm(cp, args, work):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # the engine's own JIT settings; the compiler threads are fixed at
    # start-up so that perfbench.Cpu can leave their CPU out
    cmd = ["java", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
           "-XX:-UseDynamicNumberOfCompilerThreads",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.hadoop.hadoop.tmp.dir={os.path.join(work, 'hadoop')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--trace", str(args.trace), "--work", work]
    code, out = run_child(cmd, RUN_TIMEOUT_S, cwd=HERE)
    if code != 0:
        fail(f"JVM exited with {code}")
    found = {}
    for line in out.splitlines():
        if line.startswith("perfbench."):
            key, _, payload = line.partition(" ")
            found[key] = json.loads(payload)
            print(line)
    if "perfbench.result" not in found:
        fail("JVM printed no result")
    return found


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    # accepted for the common interface; each workload measures a
    # fixed amount of work (see README.md)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    cp = classpath()
    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        found = run_jvm(cp, args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK)
        except OSError:
            pass

    res = found["perfbench.result"]
    values = found["perfbench.layers"] if args.trace else res["metrics"]
    metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in values.items()}
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    sys.exit(0 if res["correct"] else 1)


if __name__ == "__main__":
    main()
