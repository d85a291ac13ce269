#!/usr/bin/env python3
"""Run one workload of the fintx benchmark and print its result.

Usage, from the root of a fintx checkout:

    python3 perfbench/run.py --workload ingest|dashboard --seed N \
        --seconds S --trace 0|1 [--cores 4] [--trace-out FILE]

The first run in a checkout compiles the benchmark together with the
program's sources (sbt, offline); later runs reuse that build until a
source file changes. Each run works in a fresh directory under
`.bench_run/` in the checkout and removes it on exit. The last line of
standard output is the JSON result; a human summary goes to standard
error. See perfbench/README.md.
"""

import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORKLOADS = ("ingest", "dashboard")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """The Spark jars directory the program compiles against: SPARK_HOME,
    else the `unmanagedBase` the program's own build.sbt names."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    build = os.path.join(ROOT, "build.sbt")
    if os.path.exists(build):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(build).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    fail("no Spark jars found (set SPARK_HOME)")


def sources():
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")):
        for d, _, files in os.walk(top):
            for f in files:
                yield os.path.join(d, f)
    yield os.path.join(BENCH, "build.sbt")
    yield os.path.join(BENCH, "project", "build.properties")


def build(jars):
    """Compile unless the sources are unchanged since the last build."""
    h = hashlib.sha256()
    for p in sorted(sources()):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(BENCH, "target", "fintx-build.stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return
    env = dict(os.environ, FINTX_BENCH_SPARK_JARS=jars)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], cwd=BENCH,
                       env=env, stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        fail("build failed", 1)
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--cores", type=int, default=4)
    ap.add_argument("--trace-out", help="also write every span, one JSON line each")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail(f"run from the root of a fintx checkout (no src/main/scala under {ROOT})")

    jars = spark_jars()
    build(jars)

    run = os.path.join(ROOT, ".bench_run", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run, ignore_errors=True)
    os.makedirs(os.path.join(run, "tmp"))
    out = os.path.join(run, "result.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java, "-Xmx3g", "-XX:ReservedCodeCacheSize=1g",
           f"-Djava.io.tmpdir={os.path.join(run, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.path.join(BENCH, "target", "scala-2.13", "classes") + os.pathsep +
            os.path.join(jars, "*"),
            "fintxbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--cores", str(a.cores),
            "--work", run, "--out", out]
    if a.trace_out:
        cmd += ["--trace-out", os.path.abspath(a.trace_out)]
    proc = None
    try:
        proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, start_new_session=True)
        code = proc.wait(timeout=RUN_TIMEOUT_S)
        if code != 0 or not os.path.exists(out):
            fail(f"benchmark JVM exited with {code}", 1)
        res = json.load(open(out))
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 1)
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(run, ignore_errors=True)
        try:
            os.rmdir(os.path.join(ROOT, ".bench_run"))
        except OSError:
            pass

    for k, v in res["detail"].items():
        print(f"  {k:40s} {v}", file=sys.stderr)
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
