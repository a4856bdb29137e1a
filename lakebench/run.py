#!/usr/bin/env python3
"""Lake-path benchmark entry point.

Run from the repository root:

    python3 lakebench/run.py --workload bigcat_mixed --seed 1 --seconds 10 --trace 0

Builds the benchmark (its own sbt project under lakebench/, compiling the
library sources from src/main/scala) when the sources changed since the last
build, then runs graft.bench.LakeBench in one JVM. The last stdout line is
the result object; see lakebench/README.md.
"""
import argparse
import glob
import hashlib
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(HERE, "target")
CP_FILE = os.path.join(TARGET, "bench-classpath.txt")
STAMP_FILE = os.path.join(TARGET, "bench-stamp.txt")

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def source_stamp():
    """Hash of every build input's path, size and mtime."""
    h = hashlib.sha256()
    inputs = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (LIB_SRC, os.path.join(HERE, "src", "main")):
        for d, _, files in os.walk(base):
            inputs += [os.path.join(d, f) for f in files]
    for p in sorted(inputs):
        st = os.stat(p)
        h.update(f"{p}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(opts)
    if not env.get("SPARK_HOME"):
        # the first spark-submit on PATH that sits in a Spark install with
        # jars (a pip pyspark's launcher script does not)
        for d in env.get("PATH", "").split(os.pathsep):
            exe = os.path.join(d, "spark-submit")
            home = os.path.dirname(os.path.dirname(os.path.realpath(exe)))
            if os.path.isfile(exe) and glob.glob(os.path.join(home, "jars", "spark-sql_*.jar")):
                env["SPARK_HOME"] = home
                break
    return env


def build():
    stamp = source_stamp()
    if os.path.exists(CP_FILE) and os.path.exists(STAMP_FILE):
        with open(STAMP_FILE) as f:
            if f.read().strip() == stamp:
                with open(CP_FILE) as g:
                    return g.read().strip()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=840)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "scala-library" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        sys.exit("lakebench: build failed")
    cp = lines[-1].strip()
    os.makedirs(TARGET, exist_ok=True)
    with open(CP_FILE, "w") as f:
        f.write(cp)
    with open(STAMP_FILE, "w") as f:
        f.write(stamp)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(LIB_SRC, "graft", "api", "DuckLakeXLSpark.scala")):
        sys.exit(f"lakebench: library sources not found under {LIB_SRC}")
    cp = build()
    # a fixed-size heap: no resizing pauses inside the measured window
    cmd = ["java", "-Xms2g", "-Xmx2g"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-cp", cp, "graft.bench.LakeBench",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace,
            "--work", os.path.join(HERE, "work"), "--out", os.path.join(HERE, "out")]
    proc = subprocess.Popen(cmd, cwd=ROOT)
    try:
        code = proc.wait(timeout=170)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit("lakebench: run exceeded 170 s")
    sys.exit(code)


if __name__ == "__main__":
    main()
