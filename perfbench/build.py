#!/usr/bin/env python3
"""Build file of the benchmark: compiles the graft program (src/main/scala)
and the benchmark harness (perfbench/harness) with the Scala compiler that
ships in the Spark distribution, into .bench_build/ of the checkout.

    python3 perfbench/build.py

A build is skipped when the sources' digest matches the last build's.
Prints the runtime classpath on success.
"""
import glob
import hashlib
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def _spark_home():
    """SPARK_HOME, else the first installation on PATH whose spark-submit
    sits next to a jars directory."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
        if os.path.isfile(submit) and os.path.isdir(os.path.join(home, "jars")):
            return home
    return ""


SPARK_JARS = os.path.join(_spark_home(), "jars")


def sources(rel):
    return sorted(glob.glob(os.path.join(ROOT, rel, "**", "*.scala"), recursive=True))


def _digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def _compile(name, files, classpath):
    dest = os.path.join(OUT, name)
    stamp = os.path.join(OUT, name + ".stamp")
    digest = _digest(files)
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return dest
    subprocess.run(["rm", "-rf", dest], check=True)
    os.makedirs(dest)
    args = os.path.join(OUT, name + ".args")
    with open(args, "w") as f:
        f.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(SPARK_JARS, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", classpath, "-d", dest, "@" + args]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout)
        raise SystemExit(f"compiling {name} failed")
    with open(stamp, "w") as f:
        f.write(digest)
    return dest


def build():
    """Compile what changed; return the runtime classpath."""
    program = sources("src/main/scala")
    if not program:
        raise SystemExit("no program sources under src/main/scala")
    if not os.path.isdir(SPARK_JARS):
        raise SystemExit(f"no Spark jars at {SPARK_JARS}")
    os.makedirs(OUT, exist_ok=True)
    jars = os.path.join(SPARK_JARS, "*")
    prog = _compile("program", program, jars)
    harness = _compile("harness", sources("perfbench/harness"), prog + os.pathsep + jars)
    return os.pathsep.join([harness, prog, jars])


if __name__ == "__main__":
    print(build())
