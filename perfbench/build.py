"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark runner (perfbench/src) with the Scala compiler that ships among
the Spark jars, into .bench_build/classes. Rebuilds only when a source
changed. No sbt, so nothing is written outside the checkout.

Usage: python3 perfbench/build.py   (from the root of a checkout)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD = ".bench_build"
CLASSES = os.path.join(BUILD, "classes")
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def read(path, mode="r"):
    with open(path, mode) as f:
        return f.read()


def jars_dir():
    """The Spark jars the engine builds against: build.sbt's unmanagedBase,
    else $SPARK_HOME/jars."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', read("build.sbt"))
    d = m.group(1) if m else os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not os.path.isdir(d):
        raise SystemExit(f"perfbench: Spark jars not found at {d}")
    return d


def classpath():
    return f"{CLASSES}:{jars_dir()}/*"


def java_opts():
    return [f for p in JDK_OPENS for f in ("--add-opens", f"{p}=ALL-UNNAMED")]


def _sources():
    out = []
    for root in ("src/main/scala", "perfbench/src"):
        for d, _, files in os.walk(root):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build():
    if not os.path.isdir("src/main/scala") or not os.path.isfile("build.sbt"):
        raise SystemExit("perfbench: run from the root of a checkout (src/main/scala missing)")
    srcs = _sources()
    h = hashlib.sha256()
    for f in srcs + ["build.sbt"]:
        h.update(f.encode())
        h.update(read(f, "rb"))
    stamp = os.path.join(BUILD, "classes.stamp")
    if os.path.exists(stamp) and read(stamp) == h.hexdigest():
        return
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    cmd = ["java", "-Xss16m", "-Xmx3g", "-XX:-UsePerfData", "-cp", f"{jars_dir()}/*",
           "scala.tools.nsc.Main", "-nowarn", "-classpath", f"{jars_dir()}/*", "-d", CLASSES] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit("perfbench: compilation failed")
    if os.path.isdir("src/main/resources"):
        shutil.copytree("src/main/resources", CLASSES, dirs_exist_ok=True)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())


if __name__ == "__main__":
    build()
