"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark's JVM half (perfbench/scala) with the Scala compiler that
ships in Spark's jar directory, into .bench_build/classes.

The build is skipped when a stamp over every source file's path and
content matches the last successful build. Run from the repository root:

    python3 perfbench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys

BUILD = ".bench_build"
SOURCE_DIRS = ["src/main/scala", "perfbench/scala"]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not os.path.isdir(jars):
        sys.exit("perfbench: no Spark installation found (set SPARK_HOME)")
    return jars


def sources():
    out = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            sys.exit(f"perfbench: missing source directory {d}; run from the repository root")
        for root, _, files in os.walk(d):
            out += [os.path.join(root, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build():
    """Returns the runtime classpath, compiling first when sources changed."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp_path = os.path.join(BUILD, "classes.stamp")
    classes = os.path.join(BUILD, "classes")
    classpath = f"{classes}{os.pathsep}{jars}/*"
    if os.path.exists(stamp_path) and open(stamp_path).read() == h.hexdigest():
        return classpath
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-classpath", f"{jars}/*"] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        sys.exit("perfbench: build failed")
    with open(stamp_path, "w") as f:
        f.write(h.hexdigest())
    return classpath


if __name__ == "__main__":
    print(build())
