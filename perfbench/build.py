"""Build file of the benchmark: compile the program (src/main/scala) and
the benchmark (perfbench/src) into .bench_build/app.jar.

It uses the Scala compiler that ships among Spark's jars, so it needs no
sbt, no network and nothing outside the checkout but the JDK and Spark.
A stamp over every source file skips the compile when nothing changed.
A rebuild drops the class-data sharing archives (.bench_build/cds), which
are only valid for the jar they were recorded with.

    python3 perfbench/build.py      # from the root of a checkout
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

BUILD_DIR = ".bench_build"
SOURCE_ROOTS = ("src/main/scala", "perfbench/src")


def spark_jars():
    """Spark's jars: $SPARK_HOME/jars, else the jars directory of the first
    Spark distribution whose spark-submit is on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        f = os.path.join(d, "spark-submit")
        if os.path.isfile(f):
            homes.append(os.path.dirname(os.path.dirname(os.path.realpath(f))))
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if os.path.isdir(jars) and any(
                n.startswith("spark-core_") for n in os.listdir(jars)):
            return jars
    raise SystemExit("build: no Spark jars found; set SPARK_HOME")


def sources(root):
    found = []
    for top in SOURCE_ROOTS:
        base = os.path.join(root, top)
        if not os.path.isdir(base):
            raise SystemExit(f"build: missing source directory {top}")
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def stamp(root, files, jars):
    h = hashlib.sha256()
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    for f in files:
        h.update(os.path.relpath(f, root).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root="."):
    """Compile if needed; return (jar path, source stamp)."""
    root = os.path.abspath(root)
    jars = spark_jars()
    files = sources(root)
    digest = stamp(root, files, jars)
    out = os.path.join(root, BUILD_DIR, "app.jar")
    stamp_file = os.path.join(root, BUILD_DIR, "app.stamp")
    if os.path.exists(out) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == digest:
                return out, digest
    tmp = os.path.join(root, BUILD_DIR, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(root, BUILD_DIR, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp,
           "scala.tools.nsc.Main",
           "-nowarn", "-classpath", cp, "-d", tmp, "@" + argfile]
    res = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr,
                         timeout=800)
    if res.returncode != 0:
        raise SystemExit(f"build: scalac exited {res.returncode}")
    # class-data sharing archives only map classes from jars
    with zipfile.ZipFile(out + ".tmp", "w", zipfile.ZIP_DEFLATED) as z:
        for d, _, names in os.walk(tmp):
            for n in sorted(names):
                f = os.path.join(d, n)
                z.write(f, os.path.relpath(f, tmp))
    shutil.rmtree(tmp)
    shutil.rmtree(os.path.join(root, BUILD_DIR, "cds"), ignore_errors=True)
    os.replace(out + ".tmp", out)
    with open(stamp_file, "w") as fh:
        fh.write(digest + "\n")
    return out, digest


if __name__ == "__main__":
    print(build()[0])
