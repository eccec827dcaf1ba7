"""Build file of the benchmark: compiles the engine's main sources together
with the harness under perfbench/src into one class directory.

The compiler is the Scala compiler that ships in Spark's own jars directory
(the same jars the engine's build.sbt compiles against), so the build needs
no dependency resolution. The output directory is keyed by a digest of every
compiled source, so an unchanged tree is never rebuilt.

    python3 perfbench/build.py        # prints the class directory
"""
import hashlib
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(ROOT, ".bench_build")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        raise SystemExit("perfbench: Spark jars not found; set SPARK_HOME")
    return jars


def sources():
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine):
        raise SystemExit(f"perfbench: engine sources missing ({engine})")
    found = []
    for base in (engine, os.path.join(HERE, "src")):
        for d, _, names in os.walk(base):
            found += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(found)


def source_digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Returns (class directory, source digest), compiling when needed."""
    jars = spark_jars()
    files = sources()
    digest = source_digest(files)
    classes = os.path.join(BUILD_DIR, "classes-" + digest)
    if os.path.isdir(classes):
        return classes, digest
    os.makedirs(BUILD_DIR, exist_ok=True)
    tmp = tempfile.mkdtemp(dir=BUILD_DIR, prefix="compiling-")
    try:
        argfile = os.path.join(tmp, "sources.txt")
        with open(argfile, "w") as fh:
            fh.write("\n".join(files))
        out = os.path.join(tmp, "classes")
        os.makedirs(out)
        cp = os.path.join(jars, "*")
        subprocess.run(
            ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
             "-nowarn", "-d", out, "-cp", cp, "@" + argfile],
            check=True, stdout=sys.stderr, timeout=800)
        os.rename(out, classes)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    for name in os.listdir(BUILD_DIR):
        if name.startswith("classes-") and name != os.path.basename(classes):
            shutil.rmtree(os.path.join(BUILD_DIR, name), ignore_errors=True)
    return classes, digest


if __name__ == "__main__":
    print(build()[0])
