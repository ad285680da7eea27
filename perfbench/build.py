"""Build file of the benchmark harness.

Compiles the program's sources (`src/main/scala`) together with the
harness (`perfbench/harness/src`) with the Scala compiler that ships in the
Spark distribution, so a bare checkout builds with no dependency resolution.
Output goes to `.bench_build/classes-<source hash>`; an unchanged tree is not
rebuilt.

    python3 perfbench/build.py        # prints the classes directory
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(ROOT, ".bench_build")


def spark_jars():
    """The Spark distribution's jars: `$SPARK_HOME`, else the one whose
    `spark-submit` is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise RuntimeError(f"no Spark distribution with a Scala compiler at {jars}")
    return os.path.join(jars, "*")


def sources():
    found = []
    for base in (os.path.join(ROOT, "src", "main", "scala"),
                 os.path.join(HERE, "harness", "src")):
        found += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    if not any(f.startswith(os.path.join(ROOT, "src")) for f in found):
        raise RuntimeError("program sources not found under src/main/scala")
    return sorted(found)


def build():
    """Return the classes directory, compiling first if needed."""
    srcs = sources()
    digest = hashlib.sha256()
    for f in srcs:
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    out = os.path.join(BUILD_DIR, "classes-" + digest.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    tmp = out + f".tmp{os.getpid()}"
    os.makedirs(tmp)
    try:
        jars = spark_jars()
        cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
               "-nowarn", "-d", tmp, "-classpath", jars] + srcs
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                              stderr=subprocess.STDOUT, text=True)
        if proc.returncode != 0:
            raise RuntimeError("compilation failed:\n" + proc.stdout[-4000:])
        os.rename(tmp, out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    for old in glob.glob(os.path.join(BUILD_DIR, "classes-*")):
        if old != out:
            shutil.rmtree(old, ignore_errors=True)
    return out


if __name__ == "__main__":
    try:
        print(build())
    except RuntimeError as e:
        print(e, file=sys.stderr)
        sys.exit(1)
