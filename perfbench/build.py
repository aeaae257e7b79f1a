"""Build file of the benchmark package.

Compiles the engine's sources (`src/main/scala`) together with the
benchmark's own (`perfbench/src`) into `.bench_build/classes`, with the
Scala compiler that ships in the Spark distribution's `jars/` directory
(the same jars the engine runs on). A digest of every source file is kept
next to the classes, so a checkout compiles once and recompiles only when
a source changes.

    python3 perfbench/build.py        # build (no-op when up to date)
"""
import hashlib
import os
import shutil
import subprocess
import sys

SOURCE_DIRS = ["src/main/scala", "perfbench/src"]


def spark_jars():
    """The Spark distribution's jars directory: $SPARK_HOME/jars, else
    the one next to `spark-submit` on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        raise RuntimeError("Spark jars not found: set SPARK_HOME")
    return jars


def sources(root):
    files = []
    for d in SOURCE_DIRS:
        for dirpath, _, names in os.walk(os.path.join(root, d)):
            files += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def digest(root, files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def ensure(root):
    """Compile if needed; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(root, "src/main/scala")):
        raise RuntimeError("engine sources (src/main/scala) are missing")
    jars = spark_jars()
    out = os.path.join(root, ".bench_build", "classes")
    stamp = os.path.join(root, ".bench_build", "classes.sha256")
    files = sources(root)
    want = digest(root, files)
    have = open(stamp).read().strip() if os.path.exists(stamp) else None
    if have != want or not os.path.isdir(out):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        cp = os.path.join(jars, "*")
        print(f"[perfbench] compiling {len(files)} sources", file=sys.stderr, flush=True)
        subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-d", out, "-classpath", cp] + files,
                       check=True, stdout=sys.stderr, stderr=sys.stderr)
        with open(stamp, "w") as fh:
            fh.write(want + "\n")
    return out + os.pathsep + os.path.join(jars, "*")


if __name__ == "__main__":
    print(ensure(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))
