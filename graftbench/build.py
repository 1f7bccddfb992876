"""Build file of the benchmark: compiles the program (`src/main/scala`) and
the benchmark's own Scala sources (`graftbench/scala`) with the Scala
compiler that ships in Spark's jar directory, into a directory keyed by a
digest of every source file. A second call with unchanged sources is a
no-op.

    python3 graftbench/build.py          # prints the classes directory
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(BENCH_DIR, "scala")


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "graftbench")


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the `unmanagedBase`
    the project's own build.sbt compiles against."""
    dirs = []
    if os.environ.get("SPARK_HOME"):
        dirs.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if m:
            dirs.append(m.group(1))
    for d in dirs:
        if glob.glob(os.path.join(d, "scala-compiler-*.jar")):
            return d
    raise SystemExit("graftbench: no Spark jar directory with a Scala compiler "
                     "(set SPARK_HOME)")


def sources():
    if not os.path.isdir(PROGRAM_SRC):
        raise SystemExit(f"graftbench: program sources not found under {PROGRAM_SRC}")
    files = sorted(glob.glob(os.path.join(PROGRAM_SRC, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(BENCH_SRC, "*.scala")))
    return files


def build():
    """Compile if needed; return the classes directory."""
    jars = spark_jars()
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    out = os.path.join(build_dir(), "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".complete")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = os.pathsep.join(sorted(
        glob.glob(os.path.join(jars, "scala-compiler-*.jar")) +
        glob.glob(os.path.join(jars, "scala-library-*.jar")) +
        glob.glob(os.path.join(jars, "scala-reflect-*.jar"))))
    argfile = os.path.join(build_dir(), "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", compiler,
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.path.join(jars, "*"),
           "-d", tmp, "@" + argfile]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-4000:])
        raise SystemExit("graftbench: compilation failed")
    open(os.path.join(tmp, ".complete"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    for old in glob.glob(os.path.join(build_dir(), "classes-*")):
        if old != out:
            shutil.rmtree(old, ignore_errors=True)
    return out


if __name__ == "__main__":
    print(build())
