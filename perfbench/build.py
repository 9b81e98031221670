"""Build file of the benchmark.

Compiles the program (``src/main/scala`` plus ``src/main/resources``) and
the benchmark's own sources (``perfbench/src``) with the Scala compiler
that ships in the Spark distribution, into ``.bench_build/classes`` of
the checkout. A content hash of every input is kept next to the classes;
the compile is skipped while it matches.

    python3 perfbench/build.py        # build (or confirm up to date)
"""
import fcntl
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
PROGRAM_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")


class BuildError(Exception):
    pass


def spark_jars():
    """Jar directory of the Spark distribution: $SPARK_HOME/jars, else
    the one next to ``spark-submit`` on the PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError("no Spark distribution found (set SPARK_HOME)")
    return jars


def classpath(jars):
    return os.pathsep.join(sorted(glob.glob(os.path.join(jars, "*.jar"))))


def _files(top, suffix=""):
    found = []
    for d, _, names in os.walk(top):
        found += [os.path.join(d, n) for n in names if n.endswith(suffix)]
    return sorted(found)


def build():
    """Compiles if any input changed; returns the classes directory."""
    if not os.path.isdir(PROGRAM_SRC):
        raise BuildError("program sources not found: %s" % PROGRAM_SRC)
    jars = spark_jars()
    sources = _files(PROGRAM_SRC, ".scala") + _files(BENCH_SRC, ".scala")
    resources = _files(PROGRAM_RES) if os.path.isdir(PROGRAM_RES) else []
    digest = hashlib.sha256(jars.encode())
    for f in sources + resources:
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(hashlib.sha256(fh.read()).digest())
    stamp = digest.hexdigest()
    stamp_file = os.path.join(OUT, "classes.stamp")
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.isdir(CLASSES) and os.path.exists(stamp_file):
            with open(stamp_file) as fh:
                if fh.read().strip() == stamp:
                    return CLASSES
        staging = CLASSES + ".new"
        shutil.rmtree(staging, ignore_errors=True)
        os.makedirs(staging)
        argfile = os.path.join(OUT, "sources.txt")
        with open(argfile, "w") as fh:
            fh.write("\n".join(sources) + "\n")
        cp = classpath(jars)
        cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
               "-nowarn", "-d", staging, "-classpath", cp, "@" + argfile]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
        if proc.returncode != 0:
            sys.stderr.write(proc.stdout.decode(errors="replace")[-4000:])
            raise BuildError("compile failed")
        for f in resources:
            dst = os.path.join(staging, os.path.relpath(f, PROGRAM_RES))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copyfile(f, dst)
        shutil.rmtree(CLASSES, ignore_errors=True)
        os.rename(staging, CLASSES)
        with open(stamp_file, "w") as fh:
            fh.write(stamp + "\n")
    return CLASSES


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit("build: %s" % e)
