"""Runs the benchmark's own tests (perfbench.SelfTest): generator state
against a brute-force latest-wins, endpoint paging, the percentile rule
and error accounting.

    python3 perfbench/selftest.py
"""
import os
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

if __name__ == "__main__":
    try:
        classes = build.build()
    except build.BuildError as e:
        sys.exit("selftest: %s" % e)
    cp = classes + os.pathsep + build.classpath(build.spark_jars())
    sys.exit(subprocess.call(["java", "-Xmx512m", "-XX:-UsePerfData", "-cp", cp, "perfbench.SelfTest"]))
