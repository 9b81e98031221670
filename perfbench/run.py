"""Sync-and-query benchmark of the graft Spark ETL.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads:
  bulk_load     full initial sync of region -> nation -> customer -> orders
                through Pipeline.syncAllOnceV2 into a fresh Derby database
  trickle_sync  closed loop of ~500-row deltas, one Pipeline.syncOnceV2 each
  query_mix     Bench's 15 headline registry queries, each consumed to its
                full result, then Caches.release

Builds the program from source on first use (perfbench/build.py), runs the
workload in one JVM inside a fresh working directory under .bench_build/runs
and prints, as the last line of stdout, one JSON object with the output-check
verdict, the ops attempted and failed, and the end-to-end metrics
(--trace 0) or per-layer metrics (--trace 1). The traced run also writes
its spans to .bench_build/traces/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("bulk_load", "trickle_sync", "query_mix")
HEAP = "2g"
JVM_TIMEOUT_S = 170
GOLDEN = os.path.join(build.ROOT, "perfbench", "golden", "query_mix.tsv")
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def jvm(classes, run_dir, main, args, timeout):
    """Runs `main` in `run_dir`; returns (exit code, stdout text)."""
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    cp = classes + os.pathsep + build.classpath(build.spark_jars())
    # JIT compiler threads that live for the whole run, so that
    # perfbench.JitCpu can take their CPU out of the program's
    cmd = ["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:-UsePerfData", "-XX:-UseDynamicNumberOfCompilerThreads"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
    cmd += ["-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
            "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
            "-Dderby.system.home=" + run_dir,
            "-Dderby.stream.error.file=" + os.path.join(run_dir, "derby.log"),
            "-cp", cp, main] + args
    with open(os.path.join(run_dir, "jvm.err"), "w") as err:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE,
                                stderr=err, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.communicate()
            return -1, ""
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise
    return proc.returncode, out.decode(errors="replace")


def fresh_dir(kind, name):
    d = os.path.join(build.OUT, kind, name)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    return d


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    try:
        classes = build.build()
    except build.BuildError as e:
        sys.exit("perfbench: %s" % e)

    tag = "%s-seed%d-trace%d-pid%d" % (a.workload, a.seed, a.trace, os.getpid())
    run_dir = fresh_dir("runs", tag)
    out = os.path.join(run_dir, "result.json")
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--out", out, "--golden", GOLDEN]
    if a.trace:
        os.makedirs(os.path.join(build.OUT, "traces"), exist_ok=True)
        args += ["--spans", os.path.join(build.OUT, "traces", tag + ".jsonl")]
    try:
        code, stdout = jvm(classes, run_dir, "perfbench.Main", args, JVM_TIMEOUT_S)
        sys.stderr.write(stdout)
        if code != 0 or not os.path.exists(out):
            with open(os.path.join(run_dir, "jvm.err")) as fh:
                sys.stderr.write(fh.read()[-3000:])
            sys.exit("perfbench: run failed (exit %s)" % code)
        with open(out) as fh:
            result = json.load(fh)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.exit("perfbench: malformed result")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
