#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: graph-analytics, rest-lifecycle, doc-dedup (see BENCHMARK.json
for why each was chosen). The first run in a checkout builds the library
and the benchmark from source (perfbench/build.py). The run itself is one
JVM on local[<all cores>] with a fixed 3 GB heap; everything it writes goes
to perfbench/.work/<workload>-<pid>/, which is removed afterwards.

The last line of standard output is the result object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {name: {"value", "unit"}}}
with the end-to-end metrics when --trace 0 and the per-layer metrics when
--trace 1. Any failure to build or run exits non-zero without a result.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("graph-analytics", "rest-lifecycle", "doc-dedup")
HEAP = "3g"
# a run must finish within 180 s; keep a margin for JVM teardown and cleanup
RUN_LIMIT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def parse():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    return p.parse_args()


def main():
    args = parse()
    try:
        classes = build.ensure_built()
        jars = build.spark_jars()
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 1
    start = time.monotonic()
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    cmd = [build.java(), f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss8m", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    env.pop("LOCAL_DIRS", None)
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                            env=env, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(RUN_LIMIT_S - (time.monotonic() - start), 1))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print(f"{args.workload}: no result within {RUN_LIMIT_S} s", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.join(HERE, ".work"))
        except OSError:
            pass
    result = None
    for line in out.splitlines():
        if line.startswith("RESULT "):
            result = line[len("RESULT "):]
        else:
            print(line, file=sys.stderr)
    if proc.returncode != 0 or result is None:
        print(f"{args.workload}: exit {proc.returncode}, no result", file=sys.stderr)
        return 1
    print(json.dumps(json.loads(result)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
