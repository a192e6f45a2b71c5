#!/usr/bin/env python3
"""Run one workbench workload end to end.

    python3 workbench/run.py --workload search --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from source when needed (build.py), then
runs the workload in a fresh JVM on Spark local[1]. The last line of stdout is
one JSON object: {"correct", "attempted", "failed", "metrics"}; with --trace 0
the metrics are the end-to-end set, with --trace 1 the per-layer set. The line
before it ("workbench-report ...") carries every metric the run measured,
including the workload-specific ones, with unit, direction and sample counts.

Everything the run writes (Spark scratch, the churn store's parquet, the JVM
temp dir) lives under .bench_build/run-<pid> and is removed on exit.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("search", "mutate", "rag_read", "churn", "rag")
JVM_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def java_cmd(classes, run_dir, main_args, heap="2g"):
    cp = classes + os.pathsep + os.path.join(build.spark_jars(), "*")
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    log_cfg = os.path.join(build.ROOT, "workbench", "log4j2.properties")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap: no resizing between runs
    return (["java", f"-Xms{heap}", f"-Xmx{heap}", "-Xss8m"] + opens +
            [f"-Djava.io.tmpdir={tmp}",
             f"-Dlog4j.configurationFile={log_cfg}",
             "-Dspark.ui.enabled=false",
             "-cp", cp, "workbench.Main"] + main_args)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[1])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    try:
        classes = build.build()
    except RuntimeError as e:
        print(f"workbench: {e}", file=sys.stderr)
        return 2
    run_dir = os.path.join(build.BUILD_DIR, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    cmd = java_cmd(classes, run_dir, [
        "run", "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--dir", run_dir])
    # a SIGTERM unwinds through the finally below, so the JVM never outlives us
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"workbench: run exceeded {JVM_TIMEOUT_S} s", file=sys.stderr)
        return 3
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines:
        sys.stdout.write(out)
        print(f"workbench: JVM exited with {proc.returncode}", file=sys.stderr)
        return proc.returncode or 4
    try:
        result = json.loads(lines[-1])
    except ValueError:
        sys.stdout.write(out)
        print("workbench: last line is not a JSON result", file=sys.stderr)
        return 5
    for ln in lines[:-1]:
        print(ln)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
