#!/usr/bin/env python3
"""Benchmark of the spark-submit paths (see perfbench/NOTES.md).

    python3 perfbench/run.py --workload extract-longturn --seed 1 \
        --seconds 20 --trace 0

Builds the program from source (perfbench/build.py), then runs one
workload in a single JVM on local[nproc]. The last line of standard output
is one JSON object {"correct", "attempted", "failed", "metrics"}. The exit
code is 0 only when the run finished and every correctness check passed.
All scratch files live under .bench_work/ in the checkout; span traces of
--trace 1 runs are kept in .bench_work/traces/.
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
import build  # noqa: E402

WORKLOADS = ("extract-durable", "extract-longturn", "curate-chain")
RUN_LIMIT_S = 170  # a run must end within 180 s, build excluded
HEAP = "3g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.seconds < 1:
        ap.error("--seconds must be at least 1")

    try:
        classes = build.build()
    except SystemExit as e:
        print(e, file=sys.stderr)
        return 2
    spec = json.loads((build.ROOT / "BENCHMARK.json").read_text())
    metrics = ",".join(f"{m['name']}:{m['unit']}"
                       for m in spec["per_layer" if a.trace else "end_to_end"])
    launched_ms = int(time.time() * 1000)

    work_root = build.ROOT / ".bench_work"
    work = work_root / f"{a.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    traces = work_root / "traces"
    traces.mkdir(parents=True, exist_ok=True)

    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={work / 'tmp'}",
        "-cp", f"{classes}{os.pathsep}{build.spark_jars()}/*",
        "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--work", str(work), "--traces", str(traces),
        "--launched-ms", str(launched_ms), "--metrics", metrics,
    ]
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env,
                            start_new_session=True)
    lines = []
    try:
        out, _ = proc.communicate(timeout=RUN_LIMIT_S)
        lines = out.splitlines()
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print(f"run: timed out after {RUN_LIMIT_S} s", file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)

    result = None
    for ln in lines:
        if ln.startswith('{"correct"'):
            result = ln
        else:
            print(ln)
    if result is None:
        print(f"run: no result line (exit code {proc.returncode})", file=sys.stderr)
        return proc.returncode or 4
    print(result)
    ok = proc.returncode == 0 and json.loads(result)["correct"]
    return 0 if ok else (proc.returncode or 1)


if __name__ == "__main__":
    sys.exit(main())
