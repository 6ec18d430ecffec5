"""The repository's benchmark: one seeded workload per call.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark adapter from source (`build.py`), runs
the workload in one JVM at `local[nproc]`, and prints two JSON lines: a
report (host record, input hash, the workload's own named metrics with
units, the output checks that failed) and, last, the result:
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
metrics are the end-to-end ones, with `--trace 1` the per-layer record.
Workloads, metrics and the layer predictions are described in
`perfbench/spec.json`. Exits non-zero, printing no result, when the build
or the run fails.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

import build

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TIMEOUT_S = 170
# a fixed heap keeps peak RSS from following the collector's sizing, and
# fewer collector threads leave the four task threads less contended
JVM_OPTS = ["-Xms2g", "-Xmx2g", "-Xss4m", "-XX:+UseG1GC", "-XX:ParallelGCThreads=2",
            "-XX:ConcGCThreads=1"] + [
    a for p in ("java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
                "java.base/java.io", "java.base/java.net", "java.base/java.nio",
                "java.base/java.util", "java.base/java.util.concurrent",
                "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
                "java.base/sun.nio.cs", "java.base/sun.security.action",
                "java.base/sun.util.calendar")
    for a in ("--add-opens", p + "=ALL-UNNAMED")]


def loadavg():
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def mem_total_mb():
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 0


def commit():
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(HERE, "spec.json")) as fh:
        spec = json.load(fh)
    if args.workload not in spec["workloads"]:
        sys.exit(f"unknown workload {args.workload!r}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    wanted = [m["name"] for m in bench["per_layer" if args.trace else "end_to_end"]]
    units = {m["name"]: m["unit"] for m in bench["per_layer"] + bench["end_to_end"]}

    classpath, source_sha = build.build()
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".bench_build", "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    load_start = loadavg()
    cmd = ["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
                                 "-cp", classpath, "graft.perfbench.Main",
                                 "--workload", args.workload, "--seed", str(args.seed),
                                 "--seconds", str(args.seconds), "--trace", str(args.trace),
                                 "--work", work, "--cores", str(cores),
                                 "--recall-floor", str(spec["workloads"][args.workload].get(
                                     "recall_floor", 0.0))]
    t0 = time.time()
    try:
        with open(os.path.join(work, "jvm.log"), "w") as log:
            r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                               timeout=TIMEOUT_S, cwd=work)
    except subprocess.TimeoutExpired:
        sys.exit(f"run: {args.workload} did not finish within {TIMEOUT_S} s")
    lines = [l for l in r.stdout.splitlines() if l.startswith("{")]
    if r.returncode != 0 or not lines:
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-6000:])
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(f"run: {args.workload} exited with {r.returncode}")
    shutil.rmtree(work, ignore_errors=True)
    out = json.loads(lines[-1])

    if args.trace:
        # a layer or measure the workload never reaches reads 0
        metrics = {n: out["per_layer"].get(n, 0.0) for n in wanted}
    else:
        metrics = out["end_to_end"]
    missing = [n for n in wanted if metrics.get(n) is None]
    if missing:
        sys.exit(f"run: {args.workload} did not report {missing}")
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "input_sha256": out["input_sha256"],
        "host": {"nproc": cores, "master": f"local[{cores}]", "mem_total_mb": mem_total_mb(),
                 "xmx_mb": out["max_heap_mb"], "java": out["java_version"],
                 "spark": out["spark_version"], "commit": commit(),
                 "source_sha256": source_sha, "loadavg_start": load_start,
                 "loadavg_end": loadavg(), "wall_s": round(time.time() - t0, 3)},
        "metrics": {m["name"]: {"value": m["value"], "unit": m["unit"]} for m in out["named"]},
        "failures": out["failures"],
    }
    print(json.dumps({"report": report}))
    print(json.dumps({
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {n: {"value": metrics[n], "unit": units[n]} for n in wanted},
    }))


if __name__ == "__main__":
    main()
