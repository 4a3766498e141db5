#!/usr/bin/env python3
"""keepright benchmark: one command, every metric, outputs checked.

Run from the repository root::

    python3 perfbench/run.py --workload suite_t --seed 1 --seconds 10 --trace 0

This client sizes the worker for the box (cores from the CPU affinity
mask, JVM heap from MemTotal, PYTHONPATH so Python UDF workers can
import the engine from any directory).  When the checkout has no build
for the engine's current source, it first runs ``perfbench/worker.py
--build`` as a process of its own.  Then it starts the measured
``perfbench/worker.py`` in its own process group, samples the worker
tree's resident memory while it runs, and prints two lines: a JSON context line (host, per
operation figures, the untraced end-to-end numbers) and, last, the
result object ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones (BENCHMARK.json lists both).

Exits non-zero, printing no result, when the engine is not in the
working directory, the worker fails, or the run overruns its limit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import worker  # noqa: E402  (stdlib-only at import time)

# the build process, when one is needed, and the measured worker
BUILD_LIMIT_S, RUN_LIMIT_S = 700.0, 175.0
MAX_HEAP_GB = 2  # measured sufficient for every workload here
SAMPLE_S = 0.5


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def jvm_heap_gb(mem_total: int) -> int:
    return max(1, min(MAX_HEAP_GB, int(mem_total * 0.4 / 2**30)))


def worker_env(root: str, cores: int, mem_total: int) -> dict:
    """The worker's environment, sized for this box; engine tuning
    variables from the caller's shell are dropped so every run measures
    the program's own defaults."""
    env = {k: v for k, v in os.environ.items() if not k.startswith("KR_")}
    tmp = os.path.join(worker.WORK, "tmp")
    local = os.path.join(worker.WORK, "spark-local")
    for d in (tmp, local):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    env.update(
        PYTHONPATH=os.pathsep.join(p for p in (root, env.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
        SPARK_DRIVER_MEM=f"{jvm_heap_gb(mem_total)}g",
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    return env


def tree_pss_bytes(pid: int) -> int:
    """Proportional set size of the process tree: forked Python UDF
    workers share their parent's pages, which RSS would count once per
    process."""
    total = 0
    for p in worker.tree_pids(pid):
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


def group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
    except ProcessLookupError:
        return False
    return True


def stop_group(pgid: int) -> None:
    """Kill whatever is left of the worker's process group and wait
    until it is gone."""
    if not group_alive(pgid):
        return
    os.killpg(pgid, signal.SIGKILL)
    deadline = time.monotonic() + 30
    while group_alive(pgid) and time.monotonic() < deadline:
        time.sleep(0.1)


def run_worker(args: list[str], root: str, env: dict, limit: float) -> tuple[int, int]:
    """Run worker.py with ``args`` in its own process group, sampling
    its tree's PSS; kill the group on overrun.  Returns the exit code
    (-9 on overrun) and the peak PSS in bytes."""
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), *args]
    # flush earlier runs' dirty pages now, not during this run's timing
    os.sync()
    t0 = time.monotonic()
    proc = subprocess.Popen(cmd, cwd=root, env=env, stdout=sys.stderr,
                            start_new_session=True)
    peak = 0
    try:
        while proc.poll() is None:
            peak = max(peak, tree_pss_bytes(proc.pid))
            if time.monotonic() - t0 > limit:
                print(f"perfbench: worker overran {limit:.0f} s", file=sys.stderr)
                return -9, peak
            time.sleep(SAMPLE_S)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        stop_group(proc.pid)
    return proc.returncode, peak


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(worker.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "keepright_spark", "pipeline.py")):
        print("perfbench: run from the repository root (no keepright_spark/ "
              "here)", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    mem_total = mem_total_bytes()
    os.makedirs(worker.WORK, exist_ok=True)
    build_s = 0.0
    if worker.built_key() != worker.build_key():
        t0 = time.monotonic()
        rc, _ = run_worker(["--build", "--cores", str(cores)], root,
                           worker_env(root, cores, mem_total), BUILD_LIMIT_S)
        if rc != 0:
            print(f"perfbench: build exited with {rc}", file=sys.stderr)
            return 1
        build_s = time.monotonic() - t0
    result_path = os.path.join(worker.WORK, "result.json")
    if os.path.exists(result_path):
        os.remove(result_path)

    t0 = time.monotonic()
    rc, peak = run_worker(
        ["--workload", a.workload, "--seed", str(a.seed),
         "--seconds", str(a.seconds), "--trace", str(a.trace),
         "--cores", str(cores), "--result", result_path],
        root, worker_env(root, cores, mem_total), RUN_LIMIT_S)
    if rc != 0 or not os.path.exists(result_path):
        print(f"perfbench: worker exited with {rc}", file=sys.stderr)
        return 1

    with open(result_path) as f:
        res = json.load(f)
    ctx = res.pop("context")
    ctx["peak_pss_mb"] = peak / 1e6
    ctx["host"] = {"nproc": cores, "mem_total_mb": mem_total / 1e6,
                   "jvm_heap_gb": jvm_heap_gb(mem_total)}
    ctx["run_s"] = time.monotonic() - t0
    ctx["build_s"] = build_s
    if a.trace:
        res["metrics"]["host.peak_pss_mb"] = {"value": peak / 1e6, "unit": "MB"}
    print(json.dumps({"context": ctx}))
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
