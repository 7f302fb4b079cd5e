"""Benchmark entry point: build and query workloads of the linear k-d tree
engine on local Spark, sized for the host it runs on.

Run from the root of a checkout of the repository:

    python3 perfbench/run.py --workload build_skewed --seed 1 --seconds 20 --trace 0

The workload itself runs in a child process (workload.py) in its own
process group. This supervisor sets the host-derived settings, waits for
the child with a deadline, stops every process the child left behind,
and prints the child's result as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics named in BENCHMARK.json,
``--trace 1`` the per-layer ones; the traced run also writes a per-layer
file under ``.perfbench_out/``. Everything the run writes stays under
``.perfbench_out/`` in the checkout.
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
ROOT = os.path.dirname(HERE)
DEADLINE_S = 170  # the whole run must end within 180 s


def driver_memory_mb() -> int:
    """An eighth of the host's RAM, between 1 and 2 GiB: the inputs are
    small, the host is shared, and a fixed host gives a fixed heap (so
    the JVM's peak RSS is comparable between runs)."""
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                total_mb = int(line.split()[1]) // 1024
                return max(1024, min(total_mb // 8, 2048))
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def group_alive(pgid: int) -> list[int]:
    alive = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[0] is the state, fields[2] the process group
        if int(fields[2]) == pgid and fields[0] != "Z":
            alive.append(int(entry))
    return alive


def stop_group(pgid: int) -> None:
    """SIGTERM, then SIGKILL, every process left in the group, and wait
    until none is left."""
    for sig, grace in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 10.0)):
        if not group_alive(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        t_end = time.monotonic() + grace
        while group_alive(pgid) and time.monotonic() < t_end:
            time.sleep(0.1)
    if group_alive(pgid):
        raise RuntimeError(f"processes of group {pgid} survived SIGKILL")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", default="full")
    ap.add_argument("--wrong-pin", default=None)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "linear_kdtree_spark", "__init__.py")):
        print(f"engine package linear_kdtree_spark not found under {ROOT}; "
              "run from the root of a checkout", file=sys.stderr)
        return 2

    out_dir = os.path.join(ROOT, ".perfbench_out")
    run_dir = os.path.join(out_dir, f"run-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    result_path = os.path.join(run_dir, "result.json")
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        TMPDIR=os.path.join(run_dir, "tmp"),
        # Spark lets this variable override spark.local.dir
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        # a JVM writes perf counters under /tmp unless told not to; this
        # covers spark-submit's launcher JVM, workload.py the Spark JVM
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
        SPARK_GRAFT_DRIVER_MEM=f"{driver_memory_mb()}m",
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    cmd = [sys.executable, os.path.join(HERE, "workload.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--scale", args.scale, "--out-dir", run_dir, "--result", result_path]
    if args.wrong_pin:
        cmd += ["--wrong-pin", args.wrong_pin]
    child = subprocess.Popen(cmd, cwd=ROOT, env=env, start_new_session=True)
    try:
        code = child.wait(timeout=DEADLINE_S)
    except subprocess.TimeoutExpired:
        print(f"workload did not finish within {DEADLINE_S} s", file=sys.stderr)
        code = None
    finally:
        stop_group(child.pid)
        if child.poll() is None:
            child.wait()
    result = None
    if code == 0 and os.path.isfile(result_path):
        with open(result_path) as f:
            result = json.load(f)
        if set(result) != {"correct", "attempted", "failed", "metrics"}:
            result = None
    # keep the run's reports, drop its scratch
    for name in os.listdir(run_dir):
        path = os.path.join(run_dir, name)
        if os.path.isdir(path):
            shutil.rmtree(path, ignore_errors=True)
        elif name.endswith(".json") and name != "result.json":
            os.replace(path, os.path.join(out_dir, name))
    shutil.rmtree(run_dir, ignore_errors=True)
    if result is None:
        print(f"workload exited with code {code} and no result", file=sys.stderr)
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
