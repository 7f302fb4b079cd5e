"""Self-test of the benchmark at the sf0.001 scale (48,000 points).

For every workload, one plain and one traced run must report every metric
BENCHMARK.json names, with its unit, and no failed call; the expected row
counts of seed 0 must equal the pins below. A deliberately wrong pin must
show up as failed calls in a normal result, not as a crash. Run from the
root of a checkout:

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench_out")

# expected row counts at sf0.001, seed 0 (the PIP counts agree with the
# brute-force filters in inputs.py, which do not use the index)
PINS = {
    "build_skewed": {
        "build": 48000, "knn_small": 200, "knn_large": 500, "pip_convex": 10584,
        "pip_raycast": 1568, "tile_raster": 1985, "radius_join": 333,
        "minhash_lsh": 10, "ann_brute": 60,
    },
    "build_uniform": {
        "build": 48000, "knn_small": 200, "knn_large": 500, "pip_convex": 3649,
        "pip_raycast": 698, "tile_raster": 33355, "radius_join": 3,
        "minhash_lsh": 10, "ann_brute": 60,
    },
}


def run(args: list[str], cwd: str = ROOT) -> tuple[int, list[str]]:
    p = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=200,
    )
    return p.returncode, p.stdout.strip().splitlines()


def need(cond: bool, what) -> None:
    if not cond:
        raise SystemExit(f"FAIL {what}")


def check_result(lines: list[str], names: dict[str, str], where: str) -> dict:
    res = json.loads(lines[-1])
    need(set(res) == {"correct", "attempted", "failed", "metrics"}, where)
    need(isinstance(res["attempted"], int) and res["attempted"] >= 1, where)
    need(isinstance(res["failed"], int), where)
    got = res["metrics"]
    need(set(got) == set(names), f"{where}: {set(got) ^ set(names)}")
    for name, unit in names.items():
        v = got[name]
        need(v["unit"] == unit, f"{where}: {name} unit {v['unit']} != {unit}")
        need(isinstance(v["value"], (int, float)) and math.isfinite(v["value"]),
             f"{where}: {name} = {v['value']}")
    return res


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in bench["per_layer"]}
    base = ["--seed", "0", "--seconds", "1", "--scale", "sf0.001"]

    for w in (w["name"] for w in bench["workloads"]):
        for trace, names in ((0, e2e), (1, layers)):
            where = f"{w} trace {trace}"
            code, lines = run(["--workload", w, "--trace", str(trace), *base])
            need(code == 0, f"{where}: exit {code}")
            res = check_result(lines, names, where)
            need(res["correct"] and res["failed"] == 0, f"{where}: {res}")
            with open(os.path.join(OUT, f"{w}-seed0-trace{trace}.json")) as f:
                expected = json.load(f)["expected"]
            for op, pin in PINS.get(w, {}).items():
                need(expected[op] == pin, f"{where}: {op} {expected[op]} != pin {pin}")
            print(f"ok   {where}: {res['attempted']} calls, all metrics present")

    w = bench["workloads"][0]["name"]
    code, lines = run(["--workload", w, "--trace", "0", "--wrong-pin", "pip_convex", *base])
    need(code == 0, f"wrong pin: exit {code}")
    res = check_result(lines, e2e, "wrong pin")
    need(not res["correct"] and res["failed"] >= 1, f"wrong pin: {res}")
    print(f"ok   wrong pin: {res['failed']} of {res['attempted']} calls failed, run completed")

    # without the engine next to it the benchmark must fail, printing no result
    bare = os.path.join(OUT, "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for path in bench["paths"]:
        shutil.copytree(os.path.join(ROOT, path), os.path.join(bare, path),
                        ignore=shutil.ignore_patterns("__pycache__"))
    code, lines = run(["--workload", w, "--trace", "0", *base], cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    need(code != 0 and not any(line.startswith("{") for line in lines),
         f"bare directory: exit {code}, output {lines}")
    print(f"ok   bare directory: exit {code}, no result")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
