"""Run the benchmark over several seeds and summarise each end-to-end
metric: median, first and third quartile, and the spread (Q3 - Q1) / median
next to the metric's bound from BENCHMARK.json. Run from the root of a
checkout:

    python3 perfbench/sweep.py --workload build_skewed --seeds 1-10

Quartiles are ``statistics.quantiles(values, n=4)``. With ``--json`` the
raw per-seed values are written to that file as well.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seed_list(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    ap.add_argument("--json", default=None)
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)

    values: dict[str, list[float]] = {}
    runs = []
    for seed in seed_list(args.seeds):
        t0 = time.monotonic()
        p = subprocess.run(
            [*bench["command"], "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(bench["run_seconds"]), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True)
        wall = time.monotonic() - t0
        if p.returncode != 0:
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-3000:]}", file=sys.stderr)
            return 1
        res = json.loads(p.stdout.strip().splitlines()[-1])
        runs.append({"seed": seed, "wall_s": wall, **res})
        print(f"seed {seed}: correct {res['correct']}, {res['failed']} of "
              f"{res['attempted']} calls failed, wall {wall:.1f} s", flush=True)
        for name, m in res["metrics"].items():
            values.setdefault(name, []).append(m["value"])

    print(f"\n{'metric':26s} {'unit':6s} {'median':>12s} {'Q1':>12s} {'Q3':>12s}"
          f" {'spread':>7s} {'bound':>6s}")
    for m in bench["end_to_end"]:
        v = values[m["name"]]
        q1, _, q3 = statistics.quantiles(v, n=4) if len(v) > 1 else (v[0],) * 3
        med = statistics.median(v)
        print(f"{m['name']:26s} {m['unit']:6s} {med:12.4f} {q1:12.4f} {q3:12.4f}"
              f" {(q3 - q1) / med:7.3f} {m['bound']:6.2f}")
    if args.json:
        with open(args.json, "w") as f:
            json.dump({"workload": args.workload, "runs": runs, "values": values}, f, indent=1)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
