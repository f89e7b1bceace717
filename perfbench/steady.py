"""Steadiness check: run one workload k times, one seed each, and report
every metric's median, quartiles and IQR ÷ median against its bound.

    python3 perfbench/steady.py --workload olap_mix --seeds 1,2,3,4,5
    python3 perfbench/steady.py --workload etl_chain --seeds 7,8 --trace 1

Run from the repository root. Each run is a separate process started
exactly as ``BENCHMARK.json``'s command is. A metric is called steady
when its IQR ÷ median is under a third of its bound. Exits non-zero if
any run fails or reports incorrect output.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

from stats import spread

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="comma-separated")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--seconds", type=int, help="default: BENCHMARK.json")
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = args.seconds or bench["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    values: dict[str, list[float]] = {}
    units: dict[str, str] = {}
    walls, bad = [], 0
    for seed in (int(s) for s in args.seeds.split(",")):
        cmd = [*bench["command"], "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(seconds),
               "--trace", str(args.trace)]
        t0 = time.perf_counter()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                              timeout=900)
        walls.append(time.perf_counter() - t0)
        lines = proc.stdout.strip().splitlines()
        box = next((ln for ln in lines if ln.startswith("# box ")), "# box ?")
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
            bad += 1
            continue
        result = json.loads(lines[-1])
        bad += not result["correct"]
        print(f"seed {seed}: {walls[-1]:.1f} s, correct={result['correct']} "
              f"({result['failed']}/{result['attempted']} failed) {box[2:]}")
        for k, m in result["metrics"].items():
            values.setdefault(k, []).append(m["value"])
            units[k] = m["unit"]

    print(f"\n{args.workload}: {len(walls)} runs, wall per run "
          f"median {spread(walls)['median']:.1f} s")
    print(f"{'metric':32s} {'unit':7s} {'median':>12s} {'q1':>12s} "
          f"{'q3':>12s} {'iqr/med':>8s} {'bound':>6s}  steady")
    for k, vs in values.items():
        s = spread(vs)
        bound = bounds.get(k)
        verdict = "" if bound is None else (
            "yes" if s["iqr_over_median"] < bound / 3 else "NO"
        )
        print(f"{k:32s} {units[k]:7s} {s['median']:12.6g} {s['q1']:12.6g} "
              f"{s['q3']:12.6g} {s['iqr_over_median']:8.4f} "
              f"{bound if bound is not None else '':>6}  {verdict}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
