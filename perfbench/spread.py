"""Run the benchmark over several seeds and report each end-to-end
metric's quartile spread, (Q3 - Q1) / median, against its bound, and the
spread of each number the report prints without a bound.

    python3 perfbench/spread.py --workload ingest --seeds 1 2 3 4 5

Runs are sequential, each in its own process, from the repository root.
Each run's full output is appended to ``--log`` when given.  Exits 1 if
a run fails or reports incorrect output.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.measure import quartile_spread  # noqa: E402

# "  name   value unit (lower is better)  [reported, not bounded]"
_REPORTED = re.compile(r"^\s+(\S+)\s+(\S+)\s+(\S+)\s+\(.*\[reported, not bounded\]$")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--log")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    values: dict[str, list[float]] = {m["name"]: [] for m in spec["end_to_end"]}
    reported: dict[str, list[float]] = {}
    walls, ok = [], True
    for seed in args.seeds:
        cmd = spec["command"] + ["--workload", args.workload, "--seed", str(seed),
                                 "--seconds", str(spec["run_seconds"]), "--trace", "0"]
        t0 = time.time()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        walls.append(time.time() - t0)
        if args.log:
            with open(args.log, "a") as fh:
                fh.write(f"### seed {seed} rc={proc.returncode}\n{proc.stdout}\n{proc.stderr}\n")
        lines = proc.stdout.strip().splitlines()
        if proc.returncode or not lines:
            print(f"seed {seed}: exit {proc.returncode}", flush=True)
            ok = False
            continue
        res = json.loads(lines[-1])
        ok &= bool(res["correct"])
        for name, m in res["metrics"].items():
            values[name].append(m["value"])
        for line in lines:
            hit = _REPORTED.match(line)
            if hit:
                reported.setdefault(hit[1], []).append(float(hit[2]))
        print(f"seed {seed}: {walls[-1]:.1f}s correct={res['correct']} "
              f"failed={res['failed']}/{res['attempted']}", flush=True)
    print(f"{args.workload}: wall per run median {sorted(walls)[len(walls) // 2]:.1f}s "
          f"max {max(walls):.1f}s")
    for m in spec["end_to_end"]:
        vals = values[m["name"]]
        if len(vals) < 2:
            continue
        sp = quartile_spread(vals)
        flag = "ok" if sp < m["bound"] / 3 else ("WITHIN BOUND" if sp <= m["bound"] else "OVER")
        print(f"  {m['name']:<28} median {sorted(vals)[len(vals) // 2]:>12.5g} {m['unit']:<8}"
              f" spread {sp:6.3f}  bound {m['bound']:.2f}  {flag}")
    for name, vals in reported.items():
        if len(vals) >= 2 and statistics.median(vals) > 0:
            print(f"  {name:<28} median {statistics.median(vals):>12.5g}"
                  f" spread {quartile_spread(vals):6.3f}  (not bounded)")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
