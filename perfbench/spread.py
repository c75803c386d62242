"""Run one workload over several seeds and report each printed metric's
median and quartile spread, (Q3 - Q1) / median, against its bound when
BENCHMARK.json gates it.

    python3 perfbench/spread.py --workload weekly_dag --seeds 1 2 3 4 5
    python3 perfbench/spread.py --workload weekly_dag --seeds 1-10 --out perfbench/results/x.json

Runs are sequential, one ``run.py`` process at a time, from the repository
root.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec: list[str]) -> list[int]:
    out = []
    for s in spec:
        lo, _, hi = s.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", nargs="+", required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        cfg = json.load(f)
    runs = []
    for seed in seeds(args.seeds):
        t0 = time.perf_counter()
        proc = subprocess.run(
            cfg["command"] + ["--workload", args.workload, "--seed", str(seed),
                              "--seconds", str(cfg["run_seconds"]),
                              "--trace", str(args.trace)],
            cwd=ROOT, capture_output=True, text=True, timeout=300,
        )
        wall = time.perf_counter() - t0
        last = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else ""
        if proc.returncode != 0 or not last.startswith("{"):
            print(f"seed {seed}: rc {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        res = json.loads(last)
        lines = proc.stdout.splitlines()
        prov = next((json.loads(line.split(" ", 1)[1]) for line in lines
                     if line.startswith("provenance ")), None)
        # every metric the run printed, gated or not: "<kind> <name> = <value> <unit>"
        kind = "per_layer" if args.trace else "end_to_end"
        printed = {}
        for line in lines:
            if line.startswith(kind + " "):
                name, rest = line.split(" ", 1)[1].split(" = ")
                value, unit = rest.split(" ")
                printed[name] = {"value": float(value), "unit": unit}
        runs.append({"seed": seed, "wall_s": wall, "provenance": prov, **res,
                     "printed": printed})
        vals = " ".join(f"{k}={v['value']:.4g}" for k, v in printed.items())
        print(f"seed {seed:3d} wall {wall:5.1f} s attempted {res['attempted']:3d} "
              f"failed {res['failed']} {vals}", flush=True)
    summary = {}
    declared = {m["name"]: m for m in (cfg["per_layer"] if args.trace else cfg["end_to_end"])}
    for name, first in runs[0]["printed"].items():
        xs = [r["printed"][name]["value"] for r in runs if name in r["printed"]]
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (med, med, med)
        spread = (q3 - q1) / med if med else None  # failed_share reads 0
        bound = declared.get(name, {}).get("bound")
        summary[name] = {"median": med, "q1": q1, "q3": q3, "spread": spread,
                         "bound": bound, "unit": first["unit"]}
        gate = f" bound {bound}" if bound is not None else " (printed only)"
        shown = "-" if spread is None else f"{spread:.3f}"
        print(f"{name:<16s} median {med:10.4f} {first['unit']:<6s} spread {shown:>6s}{gate}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"workload": args.workload, "trace": args.trace,
                       "run_seconds": cfg["run_seconds"], "runs": runs,
                       "summary": summary}, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
