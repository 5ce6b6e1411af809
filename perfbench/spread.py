#!/usr/bin/env python3
"""Run the benchmark on several seeds and report each metric's median and
quartile spread (IQR / median), as the acceptance check computes it.

    python3 perfbench/spread.py --workload job_unique --seeds 1-10

Each run measures ``run_seconds`` from BENCHMARK.json, as the benchmark's
runs do. Runs are sequential; each run's result line is appended to
``--log``.
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


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values: list[float]) -> tuple[float, float]:
    """(median, (Q3 - Q1) / median)."""
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med if med else 0.0


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--log", default=os.path.join(HERE, "_work", "spread.jsonl"))
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        seconds = json.load(fh)["run_seconds"]
    os.makedirs(os.path.dirname(args.log), exist_ok=True)
    results = []
    for seed in seeds(args.seeds):
        t0 = time.monotonic()
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(seconds), "--trace", str(args.trace)]
        out = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        lines = out.stdout.strip().splitlines()
        if out.returncode or not lines:
            print(f"seed {seed}: exit {out.returncode}", flush=True)
            continue
        res = json.loads(lines[-1])
        detail = json.loads(lines[-2])["detail"] if len(lines) > 1 else {}
        row = {"workload": args.workload, "seed": seed, "run_s": time.monotonic() - t0,
               "at": time.strftime("%H:%M:%S"), "result": res, "detail": detail}
        with open(args.log, "a") as fh:
            fh.write(json.dumps(row) + "\n")
        results.append(row)
        vals = {k: round(v["value"], 4) for k, v in res["metrics"].items()}
        print(f"seed {seed} run {row['run_s']:.1f}s correct={res['correct']} "
              f"calib={detail.get('host.calib_s', 0):.4f} {vals}", flush=True)
    if len(results) < 2:
        return
    print(f"{'metric':<26}{'median':>14}{'spread':>9}")
    for name in results[0]["result"]["metrics"]:
        med, spr = spread([r["result"]["metrics"][name]["value"] for r in results])
        print(f"{name:<26}{med:>14.4f}{spr:>9.3f}")
    med, spr = spread([r["detail"]["host.calib_s"] for r in results])
    print(f"{'(host.calib_s)':<26}{med:>14.4f}{spr:>9.3f}")
    med, spr = spread([r["run_s"] for r in results])
    print(f"{'(run wall s)':<26}{med:>14.4f}{spr:>9.3f}")


if __name__ == "__main__":
    main()
