"""Steadiness check: run the benchmark several times per workload, each
with another seed, and report every metric's median and quartile
spread ((Q3 - Q1) / median, quartiles as ``statistics.quantiles(n=4)``
gives them) against the bound in ``BENCHMARK.json``.

    python3 perfbench/steady.py --runs 10 [--workload asof_read ...] [--first-seed 100]

Appends one JSON line per run to ``perfbench/_work/steady.jsonl`` and
prints a table at the end.  Exits non-zero if any spread other than
``setup_s``'s exceeds its bound.
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


def spread(values: list[float]) -> float:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    p = argparse.ArgumentParser()
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=100)
    p.add_argument("--workload", action="append", default=None)
    args = p.parse_args()
    names = args.workload or [w["name"] for w in spec["workloads"]]
    log = os.path.join(HERE, "_work", "steady.jsonl")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    bad = 0
    for name in names:
        values: dict[str, list[float]] = {}
        for k in range(args.runs):
            seed = args.first_seed + k
            t0 = time.perf_counter()
            proc = subprocess.run(
                [
                    sys.executable, os.path.join(HERE, "run.py"),
                    "--workload", name, "--seed", str(seed),
                    "--seconds", str(spec["run_seconds"]), "--trace", "0",
                ],
                cwd=ROOT, capture_output=True, text=True, timeout=600,
            )
            wall = time.perf_counter() - t0
            if proc.returncode != 0:
                sys.stderr.write(proc.stderr[-3000:])
                print(f"{name} seed {seed}: exit {proc.returncode}")
                return 1
            out = json.loads(proc.stdout.strip().splitlines()[-1])
            summary = [ln for ln in proc.stderr.splitlines() if ln.startswith('{"workload"')]
            rec = {"workload": name, "seed": seed, "wall_s": wall, **out}
            if summary:
                rec["details"] = json.loads(summary[-1])
            with open(log, "a") as fh:
                fh.write(json.dumps(rec) + "\n")
            if not out["correct"]:
                print(f"{name} seed {seed}: incorrect ({out['failed']}/{out['attempted']} failed)")
                bad += 1
            for metric, v in out["metrics"].items():
                values.setdefault(metric, []).append(v["value"])
            print(f"{name} seed {seed}: {wall:.1f} s wall", flush=True)
        for m in spec["end_to_end"]:
            vals = values[m["name"]]
            s = spread(vals)
            over = s > m["bound"] and m["name"] != "setup_s"
            bad += over
            print(
                f"{name:16s} {m['name']:12s} median {statistics.median(vals):12.4f} "
                f"spread {s:6.3f}  bound {m['bound']:.2f}  {'OVER' if over else 'ok'}"
            )
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
