"""Self-tests of the benchmark, at the tiny input size.

    python3 perfbench/selftest.py

1. Smoke: every workload, untraced and traced, prints every metric
   named in ``BENCHMARK.json`` (``end_to_end`` untraced, ``per_layer``
   traced) with its declared unit, and passes its correctness check.
2. Injected wrong answer: an oracle that drops one statement of the
   script must make the run report failures.

Exits non-zero on the first failed check.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, trace: int, *extra: str) -> dict:
    cmd = [
        sys.executable,
        os.path.join(HERE, "run.py"),
        "--workload", workload,
        "--seed", "7",
        "--seconds", "1",
        "--trace", str(trace),
        "--size", "tiny",
        *extra,
    ]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"FAIL {' '.join(cmd)}: exit {proc.returncode}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    # every workload run.py offers, including any not listed in
    # BENCHMARK.json, must keep producing the declared metrics
    for name in ("asof_read", "log_replay", "append_compact"):
        for trace, group in ((0, "end_to_end"), (1, "per_layer")):
            out = run(name, trace)
            assert set(out) == {"correct", "attempted", "failed", "metrics"}, out
            assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1, out
            want = {m["name"]: m["unit"] for m in spec[group]}
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            assert got == want, f"{name} trace={trace}: {sorted(set(got) ^ set(want))}"
            print(f"ok  smoke {name} trace={trace}: {len(got)} metrics")
    for name in ("log_replay", "asof_read"):
        out = run(name, 0, "--oracle-drop", "0")
        assert out["failed"] > 0 and not out["correct"], out
        print(f"ok  injected wrong answer caught on {name}: {out['failed']}/{out['attempted']} failed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
