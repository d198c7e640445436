"""Build / plan / exec time of ``apply_statements`` by statement-log length.

Usage::

    SPARK_GRAFT_CPUS=4 python scripts/scd_build_curve.py \
        --sf-dir <tpch sf dir with customer.parquet> --n 1,10,46,100,300 --reps 3

The log is append-only: one ``-- time=`` per statement, in a fixed
rotation of nine UPDATEs and one DELETE over ``customer`` (the DELETE is
keyed on ``c_custkey``, a column no UPDATE assigns).  For each N, after
one untimed warm-up fold, every rep measures three wall times in one
warm session and the medians are printed as one JSON line:

- ``build_s``: ``apply_statements`` (parse, compile, Catalyst analysis);
- ``plan_s``: optimisation and physical planning (``executedPlan``);
- ``exec_s``: a collected ``GROUP BY c_nationkey`` aggregate.

Only the public ``apply_statements`` entry point is used, so the same
script measures any revision of the package on ``PYTHONPATH``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from hive_scd_spark import apply_statements  # noqa: E402
from hive_scd_spark.session import get_spark  # noqa: E402

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ROTATION = "ABCABDCABC"


def statement(rng: random.Random, i: int) -> str:
    shape = ROTATION[i % len(ROTATION)]
    if shape == "A":
        return (
            f"UPDATE customer SET c_acctbal = c_acctbal + {rng.randint(-5000, 5000) / 100} "
            f"WHERE c_nationkey = {rng.randrange(25)};"
        )
    if shape == "B":
        return (
            f"UPDATE customer SET c_mktsegment = '{rng.choice(SEGMENTS)}' "
            f"WHERE c_custkey % {rng.randint(5, 40)} = {rng.randint(0, 4)};"
        )
    if shape == "C":
        return (
            f"UPDATE customer SET c_nationkey = {rng.randrange(25)}, "
            f"c_acctbal = c_acctbal - {rng.randint(1, 999) / 10} "
            f"WHERE c_mktsegment = '{rng.choice(SEGMENTS)}' "
            f"AND c_custkey % {rng.randint(3, 11)} = {rng.randint(0, 2)};"
        )
    return f"DELETE FROM customer WHERE c_custkey % {rng.randint(50, 200)} = {rng.randint(0, 49)};"


def script(n: int, seed: int = 0) -> str:
    rng = random.Random(seed)
    return "".join(f"-- time={i + 1}\n{statement(rng, i)}\n" for i in range(n))


def measure(base, n: int, reps: int) -> dict:
    text = script(n)
    apply_statements(base, text, as_of=None)  # warm-up
    build, plan, run = [], [], []
    for _ in range(reps):
        t0 = time.perf_counter()
        df = apply_statements(base, text, as_of=None)
        t1 = time.perf_counter()
        agg = df.groupBy("c_nationkey").agg(F.count(F.lit(1)), F.sum("c_acctbal"))
        agg._jdf.queryExecution().executedPlan()
        t2 = time.perf_counter()
        agg.collect()
        t3 = time.perf_counter()
        build.append(t1 - t0)
        plan.append(t2 - t1)
        run.append(t3 - t2)
    med = statistics.median
    return {
        "n": n,
        "build_s": round(med(build), 3),
        "plan_s": round(med(plan), 3),
        "exec_s": round(med(run), 3),
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR"))
    ap.add_argument("--n", default="1,10,46,100,300")
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()
    if not args.sf_dir:
        ap.error("--sf-dir (or SPARK_GRAFT_SF_DIR) is required")
    spark = get_spark("scd_build_curve")
    base = spark.read.parquet(os.path.join(args.sf_dir, "customer.parquet"))
    for n in (int(x) for x in args.n.split(",")):
        print(json.dumps(measure(base, n, args.reps)), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
