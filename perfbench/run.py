"""Benchmark for the read-time SCD core of hive_scd_spark.

Run from the root of a source checkout:

    python3 perfbench/run.py --workload asof_read --seed 1 --seconds 20 --trace 0

One process, one SparkSession on ``local[k]``, one client in a closed
loop.  The run generates (or reuses) its seeded inputs, sets the
session up and warms it up several times (``setup_s`` is the median),
issues operations for ``--seconds``, checks every collected result
against a DuckDB replay of the same DML, and prints one JSON object as
the last line of stdout.  ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` reports the per-layer metrics and writes the spans to
``perfbench/_work/trace-<workload>-s<seed>.json``.

Everything the run writes stays under ``perfbench/_work``.
See ``perfbench/README.md`` for the workloads and metrics.
"""

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")

CPUS = 4  # local[k]; k <= cores on the measured box
SETUPS = 3  # session start + warm-up, repeated; setup_s is their median
WORKLOADS = ("asof_read", "log_replay", "append_compact")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # self-test knobs (perfbench/selftest.py)
    p.add_argument("--size", choices=("full", "tiny"), default="full", help=argparse.SUPPRESS)
    p.add_argument("--oracle-drop", type=int, default=None, help=argparse.SUPPRESS)
    return p.parse_args(argv)


def configure_env(run_dir: str) -> None:
    """Pin everything the session reads from the environment, before
    pyspark is imported: core count, worker import path, and every
    scratch location inside the checkout."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(CPUS),
        SPARK_DRIVER_MEMORY="2g",
        SPARK_GRAFT_WAREHOUSE=os.path.join(run_dir, "warehouse"),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        TMPDIR=tmp,
        # Python workers import hive_scd_spark (the Avro decode runs there)
        PYTHONPATH=os.pathsep.join(
            [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
        # both JVMs (spark-submit's launcher, then the session's) keep
        # their temp files inside the run directory and write no
        # hsperfdata to the system temp directory
        SPARK_LAUNCHER_OPTS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYSPARK_SUBMIT_ARGS=(
            "--conf spark.ui.showConsoleProgress=false "
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
            "pyspark-shell"
        ),
    )


def stop_jvm(spark) -> None:
    """Stop the session and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def end_to_end(records, setups) -> dict:
    done = [r for r in records if "read_s" in r]
    read_s = [r["read_s"] for r in done]
    return {
        "setup_s": (statistics.median(setups), "s"),
        "read_p50_s": (statistics.median(read_s), "s"),
        "rows_per_s": (sum(r["base_rows"] for r in done) / sum(read_s), "rows/s"),
        # one client operation: a read, or a whole append_compact cycle
        "op_p50_s": (statistics.median(r.get("cycle_s", r["read_s"]) for r in done), "s"),
    }


def per_layer(records, tracer, setups, session_s, wl) -> dict:
    med = statistics.median

    def span_med(span, key=None):
        vals = [
            (s[key] if key else s["end"] - s["start"])
            for s in tracer.spans
            if s["name"] == span and s["end"] is not None
        ]
        return med(vals) if vals else 0.0

    def span_mean(span, key):
        vals = [s[key] for s in tracer.spans if s["name"] == span and s["end"] is not None]
        return statistics.fmean(vals) if vals else 0.0

    def rec_med(key):
        vals = [r[key] for r in records if key in r]
        return med(vals) if vals else 0.0

    plain = [r["read_s"] for r in records if "read_s" in r and not r.get("traced")]
    traced = [r["read_s"] for r in records if "read_s" in r and r.get("traced")]
    applied = sum(s["stmts_applied"] for s in tracer.spans if s["name"] == "updates.parse")
    build = sum(s["end"] - s["start"] for s in tracer.spans if s["name"] == "scd.build")
    decode = span_med("avro.decode")
    m = {
        "session.start_s": (med(session_s), "s"),
        "setup.cold_s": (setups[0], "s"),
        "read.plain_p50_s": (med(plain) if plain else 0.0, "s"),
        "read.traced_p50_s": (med(traced) if traced else 0.0, "s"),
        "trace.overhead_ratio": ((med(traced) / med(plain) - 1) if plain and traced else 0.0, "ratio"),
        "fs.discover_s": (span_med("fs.discover"), "s"),
        "updates.parse_s": (span_med("updates.parse"), "s"),
        "updates.stmts_applied": (span_mean("updates.parse", "stmts_applied"), "count"),
        "base.plan_s": (span_med("base.plan"), "s"),
        "scd.build_s": (span_med("scd.build"), "s"),
        "scd.build_ms_per_stmt": (1000 * build / applied if applied else 0.0, "ms"),
        "avro.plan_s": (span_med("avro.plan"), "s"),
        "avro.decode_s": (decode, "s"),
        "avro.rows_per_s": (wl.base_rows / decode if decode else 0.0, "rows/s"),
    }
    for key, unit in (
        ("catalyst.analysis_ms", "ms"),
        ("catalyst.optimization_ms", "ms"),
        ("catalyst.planning_ms", "ms"),
        ("plan.nodes", "count"),
        ("plan.codegen_stages", "count"),
        ("codegen.compile_ms", "ms"),
        ("exec.jobs", "count"),
        ("exec.stages", "count"),
        ("exec.tasks", "count"),
        ("exec.executor_run_ms", "ms"),
        ("exec.executor_cpu_ms", "ms"),
        ("exec.shuffle_bytes", "bytes"),
        ("exec.spill_bytes", "bytes"),
        ("exec.failed_tasks", "count"),
        ("jvm.gc_ms", "ms"),
    ):
        m[key] = (span_med("read", key), unit)
    m["exec.wall_s"] = (span_med("exec"), "s")
    m.update(
        {
            "scd.compact_s": (span_med("scd.compact"), "s"),
            "scd.compact_stmts_replayed": (span_mean("scd.compact", "stmts_replayed"), "count"),
            "scd.compact_bytes": (rec_med("snapshot_bytes"), "bytes"),
            "scd.snapshot_bytes_per_row": (rec_med("snapshot_bytes_per_row"), "bytes/row"),
            "scd.history_build_s": (span_med("scd.history_build"), "s"),
            "scd.history_exec_s": (span_med("scd.history_exec"), "s"),
            "scd.history_boundaries": (span_mean("scd.history", "boundaries"), "count"),
        }
    )
    # layer shares of the traced read's median
    t = m["read.traced_p50_s"][0]
    exec_rest = max(m["exec.wall_s"][0] - decode, 0.0)
    for layer, v in (
        ("fs_discover", m["fs.discover_s"][0]),
        ("updates_parse", m["updates.parse_s"][0]),
        ("base_plan", m["base.plan_s"][0] + m["avro.plan_s"][0]),
        ("scd_build", m["scd.build_s"][0]),
        ("avro_decode", decode),
        ("exec_other", exec_rest),
    ):
        m[f"share.{layer}"] = (v / t if t else 0.0, "ratio")
    return m


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "hive_scd_spark", "__init__.py")):
        print(f"perfbench: no hive_scd_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    configure_env(run_dir)

    import gen

    t = time.perf_counter()
    fx_dir, meta = gen.fixture(os.path.join(WORK, "fixtures"), args.workload, args.seed, args.size)
    gen_s = time.perf_counter() - t

    import probes
    import workloads
    from hive_scd_spark.session import get_spark

    wl = workloads.WORKLOADS[args.workload](fx_dir, meta, os.path.join(run_dir, "data"))
    spark = None
    setups, session_s = [], []
    try:
        for r in range(SETUPS):
            if spark is not None:
                spark.stop()
            t0 = T_PROCESS + gen_s if r == 0 else time.perf_counter()
            t1 = time.perf_counter()
            spark = get_spark("perfbench")
            session_s.append(time.perf_counter() - t1)
            wl.warmup(spark)
            setups.append(time.perf_counter() - t0)

        tracer = probes.Tracer() if args.trace else None
        probe = probes.SparkProbe(spark) if args.trace else None
        records: list[dict] = []
        deadline = time.perf_counter() + args.seconds
        i = 0
        # start operations until the deadline, then finish the block
        # a traced run ends on a whole pair of blocks in which every
        # schedule point runs once plain and once traced; the overhead
        # is traced vs plain
        block = wl.BLOCK * (2 if tracer is not None else 1)
        while time.perf_counter() < deadline or i % block:
            traced = tracer is not None and (i // wl.BLOCK + i % wl.BLOCK) % 2 == 1
            if traced:
                tracer.op_id = i
            try:
                rec = wl.run_op(spark, i, tracer if traced else None, probe)
            except Exception:
                traceback.print_exc()
                rec = {"error": True}
            rec["traced"] = traced
            records.append(rec)
            i += 1

        t_check = time.perf_counter()
        done = [r for r in records if not r.get("error")]
        if done:
            wl.check(done, args.oracle_drop)
        check_s = time.perf_counter() - t_check
        failed = sum(1 for r in records if r.get("error") or not r.get("ok"))

        if args.trace:
            metrics = per_layer(records, tracer, setups, session_s, wl)
            tracer.write(
                os.path.join(WORK, f"trace-{args.workload}-s{args.seed}.json"),
                {"metrics": {k: v for k, (v, _u) in metrics.items()}, "records": len(records)},
            )
        else:
            metrics = end_to_end(records, setups)
        details = {
            "workload": args.workload,
            "ops": len(records),
            "setups_s": setups,
            "gen_s": gen_s,
            "check_s": check_s,
            "read_s": [round(r["read_s"], 4) for r in records if "read_s" in r],
            "n": [r.get("n") for r in records],
        }
        for key in ("history_s", "compact_s", "cycle_s"):
            vals = [round(r[key], 4) for r in records if key in r]
            if vals:
                details[key] = vals
        print(json.dumps(details), file=sys.stderr)
    finally:
        if spark is not None:
            stop_jvm(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    result = {
        "correct": failed == 0,
        "attempted": len(records),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
