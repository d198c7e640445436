"""The three workloads: what one operation does, untraced and traced,
and how its outputs are checked against the oracle.

A run drives one workload from one client in a closed loop: the next
operation starts only after the previous result has been collected.
Operations follow a fixed schedule over a grid of as-of points,
visited outside-in (lowest, highest, second lowest, ...), and a run
measures whole blocks of it (``BLOCK`` operations), so every run sees
the same mix and the median lands on the same grid points.  Those
middle points run last in a block, when the session is warmest.  The
seed sets the data and the statement constants.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import nullcontext

from pyspark.sql import functions as F

import gen
import oracle
from hive_scd_spark import apply_statements, compact, read_scd, resolve_as_of, scd2_history
from hive_scd_spark.fs import fs_for
from hive_scd_spark.sources.avro import read_avro
from hive_scd_spark.updates import applicable, parse_script

CUSTOMER_COLS = ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]


def aggregate(df, table: str):
    key, ident, value = oracle.AGG[table]
    return df.groupBy(key).agg(F.count(F.lit(1)), F.sum(ident), F.sum(value))


def outside_in(i: int, g: int) -> int:
    """Grid index of operation *i* on a grid of *g* points, cycling
    lowest, highest, second lowest, second highest, ..."""
    k = i % g
    return g - 1 - k // 2 if k % 2 else k // 2


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _dirs, files in os.walk(path)
        for f in files
        if not f.startswith((".", "_"))
    )


class Workload:
    table: str
    fmt: str
    BLOCK = 1

    def __init__(self, fx_dir: str, meta: dict, work_dir: str):
        self.meta = meta
        self.fx_dir = fx_dir
        self.work = work_dir
        self.data = os.path.join(fx_dir, meta["data"])
        self.stmts = meta["stmts"]
        self.base_rows = meta["base_rows"]

    def oracle(self, drop: int | None = None) -> oracle.Oracle:
        return oracle.Oracle(
            os.path.join(self.fx_dir, self.meta["oracle_base"]), self.table, self.stmts, drop
        )

    # -- one read, two ways ------------------------------------------------

    def read(self, spark, path: str, as_of):
        """``read_scd`` + a collected group-by: the untraced operation."""
        t0 = time.perf_counter()
        df = read_scd(spark, path, as_of=as_of, format=self.fmt)
        rows = aggregate(df, self.table).collect()
        return time.perf_counter() - t0, oracle.normalize(rows)

    def read_traced(self, spark, path: str, as_of, tracer, probe):
        """The same read, composed from each layer's public functions in
        the order ``read_scd`` calls them, with a span around each.  The
        Spark counters cover every job of the read, including the
        schema-inference job of a Parquet base."""
        t0 = time.perf_counter()
        with tracer.span("read") as rsp, probe.action("read") as counters:
            with tracer.span("fs.discover"):
                fs = fs_for(spark, path)
                for _dirpath, _dirs, _files in fs.walk(path):
                    pass
                text = fs.read_text(fs.join(path, ".updates"))
            with tracer.span("updates.parse") as sp:
                as_of_ms = resolve_as_of(as_of)
                todo = applicable(parse_script(text), as_of_ms)
                sp["stmts_applied"] = len(todo)
            if self.fmt == "avro":
                with tracer.span("avro.plan"):
                    base = read_avro(spark, path)
            else:
                with tracer.span("base.plan"):
                    base = spark.read.format(self.fmt).load(path)
            with tracer.span("scd.build"):
                df = apply_statements(base, todo, as_of=as_of_ms)
            with tracer.span("exec"):
                agg = aggregate(df, self.table)
                rows = agg.collect()
        rsp.update(counters)
        rsp.update(probe.plan_counters(agg))
        return time.perf_counter() - t0, oracle.normalize(rows)

    def run_op(self, spark, i: int, tracer=None, probe=None) -> dict:
        raise NotImplementedError

    def warmup(self, spark) -> None:
        raise NotImplementedError

    def check(self, records: list[dict], drop: int | None = None) -> None:
        """Mark each record ``ok`` (True/False) against the oracle."""
        want = self.oracle(drop).aggregates(r["n"] for r in records)
        for r in records:
            r["ok"] = oracle.same(r["rows"], want[r["n"]])


class AsofRead(Workload):
    """Avro base (Python-side decode) + a short timestamped log."""

    table, fmt = "orders", "avro"

    def __init__(self, *a):
        super().__init__(*a)
        n = len(self.stmts)
        # raw data, each statement's own time, and "now" (as_of=None)
        self.choices = [-1] + [gen.stmt_time(j) for j in range(n)] + [None]

    def _as_of(self, i: int):
        as_of = self.choices[outside_in(i, len(self.choices))]
        n = len(self.stmts) if as_of is None else oracle.applicable_count(len(self.stmts), as_of)
        return as_of, n

    def warmup(self, spark) -> None:
        # a fresh context spawns fresh Python workers; their first two
        # decodes (imports, JIT) run 1.3-3x slower than steady state
        for as_of in (None, -1):
            self.read(spark, self.data, as_of)

    def run_op(self, spark, i, tracer=None, probe=None) -> dict:
        as_of, n = self._as_of(i)
        if tracer is None:
            lat, rows = self.read(spark, self.data, as_of)
        else:
            lat, rows = self.read_traced(spark, self.data, as_of, tracer, probe)
            # decode alone, outside the read's latency: read_avro -> noop sink
            with tracer.span("avro.decode"):
                read_avro(spark, self.data).write.format("noop").mode("overwrite").save()
        return {"n": n, "read_s": lat, "rows": rows, "base_rows": self.base_rows}


class LogReplay(Workload):
    """Parquet base + a long append-only log; compile-dominated."""

    table, fmt = "customer", "parquet"
    BLOCK = 8  # applicable counts at the centres of eight equal strata of 0..N

    def _as_of(self, i: int):
        j = outside_in(i, self.BLOCK)
        n = round((j + 0.5) * len(self.stmts) / self.BLOCK)
        return gen.stmt_time(n - 1), n

    def warmup(self, spark) -> None:
        self.read(spark, self.data, None)

    def run_op(self, spark, i, tracer=None, probe=None) -> dict:
        as_of, n = self._as_of(i)
        if tracer is None:
            lat, rows = self.read(spark, self.data, as_of)
        else:
            lat, rows = self.read_traced(spark, self.data, as_of, tracer, probe)
        return {"n": n, "read_s": lat, "rows": rows, "base_rows": self.base_rows}


class AppendCompact(Workload):
    """Writes and maintenance on one live table: append a batch, read it
    fresh, export the batch's SCD2 history, compact to a snapshot.

    The log grows from ``initial`` statements by ``batch`` per cycle for
    ``batches`` cycles, then the table is reset and the growth replays,
    so every run (and every period of a run) sees the same log lengths."""

    table, fmt = "customer", "parquet"

    def __init__(self, *a):
        super().__init__(*a)
        self.initial = self.meta["initial"]
        self.batch = self.meta["batch"]
        self.batches = self.BLOCK = self.meta["batches"]
        self.live = os.path.join(self.work, "live")
        self.snap0 = os.path.join(self.work, "snap-initial")
        os.makedirs(self.live)
        shutil.copy(os.path.join(self.data, "part-00000.parquet"), self.live)
        self._prev = self.snap0

    def _write_log(self, n: int) -> None:
        with open(os.path.join(self.live, ".updates"), "w") as fh:
            fh.write(gen.render_updates(self.stmts[:n]))

    def warmup(self, spark) -> None:
        """Every step once: compact (which also reads) to the initial
        snapshot, append a batch, export its history."""
        self._write_log(self.initial)
        compact(spark, self.live, self.snap0, format="parquet")
        batch = self.stmts[self.initial : self.initial + self.batch]
        text = gen.render_updates(batch, self.initial)
        with open(os.path.join(self.live, ".updates"), "a") as fh:
            fh.write(text)
        h = scd2_history(spark.read.parquet(self.snap0), parse_script(text))
        h.write.mode("overwrite").parquet(os.path.join(self.work, "hist-warm"))

    def run_op(self, spark, i, tracer=None, probe=None) -> dict:
        b = i % self.batches
        if b == 0:
            self._write_log(self.initial)
            self._prev = self.snap0
        start = self.initial + b * self.batch
        n = start + self.batch
        hist = os.path.join(self.work, f"hist-c{i:04d}")
        snap = os.path.join(self.work, f"snap-c{i:04d}")
        batch_text = gen.render_updates(self.stmts[start:n], start)
        span = tracer.span if tracer is not None else (lambda _name: nullcontext({}))
        t0 = time.perf_counter()
        with span("cycle"):
            with span("append"):
                with open(os.path.join(self.live, ".updates"), "a") as fh:
                    fh.write(batch_text)
            if tracer is None:
                read_s, rows = self.read(spark, self.live, None)
            else:
                read_s, rows = self.read_traced(spark, self.live, None, tracer, probe)
            t1 = time.perf_counter()
            with span("scd.history") as sp:
                with span("scd.history_build"):
                    stmts = parse_script(batch_text)
                    h = scd2_history(spark.read.parquet(self._prev), stmts)
                with span("scd.history_exec"):
                    h.write.mode("overwrite").parquet(hist)
                sp["boundaries"] = len({s.effective_ms for s in stmts}) + 1
            t2 = time.perf_counter()
            with span("scd.compact") as sp:
                compact(spark, self.live, snap, format="parquet")
                sp["stmts_replayed"] = n
            t3 = time.perf_counter()
        snap_bytes = dir_bytes(snap)
        self._prev = snap
        return {
            "n": n,
            "read_s": read_s,
            "rows": rows,
            "base_rows": self.base_rows,
            "history_s": t2 - t1,
            "compact_s": t3 - t2,
            "cycle_s": t3 - t0,
            "snapshot_bytes": snap_bytes,
            "snapshot_bytes_per_row": snap_bytes / max(sum(r[1] for r in rows), 1),
            "hist": hist,
            "snap": snap,
        }

    def check(self, records, drop=None) -> None:
        super().check(records, drop)
        snaps = self.oracle(drop).snapshots_match((r["n"], r["snap"]) for r in records)
        for r in records:
            r["ok"] = (
                r["ok"]
                and snaps[r["snap"]]
                and oracle.current_rows_equal(r["hist"], r["snap"], CUSTOMER_COLS)
            )


WORKLOADS = {"asof_read": AsofRead, "log_replay": LogReplay, "append_compact": AppendCompact}
