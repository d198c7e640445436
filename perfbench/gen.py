"""Seeded input generation for the SCD benchmark.

Every input is a pure function of ``(workload, seed, size)``: the same
seed gives byte-identical files.  Fixtures are cached under a key that
also carries a fingerprint of this file, so a change to the generator
can never be served stale bytes.

The program under test only ever sees the generated files (Avro or
Parquet data plus a ``.updates`` script); the statement list and the
as-of times also go to ``meta.json`` for the DuckDB oracle, which
replays the same SQL text without going through the program's parser.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil

T0_MS = 1_577_836_800_000  # 2020-01-01T00:00:00Z; statement i is at T0 + i hours
HOUR_MS = 3_600_000

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

ORDERS_AVRO_SCHEMA = {
    "type": "record",
    "name": "orders",
    "fields": [
        {"name": "o_orderkey", "type": "long"},
        {"name": "o_custkey", "type": "long"},
        {"name": "o_orderstatus", "type": "string"},
        {"name": "o_totalprice", "type": "double"},
        {"name": "o_orderdate", "type": "string"},
        {"name": "o_orderpriority", "type": "string"},
    ],
}

# Sizes per workload.  "full" is what the benchmark measures; "tiny" is
# the self-test size, small enough for a smoke run.
SIZES = {
    "full": {
        "orders_rows": 150_000,
        "orders_files": 4,
        "orders_stmts": 6,
        "customer_rows": 15_000,
        "replay_stmts": 100,
        "compact_initial": 40,
        "compact_batch": 4,
        "compact_batches": 2,
    },
    "tiny": {
        "orders_rows": 2_000,
        "orders_files": 2,
        "orders_stmts": 6,
        "customer_rows": 500,
        "replay_stmts": 12,
        "compact_initial": 6,
        "compact_batch": 2,
        "compact_batches": 2,
    },
}


def fingerprint() -> str:
    with open(__file__, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()[:12]


def _orders_rows(rng: random.Random, n: int) -> list[dict]:
    rows = []
    for k in range(n):
        year = rng.randint(1992, 1998)
        rows.append(
            {
                "o_orderkey": k,
                "o_custkey": rng.randrange(15_000),
                "o_orderstatus": rng.choice(STATUSES),
                "o_totalprice": rng.randint(90_000, 50_000_000) / 100,
                "o_orderdate": f"{year}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}",
                "o_orderpriority": rng.choice(PRIORITIES),
            }
        )
    return rows


def _orders_stmts(rng: random.Random, n: int) -> list[str]:
    """A fixed rotation of UPDATE/DELETE shapes over ``orders`` with
    seeded constants: status flips, a price rescale, multi-column SETs
    and two deletes."""
    shapes = [
        lambda: (
            f"UPDATE orders SET o_orderstatus = 'F' WHERE o_orderstatus = 'O' "
            f"AND o_orderkey % {rng.randint(3, 9)} = {rng.randint(0, 2)};"
        ),
        lambda: (
            f"UPDATE orders SET o_totalprice = o_totalprice * 1.05 "
            f"WHERE o_orderpriority = '{rng.choice(PRIORITIES)}';"
        ),
        lambda: f"DELETE FROM orders WHERE o_custkey % {rng.randint(40, 90)} = {rng.randint(0, 39)};",
        lambda: (
            f"UPDATE orders SET o_orderpriority = '{rng.choice(PRIORITIES)}', "
            f"o_totalprice = o_totalprice - {rng.randint(100, 999) / 10} "
            f"WHERE o_orderkey % {rng.randint(10, 30)} = {rng.randint(0, 9)};"
        ),
        lambda: (
            f"UPDATE orders SET o_orderstatus = 'P' "
            f"WHERE o_orderdate < '{rng.randint(1993, 1996)}-01-01' AND o_orderstatus <> 'F';"
        ),
        lambda: (
            f"DELETE FROM orders WHERE o_orderstatus = 'P' "
            f"AND o_orderkey % {rng.randint(5, 15)} = {rng.randint(0, 4)};"
        ),
    ]
    return [shapes[i % len(shapes)]() for i in range(n)]


def _customer_rows(rng: random.Random, n: int) -> dict[str, list]:
    return {
        "c_custkey": list(range(n)),
        "c_name": [f"Customer#{k:09d}" for k in range(n)],
        "c_nationkey": [rng.randrange(25) for _ in range(n)],
        "c_acctbal": [rng.randint(-99_999, 999_999) / 100 for _ in range(n)],
        "c_mktsegment": [rng.choice(SEGMENTS) for _ in range(n)],
    }


# Shapes of an append-only customer log, in a fixed rotation of ten:
# nine UPDATEs and one DELETE.  The seed sets the constants only, so
# every seed compiles the same plan shapes.
_CUSTOMER_ROTATION = "ABCABDCABC"


def _customer_stmt(rng: random.Random, i: int) -> str:
    shape = _CUSTOMER_ROTATION[i % len(_CUSTOMER_ROTATION)]
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
    # keyed on a column no UPDATE assigns: a DELETE whose WHERE reads an
    # assigned column trips a codegen cliff (see README.md)
    return f"DELETE FROM customer WHERE c_custkey % {rng.randint(50, 200)} = {rng.randint(0, 49)};"


def stmt_time(i: int) -> int:
    """Effective time of the i-th statement (0-based) of any log."""
    return T0_MS + (i + 1) * HOUR_MS


def render_updates(stmts: list[str], start: int = 0) -> str:
    """``.updates`` text: one ``-- time=`` directive per statement."""
    return "".join(
        f"-- time={stmt_time(start + i)}\n{sql}\n" for i, sql in enumerate(stmts)
    )


def _write_customer(path: str, cols: dict[str, list]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(
        {
            "c_custkey": pa.array(cols["c_custkey"], pa.int64()),
            "c_name": pa.array(cols["c_name"], pa.string()),
            "c_nationkey": pa.array(cols["c_nationkey"], pa.int32()),
            "c_acctbal": pa.array(cols["c_acctbal"], pa.float64()),
            "c_mktsegment": pa.array(cols["c_mktsegment"], pa.string()),
        }
    )
    pq.write_table(table, path)


def _write_orders_copy(path: str, rows: list[dict]) -> None:
    """The oracle's copy of the Avro base rows, written by pyarrow so
    the oracle does not depend on the Avro decoder under test."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.Table.from_pylist(rows), path)


def _build(workload: str, seed: int, size: str, out: str) -> dict:
    from hive_scd_spark.sources import avro_lite

    sz = SIZES[size]
    rng = random.Random(f"{workload}:{seed}")
    meta: dict = {"workload": workload, "seed": seed, "size": size}
    if workload == "asof_read":
        data = os.path.join(out, "orders")
        os.makedirs(data)
        rows = _orders_rows(rng, sz["orders_rows"])
        per = -(-len(rows) // sz["orders_files"])
        for f in range(sz["orders_files"]):
            avro_lite.write_container(
                os.path.join(data, f"part-{f:05d}.avro"),
                ORDERS_AVRO_SCHEMA,
                rows[f * per : (f + 1) * per],
                codec="deflate",
                rows_per_block=4096,
            )
        _write_orders_copy(os.path.join(out, "orders_base.parquet"), rows)
        stmts = _orders_stmts(rng, sz["orders_stmts"])
        with open(os.path.join(data, ".updates"), "w") as fh:
            fh.write(render_updates(stmts))
        meta.update(
            table="orders",
            data="orders",
            oracle_base="orders_base.parquet",
            stmts=stmts,
            base_rows=len(rows),
        )
        return meta

    cols = _customer_rows(rng, sz["customer_rows"])
    meta.update(table="customer", base_rows=sz["customer_rows"])
    if workload == "log_replay":
        data = os.path.join(out, "customer")
        os.makedirs(data)
        _write_customer(os.path.join(data, "part-00000.parquet"), cols)
        stmts = [_customer_stmt(rng, i) for i in range(sz["replay_stmts"])]
        with open(os.path.join(data, ".updates"), "w") as fh:
            fh.write(render_updates(stmts))
        meta.update(data="customer", oracle_base="customer/part-00000.parquet", stmts=stmts)
        return meta

    if workload == "append_compact":
        # the base only: the run copies it to a live table and grows
        # its log from `initial` through the batches
        base = os.path.join(out, "base")
        os.makedirs(base)
        _write_customer(os.path.join(base, "part-00000.parquet"), cols)
        n = sz["compact_initial"] + sz["compact_batch"] * sz["compact_batches"]
        meta.update(
            data="base",
            oracle_base="base/part-00000.parquet",
            stmts=[_customer_stmt(rng, i) for i in range(n)],
            initial=sz["compact_initial"],
            batch=sz["compact_batch"],
            batches=sz["compact_batches"],
        )
        return meta
    raise ValueError(f"unknown workload {workload!r}")


def fixture(root: str, workload: str, seed: int, size: str = "full") -> tuple[str, dict]:
    """Return ``(dir, meta)`` for the inputs of *workload* at *seed*,
    generating them on first use.  Generation writes to a temporary
    directory and renames it into place, so an interrupted run never
    leaves a half-written fixture behind."""
    key = f"{workload}-{size}-s{seed}-{fingerprint()}"
    final = os.path.join(root, key)
    meta_path = os.path.join(final, "meta.json")
    if not os.path.exists(meta_path):
        tmp = f"{final}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        try:
            meta = _build(workload, seed, size, tmp)
            with open(os.path.join(tmp, "meta.json"), "w") as fh:
                json.dump(meta, fh)
        except BaseException:
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        shutil.rmtree(final, ignore_errors=True)
        os.rename(tmp, final)
    with open(meta_path) as fh:
        return final, json.load(fh)
