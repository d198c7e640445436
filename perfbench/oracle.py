"""DuckDB oracle: replay the generated DML in a database, the way the
reference replays it through H2, and compare aggregates.

The oracle never touches the program under test.  It loads the base
rows from the generator's own Parquet copy, executes the exact SQL text
of each statement in file order, and answers "what does the aggregate
look like after the first *n* statements?" for every *n* a run asked
about, in one incremental pass.
"""

from __future__ import annotations

import math

import duckdb

import gen

AGG = {
    "orders": ("o_orderstatus", "o_orderkey", "o_totalprice"),
    "customer": ("c_mktsegment", "c_custkey", "c_acctbal"),
}


def agg_sql(table: str, source: str) -> str:
    key, ident, value = AGG[table]
    return (
        f"SELECT {key}, count(*), sum({ident}), sum({value}) "
        f"FROM {source} GROUP BY 1 ORDER BY 1"
    )


def applicable_count(n_stmts: int, as_of_ms: int) -> int:
    """How many statements of a log apply at *as_of_ms* (statement i is
    effective at ``gen.stmt_time(i)``; a negative as-of reads raw data)."""
    if as_of_ms < 0:
        return 0
    return sum(1 for i in range(n_stmts) if gen.stmt_time(i) <= as_of_ms)


def normalize(rows) -> list[tuple]:
    return sorted(tuple(r) for r in rows)


def same(got: list[tuple], want: list[tuple]) -> bool:
    """Group keys, counts and integer sums must match exactly; the
    floating sum to 1e-9 relative (the engines add in different
    orders)."""
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if g[:3] != w[:3]:
            return False
        if not math.isclose(g[3], w[3], rel_tol=1e-9, abs_tol=1e-6):
            return False
    return True


class Oracle:
    def __init__(self, base_parquet: str, table: str, stmts: list[str], drop: int | None = None):
        self.table = table
        self.stmts = [s for i, s in enumerate(stmts) if i != drop]
        self._base = base_parquet

    def _connect(self):
        con = duckdb.connect()
        con.execute("SET threads = 2")
        con.execute(f"CREATE TABLE {self.table} AS SELECT * FROM read_parquet('{self._base}')")
        return con

    def aggregates(self, counts) -> dict[int, list[tuple]]:
        """Aggregate after each prefix length in *counts*."""
        want = sorted(set(counts))
        out: dict[int, list[tuple]] = {}
        con = self._connect()
        try:
            done = 0
            for n in want:
                for sql in self.stmts[done:n]:
                    con.execute(sql)
                done = max(done, n)
                out[n] = normalize(con.execute(agg_sql(self.table, self.table)).fetchall())
        finally:
            con.close()
        return out

    def snapshots_match(self, counts_and_dirs) -> dict[str, bool]:
        """For each ``(n, parquet_dir)``: does the directory aggregate to
        the state after the first *n* statements?  Keyed by directory."""
        out: dict[str, bool] = {}
        con = self._connect()
        try:
            done = 0
            for n, path in sorted(counts_and_dirs):
                for sql in self.stmts[done:n]:
                    con.execute(sql)
                done = max(done, n)
                got = normalize(
                    con.execute(agg_sql(self.table, f"read_parquet('{path}/*.parquet')")).fetchall()
                )
                want = normalize(con.execute(agg_sql(self.table, self.table)).fetchall())
                out[path] = same(got, want)
        finally:
            con.close()
        return out


def current_rows_equal(history_dir: str, snapshot_dir: str, cols: list[str]) -> bool:
    """The history's ``is_current`` rows are exactly the next snapshot's
    rows (as multisets)."""
    sel = ", ".join(cols)
    hist = f"(SELECT {sel} FROM read_parquet('{history_dir}/*.parquet') WHERE is_current)"
    snap = f"(SELECT {sel} FROM read_parquet('{snapshot_dir}/*.parquet'))"
    con = duckdb.connect()
    try:
        con.execute("SET threads = 2")
        extra = con.execute(f"SELECT count(*) FROM ({hist} EXCEPT ALL {snap})").fetchone()[0]
        missing = con.execute(f"SELECT count(*) FROM ({snap} EXCEPT ALL {hist})").fetchone()[0]
    finally:
        con.close()
    return extra == 0 and missing == 0
