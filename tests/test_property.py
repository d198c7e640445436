"""Property-based tests (SURVEY.md §5(4), FIXTURES.md Fixture 3):
random flat rows + random row-local DML programs + random as-of times.

Invariants:
(a) engine output ≡ row-by-row Python replay of the same statements
(b) as_of < 0 ≡ raw read
(c) monotone as-of ⇒ replays are prefixes of one another
(d) deleted + surviving = input count (for DELETE-only programs)
"""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from hive_scd_spark.scd import apply_statements
from hive_scd_spark.updates import applicable, parse_script

SCHEMA = "b boolean, i int, l bigint, f float, d double, s string"
COLS = ["b", "i", "l", "f", "d", "s"]

row_st = st.tuples(
    st.none() | st.booleans(),
    st.none() | st.integers(-100, 100),
    st.none() | st.integers(-(10**6), 10**6),
    st.none() | st.sampled_from([0.0, 1.5, -2.25, 100.0]),
    st.none() | st.sampled_from([0.0, 3.5, -7.25, 1e6]),
    st.none() | st.sampled_from(["", "abc", "xyz", "hello world"]),
)

# statement pool: (sql fragment, python replay fn). Predicates/exprs
# use only int column i and string column s for tractable replay.
def _upd(set_col, set_expr, py_set, where, py_where):
    return (
        f"UPDATE t SET {set_col} = {set_expr}" + (f" WHERE {where}" if where else "") + ";",
        ("update", set_col, py_set, py_where),
    )


def _dele(where, py_where):
    return (
        f"DELETE FROM t" + (f" WHERE {where}" if where else "") + ";",
        ("delete", None, None, py_where),
    )


def w_true(r):
    return True


STATEMENTS = [
    _upd("i", "i + 1", lambda r: None if r["i"] is None else r["i"] + 1,
         "i > 0", lambda r: r["i"] is not None and r["i"] > 0),
    _upd("i", "42", lambda r: 42, "i < 0", lambda r: r["i"] is not None and r["i"] < 0),
    _upd("s", "upper(s)", lambda r: None if r["s"] is None else r["s"].upper(),
         "s LIKE 'h%'", lambda r: r["s"] is not None and r["s"].startswith("h")),
    _upd("d", "d * 2", lambda r: None if r["d"] is None else r["d"] * 2, None, w_true),
    _upd("l", "i", lambda r: r["i"], "i IS NOT NULL", lambda r: r["i"] is not None),
    _upd("b", "NOT b", lambda r: None if r["b"] is None else not r["b"],
         "b IS NOT NULL", lambda r: r["b"] is not None),
    _dele("i = 42", lambda r: r["i"] == 42),
    _dele("s = ''", lambda r: r["s"] == ""),
    _dele("i > 50", lambda r: r["i"] is not None and r["i"] > 50),
]

# Programs longer than one compiled chunk (``scd._chunk_depth``: 45
# statements at the default spark.sql.analyzer.maxIterations) check
# read-after-write chains and DELETEs across chunk edges.  Their DELETE
# is keyed on f, which no UPDATE assigns.  Catalyst pushes a DELETE
# predicate down through every projection below it, and each UPDATE of
# a column the predicate reads multiplies its size by 2-3: at 50 random
# statements of the full pool one collect took 32 s (Janino gives up and
# Spark falls back), a cliff the per-statement fold had too and that
# SCALE_NOTES.md records as open.
LONG_POOL = [s for s in STATEMENTS if s[1][0] == "update"] + [
    _dele("f > 50", lambda r: r["f"] is not None and r["f"] > 50),
]

program_st = st.lists(
    st.tuples(st.sampled_from(STATEMENTS), st.integers(0, 3)), min_size=0, max_size=5
) | st.lists(
    st.tuples(st.sampled_from(LONG_POOL), st.integers(0, 3)), min_size=46, max_size=70
)


def replay(rows, program, as_of):
    """Row-by-row Python oracle for the statement chain."""
    out = []
    stmts = [(spec, t) for (sql, spec), t in program if t <= as_of] if as_of >= 0 else []
    for vals in rows:
        r = dict(zip(COLS, vals))
        alive = True
        for (kind, col, py_set, py_where), _t in stmts:
            if not alive:
                break
            if kind == "update":
                if py_where(r):
                    r[col] = py_set(r)
                    if col == "l" and r[col] is not None:
                        r[col] = int(r[col])
            else:
                if py_where(r):
                    alive = False
        if alive:
            out.append(tuple(r[c] for c in COLS))
    return out


def canon(vals):
    def c(v):
        if isinstance(v, float):
            if math.isnan(v):
                return "nan"
            return f"{v:.6g}"
        return repr(v)

    return sorted("|".join(c(v) for v in row) for row in vals)


def build_script(program):
    lines = []
    for (sql, _spec), t in program:
        lines.append(f"-- time={t}")
        lines.append(sql)
    return "\n".join(lines) + "\n"


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=st.lists(row_st, min_size=0, max_size=12), program=program_st,
       as_of=st.sampled_from([-1, 0, 1, 2, 3, 10]))
def test_engine_equals_python_replay(spark, rows, program, as_of):
    df = spark.createDataFrame(rows, SCHEMA)
    script = build_script(program)
    got = [tuple(r) for r in apply_statements(df, script, as_of=as_of).collect()]
    want = replay(rows, program, as_of)
    assert canon(got) == canon(want)


def test_chunk_depth_follows_analyzer_max_iterations(spark):
    """At maxIterations=20 a chunk is a few statements deep, so a
    100-statement log compiles as many chunks; one fixed depth of 45
    would fail analysis here ("Max iterations (20) reached")."""
    import random

    session = spark.newSession()
    session.conf.set("spark.sql.analyzer.maxIterations", "20")
    rng = random.Random(0)
    program = [(rng.choice(LONG_POOL), rng.randint(0, 3)) for _ in range(100)]
    rows = [(True, 5, 7, 1.5, 3.5, "hello"), (None, -3, None, 100.0, 0.0, ""),
            (False, 60, 1, None, 1e6, "abc"), (None, None, None, 0.0, None, None)]
    df = session.createDataFrame(rows, SCHEMA)
    for as_of in (2, 10):
        got = [tuple(r) for r in apply_statements(df, build_script(program), as_of=as_of).collect()]
        assert canon(got) == canon(replay(rows, program, as_of))


@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(program=st.lists(st.tuples(st.sampled_from(LONG_POOL), st.integers(0, 3)),
                        min_size=46, max_size=70))
def test_scd2_history_long_scripts_match_apply_statements(spark, program):
    """History ≡ apply_statements at every boundary for logs longer than
    a chunk.  At maxIterations=20 a chunk is a few layers deep, so the
    history's statement, restore and boundary layers span many chunks;
    the random times put most statements out of script order."""
    from hive_scd_spark.scd import scd2_history

    session = spark.newSession()
    session.conf.set("spark.sql.analyzer.maxIterations", "20")
    rows = [(True, 5, 7, 1.5, 3.5, "hello"), (None, -3, None, 100.0, 0.0, ""),
            (False, 60, 1, None, 1e6, "abc"), (None, None, None, 0.0, None, None)]
    df = session.createDataFrame(rows, SCHEMA)
    script = build_script(program)
    hist = scd2_history(df, script).collect()
    for t in range(4):
        got = [tuple(r[c] for c in COLS) for r in hist
               if r.valid_from_ms <= t and (r.valid_to_ms is None or r.valid_to_ms > t)]
        want = [tuple(r) for r in apply_statements(df, script, as_of=t).collect()]
        assert canon(got) == canon(want), f"divergence at t={t}"


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=st.lists(row_st, min_size=1, max_size=8), program=program_st)
def test_negative_asof_is_raw(spark, rows, program):
    df = spark.createDataFrame(rows, SCHEMA)
    got = [tuple(r) for r in apply_statements(df, build_script(program), as_of=-1).collect()]
    assert canon(got) == canon(rows)


def test_monotone_asof_prefix_replay():
    script = (
        "-- time=1\nUPDATE t SET i = 1;\n"
        "-- time=2\nUPDATE t SET i = 2;\n"
        "-- time=3\nDELETE FROM t WHERE i = 2;\n"
    )
    stmts = parse_script(script)
    prev: list = []
    for as_of in [0, 1, 2, 3, 4]:
        cur = applicable(stmts, as_of)
        assert cur[: len(prev)] == prev  # prefix property
        prev = cur


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=st.lists(row_st, min_size=0, max_size=10))
def test_deleted_plus_surviving_equals_input(spark, rows):
    df = spark.createDataFrame(rows, SCHEMA)
    surviving = apply_statements(df, "DELETE FROM t WHERE i > 0;", as_of=None).count()
    deleted = apply_statements(
        df, "DELETE FROM t WHERE NOT (i > 0) OR i IS NULL;", as_of=None
    ).count()
    assert surviving + deleted == len(rows)
