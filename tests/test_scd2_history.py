"""Type-2 history materializer (scd.scd2_history)."""

from __future__ import annotations

import pytest

from hive_scd_spark.scd import scd2_history


@pytest.fixture()
def dim(spark):
    return spark.createDataFrame(
        [(1, "alice", 100.0), (2, "bob", -50.0), (3, "carol", 10.0)],
        "id int, name string, bal double",
    )


SCRIPT = (
    "-- time=1000\nUPDATE t SET bal = bal + 5 WHERE id = 1;\n"
    "-- time=2000\nDELETE FROM t WHERE id = 2;\n"
    "-- time=3000\nUPDATE t SET name = upper(name) WHERE id = 3;\n"
)


def test_intervals_and_currency(spark, dim):
    rows = sorted(
        (
            (r.id, r.name, r.bal, r.valid_from_ms, r.valid_to_ms, r.is_current)
            for r in scd2_history(dim, SCRIPT).collect()
        ),
        key=lambda t: (t[0], t[3]),  # (id, valid_from) — name case varies
    )
    assert rows == [
        (1, "alice", 100.0, 0, 1000, False),
        (1, "alice", 105.0, 1000, None, True),
        (2, "bob", -50.0, 0, 2000, False),  # deletion closes the interval
        (3, "carol", 10.0, 0, 3000, False),
        (3, "CAROL", 10.0, 3000, None, True),
    ]


def test_unchanged_rows_have_single_current_interval(spark, dim):
    out = scd2_history(dim, "UPDATE t SET bal = 0 WHERE id = 99;")
    rows = [(r.id, r.valid_from_ms, r.valid_to_ms, r.is_current) for r in out.collect()]
    assert sorted(rows) == [(1, 0, None, True), (2, 0, None, True), (3, 0, None, True)]


def test_empty_script_single_interval(spark, dim):
    assert scd2_history(dim, "").count() == 3


CHAIN_SCRIPT = (
    "-- time=1000\nUPDATE t SET bal = bal * 2;\n"
    "-- time=2000\nUPDATE t SET name = upper(name) WHERE bal > 100;\n"  # reads post-image bal
    "-- time=3000\nDELETE FROM t WHERE name = 'ALICE';\n"  # reads post-image name
)


def test_chain_folds_through_sequential_select_chain(spark, dim):
    """r13: read-after-write chains fold correctly when script order
    agrees with effective-time order (the append-only log shape) —
    ground truth is the documented workaround, apply_statements per
    as-of boundary."""
    from pyspark.sql import functions as F

    from hive_scd_spark.scd import apply_statements

    hist = scd2_history(dim, CHAIN_SCRIPT)
    for t in [0, 999, 1000, 1999, 2000, 2999, 3000, 99999]:
        from_hist = sorted(
            (r.id, r.name, r.bal)
            for r in hist.filter(
                (F.col("valid_from_ms") <= t)
                & (F.col("valid_to_ms").isNull() | (F.col("valid_to_ms") > t))
            ).collect()
        )
        from_apply = sorted(
            (r.id, r.name, r.bal)
            for r in apply_statements(dim, CHAIN_SCRIPT, as_of=t).collect()
        )
        assert from_hist == from_apply, f"divergence at t={t}"
    # alice: bal 100 -> 200 at t=1000, name -> ALICE at t=2000 (200 >
    # 100 POST-image; the broken pre-image fold would skip this since
    # the source bal is exactly 100), deleted at t=3000
    alice = sorted(
        (r.valid_from_ms, r.valid_to_ms, r.name, r.bal)
        for r in hist.filter("id = 1").collect()
    )
    assert alice == [
        (0, 1000, "alice", 100.0),
        (1000, 2000, "alice", 200.0),
        (2000, 3000, "ALICE", 200.0),
    ]


def test_chain_same_statement_preimage_preserved(spark, dim):
    """WITHIN one statement SETs still see the pre-image; across
    statements they see the post-image."""
    out = scd2_history(
        dim,
        "-- time=1000\nUPDATE t SET bal = bal + 1, name = concat(name, bal) WHERE id = 1;\n"
        "-- time=2000\nUPDATE t SET bal = bal * 10 WHERE id = 1;\n",
    )
    rows = sorted(
        (r.valid_from_ms, r.name, r.bal) for r in out.filter("id = 1").collect()
    )
    # name uses the PRE-image bal (100.0) of its own statement; the
    # second statement multiplies the POST-image bal (101.0)
    assert rows == [
        (0, "alice", 100.0),
        (1000, "alice100.0", 101.0),
        (2000, "alice100.0", 1010.0),
    ]


OUT_OF_ORDER_CHAIN = (
    "-- time=2000\nUPDATE t SET bal = 1 WHERE id = 1;\n"
    "-- time=1000\nDELETE FROM t WHERE bal = 1;\n"
)


def test_chain_out_of_order_folds_per_boundary(spark, dim):
    """r14 (VERDICT r13 task 6): the chain + out-of-order-times case no
    longer refuses — each boundary recomputes its own applicable-prefix
    fold, so the history matches apply_statements at every as-of."""
    from pyspark.sql import functions as F

    from hive_scd_spark.scd import apply_statements

    hist = scd2_history(dim, OUT_OF_ORDER_CHAIN)
    for t in [0, 999, 1000, 1999, 2000, 99999]:
        from_hist = sorted(
            (r.id, r.name, r.bal)
            for r in hist.filter(
                (F.col("valid_from_ms") <= t)
                & (F.col("valid_to_ms").isNull() | (F.col("valid_to_ms") > t))
            ).collect()
        )
        from_apply = sorted(
            (r.id, r.name, r.bal)
            for r in apply_statements(dim, OUT_OF_ORDER_CHAIN, as_of=t).collect()
        )
        assert from_hist == from_apply, f"divergence at t={t}"
    # at t=1000 only the delete applies (bal=1 matches nobody); at
    # t=2000 the update runs FIRST in script order, so id=1 is deleted
    assert sorted(r.id for r in hist.filter("is_current").collect()) == [2, 3]
    assert hist.filter("id = 1 and valid_to_ms = 2000").count() == 1


def test_chain_detector_is_token_bounded(spark):
    """Out-of-order times where a later statement reads a column whose
    name merely contains an assigned one (`ab` vs `a`).  An earlier
    substring-based chain detector refused this script; the history
    must match apply_statements."""
    from hive_scd_spark.scd import apply_statements

    dim2 = spark.createDataFrame(
        [(1, 10.0, 2.0), (2, 20.0, 3.0)], "id int, a double, ab double"
    )
    script = (
        "-- time=2000\nUPDATE t SET a = 99 WHERE id = 1;\n"
        "-- time=1000\nUPDATE t SET ab = ab * 2 WHERE id = 2;\n"
    )
    hist = scd2_history(dim2, script)
    cur = sorted(
        (r.id, r.a, r.ab) for r in hist.filter("is_current").collect()
    )
    exp = sorted(
        (r.id, r.a, r.ab)
        for r in apply_statements(dim2, script, as_of=99999).collect()
    )
    assert cur == exp == [(1, 99.0, 2.0), (2, 20.0, 6.0)]


def test_negative_effective_time_applies_from_zero(spark, dim):
    """A statement timed before 0 applies at every as-of >= 0
    (``applicable``), so the history starts with its effect and opens no
    interval at a negative time."""
    hist = scd2_history(dim, "-- time=-5\nUPDATE t SET bal = 1 WHERE id = 1;\n")
    rows = [(r.bal, r.valid_from_ms, r.valid_to_ms) for r in hist.filter("id = 1").collect()]
    assert rows == [(1.0, 0, None)]


def test_untimed_chain_folds(spark, dim):
    """Untimed statements (effective=None -> boundary 0) chain too."""
    out = scd2_history(
        dim,
        "UPDATE t SET bal = 1 WHERE id = 1;\nDELETE FROM t WHERE bal = 1;",
    )
    rows = sorted((r.id,) for r in out.collect())
    assert rows == [(2,), (3,)]  # id=1 deleted via the chained post-image


def test_asof_consistency_with_apply_statements(spark, dim):
    """At any boundary t, the SCD2 intervals covering t must equal the
    as-of snapshot from apply_statements."""
    from pyspark.sql import functions as F

    from hive_scd_spark.scd import apply_statements

    hist = scd2_history(dim, SCRIPT)
    for t in [0, 999, 1000, 1999, 2000, 2500, 3000, 99999]:
        from_hist = sorted(
            (r.id, r.name, r.bal)
            for r in hist.filter(
                (F.col("valid_from_ms") <= t)
                & (F.col("valid_to_ms").isNull() | (F.col("valid_to_ms") > t))
            ).collect()
        )
        from_apply = sorted(
            (r.id, r.name, r.bal) for r in apply_statements(dim, SCRIPT, as_of=t).collect()
        )
        assert from_hist == from_apply, f"divergence at t={t}"


def _timed(n):
    """n timed statements (n + 1 boundaries), each reading the
    post-image of the one before."""
    return "".join(
        f"-- time={1000 * (i + 1)}\nUPDATE t SET bal = bal + {i} WHERE id = {i % 3 + 1};\n"
        for i in range(n)
    )


@pytest.mark.parametrize("n_stmts", [4, 16])
def test_boundary_array_built_once(spark, dim, n_stmts):
    """The boundary array is one projection and the keep list the next,
    so the optimized plan holds one ``array(`` and one ``filter(`` at 5
    and at 17 boundaries (an inlined array showed 16 and 3 at 5
    boundaries)."""
    plan = scd2_history(dim, _timed(n_stmts))._jdf.queryExecution().optimizedPlan().toString()
    assert (plan.count("array("), plan.count("filter(")) == (1, 1)


def test_update_of_unknown_column_raises_value_error(spark, dim):
    with pytest.raises(ValueError, match="unknown column 'nope'"):
        scd2_history(dim, "-- time=1000\nUPDATE t SET nope = 1 WHERE id = 1;\n")


def test_where_that_is_not_one_expression_raises_and_runs_nothing(spark, dim):
    sc = spark.sparkContext
    sc.setJobGroup("history-splice-check", "jobs started by a rejected history statement")
    try:
        with pytest.raises(Exception, match="PARSE_SYNTAX_ERROR"):
            scd2_history(dim, "-- time=1000\nDELETE FROM t WHERE id = 1) x UNION ALL SELECT 1 AS id FROM (SELECT 1;\n")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("history-splice-check") == []


def test_untracked_change_opens_no_interval(spark, dim):
    script = (
        "-- time=1000\nUPDATE t SET bal = 0 WHERE id = 1;\n"
        "-- time=2000\nUPDATE t SET name = 'ALICE' WHERE id = 1;\n"
    )
    hist = scd2_history(dim, script, tracked_cols=["id", "name"])
    assert hist.columns == ["id", "name", "valid_from_ms", "valid_to_ms", "is_current"]
    alice = sorted(tuple(r) for r in hist.filter("id = 1").collect())
    assert alice == [(1, "ALICE", 2000, None, True), (1, "alice", 0, 2000, False)]
