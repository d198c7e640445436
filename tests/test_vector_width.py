"""Width contract of functions.dot_w / vector_norm_w: a dim= that does
not match the arrays fails the query on both the codegen expansion and
the wide HOF-fold path, instead of silently truncating or returning
NULL; NULL arrays stay NULL."""

from __future__ import annotations

import math

import pytest

from pyspark.sql import functions as F

from hive_scd_spark.functions import MAX_CODEGEN_DOT_WIDTH, dot_w, vector_norm_w

# one width per path: the codegen expansion and the fold above the cap
WIDTHS = [4, MAX_CODEGEN_DOT_WIDTH + 4]


def _frame(spark, w):
    a = [float(i + 1) for i in range(w)]
    b = [0.5 * (i % 3) - 0.25 for i in range(w)]
    return spark.createDataFrame(
        [(1, a, b), (2, None, b)], "id int, a array<double>, b array<double>"
    ), a, b


@pytest.mark.parametrize("w", WIDTHS)
def test_matching_width_is_exact_and_null_stays_null(spark, w):
    df, a, b = _frame(spark, w)
    got = {
        r.id: (r.dot, r.norm)
        for r in df.select(
            "id",
            dot_w(F.col("a"), F.col("b"), w).alias("dot"),
            vector_norm_w(F.col("a"), w).alias("norm"),
        ).collect()
    }
    dot = 0.0
    for x, y in zip(a, b):
        dot += x * y
    sq = 0.0
    for x in a:
        sq += x * x
    assert got[1] == (dot, math.sqrt(sq))
    assert got[2] == (None, None)


@pytest.mark.parametrize("w", WIDTHS)
@pytest.mark.parametrize("delta", [-1, 1])
def test_wrong_dim_fails_loudly(spark, w, delta):
    df, _, _ = _frame(spark, w)
    dim = w + delta
    with pytest.raises(Exception, match=f"dot_w: an array's width is not dim={dim}"):
        df.select(dot_w(F.col("a"), F.col("b"), dim)).collect()
    with pytest.raises(Exception, match=f"vector_norm_w: an array's width is not dim={dim}"):
        df.select(vector_norm_w(F.col("a"), dim)).collect()
