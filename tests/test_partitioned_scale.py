"""Many-partition-dir SCD: identical scripts must compile once and
read in a single scan (the A11 scale property, SURVEY §7.3)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from hive_scd_spark.plans import plan_summary
from hive_scd_spark.scd import read_scd


def test_fifty_dirs_identical_script_single_scan(spark, tmp_path):
    base = spark.range(1000).select(
        F.col("id"), (F.col("id") % 7).cast("double").alias("v")
    )
    script = "UPDATE t SET v = v + 1 WHERE id % 2 = 0;"
    for part in range(50):
        d = tmp_path / f"p={part}"
        base.filter(F.col("id") % 50 == part).write.mode("overwrite").parquet(str(d))
        (d / ".updates").write_text(script)
    out = read_scd(spark, str(tmp_path), as_of=None, format="parquet")
    # 50 dirs share one script text → ONE grouped read, not 50 unions
    assert plan_summary(out)["scans"] == 1
    assert out.count() == 1000
    evens = out.filter(F.col("id") % 2 == 0).agg(F.sum("v")).first()[0]
    raw_evens = base.filter(F.col("id") % 2 == 0).agg(F.sum("v") + F.count("*")).first()[0]
    assert evens == raw_evens


def test_mixed_scripts_group_by_content(spark, tmp_path):
    base = spark.range(100).select(F.col("id"), F.lit("x").alias("tag"))
    for part in range(6):
        d = tmp_path / f"p={part}"
        base.filter(F.col("id") % 6 == part).write.mode("overwrite").parquet(str(d))
        # two distinct script texts across six dirs → two scan groups
        script = (
            "UPDATE t SET tag = 'a';" if part % 2 == 0 else "UPDATE t SET tag = 'b';"
        )
        (d / ".updates").write_text(script)
    out = read_scd(spark, str(tmp_path), as_of=None, format="parquet")
    assert plan_summary(out)["scans"] == 2
    tags = {r.tag for r in out.select("tag").distinct().collect()}
    assert tags == {"a", "b"}


def test_hive_partition_column_survives_and_filters(spark, tmp_path):
    """Leaf dirs are read with the table root as basePath, so the
    ``p=`` partition column is there exactly as in spark.read.parquet
    of the root: over dirs with two script texts and dirs with no
    ``.updates`` at all, and usable in a filter."""
    base = spark.range(90).select(F.col("id"), F.lit(0).alias("v"))
    for part in range(9):
        d = tmp_path / f"p={part}"
        base.filter(F.col("id") % 9 == part).write.mode("overwrite").parquet(str(d))
        if part % 3 == 1:
            (d / ".updates").write_text("UPDATE t SET v = 1;")
        elif part % 3 == 2:
            (d / ".updates").write_text("UPDATE t SET v = 2 WHERE p > 4;")
    plain = spark.read.parquet(str(tmp_path))
    out = read_scd(spark, str(tmp_path), as_of=None, format="parquet")
    assert sorted(out.columns) == sorted(plain.columns) == ["id", "p", "v"]
    # one scan per script group: two scripts + the no-.updates dirs
    assert plan_summary(out)["scans"] == 3
    got = {r.id: (r.p, r.v) for r in out.collect()}
    assert got == {
        i: (i % 9, {0: 0, 1: 1, 2: 2 if i % 9 > 4 else 0}[i % 9 % 3])
        for i in range(90)
    }
    assert out.filter(F.col("p") == 7).count() == 10
    assert {r.v for r in out.filter(F.col("p") == 7).collect()} == {1}
