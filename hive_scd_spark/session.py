"""SparkSession factory with scale-appropriate defaults.

Local runs use ``local[$SPARK_GRAFT_CPUS]``; on a real cluster the same
settings apply unchanged except master/memory.  AQE is on so runtime
statistics re-plan shuffles (partition coalescing, skew-join splitting,
broadcast demotion) — the knob that makes one config survive 100 TB.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "hive_scd_spark",
    shuffle_partitions: int | None = None,
    warehouse_dir: str | None = None,
):
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cpus) if cpus.isdigit() else 32, 8)
    if warehouse_dir is None:
        warehouse_dir = os.environ.get(
            "SPARK_GRAFT_WAREHOUSE", "/tmp/hive_scd_spark_warehouse"
        )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # driver testdata stores event timestamps as TIMESTAMP(NANOS),
        # which vanilla Spark refuses; read them as long nanos instead
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.warehouse.dir", warehouse_dir)
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def gc_isolate(spark, settle_s: float = 0.5) -> None:
    """Free pinned JVM state between measured runs — the shared
    implementation behind bench.py and scripts/scale.py.

    Two mechanisms, one routine: (1) ContextCleaner block removal is
    ASYNCHRONOUS after a GC discovers dead RDDs, so without the settle
    beat the cleanup wall-time lands inside the NEXT measured window
    (bench r3: +60 % on the query after a checkpoint-heavy one); and
    (2) lazy localCheckpoint blocks are lineage-truncating and hence
    PINNED — not evictable — until their Python refs are collected,
    so a sequence of heavy runs without this call exhausts the unified
    pool outright (the 100x scale run, r7: UNABLE_TO_ACQUIRE_MEMORY
    after ~10 experiments).  gc.collect() drops the py4j refs, the JVM GC frees
    the RDDs, the sleep lets ContextCleaner drain."""
    import gc
    import time

    gc.collect()
    spark.sparkContext._jvm.System.gc()
    time.sleep(settle_s)


def time_noop(build) -> float:
    """Seconds from calling *build* (no arguments, returns a DataFrame)
    to the end of its action into the ``noop`` sink — the one timing
    rule of bench.py and scripts/scale.py.  Build-time work (schema
    inference, Catalyst analysis, pins, checkpoints, seed collects) is
    inside the window because a user pays for it too; the noop sink
    runs the full plan without collecting its rows (``count()`` would
    let Catalyst prune the projections being timed)."""
    import time

    t0 = time.perf_counter()
    build().write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0
