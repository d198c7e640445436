"""SparkSession factory with scale-appropriate defaults.

Local runs use ``local[$SPARK_GRAFT_CPUS]``; on a real cluster the same
settings apply unchanged except master/memory.  AQE is on so runtime
statistics re-plan shuffles (partition coalescing, skew-join splitting,
broadcast demotion) — the knob that makes one config survive 100 TB.

The session is Hive-enabled over an in-memory Derby metastore, so Avro
reads can go through the bundled Hive ``AvroSerDe``
(``sources/avro.py``); the metastore lives and dies with the JVM and
writes nothing to the working directory.
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
        .enableHiveSupport()
        .config(
            "spark.hadoop.javax.jdo.option.ConnectionURL",
            "jdbc:derby:memory:hive_scd_spark_metastore;create=true",
        )
        .config("spark.hadoop.datanucleus.schema.autoCreateAll", "true")
        .config("spark.hadoop.hive.metastore.schema.verification", "false")
        # one shared (empty) directory, not one `<uuid>_resources` left
        # in the temp directory by every session
        .config(
            "spark.hadoop.hive.downloaded.resources.dir",
            "${java.io.tmpdir}/hive_scd_spark_resources",
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    jvm = spark._jvm
    # The metastore boots on first catalog use, after this point.  Derby
    # writes derby.log to its system home, which defaults to the working
    # directory; keep it in the JVM's temp directory instead.
    jvm.java.lang.System.setProperty(
        "derby.system.home", jvm.java.lang.System.getProperty("java.io.tmpdir")
    )
    # Every CREATE ... STORED AS AVRO first looks for the spark-avro data
    # source to check column names, and logs the miss at ERROR with a
    # stack trace before it uses the Hive SerDe, which needs no such check.
    log4j = jvm.org.apache.logging.log4j
    log4j.core.config.Configurator.setLevel(
        "org.apache.spark.sql.execution.command.DDLUtils", log4j.Level.OFF
    )
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
