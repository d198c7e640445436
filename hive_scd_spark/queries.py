"""Query registry — the driver-contract implementation of SURVEY.md §2.

Each entry pairs a Spark builder ``(spark, sf_dir) -> DataFrame`` with
an equivalent DuckDB oracle SQL string (None for genuinely
non-SQL-expressible ops).  Naming/rounding rules: every computed column
is aliased identically on both sides; double aggregates are rounded
(2 dp money, 6 dp ratios) so hash comparison is FP-stable; timestamps
in results are cast to DATE or epoch millis on both sides.

Scale notes are inline per query — at 100 TB the dimension side of
every join here broadcasts (customer/supplier/nation/region are orders
of magnitude smaller than facts), aggregations are partial+final
(map-side combine is automatic for all ``F.sum/count/avg``), and window
queries partition on high-cardinality keys so no single partition
explodes.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from hive_scd_spark.functions import hash32
from hive_scd_spark.scd import apply_statements

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Table loader — the schema-drift contract boundary (VERDICT r4 #4).

    The driver regenerates /root/testdata between rounds and has
    already changed on-disk representations (events.ts:
    TIMESTAMP(NANOS)-as-long → timestamp[us] NTZ).  Drift is absorbed
    by REPRESENTATION-POLYMORPHIC consumers, deliberately NOT by a
    blanket cast here: a load-time NTZ→LTZ cast would wrap the filter
    columns (l_shipdate, o_orderdate) in casts and defeat parquet
    predicate pushdown on the hottest scans.  Instead: string-literal
    comparisons and date-part extraction work identically on NTZ / LTZ
    / DATE; epoch extraction sites cast explicitly at the point of use
    (load_events, window_lead_ntile_orders); vector operators cast
    per-element to double.  tests/test_schema_drift.py proves every
    affected query oracle-identical across synthesized variants of all
    four drift classes (events ts ×3, embeddings float/double,
    orders/lineitem timestamp/date)."""
    # defensive: the caller may be the driver's own session — pin UTC so
    # date/year extraction from timestamps matches the UTC-naive oracle
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _data_fingerprint(sf_dir: str, table: str) -> str:
    """Cheap on-disk fingerprint of a source parquet table (file names +
    sizes + mtimes) for /tmp fixture cache keys: regenerating the
    dataset — or two datasets sharing a basename — changes the
    fingerprint, so stale fixtures rebuild instead of being compared
    against a newer oracle."""
    import hashlib
    import os

    target = os.path.join(sf_dir, f"{table}.parquet")
    parts: list[str] = [os.path.abspath(target)]
    if os.path.isfile(target):
        st = os.stat(target)
        parts.append(f"{st.st_size}:{st.st_mtime_ns}")
    elif os.path.isdir(target):
        for root, _dirs, files in sorted(os.walk(target)):
            for f in sorted(files):
                st = os.stat(os.path.join(root, f))
                parts.append(f"{f}:{st.st_size}:{st.st_mtime_ns}")
    return hashlib.md5("|".join(parts).encode()).hexdigest()[:8]


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load events with a REPRESENTATION-STABLE contract, absorbing
    driver-side schema drift (the dataset has shipped ``ts`` as both
    parquet TIMESTAMP(NANOS) and timestamp[us]; VERDICT r4 §wrong).

    Output contract regardless of on-disk layout:
      - ``ts``     TIMESTAMP (UTC session, pinned in :func:`t`)
      - ``ts_us``  BIGINT epoch microseconds == DuckDB ``epoch_us(ts)``
      - ``ts_ns``  BIGINT epoch nanoseconds (micros*1000 unless the
        source really carried nanos, in which case they are exact)

    Accepted source layouts for ``ts``:
      1. bigint — TIMESTAMP(NANOS) read under
         ``spark.sql.legacy.parquet.nanosAsLong`` as epoch nanos
      2. timestamp_ntz — parquet timestamp[us] (isAdjustedToUTC=false)
      3. timestamp — parquet timestamp[us] UTC-adjusted
    """
    # the driver may hand us a session without this legacy conf; it is
    # a runtime (non-static) SQL conf, so set it defensively here —
    # without it a TIMESTAMP(NANOS) column fails the whole read
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = t(spark, sf_dir, "events")
    if dict(ev.dtypes)["ts"] == "bigint":
        # integer `div`, not `/`: float division of epoch-nanos loses
        # precision above 2^53 and truncates to the wrong microsecond
        ev = (
            ev.withColumn("ts_ns", F.col("ts"))
            .withColumn("ts_us", F.expr("ts div 1000"))
            .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        )
    else:
        # timestamp OR timestamp_ntz.  unix_micros rejects NTZ, but the
        # session tz is pinned UTC (queries.t), so the NTZ→LTZ cast is
        # value-preserving and matches DuckDB epoch_us(ts) exactly
        # (validated value-for-value at sf0.01, VERDICT r4 fix #1).
        ts_ltz = F.col("ts").cast("timestamp")
        ev = (
            ev.withColumn("ts", ts_ltz)
            .withColumn("ts_us", F.unix_micros("ts"))
            .withColumn("ts_ns", F.col("ts_us") * F.lit(1000))
        )
    return ev


# ---------------------------------------------------------------------------
# SCD layer queries (SURVEY §2.A) — the reference's own capability,
# exercised on the `customer` dimension with a three-statement script.
# ---------------------------------------------------------------------------

CUSTOMER_SCRIPT = """\
UPDATE customer SET c_mktsegment = 'MACHINERY' WHERE c_mktsegment = 'AUTOMOBILE';
-- time=2024-03-01
UPDATE customer SET c_acctbal = c_acctbal + 100.0 WHERE c_acctbal < 0;
-- time=2024-06-01
DELETE FROM customer WHERE c_custkey % 7 = 0;
"""

# DuckDB replications of the compiled statement chain (CASE-expression
# form — exactly what our engine compiles to, SURVEY §3.4).
_ORACLE_CUST_MID = """
SELECT c_custkey, c_name, c_nationkey,
       CASE WHEN c_acctbal < 0 THEN c_acctbal + 100.0 ELSE c_acctbal END AS c_acctbal,
       CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 'MACHINERY' ELSE c_mktsegment END AS c_mktsegment
FROM customer
"""

_ORACLE_CUST_NOW = _ORACLE_CUST_MID + " WHERE NOT (c_custkey % 7 = 0)"


def scd_asof_timeline(spark, sf_dir):
    """The reference's headline semantic — as-of statement selection
    (README.md:196-212) — at all three time points in ONE tagged union:
    'raw' (as_of=-1, no statements), 'mid' (between stmt2 and stmt3:
    UPDATEs apply, DELETE doesn't), 'now' (all three apply).  One gate
    query proving monotone as-of selection end-to-end; merged from
    three so the registry stays within the driver's 50-row check."""
    cust = t(spark, sf_dir, "customer")
    out = None
    for phase, as_of in (("raw", -1), ("mid", "2024-04-01"), ("now", None)):
        part = apply_statements(cust, CUSTOMER_SCRIPT, as_of=as_of).select(
            F.lit(phase).alias("phase"), "*"
        )
        out = part if out is None else out.unionAll(part)
    return out


# Widened-type DML (VERDICT r1 #6; the reference names decimal as its
# near-term want, README.md:251-252): an UPDATE chain over DECIMAL and
# TIMESTAMP columns — decimal arithmetic + cast rounding, timestamp
# interval arithmetic, and a date-predicate DELETE, all compiled to the
# same CASE chain and replicated in the oracle.  The decimal input is
# built from integer cents (FLOOR(x*100+0.5)) so the double→decimal
# boundary is bit-identical across engines.
DECIMAL_SCRIPT = """\
UPDATE orders SET o_price = CAST(o_price * 1.05 AS DECIMAL(12,2)) WHERE o_orderdate < TIMESTAMP '1996-01-01 00:00:00';
-- time=2024-03-01
UPDATE orders SET o_orderdate = o_orderdate + INTERVAL '1' DAY WHERE o_orderstatus = 'O';
-- time=2024-06-01
DELETE FROM orders WHERE o_price > CAST(400000 AS DECIMAL(12,2)) AND o_orderdate >= TIMESTAMP '1998-06-01 00:00:00';
"""


def scd_decimal_dml(spark, sf_dir):
    """SCD DML over widened column types (decimal + timestamp)."""
    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.expr(
            "CAST(CAST(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS DECIMAL(18,4)) / 100 AS DECIMAL(12,2))"
        ).alias("o_price"),
        "o_orderdate",
        "o_orderstatus",
    )
    out = apply_statements(orders, DECIMAL_SCRIPT, as_of=None)
    # decimal arithmetic happens inside the chain; the OUTPUT is rounded
    # double + date because pandas materializes Spark decimals as
    # decimal.Decimal but DuckDB decimals as float64 — a serialized-hash
    # trap with zero value difference (same class as the r1 HUGEINT bug)
    return out.select(
        "o_orderkey",
        F.round(F.col("o_price").cast("double"), 2).alias("price_adj"),
        F.col("o_orderdate").cast("date").alias("odate"),
    )


_CHAIN_SCRIPT = """\
UPDATE customer SET c_acctbal = c_acctbal + c_nationkey, c_nationkey = c_nationkey + 1
  WHERE c_acctbal > 1000;
UPDATE customer SET c_acctbal = -c_acctbal WHERE c_nationkey = 5;
"""


def scd_update_chain_preimage(spark, sf_dir):
    """Pre-image SET semantics within a statement + cross-statement
    chaining (SURVEY §3.4 subtlety; reference H2 replay order
    SQLUpdater.java:167-169)."""
    return apply_statements(t(spark, sf_dir, "customer"), _CHAIN_SCRIPT, as_of=None)


_H2_SCRIPT = """\
UPDATE orders SET o_orderpriority = CASEWHEN(o_orderpriority = '1-URGENT', '0-EXPEDITE', o_orderpriority), o_orderdate = DATEADD('DAY', 2, o_orderdate) WHERE o_orderstatus = 'O';
UPDATE orders SET o_orderpriority = NVL(o_orderpriority, 'none') || '+h2' WHERE DATEDIFF('DAY', o_orderdate, TIMESTAMP '1997-01-01 00:00:00') > 0;
UPDATE orders SET o_orderpriority = CONCAT(o_orderpriority, NULL, CASEWHEN(INSTR(o_orderpriority, 'U', 2) > 0, '*U', '')) WHERE REGEXP_LIKE(o_orderpriority, '^[123]-', 'i');
UPDATE orders SET o_orderpriority = INSERT(o_orderpriority, CAST(o_orderkey % 4 AS INT), 2, 'Z#') WHERE o_orderkey % 5 = 0;
UPDATE orders SET o_orderpriority = TO_CHAR(TRUNC(o_orderdate, 'MONTH'), 'YYYY-MM') || '~' || o_orderpriority WHERE o_orderkey % 7 = 0;
UPDATE orders SET o_orderpriority = REGEXP_REPLACE(o_orderpriority, 'urgent', 'URGT', 'i') WHERE o_orderkey % 3 = 1;
UPDATE orders SET o_orderpriority = FORMATDATETIME(o_orderdate, 'yyyy/MM/dd') || '>' || o_orderpriority WHERE o_orderkey % 11 = 0;
DELETE FROM orders WHERE CASEWHEN(o_totalprice > 450000.0, TRUE, FALSE);
"""


def scd_h2_dialect(spark, sf_dir):
    """H2-dialect `.updates` script through the compat shim
    (``updates.translate_h2``; the reference evaluates fragments with
    H2, ``SQLUpdater.java:77``): CASEWHEN → if, DATEADD('DAY',…) →
    timestampadd, DATEDIFF('DAY',…) → timestampdiff, CONCAT with H2's
    NULL-skipping semantics, 3-arg INSTR → locate (arg swap), flagged
    REGEXP_LIKE folded to Java embedded flags, string INSERT with the
    H2 return-original boundary CASE (statement 4 drives start through
    0..3 so the start<1 branch fires on real rows), TRUNC(x, 'MONTH')
    → date_trunc, TO_CHAR('YYYY-MM') → date_format with the Oracle
    format model translated, flagged 4-arg REGEXP_REPLACE folded to an
    embedded-flag 3-arg form (Spark's own 4-arg reads a start
    POSITION there), and FORMATDATETIME → date_format on the
    SimpleDateFormat/DateTimeFormatter-agreeing subset — plus H2-isms
    that are already valid Spark (NVL, ``||``).  Pre-image semantics
    of the two-column SET in statement 1 are part of the check."""
    out = apply_statements(t(spark, sf_dir, "orders"), _H2_SCRIPT, as_of=None)
    return out.select(
        "o_orderkey",
        "o_orderpriority",
        F.col("o_orderdate").cast("date").alias("odate"),
    )


_PART_SCRIPTS = {
    0: "UPDATE customer SET c_acctbal = c_acctbal + 10 WHERE c_acctbal < 0;",
    1: "DELETE FROM customer WHERE c_custkey % 2 = 0;",
    # partition 2 carries no .updates → raw passthrough
}


def scd_partitioned_updates(spark, sf_dir):
    """Partition-scoped update scripts (A11, SQLUpdater.java:110-116):
    the customer dim is laid out as three partition directories (by
    c_nationkey % 3), each carrying its own ``.updates``; read_scd
    applies each directory's script to that directory only.

    The fixture is materialized once per (sf, session) under /tmp —
    the driver's testdata is read-only."""
    import hashlib
    import os
    import tempfile

    from hive_scd_spark.scd import read_scd

    # version the fixture path by its defining scripts AND the source
    # data's on-disk fingerprint so neither an older code revision nor a
    # regenerated dataset can poison a newer run from a stale /tmp dir
    tag = hashlib.md5(
        (
            repr(sorted(_PART_SCRIPTS.items()))
            + _data_fingerprint(sf_dir, "customer")
        ).encode()
    ).hexdigest()[:8]
    fixture = os.path.join(
        tempfile.gettempdir(),
        f"scd_part_fixture_{os.path.basename(sf_dir)}_{tag}",
    )
    marker = os.path.join(fixture, "_built")
    if not os.path.exists(marker):
        cust = t(spark, sf_dir, "customer")
        for part in range(3):
            pdir = os.path.join(fixture, f"part={part}")
            cust.filter(F.col("c_nationkey") % 3 == part).write.mode(
                "overwrite"
            ).parquet(pdir)
            if part in _PART_SCRIPTS:
                with open(os.path.join(pdir, ".updates"), "w") as fh:
                    fh.write(_PART_SCRIPTS[part] + "\n")
        with open(marker, "w") as fh:
            fh.write("ok")
    out = read_scd(spark, fixture, as_of=None, format="parquet")
    return out.select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
    )


def scd_avro_e2e(spark, sf_dir):
    """A1 end-to-end over the reference's CORE format
    (``AvroSCDInputFormat.java:51-59``): the customer dimension
    serialized as deflate Avro containers (avro_lite writer), a
    ``.updates`` script beside them, read through read_scd's Avro
    source (``sources/avro.py``: the Hive AvroSerDe's JVM scan on a
    Hive-enabled session, else the binaryFile + mapInPandas avro_lite
    decode) with the full compiled statement chain.
    Oracle: the same CASE chain over the parquet table — proving the
    Avro and parquet SCD reads agree value-for-value.

    The fixture (4 container files → 4 decode tasks) is materialized
    once per (sf, script) under /tmp; building it collects the small
    dimension driver-side ONCE — fixture setup, not the query path."""
    import hashlib
    import os
    import tempfile

    from hive_scd_spark.scd import read_scd
    from hive_scd_spark.sources.avro_lite import write_container

    avro_schema = {
        "type": "record",
        "name": "customer",
        "fields": [
            {"name": "c_custkey", "type": "long"},
            {"name": "c_name", "type": "string"},
            {"name": "c_nationkey", "type": "int"},
            {"name": "c_acctbal", "type": "double"},
            {"name": "c_mktsegment", "type": "string"},
        ],
    }
    tag = hashlib.md5(
        (
            CUSTOMER_SCRIPT
            + repr(avro_schema)
            + _data_fingerprint(sf_dir, "customer")
        ).encode()
    ).hexdigest()[:8]
    fixture = os.path.join(
        tempfile.gettempdir(), f"scd_avro_fixture_{os.path.basename(sf_dir)}_{tag}"
    )
    marker = os.path.join(fixture, "_built")
    if not os.path.exists(marker):
        os.makedirs(fixture, exist_ok=True)
        rows = sorted(
            (r.asDict() for r in t(spark, sf_dir, "customer").collect()),
            key=lambda r: r["c_custkey"],
        )
        n_files = 4
        for i in range(n_files):
            write_container(
                os.path.join(fixture, f"part-{i}.avro"),
                avro_schema,
                rows[i::n_files],
                codec="deflate",
            )
        with open(os.path.join(fixture, ".updates"), "w") as fh:
            fh.write(CUSTOMER_SCRIPT)
        with open(marker, "w") as fh:
            fh.write("ok")
    return read_scd(spark, fixture, as_of=None, format="avro").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
    )


def scd2_customer_history(spark, sf_dir):
    """Type-2 history materialized from the Type-7 statement log
    (scd.scd2_history): one row per (customer, state interval) with
    valid_from/valid_to/is_current — the explicit form of the history
    the reference keeps implicitly (README.md:24-26)."""
    from hive_scd_spark.scd import scd2_history

    return scd2_history(t(spark, sf_dir, "customer"), CUSTOMER_SCRIPT)


CHAIN_OOO_SCRIPT = """\
-- time=2024-06-01
UPDATE customer SET c_mktsegment = 'PROMO' WHERE c_acctbal < 0;
-- time=2024-03-01
UPDATE customer SET c_acctbal = c_acctbal + 50.0 WHERE c_mktsegment = 'PROMO';
"""


def scd2_chain_outoforder(spark, sf_dir):
    """Type-2 history over a read-after-write chain whose effective
    times run AGAINST script order (scd.scd2_history restores the
    source columns at such a boundary and replays what applies there,
    VERDICT r13 task 6 — the case r13 refused).  Statement 1 (later
    effective time) assigns
    c_mktsegment; statement 2 (earlier effective time) reads it, so
    boundary states are not prefix-extensible and each boundary folds
    its own applicable statements in script order:

    - boundary 2024-03-01: only the +50 applies — no row is 'PROMO'
      yet, so the state equals the base and the interval merges away;
    - boundary 2024-06-01: BOTH apply in script order — negative
      balances become 'PROMO' first, then gain +50 through the
      post-image read.

    The oracle replays the two-boundary fold directly."""
    from hive_scd_spark.scd import scd2_history

    return scd2_history(t(spark, sf_dir, "customer"), CHAIN_OOO_SCRIPT)


def scd_customer_orders_revenue(spark, sf_dir):
    """Flagship: as-of dimension joined to facts — revenue per
    (post-update) market segment.  The dimension side broadcasts: at
    100 TB the fact scan never shuffles for this join."""
    cust = apply_statements(t(spark, sf_dir, "customer"), CUSTOMER_SCRIPT, as_of=None)
    orders = t(spark, sf_dir, "orders")
    return (
        orders.join(
            F.broadcast(cust.select("c_custkey", "c_mktsegment")),
            orders.o_custkey == F.col("c_custkey"),
            "inner",
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Host-delegated SQL surface (SURVEY §2.B) — Hive provided this over the
# reference's InputFormat; Spark SQL provides it here.  One query per
# capability row, DuckDB-oracle-checked.
# ---------------------------------------------------------------------------


def q1_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: scan+filter+groupBy agg (partial+final, codegen)."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(
                F.sum(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ),
                2,
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def q3_shipping_priority(spark, sf_dir):
    """3-way join + agg + deterministic top-10 (order w/ tiebreaks)."""
    cust = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1998-01-01")
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") >= "1996-01-01")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


def q5_local_supplier_revenue(spark, sf_dir):
    """6-table star join; all dimensions broadcast, single fact shuffle."""
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    cust = t(spark, sf_dir, "customer")
    supp = t(spark, sf_dir, "supplier")
    nation = t(spark, sf_dir, "nation")
    region = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(
            F.broadcast(cust),
            (orders.o_custkey == cust.c_custkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


def q6_revenue_forecast(spark, sf_dir):
    """Pure filter + single global agg — fully pushed-down scan."""
    li = t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
            "revenue"
        ),
        F.count("*").alias("n_items"),
    )


def agg_rollup_returnflag(spark, sf_dir):
    """ROLLUP grouping sets (subtotals + grand total)."""
    t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_v")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               ROUND(SUM(l_quantity), 2) AS sum_qty,
               COUNT(*) AS n_rows
        FROM lineitem_v
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
        """
    )


def window_topk_parts_per_brand(spark, sf_dir):
    """Per-group top-k via row_number window (deterministic tiebreak)."""
    part = t(spark, sf_dir, "part")
    w = W.partitionBy("p_brand").orderBy(F.desc("p_retailprice"), F.asc("p_partkey"))
    return (
        part.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("p_brand", "p_partkey", "p_name", "p_retailprice", "rk")
    )


def window_running_supplier_revenue(spark, sf_dir):
    """Running sum per supplier — frame order fully determined, so FP
    accumulation order (and thus the hash) matches any engine.

    The synthetic lineitem is NOT keyed by (l_orderkey, l_linenumber) —
    sf0.1 carries 118k duplicated pairs with DIFFERENT prices (caught
    round 6: tied order keys let each engine assign the tied rows'
    prefixes arbitrarily, and the running-sum multiset diverged on one
    tie).  The value itself joins the ORDER BY as the final tiebreak:
    rows still tied are then bit-identical, so whichever one an engine
    visits first, the prefix multiset is the same."""
    li = t(spark, sf_dir, "lineitem")
    # integer-exact accumulation: engines differ both in FP summation
    # strategy and in double→decimal rounding mode, so running doubles
    # drift at the cent.  floor(x*100 + 0.5) is a pure double op with
    # one IEEE answer everywhere; bigint sums are exact.
    cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + 0.5
    ).cast("bigint")
    w = (
        W.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber", cents)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.sum(cents).over(w).alias("running_revenue_cents"),
    )


def join_anti_customers_without_orders(spark, sf_dir):
    """Anti join (NOT EXISTS): customers with no orders before 1996."""
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1996-01-01")
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


def setop_intersect_except(spark, sf_dir):
    """INTERSECT + EXCEPT set operations in one gate query, tagged by
    ``op``: 'both' = customers ordering in the early AND late windows
    (INTERSECT); 'gone' = early-period customers who vanished (EXCEPT).
    Merged from two queries to stay within the driver's 50-row check
    budget without losing either operator's driver signal."""
    orders = t(spark, sf_dir, "orders")
    early = orders.filter(F.col("o_orderdate") < "1997-01-01").select("o_custkey")
    late99 = orders.filter(F.col("o_orderdate") >= "1999-01-01").select("o_custkey")
    late97 = orders.filter(F.col("o_orderdate") >= "1997-01-01").select("o_custkey")
    both = early.intersect(late99).select(
        F.lit("both").alias("op"), F.col("o_custkey").alias("custkey")
    )
    gone = (
        early.exceptAll(late97)
        .distinct()
        .select(F.lit("gone").alias("op"), F.col("o_custkey").alias("custkey"))
    )
    return both.unionAll(gone)


def pivot_nation_by_segment(spark, sf_dir):
    """Pivot: customer counts per nation × market segment."""
    cust = t(spark, sf_dir, "customer")
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    out = (
        cust.groupBy("c_nationkey")
        .pivot("c_mktsegment", segs)
        .agg(F.count(F.lit(1)))
    )
    # pivot leaves NULL for empty cells; normalize to 0 like the CASE oracle
    return out.select(
        "c_nationkey", *[F.coalesce(F.col(s), F.lit(0)).alias(s) for s in segs]
    )


def events_sessionize(spark, sf_dir):
    """Sessionization: 30-min inactivity gap → session count per user.
    Partition key = user_id (high-cardinality at scale); single window
    pass, no self-join."""
    ev = load_events(spark, sf_dir)
    # micros precision on both sides: DuckDB truncates TIMESTAMP_NS to us
    w = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    gap_us = F.col("ts_us") - F.lag("ts_us").over(w)
    new_sess = F.when(
        gap_us.isNull() | (gap_us > 30 * 60 * 1_000_000), F.lit(1)
    ).otherwise(F.lit(0))
    return (
        ev.withColumn("new_sess", new_sess)
        .groupBy("user_id")
        .agg(
            F.sum("new_sess").alias("n_sessions"),
            F.count("*").alias("n_events"),
        )
    )


def scalar_functions_showcase(spark, sf_dir):
    """Scalar string/math/conditional functions (§2.B scalar-fns row) —
    the H2-function surface the reference delegated (A8), on Spark."""
    part = t(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_u"),
        F.lower(F.substring("p_name", 1, 5)).alias("name5"),
        F.length("p_name").cast("long").alias("name_len"),
        F.concat_ws("/", "p_brand", "p_type").alias("brand_type"),
        F.round(F.col("p_retailprice") * 1.08, 2).alias("taxed"),
        F.abs(F.col("p_size") - 25).cast("long").alias("size_dist"),
        (F.col("p_partkey") % 10).alias("key_mod"),
        F.when(F.col("p_size") < 10, "S")
        .when(F.col("p_size") < 30, "M")
        .otherwise("L")
        .alias("size_class"),
        F.coalesce(F.nullif("p_brand", F.lit("BRAND_0")), F.lit("(zero)")).alias(
            "brand_nz"
        ),
    )


def date_functions_showcase(spark, sf_dir):
    """Date/time scalar functions over order timestamps."""
    orders = t(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").cast("long").alias("o_year"),
        F.quarter("o_orderdate").cast("long").alias("o_quarter"),
        F.month("o_orderdate").cast("long").alias("o_month"),
        F.dayofmonth("o_orderdate").cast("long").alias("o_day"),
        F.date_trunc("month", "o_orderdate").cast("date").alias("month_start"),
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")
        ).cast("long").alias("days_since_95"),
    )


def agg_cube_status_priority(spark, sf_dir):
    """CUBE grouping sets over two dimensions."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               COUNT(*) AS n_orders,
               ROUND(SUM(o_totalprice), 2) AS revenue
        FROM orders_v
        GROUP BY CUBE (o_orderstatus, o_orderpriority)
        """
    )


def agg_having_big_customers(spark, sf_dir):
    """GROUP BY + HAVING."""
    orders = t(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_spent"),
        )
        .filter(F.col("n_orders") >= 15)
    )


def agg_distinct_parts_per_supplier(spark, sf_dir):
    """COUNT(DISTINCT …) — exact distinct aggregation (expand+2-phase
    in Spark; approx_count_distinct is the sketch alternative when a
    ±2% answer is enough at 100 TB)."""
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_suppkey").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_orderkey").alias("n_orders"),
    )


def join_semi_customers_with_big_order(spark, sf_dir):
    """Semi join (EXISTS): customers having any order > 400k."""
    cust = t(spark, sf_dir, "customer")
    big = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return cust.join(big, cust.c_custkey == big.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


def join_left_outer_order_counts(spark, sf_dir):
    """Left outer join with NULL-skipping count."""
    cust = t(spark, sf_dir, "customer")
    early = t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1996-01-01")
    return (
        cust.join(early, cust.c_custkey == early.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_early_orders"))
    )


def agg_percentiles_per_segment(spark, sf_dir):
    """Exact percentiles (linear interpolation) per group — the
    UDAF-shaped analytics row; at 100 TB swap to percentile_approx
    (t-digest sketch) for a one-pass mergeable answer."""
    cust = t(spark, sf_dir, "customer")
    return cust.groupBy("c_mktsegment").agg(
        F.round(F.expr("percentile(c_acctbal, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(c_acctbal, 0.9)"), 4).alias("p90"),
        F.round(F.min("c_acctbal"), 4).alias("lo"),
        F.round(F.max("c_acctbal"), 4).alias("hi"),
    )


def scd_sql_over_view(spark, sf_dir):
    """§2.B capability: register the as-of SCD result as a temp view
    and run plain SQL over it — the rebuild of 'Hive runs the SELECT
    side over the SCD table' (README.md:169-170)."""
    cust = apply_statements(t(spark, sf_dir, "customer"), CUSTOMER_SCRIPT, as_of=None)
    cust.createOrReplaceTempView("customer_scd_v")
    return spark.sql(
        """
        SELECT c_mktsegment, COUNT(*) AS n_customers,
               ROUND(AVG(c_acctbal), 6) AS avg_bal
        FROM customer_scd_v
        GROUP BY c_mktsegment
        """
    )


def agg_approx_distinct_check(spark, sf_dir):
    """Sketch aggregates — at 100 TB approx_count_distinct (HLL++) is
    the one-pass mergeable alternative to exact distinct.  HLL values
    are engine-specific, so the gate checks the *deterministic*
    property that matters: the sketch stays within tolerance of exact
    (HLL is deterministic for fixed input, so this is a stable check,
    not a flaky one)."""
    li = t(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("exact_orders"),
        F.approx_count_distinct("l_orderkey", 0.05).alias("approx_orders"),
    )
    return agg.select(
        "l_returnflag",
        "exact_orders",
        (
            F.abs(F.col("approx_orders") / F.col("exact_orders") - 1.0) <= 0.15
        ).alias("within_15pct"),
    )


def agg_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS (beyond rollup/cube)."""
    t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_gs")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               COUNT(*) AS n_rows,
               ROUND(SUM(l_extendedprice), 2) AS sum_price
        FROM lineitem_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


def subquery_correlated_max_order(spark, sf_dir):
    """Correlated scalar subquery per outer row."""
    t(spark, sf_dir, "customer").createOrReplaceTempView("customer_sq")
    t(spark, sf_dir, "orders").createOrReplaceTempView("orders_sq")
    return spark.sql(
        """
        SELECT c_custkey,
               (SELECT ROUND(MAX(o_totalprice), 2) FROM orders_sq
                WHERE o_custkey = c_custkey) AS max_order
        FROM customer_sq
        """
    )


def unpivot_part_metrics(spark, sf_dir):
    """Unpivot via stack(): wide part metrics → (metric, value) rows."""
    part = t(spark, sf_dir, "part")
    return part.selectExpr(
        "p_partkey",
        "stack(2, 'size', cast(p_size as double), 'price', p_retailprice)"
        " as (metric, value)",
    )


def array_functions_showcase(spark, sf_dir):
    """Array/higher-order functions over the embedding column: size,
    element access, slice aggregation, element-wise transform."""
    emb = t(spark, sf_dir, "embeddings")
    head8_sum = F.aggregate(
        F.transform(F.slice("embedding", 1, 8), lambda x: x.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    n_pos = F.size(F.filter("embedding", lambda x: x > 0))
    return emb.select(
        "vec_id",
        F.size("embedding").cast("long").alias("dim"),
        F.round(F.element_at("embedding", 1).cast("double"), 6).alias("first_val"),
        F.round(head8_sum, 6).alias("head8_sum"),
        n_pos.cast("long").alias("n_positive"),
    )


_SQL_SURFACE_ORACLES = {
    "unpivot_part_metrics": """
        SELECT p_partkey, 'size' AS metric, CAST(p_size AS DOUBLE) AS value FROM part
        UNION ALL
        SELECT p_partkey, 'price' AS metric, p_retailprice AS value FROM part
    """,
    "array_functions_showcase": """
        SELECT vec_id,
               len(embedding) AS dim,
               ROUND(CAST(embedding[1] AS DOUBLE), 6) AS first_val,
               ROUND(list_sum(list_transform(embedding[1:8],
                     x -> CAST(x AS DOUBLE))), 6) AS head8_sum,
               len(list_filter(embedding, x -> x > 0)) AS n_positive
        FROM embeddings
    """,
    "scd_sql_over_view": """
        WITH v AS (
          SELECT CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 'MACHINERY'
                      ELSE c_mktsegment END AS c_mktsegment,
                 CASE WHEN c_acctbal < 0 THEN c_acctbal + 100.0
                      ELSE c_acctbal END AS c_acctbal
          FROM customer WHERE NOT (c_custkey % 7 = 0))
        SELECT c_mktsegment, COUNT(*) AS n_customers,
               ROUND(AVG(c_acctbal), 6) AS avg_bal
        FROM v GROUP BY c_mktsegment
    """,
    "agg_approx_distinct_check": """
        SELECT l_returnflag,
               COUNT(DISTINCT l_orderkey) AS exact_orders,
               TRUE AS within_15pct
        FROM lineitem GROUP BY l_returnflag
    """,
    "agg_grouping_sets": """
        SELECT l_returnflag, l_linestatus,
               COUNT(*) AS n_rows,
               ROUND(SUM(l_extendedprice), 2) AS sum_price
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
    "subquery_correlated_max_order": """
        SELECT c_custkey,
               (SELECT ROUND(MAX(o_totalprice), 2) FROM orders
                WHERE o_custkey = c_custkey) AS max_order
        FROM customer
    """,
    "agg_percentiles_per_segment": """
        SELECT c_mktsegment,
               ROUND(quantile_cont(c_acctbal, 0.5), 4) AS p50,
               ROUND(quantile_cont(c_acctbal, 0.9), 4) AS p90,
               ROUND(MIN(c_acctbal), 4) AS lo,
               ROUND(MAX(c_acctbal), 4) AS hi
        FROM customer GROUP BY c_mktsegment
    """,
    "scalar_functions_showcase": """
        SELECT p_partkey,
               UPPER(p_brand) AS brand_u,
               LOWER(SUBSTR(p_name, 1, 5)) AS name5,
               LEN(p_name) AS name_len,
               CONCAT_WS('/', p_brand, p_type) AS brand_type,
               ROUND(p_retailprice * 1.08, 2) AS taxed,
               ABS(p_size - 25) AS size_dist,
               p_partkey % 10 AS key_mod,
               CASE WHEN p_size < 10 THEN 'S' WHEN p_size < 30 THEN 'M'
                    ELSE 'L' END AS size_class,
               COALESCE(NULLIF(p_brand, 'BRAND_0'), '(zero)') AS brand_nz
        FROM part
    """,
    "date_functions_showcase": """
        SELECT o_orderkey,
               EXTRACT(YEAR FROM o_orderdate) AS o_year,
               EXTRACT(QUARTER FROM o_orderdate) AS o_quarter,
               EXTRACT(MONTH FROM o_orderdate) AS o_month,
               EXTRACT(DAY FROM o_orderdate) AS o_day,
               CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS month_start,
               DATEDIFF('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since_95
        FROM orders
    """,
    "agg_cube_status_priority": """
        SELECT o_orderstatus, o_orderpriority,
               COUNT(*) AS n_orders,
               ROUND(SUM(o_totalprice), 2) AS revenue
        FROM orders
        GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    "agg_having_big_customers": """
        SELECT o_custkey, COUNT(*) AS n_orders,
               ROUND(SUM(o_totalprice), 2) AS total_spent
        FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 15
    """,
    "agg_distinct_parts_per_supplier": """
        SELECT l_suppkey,
               COUNT(DISTINCT l_partkey) AS n_parts,
               COUNT(DISTINCT l_orderkey) AS n_orders
        FROM lineitem GROUP BY l_suppkey
    """,
    "join_semi_customers_with_big_order": """
        SELECT c_custkey, c_name FROM customer
        WHERE EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_totalprice > 400000)
    """,
    "join_left_outer_order_counts": """
        SELECT c_custkey, COUNT(o_orderkey) AS n_early_orders
        FROM customer LEFT JOIN
             (SELECT * FROM orders WHERE o_orderdate < TIMESTAMP '1996-01-01 00:00:00') o
          ON c_custkey = o.o_custkey
        GROUP BY c_custkey
    """,
}


# ---------------------------------------------------------------------------
# LLM-pipeline extension operators (BASELINE.json north star): dedup,
# similarity search, text analysis, multimodal plumbing, as-of join.
# ---------------------------------------------------------------------------


# _dup_corpus re-keys its copies as doc_id + DUP_ID_OFFSET: above every
# id a documents table holds, replicas from scripts/scale.py (n <= 130)
# included, and a multiple of 100000 so each copy keeps its original's
# residue mod any divisor of 100000 (the every-5th planting among them)
DUP_ID_OFFSET = 10_000_000


def _dup_corpus(spark, sf_dir):
    """documents ∪ re-keyed copies of every 5th doc — a corpus with
    known exact duplicates (the raw table is dup-free)."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    copies = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + DUP_ID_OFFSET).alias("doc_id"), "text"
    )
    return docs.unionByName(copies)


def dedup_exact(spark, sf_dir):
    """Exact dedup on md5 of normalized text; keep smallest doc_id."""
    from hive_scd_spark.operators.dedup import exact_dedup

    return exact_dedup(
        _dup_corpus(spark, sf_dir), id_col="doc_id", text_col="text"
    ).select("doc_id")


def dedup_ngram_jaccard(spark, sf_dir):
    """Exact near-dup pairs by 8-gram Jaccard ≥ 0.3 (threshold sits in
    the corpus's empirical gap: planted dups ≥0.5, noise <0.2).

    GATE SLICE (VERDICT r10 task 2): this is a deliberately QUADRATIC
    verifier baseline (labeled, bench-excluded), and its all-pairs
    contract cost had grown to ~30% of the whole sf0.1 evidence run —
    so the GATE verifies the deterministic half-corpus
    ``doc_id % 2 = 0`` (67 surviving pairs at sf0.1, 6 at sf0.01;
    exactness on the slice is the same proof, at ~¼ the pair work).
    The FULL-corpus form stays pinned in pytest at sf0.01
    (tests/test_advice_r11.py::test_ngram_jaccard_full_corpus_matches_duckdb)
    and in the MinHash production gates, whose recall is certified
    against this baseline."""
    from hive_scd_spark.operators.dedup import ngram_jaccard_pairs

    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") % 2 == 0)
    return ngram_jaccard_pairs(docs, "doc_id", "text", k=8, threshold=0.3)


# One MinHash-LSH candidate generation per (session, sf_dir), persisted
# and shared by the downstream dedup consumers (clustering,
# canonicalization): the signature pipeline is ~1 s per run at sf0.1,
# and the consumer gates in one session were each re-paying it (VERDICT
# r5 nit 2 / task 8).  The operators were already composable —
# dup_clusters and dedup_corpus take a pairs DataFrame — so sharing is
# purely a caller concern; this cache is the session-level demonstration
# of the pattern a real pipeline would use (materialize once, fan out).
# Keyed by applicationId so a new session never sees a stale plan;
# source parquet is read-only per round, so within-session staleness
# cannot occur.  The pair list itself is tiny (near-dup pairs, not the
# corpus) — MEMORY_AND_DISK is belt-and-braces, not a memory bet.
_PAIR_CACHE: dict[tuple, DataFrame] = {}


def _shared_df(spark, tag: str, sf_dir: str, build) -> DataFrame:
    """Session-level materialize-once cache (r12: the shared_minhash
    idiom generalized — VERDICT r11 task 2).  Keyed by (applicationId,
    tag, sf_dir); *build* runs once per session and its result is
    persisted MEMORY_AND_DISK for every later consumer."""
    key = (spark.sparkContext.applicationId, tag, sf_dir)
    got = _PAIR_CACHE.get(key)
    if got is not None:
        return got
    from pyspark import StorageLevel

    df = build().persist(StorageLevel.MEMORY_AND_DISK)
    _PAIR_CACHE[key] = df
    return df


def shared_minhash_pairs(spark, sf_dir):
    from hive_scd_spark.operators.dedup import minhash_near_dup_pairs

    return _shared_df(
        spark,
        "minhash_pairs",
        sf_dir,
        lambda: minhash_near_dup_pairs(
            t(spark, sf_dir, "documents"), "doc_id", "text", k=8, threshold=0.3
        ),
    )


def shared_warc_records(spark, sf_dir):
    """ONE WARC fixture scan per (session, sf_dir), persisted — the
    r11 contract profile showed the two crawl capstones and the scan
    gate each re-paying the same 8 KiB-split byte-range read + parse
    (27.5 s + 16.6 s of the 338 s sf0.1 wall).  The byte path (framing,
    split exactly-once-ness, gzip member realignment, HTTP envelope
    split) is still fully exercised — once per session, like any real
    pipeline that scans a crawl drop a single time and fans out."""
    from hive_scd_spark.sources.warc import read_warc

    # coalesce the persisted scan to the session's core count
    # (optimization r16, guide §2.2/§6 — fewer, larger partitions):
    # the 8 KiB byte-range splits give the scan ~312 partitions at
    # sf0.1, and every downstream reference re-read the CACHE as 312
    # tiny tasks — profiled on pipeline_crawl_to_corpus_v2: 4 big
    # stages × 312 task launches ≈ 1,250 scheduler round-trips per
    # run, the measured cause of its NEGATIVE core scaling (more cores
    # = more scheduling contention over the same micro-tasks; 8c/32c
    # ratio 0.63 in PERF_r15).  coalesce (no shuffle) fuses into the
    # one-per-session decode, so the byte path (framing, split
    # exactly-once-ness, gzip realignment) is still fully exercised;
    # defaultParallelism scales with the cluster, never a constant.
    return _shared_df(
        spark,
        "warc_records",
        sf_dir,
        lambda: read_warc(
            spark, _warc_fixture(spark, sf_dir), split_bytes=8192
        )
        .select("record_id", "http_status", "payload", "target_uri")
        .coalesce(spark.sparkContext.defaultParallelism),
    )


def shared_winnow_selected(spark, sf_dir):
    """ONE winnowing fingerprint selection over the planted-duplicate
    corpus per (session, sf_dir), persisted — the expensive window pass
    over exploded k-gram hashes (operators/dedup.py: winnow_selected),
    shared by the pair gate, the composed corpus gate, and the
    df-capped recall gate (pair generation at different df caps reuses
    the identical selected rows)."""
    from hive_scd_spark.operators.dedup import winnow_selected

    return _shared_df(
        spark,
        "winnow_selected",
        sf_dir,
        lambda: winnow_selected(
            _dup_corpus(spark, sf_dir), "doc_id", "text", k=12, w=8
        ),
    )


def release_shared_caches(spark=None) -> int:
    """Unpersist and drop every session-level shared cache (the
    MinHash pair cache, the WARC record scan, the winnow selection —
    everything registered through _shared_df).  VERDICT r6 nit 2: the
    cache had no
    release path, which is harmless in bench/driver runs (one session,
    process exit reclaims everything) but a slow leak in a long-lived
    multi-tenant session.  Pass *spark* to release only that session's
    entries (other sessions' caches stay warm); omit it to release
    everything.  Returns the number of cached DataFrames released.
    Safe to call at any time — the next consumer simply rebuilds."""
    if spark is not None:
        app_id = spark.sparkContext.applicationId
        keys = [k for k in _PAIR_CACHE if k[0] == app_id]
    else:
        keys = list(_PAIR_CACHE)
    for k in keys:
        _PAIR_CACHE.pop(k).unpersist()
    return len(keys)


def dedup_minhash_lsh(spark, sf_dir):
    """MinHash(32)+LSH(8×4) candidates, exact-Jaccard verified ≥ 0.3.

    Deliberately does NOT read the shared pair cache: this gate is the
    standalone benchmark of the candidate-generation pipeline itself,
    so its bench number must stay a real end-to-end run.  The DOWNSTREAM
    consumers (dedup_cluster_assign, dedup_corpus_canonical) share one
    persisted generation via shared_minhash_pairs — pipeline mode."""
    from hive_scd_spark.operators.dedup import minhash_near_dup_pairs

    return minhash_near_dup_pairs(
        t(spark, sf_dir, "documents"), "doc_id", "text", k=8, threshold=0.3
    )


def dedup_minhash_incremental(spark, sf_dir):
    """Incremental-ingest near-dup detection: documents with
    doc_id % 5 == 3 play the arriving batch, the rest the standing
    corpus; result = every verified pair touching the batch.  The batch
    band table broadcasts, so the corpus side is probed unshuffled —
    the daily-ingest counterpart of the full-corpus dedup_minhash_lsh
    gate (identical hashing, so the oracle is the same CTE with a
    pair filter)."""
    from hive_scd_spark.operators.dedup import minhash_incremental_pairs

    docs = t(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 5 == 3)
    corpus = docs.filter(F.col("doc_id") % 5 != 3)
    return minhash_incremental_pairs(
        new, corpus, "doc_id", "text", k=8, threshold=0.3
    )


def layout_zorder_skipping(spark, sf_dir):
    """Contract gate for the layout-writer family (VERDICT r6 task 3 —
    the one operator family the SQL-oracle shape cannot check, pinned
    instead by measured file-skipping evidence):

    1. write the orders table Z-ordered on (o_custkey, o_totalprice)
       (operators/layout.py write_zordered — Morton key, range
       partition, sort) and, as the honest baseline, the SAME rows
       randomly repartitioned to the SAME file count;
    2. read back only parquet FOOTERS (layout.file_spans) and measure,
       for a selective ~3 % centered slice on EACH dimension, how many
       files a min/max-skipping reader must open;
    3. ASSERT the contract in-gate: the Z-ordered layout must touch
       ≤ 60 % of files on every dimension AND strictly fewer than the
       random layout — a driver-green row therefore certifies the
       skip-fraction bound held, not just that rows came back.

    Rows-only driver check (deliberately no SQL oracle: the VALUE here
    is file-layout metadata DuckDB cannot replay; row count and the
    in-gate assertions carry the contract).  The fixture is written
    once per (data fingerprint, sf) under /tmp — the measurement reads
    footers only, so re-runs are metadata-speed."""
    import hashlib
    import json
    import os
    import tempfile

    from hive_scd_spark.operators.layout import files_touched, write_zordered

    dims = ["o_custkey", "o_totalprice"]
    orders = t(spark, sf_dir, "orders").select("o_orderkey", *dims)
    # file count scales with rows (~512 rows/file, floor 64) — the
    # constant-file-SIZE rule every production table layout follows.  A
    # fixed count at growing data widens every file's per-dimension
    # span and the skip fraction degrades: measured at sf0.1 with the
    # r6 fixed n_files=32, the o_custkey slice touched 20/32 = 62.5 %
    # (bound 60 %), while scaled files restore it (57/293 = 19 %).
    # The floor is 64, not 32: with F files and 2 dims the weak
    # dimension constrains ~floor(log2(F)/2) Morton-prefix bits, so 32
    # files leave it only 2 bits (~half the files touched, measured
    # 17-19/32 across sample-boundary rebuilds — one file from the
    # bound); 64 gives both dims 3 bits and real headroom (SCALE_NOTES
    # r7).  The count folds to row-group metadata on this raw scan.
    tag = hashlib.md5(
        ("zorder_gate_v5" + repr(dims) + _data_fingerprint(sf_dir, "orders")).encode()
    ).hexdigest()[:8]
    base = os.path.join(
        tempfile.gettempdir(),
        f"layout_zorder_{os.path.basename(sf_dir)}_{tag}",
    )
    zpath, rpath = os.path.join(base, "z"), os.path.join(base, "rand")
    marker = os.path.join(base, "_built")
    if not os.path.exists(marker):
        # BOTH data actions (row count for the file-count rule, min/max
        # for the slice bounds) live inside the build branch and their
        # results persist in the marker: a fixture-hit re-run touches
        # parquet FOOTERS only, as the docstring promises (ADVICE r8 #4
        # moved the unconditional orders.count() in here).
        n_files = max(64, -(-orders.count() // 512))
        write_zordered(orders, zpath, by=dims, bits=10, n_files=n_files)
        n_files = sum(
            1 for f in os.listdir(zpath) if f.endswith(".parquet")
        )
        orders.repartition(n_files).write.mode("overwrite").parquet(rpath)
        built_stats = orders.agg(
            *[F.min(c).cast("double").alias(f"lo_{c}") for c in dims],
            *[F.max(c).cast("double").alias(f"hi_{c}") for c in dims],
        ).first()
        with open(marker, "w") as fh:
            json.dump({k: built_stats[k] for k in built_stats.asDict()}, fh)
    with open(marker) as fh:
        stats = json.load(fh)
    rows = []
    for c in dims:
        lo, hi = stats[f"lo_{c}"], stats[f"hi_{c}"]
        mid, w = (lo + hi) / 2.0, (hi - lo) / 32.0
        tz, nz = files_touched(zpath, c, mid - w / 2, mid + w / 2)
        tr, nr = files_touched(rpath, c, mid - w / 2, mid + w / 2)
        frac_z, frac_r = tz / max(nz, 1), tr / max(nr, 1)
        if not (frac_z <= 0.6 and frac_z < frac_r):
            raise RuntimeError(
                f"z-order skipping contract violated on {c}: touched "
                f"{tz}/{nz} z-ordered files (bound 60 %) vs {tr}/{nr} random"
            )
        rows.append((c, nz, tz, nr, tr))
    return spark.createDataFrame(
        rows,
        "dim string, n_files_z int, touched_z int, "
        "n_files_rand int, touched_rand int",
    )


def sample_weighted_docs(spark, sf_dir):
    """Deterministic weighted sampling without replacement
    (operators/sampling.py sample_weighted): 100 documents with
    inclusion preference ∝ a length-derived integer weight — the
    temperature-mixing primitive.  ENGINE-EXACT by construction: a
    weight-w doc's priority is the MAX of w md5 subkey draws
    (distributionally u^(1/w), the A-ES priority, but pure hex-string
    comparisons — no pow/log/float anywhere), so the oracle replays
    the selection bit-for-bit with generate_series + md5."""
    from hive_scd_spark.operators.sampling import sample_weighted

    docs = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.least(
            F.floor(F.col("n_chars") / F.lit(50)) + 1, F.lit(20)
        ).cast("long").alias("wt"),
    )
    return sample_weighted(docs, "doc_id", "wt", n=100)


def fuzzy_link_master(spark, sf_dir):
    """Two-table fuzzy join (record linkage,
    operators/fuzzy.py edit_distance_join): the typo side of
    typo_corpus linked against the clean master side at Levenshtein
    ≤ 1 — the master is indexed by segments, the dirty side probed.
    Oracle = the same planted fixture with the equal-length half-match
    pigeonhole as its exact prefilter (fuzzy_typo_pairs' trick,
    restricted to cross-side pairs)."""
    from hive_scd_spark.operators.fuzzy import edit_distance_join

    corpus = typo_corpus(t(spark, sf_dir, "documents"))
    typos = corpus.filter(F.col("id") >= 100_000_000).select(
        F.col("id").alias("tid"), F.col("w").alias("tw")
    )
    master = corpus.filter(F.col("id") < 100_000_000).select(
        F.col("id").alias("mid"), F.col("w").alias("mw")
    )
    return edit_distance_join(typos, master, "tid", "tw", "mid", "mw", max_dist=1)


def text_bpe_train(spark, sf_dir):
    """Distributed BPE vocabulary induction (operators/text.py
    bpe_train — Sennrich learn_bpe): 12 greedy merge rounds over the
    frequency-weighted DISTINCT-word table (corpus scanned once), the
    learned merge list returned as ordered rows.

    Rows-only gate by the driver contract's iterative-algorithm
    category: k argmax rounds are not one SQL statement.  Correctness
    is pinned merge-for-merge against a Python reference trainer on
    random corpora, and end-to-end by feeding the learned table to the
    production tokenizer (tests/test_operators.py)."""
    from hive_scd_spark.operators.text import bpe_train

    merges = bpe_train(t(spark, sf_dir, "documents"), "text", n_merges=12)
    return spark.createDataFrame(
        [(i, a, b, a + b) for i, (a, b) in enumerate(merges)],
        "rank int, left string, right string, merged string",
    )


def typo_corpus(docs, offset: int = 100_000_000):
    """Planted-typo fixture of the fuzzy gate: every doc contributes a
    12-char md5-derived string, every 7th doc also a one-character-
    substituted copy at ``doc_id + offset``.  The offset must clear the
    table's id space — at 10^8 it collides only beyond 100M docs per
    shard, and a collision's failure mode (pair suppressed by the
    id-inequality predicate) is documented here rather than
    discovered."""
    strs = docs.select(
        F.col("doc_id").alias("id"),
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 12).alias("w"),
    )
    typos = strs.filter(F.col("id") % 7 == 0).select(
        (F.col("id") + offset).alias("id"),
        F.concat(
            F.substring("w", 1, 4), F.lit("z"), F.substring("w", 6, 7)
        ).alias("w"),
    )
    return strs.unionByName(typos)


def fuzzy_typo_pairs(spark, sf_dir):
    """Edit-distance self-join (PassJoin segment blocking,
    operators/fuzzy.py): all string pairs within Levenshtein distance
    1, exact recall, never all-pairs.  The synthetic corpus has a
    24-word vocabulary (zero organic typo pairs), so the gate plants
    them deterministically — the boilerplate-gate precedent: every
    doc contributes a 12-char md5-derived string, and every 7th doc
    also contributes a one-character-substituted copy.  Expected
    output: each typo pairs with its source at dist 1 (plus any
    md5 coincidences — the oracle decides).

    The oracle uses the same pigeonhole the operator's blocking rests
    on: equal-length strings at distance <= 1 differ by one
    SUBSTITUTION, so one half matches verbatim — a fast exact
    prefilter replacing the quadratic scan."""
    from hive_scd_spark.operators.fuzzy import edit_distance_self_join

    return edit_distance_self_join(
        typo_corpus(t(spark, sf_dir, "documents")), "id", "w", max_dist=1
    )


def sketch_quantile_totalprice(spark, sf_dir):
    """Mergeable-quantile sketch (the percentile analog of the HLL
    persist+merge gate): per-month equi-width histogram sketches of
    o_totalprice built independently — the state a daily job persists
    — merged WITHOUT rescanning, then p50/p90/p99 estimated from the
    merged state with error ≤ one bucket width vs the rank-⌈p·N⌉ order
    statistic (the sketch's precise guarantee).

    The oracle builds the global sketch directly: per-row bucket
    assignment is grouping-independent and counts are integers, so
    per-month-build-then-merge must equal the direct build EXACTLY —
    the hash-value match IS the mergeability proof.  within_bound
    additionally compares each estimate against the engine's
    INTERPOLATED percentile; the bucket-width slack covers the
    guaranteed error plus the interpolation gap on this dense column.
    On gapped bimodal data that comparison could legitimately exceed
    the bound (interpolation blends order statistics the sketch never
    promises to hit — histogram_quantiles' docstring spells it out);
    both engines would emit the same false, so the contract hash is
    unaffected either way."""
    from hive_scd_spark.operators.profile import (
        histogram_merge,
        histogram_quantiles,
        histogram_sketch,
    )

    orders = t(spark, sf_dir, "orders")
    stats = orders.agg(
        F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi")
    ).first()
    lo, hi, nb = float(stats["lo"]), float(stats["hi"]), 128
    width = (hi - lo) / nb
    ps = [0.5, 0.9, 0.99]
    monthly = histogram_sketch(
        orders.withColumn("mon", F.date_trunc("month", "o_orderdate")),
        "o_totalprice",
        lo,
        hi,
        nb,
        by=["mon"],
    )
    merged = histogram_merge(monthly)  # collapse the month dimension
    qs = histogram_quantiles(merged, ps, lo, hi, nb)
    exact = orders.agg(
        F.percentile("o_totalprice", F.array(*[F.lit(p) for p in ps])).alias("ex")
    ).select(
        F.explode(
            F.arrays_zip(
                F.array(*[F.lit(p) for p in ps]).alias("p"), F.col("ex").alias("ex")
            )
        ).alias("z")
    ).select(F.col("z.p").alias("p"), F.col("z.ex").alias("ex"))
    return qs.join(exact, "p").select(
        "p", "est", (F.abs(F.col("est") - F.col("ex")) <= F.lit(width)).alias("within_bound")
    )


def dedup_simhash(spark, sf_dir):
    """60-bit SimHash fingerprint per document."""
    from hive_scd_spark.operators.dedup import simhash

    return simhash(t(spark, sf_dir, "documents"), "doc_id", "text")


def dedup_simhash_near(spark, sf_dir):
    """SimHash near-dup pairs via banded Hamming search: 60-bit
    fingerprints in four 15-bit bands, exact pigeonhole recall for
    Hamming <= 3, candidates bucket-local only (never all-pairs)."""
    from hive_scd_spark.operators.dedup import simhash_near_dups

    return simhash_near_dups(
        t(spark, sf_dir, "documents"), "doc_id", "text"
    )


def table_profile_documents(spark, sf_dir):
    """Per-column profile of the documents table (Deequ-shape): rows,
    nulls, exact distinct, native-typed min/max as strings.  Two scans
    by design — a 1-row min/max/null aggregate and a melt-based exact
    distinct (no Expand-node multi-distinct); see operators/profile.py."""
    from hive_scd_spark.operators.profile import table_profile

    return table_profile(t(spark, sf_dir, "documents"))


def sketch_heavy_hitters(spark, sf_dir):
    """Exact φ-heavy-hitters with a Misra–Gries candidate pass
    (operators/profile.py:heavy_hitters) — the FREQUENT-ITEMS member of
    the mergeable-sketch trio (HLL distinct / histogram quantile /
    this).  The stream is a planted scale-invariant Zipf key over
    lineitem: h = md5-uniform in [0, 2^20), key = ⌊2^20/(h+1)⌋, so
    share(v) = 1/(v(v+1)) independent of data volume — ~10 keys exceed
    φ = 1/128 at every SF while the distinct-key count grows with the
    data (1130 at sf0.1 > the 256-counter summary, so the MG pruning
    genuinely fires).  The sketch bounds memory and shuffle width; the
    OUTPUT is exact (integer cnt·k ≥ N filter + broadcast recount), so
    the oracle is the plain groupBy the sketch avoids shuffling."""
    from hive_scd_spark.operators.profile import heavy_hitters

    li = t(spark, sf_dir, "lineitem")
    h = F.conv(
        F.substring(
            F.md5(
                (F.col("l_orderkey") * 8 + F.col("l_linenumber")).cast("string")
            ),
            1,
            5,
        ),
        16,
        10,
    ).cast("long")
    stream = li.select(
        F.floor(F.lit(1048576) / (h + 1)).cast("long").alias("key")
    )
    return heavy_hitters(stream, "key", k=128, capacity=256)


def dedup_exact_substring(spark, sf_dir):
    """Exact-substring dup pairs (Lee-et-al-style window dedup): star
    edges between documents sharing a verbatim 15-word window, hot
    (boilerplate) windows excluded at doc-frequency > 50.  n=15 rather
    than the production 50 because the synthetic docs average ~50
    words; the plan is n-independent."""
    from hive_scd_spark.operators.dedup import substring_dup_pairs

    return substring_dup_pairs(
        t(spark, sf_dir, "documents"), "doc_id", "text", n=15, max_df=50
    )


def dedup_embedding_cosine(spark, sf_dir):
    """Embedding-cosine near-dup pairs (exact all-pairs baseline —
    O(n²), kept as the labeled correctness reference; the at-scale
    path is dedup_embedding_lsh).

    GATE SLICE (r11, the dedup_ngram_jaccard treatment): the gate
    verifies the deterministic half ``vec_id % 2 = 0`` (1004 surviving
    pairs at sf0.1, 78 at sf0.01) at ~¼ the all-pairs work; exactness
    on the slice is the same proof, and the full-corpus form stays the
    in-pytest recall reference for the LSH family."""
    from hive_scd_spark.operators.dedup import embedding_near_dup_pairs

    emb = t(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 2 == 0)
    return embedding_near_dup_pairs(
        emb, "vec_id", "embedding", threshold=0.35
    )


def dedup_embedding_lsh(spark, sf_dir):
    """Embedding near-dup via banded random-hyperplane LSH: only
    band-bucket-local pairs are cosine-scored — the 100 TB path (no
    all-pairs join anywhere in the plan).  4 bands × 4 planes:
    P(candidate) = 1-(1-p^4)^4.  The oracle replicates the
    deterministic md5-derived hyperplanes, so the approximation itself
    is checked."""
    from hive_scd_spark.operators.dedup import embedding_near_dup_pairs

    return embedding_near_dup_pairs(
        t(spark, sf_dir, "embeddings"),
        "vec_id",
        "embedding",
        threshold=0.35,
        use_lsh=True,
        n_planes=4,
        n_bands=4,
        dim=64,
    )


def dedup_embedding_lsh_auto(spark, sf_dir):
    """The SCALE-CRITICAL variant of dedup_embedding_lsh: n_planes is
    COMPUTED from the corpus size (``ceil(log2(N/target_bucket))``,
    clamped ≥2) rather than passed as a literal — the sizing rule that
    keeps expected bucket population constant as N grows (fixed planes
    ⇒ candidates ∝ N², measured at 10×, SCALE_NOTES r5).  The oracle
    derives the SAME plane count from ``COUNT(*)`` in SQL, so the
    auto-sizing itself — not just a frozen parameterization — is
    value-checked end-to-end at every scale factor."""
    from hive_scd_spark.operators.dedup import embedding_near_dup_pairs

    return embedding_near_dup_pairs(
        t(spark, sf_dir, "embeddings"),
        "vec_id",
        "embedding",
        threshold=0.35,
        use_lsh=True,
        n_planes="auto",
        n_bands=4,
        dim=64,
        target_bucket=32,
    )


def dedup_embedding_lsh_incremental(spark, sf_dir):
    """Incremental embedding ingest (the production daily loop for the
    embedding family, mirroring dedup_minhash_incremental): the NEW
    batch (vec_id % 5 == 3) probes the standing corpus's persisted
    band-bucket state — broadcast batch, corpus never reshuffled — and
    every verified pair touching the batch comes back.  The md5-seeded
    hyperplanes make the bucket state session-portable, so the oracle
    is the full-corpus LSH replay restricted to batch-touching pairs."""
    import pyspark.sql.functions as F  # noqa: N812 (local, matches module style)

    from hive_scd_spark.operators.dedup import embedding_incremental_pairs

    emb = t(spark, sf_dir, "embeddings")
    is_new = F.col("vec_id") % 5 == 3
    return embedding_incremental_pairs(
        emb.filter(is_new),
        emb.filter(~is_new),
        "vec_id",
        "embedding",
        threshold=0.35,
        n_planes=4,
        n_bands=4,
        dim=64,
    )


def text_token_count(spark, sf_dir):
    """Whitespace + BPE-ish-regex token counting."""
    from hive_scd_spark.operators.text import token_counts

    return token_counts(t(spark, sf_dir, "documents"), "doc_id", "text")


def text_lang_id_ngram(spark, sf_dir):
    """Character-trigram profile language ID (operators/text.py:
    lang_id_ngram) — the deterministic, dependency-free model path.
    The oracle replays the SAME embedded profiles from a VALUES list,
    so the classification itself (argmax + tiebreak + confidence) is
    value-checked, not just row counts.  Quality on real multilingual
    text is pinned in pytest; the synthetic corpus's lang label is
    text-independent by construction (documented in the operator)."""
    from hive_scd_spark.operators.text import lang_id_ngram

    return lang_id_ngram(t(spark, sf_dir, "documents"), "doc_id", "text")


def pack_sequences_ctx(spark, sf_dir):
    """Concat-and-chunk sequence packing (operators/pack.py): documents
    concatenated in doc_id order, sliced into 512-token training
    sequences; one row per (document, sequence) span.  Token counts are
    the BPE-ish regex pre-tokenization shared with text_token_count, so
    the oracle reproduces them exactly.  The exclusive prefix sum uses
    the two-phase distributed layout (no single-partition window)."""
    from hive_scd_spark.operators.pack import pack_sequences
    from hive_scd_spark.operators.text import token_counts

    toks = token_counts(t(spark, sf_dir, "documents"), "doc_id", "text").select(
        "doc_id", F.col("n_regex_tokens").alias("n_tokens")
    )
    return pack_sequences(toks, "doc_id", "n_tokens", 512)


def decontam_ngram_overlap(spark, sf_dir):
    """Benchmark decontamination (operators/decontam.py): 13-gram
    word-level overlap between the training corpus and a BOUNDED
    held-out set (doc_id % 97 == 0 AND doc_id < 97·200 — at most 200
    benchmark docs at ANY scale factor, honoring the operator's
    broadcast-eval contract; an unbounded corpus split would grow the
    forced broadcast linearly with the data).  The planted
    near-duplicates in the corpus guarantee real hits."""
    from hive_scd_spark.operators.decontam import ngram_contamination

    docs = t(spark, sf_dir, "documents")
    is_eval = (F.col("doc_id") % 97 == 0) & (F.col("doc_id") < 97 * 200)
    return ngram_contamination(
        docs.filter(~is_eval),
        docs.filter(is_eval),
        "doc_id",
        "text",
        n=13,
    )


def decontam_bloom_screen(spark, sf_dir):
    """Constant-size decontamination screen (operators/bloom.py): a
    mergeable Bloom sketch built from a bounded benchmark split
    (doc_id % 7 == 0 AND doc_id < 700 — big enough that planted
    near-dups of eval docs exist in the training side at every SF),
    rendered to a 2^18-bit hex bitmap and probed in ONE shuffle-free
    projection over the rest of the corpus — the screen a pipeline
    carries when the union of eval suites has outgrown an exact
    broadcast.  Output: (doc_id, n_grams, n_hit) for every corpus doc
    with at least one fully-set 13-gram — the exact hits PLUS the
    deterministic, engine-exact false positives (the oracle replays the
    same md5 bit positions, so both engines flag identical docs).

    The builder runs an action (bloom_to_hex collects <= m/4 nibble
    rows); bench.py times builder plus action for every row."""
    from hive_scd_spark.operators.bloom import (
        bloom_build,
        bloom_probe,
        bloom_to_hex,
    )

    docs = t(spark, sf_dir, "documents")
    is_eval = (F.col("doc_id") % 7 == 0) & (F.col("doc_id") < 700)
    m_bits, k = 1 << 18, 4
    sk = bloom_build(docs.filter(is_eval), "text", n=13, m_bits=m_bits, k=k)
    hx = bloom_to_hex(sk, m_bits=m_bits)
    out = bloom_probe(
        docs.filter(~is_eval), "doc_id", "text", hx, n=13, m_bits=m_bits, k=k
    )
    return out.filter(F.col("n_hit") > 0)


def text_clean_normalize(spark, sf_dir):
    """Pre-training text hygiene (operators/text.py:clean_text): URLs
    and emails stripped, whitespace collapsed — over a corpus where
    every 7th document gets a planted URL+email suffix so the removal
    path is genuinely exercised (raw documents are clean).  Output is
    the cleaned-text md5 + audit columns, value-checked end to end."""
    from hive_scd_spark.operators.text import clean_text

    docs = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.col("text"),
                F.lit("  see https://example.com/x?q=1 or mail a.b@test.org  "),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    out = clean_text(docs, "doc_id", "text")
    return out.select(
        "doc_id",
        F.md5("clean_text").alias("clean_md5"),
        F.col("had_url").cast("long").alias("had_url"),
        F.col("had_email").cast("long").alias("had_email"),
        "n_chars_raw",
        "n_chars_clean",
    )


def text_quality_stats(spark, sf_dir):
    from hive_scd_spark.operators.text import quality_stats

    out = quality_stats(t(spark, sf_dir, "documents"), "doc_id", "text")
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_chars").cast("long").alias("n_chars"),
        "mean_token_len",
        "punct_ratio",
        "stopword_ratio",
        "quality_score",
    )


def text_lang_id(spark, sf_dir):
    from hive_scd_spark.operators.text import lang_id

    out = lang_id(t(spark, sf_dir, "documents"), "doc_id", "text")
    return out.select(
        "doc_id",
        "pred_lang",
        *[F.col(c).cast("long").alias(c) for c in out.columns if c.startswith("hits_")],
    )


def text_doc_fingerprint(spark, sf_dir):
    from hive_scd_spark.operators.text import doc_fingerprint

    out = doc_fingerprint(t(spark, sf_dir, "documents"), "doc_id", "text", k=8)
    return out.select(
        "doc_id", "fp_min", "fp_max", F.col("n_shingles").cast("long").alias("n_shingles")
    )


def knn_brute_force(spark, sf_dir):
    """Exact top-5 cosine neighbors for query vectors vec_id < 10."""
    from hive_scd_spark.operators.similarity import cosine_topk

    emb = t(spark, sf_dir, "embeddings")
    return cosine_topk(
        emb, emb.filter(F.col("vec_id") < 10), id_col="vec_id", vec_col="embedding", k=5
    )


def ann_lsh_topk(spark, sf_dir):
    """Approximate top-5 via deterministic random-hyperplane LSH
    (8 planes) — bucket-local ranking; oracle replicates the same
    md5-derived hyperplanes, so even the approximation is checked."""
    from hive_scd_spark.operators.similarity import ann_cosine_topk

    emb = t(spark, sf_dir, "embeddings")
    return ann_cosine_topk(
        emb,
        emb.filter(F.col("vec_id") < 10),
        id_col="vec_id",
        vec_col="embedding",
        k=5,
        n_planes=8,
        dim=64,
    )


def ivf_cosine_topk_q(spark, sf_dir):
    """IVF ANN: deterministic id-stride centroids → inverted lists →
    probe 4 nearest lists per query.  The second ANN strategy next to
    LSH; same deterministic-construction trick makes the whole index
    reproducible in the SQL oracle."""
    from hive_scd_spark.operators.similarity import ivf_cosine_topk

    emb = t(spark, sf_dir, "embeddings")
    return ivf_cosine_topk(
        emb, emb.filter(F.col("vec_id") < 10), k=5, n_probe=4, stride=29
    )


def multimodal_image_features(spark, sf_dir):
    """Binary-column plumbing: wrap text bytes as an opaque payload,
    extract features via Arrow-batched mapInPandas (decode is a
    deterministic stub — see operators/multimodal.py)."""
    from hive_scd_spark.operators.multimodal import attach_binary, extract_image_features

    media = attach_binary(
        t(spark, sf_dir, "documents"), id_col="doc_id", payload_col="text", media_type="image"
    )
    return extract_image_features(media)


def multimodal_chunking(spark, sf_dir):
    """1→N Arrow-batch transform: each payload split into 256-char
    chunks with per-chunk checksums (the frame-sampling batch shape)."""
    from hive_scd_spark.operators.multimodal import attach_binary, chunk_payload

    media = attach_binary(
        t(spark, sf_dir, "documents"), id_col="doc_id", payload_col="text", media_type="image"
    )
    return chunk_payload(media, chunk_chars=256)


def multimodal_audio_features(spark, sf_dir):
    """Audio analog of the image gate: payload treated as headerless
    PCM16 by the deterministic stub decoder (soundfile feature-detected
    as the real hook) — same Arrow mapInPandas plumbing."""
    from hive_scd_spark.operators.multimodal import attach_binary, extract_audio_features

    media = attach_binary(
        t(spark, sf_dir, "documents"), id_col="doc_id", payload_col="text", media_type="audio"
    )
    return extract_audio_features(media)


def multimodal_frame_sample(spark, sf_dir):
    """Video-style frame SAMPLING: every 4th 256-char window of each
    payload (chunk_idx keeps the full-stream position so timing is
    recoverable)."""
    from hive_scd_spark.operators.multimodal import attach_binary, chunk_payload

    media = attach_binary(
        t(spark, sf_dir, "documents"), id_col="doc_id", payload_col="text", media_type="video"
    )
    return chunk_payload(media, chunk_chars=256, stride=4)


def join_full_outer_period_activity(spark, sf_dir):
    """Full outer join: per-customer order counts in two periods,
    including customers active in only one."""
    orders = t(spark, sf_dir, "orders")
    early = (
        orders.filter(F.col("o_orderdate") < "1997-01-01")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_early"))
    )
    late = (
        orders.filter(F.col("o_orderdate") >= "1999-01-01")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_late"))
    )
    return (
        early.join(late, "o_custkey", "full_outer")
        .select(
            "o_custkey",
            F.coalesce("n_early", F.lit(0)).alias("n_early"),
            F.coalesce("n_late", F.lit(0)).alias("n_late"),
        )
    )


def window_lead_ntile_orders(spark, sf_dir):
    """lead/lag + ntile windows: per customer, gap to the next order
    and spend-quartile within the customer's orders."""
    orders = t(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    # o_orderdate is TIMESTAMP_NTZ; unix_millis needs TIMESTAMP — the
    # cast interprets the wall clock in the (pinned-UTC) session zone
    ts = F.col("o_orderdate").cast("timestamp")
    next_ms = F.unix_millis(F.lead(ts, 1).over(w))
    return orders.select(
        "o_custkey",
        "o_orderkey",
        (next_ms - F.unix_millis(ts)).alias("ms_to_next_order"),
        F.ntile(4).over(
            W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        ).alias("spend_quartile"),
    )


def agg_filtered_event_stats(spark, sf_dir):
    """Conditional aggregation with FILTER clauses per user."""
    ev = load_events(spark, sf_dir)
    ev.createOrReplaceTempView("events_f")
    return spark.sql(
        """
        SELECT user_id,
               COUNT(*) FILTER (WHERE event_type = 'error') AS n_errors,
               COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_purchases,
               COUNT(*) AS n_total
        FROM events_f GROUP BY user_id
        """
    )


def asof_join_click_purchase(spark, sf_dir):
    """As-of join: each click matched to the user's latest prior (or
    simultaneous) purchase.  Spark lacks ASOF JOIN — implemented as a
    union + single window pass (operators/asof.py); DuckDB's native
    ASOF JOIN is the oracle."""
    from hive_scd_spark.operators.asof import asof_join

    ev = load_events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts_ns").alias("click_ns")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts_ns"), F.col("event_id"), F.col("value")
    )
    out = asof_join(
        clicks,
        purchases,
        on="user_id",
        left_time="click_ns",
        right_time="ts_ns",
        value_cols=["event_id", "value"],
    )
    # DuckDB reads TIMESTAMP_NS at micros precision → compare in micros
    return out.select(
        "click_id",
        "user_id",
        F.expr("click_ns div 1000").alias("click_us"),
        F.expr("ts_ns_matched div 1000").alias("purchase_us"),
        F.col("event_id_matched").alias("purchase_event_id"),
        F.col("value_matched").alias("purchase_value"),
    )


def events_window_counts(spark, sf_dir):
    """Tumbling 5-minute windows over the event stream (batch form;
    the same aggregation runs under Structured Streaming in
    hive_scd_spark.streaming, equivalence-tested in tests/)."""
    ev = load_events(spark, sf_dir)
    micros = F.floor(F.col("value") * 1e6 + 0.5).cast("bigint")
    return (
        ev.withColumn("bucket", F.expr("ts_us div 300000000"))
        .groupBy("bucket", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(micros).alias("sum_value_micros"),
        )
    )


_WINDOW_EPOCH_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC
_WINDOW_STEP_US = 43_200_000_000  # 12 h
_WINDOW_LEN_US = 64_800_000_000  # 18 h (adjacent windows overlap)
_WINDOW_BIN_US = 21_600_000_000  # 6 h bins for the equi-join


def range_join_event_windows(spark, sf_dir):
    """Interval (range) join via bin bucketing (operators/range_join.py):
    60 overlapping 18-hour campaign windows over Jan 2024, each event
    matched to every window containing its timestamp — as an EQUI-join
    on a 6-hour bin, never a nested-loop.  The window table is built
    from `spark.range` + literal arithmetic (no driver action)."""
    from hive_scd_spark.operators.range_join import range_join

    ev = load_events(spark, sf_dir).select("ts_us", "value")
    windows = spark.range(60).select(
        F.col("id").alias("window_id"),
        (F.lit(_WINDOW_EPOCH_US) + F.col("id") * _WINDOW_STEP_US).alias("start_us"),
        (
            F.lit(_WINDOW_EPOCH_US) + F.col("id") * _WINDOW_STEP_US + _WINDOW_LEN_US
        ).alias("end_us"),
    )
    joined = range_join(
        ev, windows, "ts_us", "start_us", "end_us", bin_width=_WINDOW_BIN_US
    )
    micros = F.floor(F.col("value") * 1e6 + 0.5).cast("bigint")
    return joined.groupBy("window_id").agg(
        F.count("*").alias("n_events"), F.sum(micros).alias("sum_value_micros")
    )


def range_join_interval_overlap(spark, sf_dir):
    """Interval × interval OVERLAP join (operators/range_join.py:
    interval_overlap_join) — the timeline-alignment primitive the
    point-in-interval gate cannot express: per-(user, day) activity
    intervals [min ts, max ts + 1) built from events, overlapped
    against the 60 campaign windows, reported as per-window user-day
    and distinct-user counts.  Each overlapping pair is found in
    exactly ONE bin (the bin where the overlap starts — both sides
    provably cover it), so the plan is a plain equi-join with no
    dedup pass; the oracle is the naive non-equi join."""
    from hive_scd_spark.operators.range_join import interval_overlap_join

    ev = load_events(spark, sf_dir).select("user_id", "ts_us")
    day_us = 86_400_000_000
    acts = (
        ev.groupBy(
            "user_id", F.expr(f"ts_us div {day_us}").alias("__day")
        )
        .agg(
            F.min("ts_us").alias("act_start"),
            (F.max("ts_us") + 1).alias("act_end"),
        )
        .select("user_id", "act_start", "act_end")
    )
    windows = spark.range(60).select(
        F.col("id").alias("window_id"),
        (F.lit(_WINDOW_EPOCH_US) + F.col("id") * _WINDOW_STEP_US).alias("w_start"),
        (
            F.lit(_WINDOW_EPOCH_US) + F.col("id") * _WINDOW_STEP_US + _WINDOW_LEN_US
        ).alias("w_end"),
    )
    joined = interval_overlap_join(
        acts, windows, "act_start", "act_end", "w_start", "w_end",
        bin_width=_WINDOW_BIN_US,
    )
    return joined.groupBy("window_id").agg(
        F.count("*").cast("long").alias("n_user_days"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )


def events_gap_fill_locf(spark, sf_dir):
    """Regular-grid gap fill with LOCF (operators/asof.py:
    gap_fill_locf) — the time-series densification downstream feature
    windows need: every user × every 12-hour bucket of January 2024,
    the bucket's last observed value carried forward across gaps,
    NULL before a user's first observation, ``is_observed`` marking
    carried rows.  The observed value per bucket is the max (time,
    value) struct, so ties are engine-deterministic; the oracle
    replays the grid, the per-bucket pick (ROW_NUMBER over t DESC,
    v DESC), and the IGNORE NULLS window."""
    from hive_scd_spark.operators.asof import gap_fill_locf

    ev = load_events(spark, sf_dir).select("user_id", "ts_us", "value")
    start = _WINDOW_EPOCH_US
    end = _WINDOW_EPOCH_US + 60 * _WINDOW_STEP_US
    return gap_fill_locf(
        ev, "user_id", "ts_us", "value", step=_WINDOW_STEP_US,
        start=start, end=end,
    )


def dedup_cluster_assign(spark, sf_dir):
    """Near-dup pairs → connected components (operators/cluster.py):
    every document that appears in a MinHash-LSH pair, labeled with the
    min doc_id of its duplicate cluster.  The iterative min-label
    propagation is replicated in the oracle as a recursive CTE
    (transitive closure + MIN), so the component structure itself is
    value-checked."""
    from hive_scd_spark.operators.cluster import dup_clusters

    out = dup_clusters(shared_minhash_pairs(spark, sf_dir))
    return out.select(F.col("node").alias("doc_id"), F.col("cluster").alias("cluster_id"))


def report_source_divergence(spark, sf_dir):
    """Per-source distribution-drift report: KL(source ‖ corpus) over
    the clipped top-30 unigram vocabulary — the monitoring aggregate a
    curation team reads to spot a source whose token distribution has
    drifted from the pool (new crawl snapshot gone weird, wrong
    language mix, template flood).  KL needs no smoothing here: the
    corpus distribution dominates every source (global counts ⊇ source
    counts), so q(w) > 0 ⇒ p(w) > 0 and every term is finite.  Also
    reports each source's modal token (min(struct(-cnt, token)) — ties
    break to the smallest token, engine-deterministic).  One token
    explode, vocabulary-bounded shuffles, broadcast model joins —
    the NB-classifier plan shape, reduced to counting."""
    from hive_scd_spark.functions import ws_tokens

    docs = t(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        F.explode(
            F.filter(
                F.coalesce(ws_tokens("text"), F.array().cast("array<string>")),
                lambda x: x != "",
            )
        ).alias("__tok"),
    )
    vocab = (
        toks.groupBy("__tok")
        .agg(F.count("*").alias("__cnt"))
        .orderBy(F.col("__cnt").desc(), F.col("__tok"))
        .limit(30)
        .select("__tok", F.lit(1).alias("__inv"))
    )
    clipped = toks.join(F.broadcast(vocab), "__tok", "left").select(
        "source",
        F.when(F.col("__inv").isNotNull(), F.col("__tok"))
        .otherwise(F.lit("<unk>"))
        .alias("__w"),
    )
    sw = clipped.groupBy("source", "__w").agg(F.count("*").alias("__sc"))
    gw = clipped.groupBy("__w").agg(F.count("*").alias("__gc"))
    tot = clipped.agg(F.count("*").alias("__n"))
    ns = sw.groupBy("source").agg(F.sum("__sc").alias("__ns"))
    term = (
        sw.join(F.broadcast(gw), "__w")
        .join(F.broadcast(ns), "source")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "__sc",
            "__w",
            (
                (F.col("__sc").cast("double") / F.col("__ns").cast("double"))
                * F.log(
                    (F.col("__sc").cast("double") / F.col("__ns").cast("double"))
                    / (F.col("__gc").cast("double") / F.col("__n").cast("double"))
                )
            ).alias("__kl"),
        )
    )
    return term.groupBy("source").agg(
        F.sum("__sc").cast("long").alias("n_tokens"),
        F.round(F.sum("__kl"), 6).alias("kl_vs_corpus"),
        F.min(F.struct((-F.col("__sc")).alias("nc"), F.col("__w").alias("w")))[
            "w"
        ].alias("top_token"),
    )


def text_code_quality(spark, sf_dir):
    """StarCoder/BigCode file-level code filters (operators/quality.py:
    code_quality_stats) — the code analog of the prose Gopher rules:
    line-length stats, alphanumeric fraction, generated-file markers,
    ``<?xml`` leaks, and the conjunction ``kept`` flag on
    already-rounded values.  The fixture plants the failure modes the
    rules exist for: every 5th document is minified (spaces stripped —
    one enormous line) and every 7th carries an auto-generated header;
    the oracle replays the planting and every rule term-for-term."""
    from hive_scd_spark.operators.quality import code_quality_stats

    docs = t(spark, sf_dir, "documents")
    base = F.when(
        F.col("doc_id") % 5 == 0,
        F.regexp_replace(F.coalesce(F.col("text"), F.lit("")), " ", ""),
    ).otherwise(F.coalesce(F.col("text"), F.lit("")))
    planted = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.lit("// auto-generated do not edit\n"), base),
        )
        .otherwise(base)
        .alias("text"),
    )
    return code_quality_stats(planted, "doc_id", "text")


def sample_softdedup_weights(spark, sf_dir):
    """Soft deduplication (operators/sampling.py: soft_dedup_weights):
    instead of dropping near-dup clusters, every document gets a
    sampling weight 1/cluster_size — one expected copy of each cluster
    per epoch, variants retained.  Clusters come from the SAME MinHash
    pair set and CC fixpoint as the hard-dedup lane
    (dedup_cluster_assign), so the two lanes agree on what a duplicate
    is; the oracle extends that gate's recursive-CTE closure with the
    size/weight arithmetic."""
    from hive_scd_spark.operators.sampling import soft_dedup_weights

    docs = t(spark, sf_dir, "documents").select("doc_id")
    return soft_dedup_weights(
        docs, shared_minhash_pairs(spark, sf_dir), "doc_id"
    )


def scd_snapshot_roundtrip(spark, sf_dir):
    """The sink path with a value check: snapshot() materializes the
    as-of customer table to Parquet (README.md:239-244 compaction
    pattern), and the query READS THE SNAPSHOT BACK — so the oracle
    (the same CASE chain over the live table) verifies the write+read
    round trip, not just the in-memory plan.  /tmp fixture keyed by
    (script, data fingerprint)."""
    import hashlib
    import os
    import tempfile

    from hive_scd_spark.scd import snapshot

    tag = hashlib.md5(
        (CUSTOMER_SCRIPT + _data_fingerprint(sf_dir, "customer")).encode()
    ).hexdigest()[:8]
    path = os.path.join(
        tempfile.gettempdir(),
        f"scd_snapshot_{os.path.basename(sf_dir)}_{tag}",
    )
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        cur = apply_statements(t(spark, sf_dir, "customer"), CUSTOMER_SCRIPT, as_of=None)
        snapshot(cur, path)
    return spark.read.parquet(path).select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
    )


def ivf_kmeans_topk(spark, sf_dir):
    """IVF ANN with k-means-TRAINED centroids (distributed spherical
    Lloyd, operators/similarity.kmeans_centroids) — the quality path
    over the stride-sampled gate (`ivf_cosine_topk`; recall@5 0.86 vs
    0.68 at n_probe=8, test-pinned in test_kmeans_ivf.py).  The
    training is deterministic (md5-seeded init, fixed 2 iterations,
    round-6 argmin), so the oracle replays BOTH Lloyd iterations in SQL
    — a full value-level check, not rows-only."""
    from hive_scd_spark.operators.similarity import ivf_cosine_topk, kmeans_centroids

    emb = t(spark, sf_dir, "embeddings")
    cent = kmeans_centroids(emb, n_lists=16, n_iter=2)
    queries = emb.filter(F.col("vec_id") < 10)
    return ivf_cosine_topk(emb, queries, k=5, n_probe=8, centroids=cent)


def pipeline_scrub_classify_report(spark, sf_dir):
    """CAPSTONE (session 2): the new families composed in ONE lazy plan
    — planted multi-paragraph documents run span scrub (offset-exact
    spans → three taggers → mixer), the SCRUBBED text trains and feeds
    the NB quality classifier (trusted src0+src1 vs rejected
    src2+src3, scored over the other 16 sources), and the output is
    the per-source curation report an allow/block decision reads:
    document counts, kept counts, scrubbed-token sums, and the
    round-6 mean classifier score.  The oracle replays the whole chain
    analytically — split, tagger predicates, ordered reassembly,
    vocabulary cut, both count tables, every ln term, and the final
    rollup.  Scale: the chain adds ONE reassembly shuffle and one
    per-source combiner-collapsed groupBy on top of the component
    plans; nothing materializes between stages."""
    from hive_scd_spark.operators.quality import nb_logodds
    from hive_scd_spark.operators.text import (
        paragraph_spans,
        scrub_spans,
        tag_span_attrs,
    )

    base = t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.concat(
            F.coalesce(F.col("text"), F.lit("")),
            F.lit("\n\ncontact me at user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com\n\nok\n\nclosing body paragraph for doc "),
            F.col("doc_id").cast("string"),
        ).alias("text"),
    )
    spans = paragraph_spans(base, "doc_id", "text")
    attrs = tag_span_attrs(spans, "doc_id", min_tokens=3, max_symbol_ratio=0.5)
    scrubbed = scrub_spans(
        base, spans, attrs, "doc_id", "text",
        drop_attrs=("too_short", "has_pii", "symbol_heavy"),
    ).join(base.select("doc_id", "source"), "doc_id")
    docs2 = scrubbed.select("doc_id", "source", F.col("scrubbed_text").alias("text"))
    # lazy checkpoint (optimization r15, guide §5): the scrubbed corpus
    # feeds SIX consumers — the NB vocabulary pass (pos + neg), both
    # class count tables, the scoring side, and the source re-join —
    # and without a materialization point Catalyst re-derives the whole
    # span-scrub pipeline (explode → 3 taggers → reassembly shuffle)
    # per consumer.  Measured at sf0.1: 32 Exchanges / 7.48 s before,
    # scrub subtree ×6; one scrub pass after.  eager=False keeps the
    # materialization inside the first action, and bench.py times
    # builder plus action, so accounting is unchanged.
    docs2 = docs2.localCheckpoint(eager=False)
    is_pos = F.col("source").isin("src0", "src1")
    is_neg = F.col("source").isin("src2", "src3")
    nb = nb_logodds(
        docs2.filter(~is_pos & ~is_neg), "doc_id", "text",
        pos=docs2.filter(is_pos), neg=docs2.filter(is_neg),
        vocab_size=30, threshold=0.0,
    )
    joined = nb.join(docs2.select("doc_id", "source"), "doc_id")
    return (
        joined.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.col("kept").cast("long")).cast("long").alias("n_kept"),
            F.sum("n_tokens").cast("long").alias("toks_total"),
            F.sum(F.when(F.col("kept"), F.col("n_tokens")).otherwise(0))
            .cast("long")
            .alias("toks_kept"),
            F.round(F.avg("nb_logodds"), 6).alias("avg_nb_logodds"),
        )
    )


def select_nb_quality(spark, sf_dir):
    """Two-class quality-classifier selection (operators/quality.py:
    nb_logodds) — the GPT-3/PaLM data-selection shape in its
    engine-exact Naive-Bayes form: src0+src1 are the trusted class,
    src2+src3 the rejected class, and the remaining 16 sources are
    scored by average token log-odds under the two add-one unigram
    models (clipped V=30 vocabulary, the bigram gate's convention).
    ``kept`` compares the ALREADY-ROUNDED score to the threshold, so
    the flag is engine-identical by construction.  The oracle replays
    the vocabulary cut, both count tables, the totals, and every ln
    term."""
    from hive_scd_spark.operators.quality import nb_logodds

    docs = t(spark, sf_dir, "documents")
    is_pos = F.col("source").isin("src0", "src1")
    is_neg = F.col("source").isin("src2", "src3")
    out = nb_logodds(
        docs.filter(~is_pos & ~is_neg), "doc_id", "text",
        pos=docs.filter(is_pos), neg=docs.filter(is_neg),
        vocab_size=30, threshold=0.0,
    )
    return out.select("doc_id", "n_tokens", "nb_logodds", "kept")


def text_span_scrub(spark, sf_dir):
    """Span-attribute pipeline (operators/text.py: paragraph_spans /
    tag_span_attrs / scrub_spans) — the Dolma tagger/mixer architecture
    made explicit: documents explode into paragraph spans with exact
    character offsets (HOF running sum, shuffle-free), independent
    row-local taggers append long-form attribute rows (too_short /
    has_pii / symbol_heavy), and the mixer rebuilds each document
    keeping unflagged spans verbatim.  The fixture plants a PII
    paragraph and a too-short paragraph into every document; the
    oracle replays the split, every tagger predicate, and the ordered
    reassembly (string_agg ... ORDER BY span_idx).  Attribute table
    and mixer are decoupled — a new tagger appends rows without
    re-running the others, which is the architecture's point."""
    from hive_scd_spark.operators.text import (
        paragraph_spans,
        scrub_spans,
        tag_span_attrs,
    )

    docs = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.coalesce(F.col("text"), F.lit("")),
            F.lit("\n\ncontact me at user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com\n\nok\n\nclosing body paragraph for doc "),
            F.col("doc_id").cast("string"),
        ).alias("text"),
    )
    spans = paragraph_spans(docs, "doc_id", "text")
    attrs = tag_span_attrs(spans, "doc_id", min_tokens=3, max_symbol_ratio=0.5)
    out = scrub_spans(
        docs, spans, attrs, "doc_id", "text",
        drop_attrs=("too_short", "has_pii", "symbol_heavy"),
    )
    return out.select(
        "doc_id",
        F.md5("scrubbed_text").alias("scrubbed_md5"),
        "n_spans_kept",
        "n_spans_removed",
        "chars_removed",
    )


def ann_pq_adc_topk(spark, sf_dir):
    """Product-quantization ANN (operators/similarity.py: pq_codebooks
    / pq_encode / pq_adc_topk) — the memory lever the ANN family was
    missing: brute force scans vectors, IVF prunes WHICH vectors are
    scanned, PQ shrinks WHAT is scanned (64 floats → 4 code bytes,
    64×).  Four 16-dim subspaces each train the module's deterministic
    k-means (16 codes, 2 Lloyd iterations); queries score the whole
    corpus through a 4×16-entry lookup table with a FIXED-ORDER 4-term
    ADC sum, shortlist 32, exact-rerank to top-5.  The oracle replays
    all four k-means trainings, the encode argmax, every LUT entry,
    the ADC sum in the same addition order, and both ranks — full
    value-level verification of the entire PQ pipeline."""
    from hive_scd_spark.operators.similarity import pq_adc_topk, pq_codebooks

    emb = t(spark, sf_dir, "embeddings")
    cb = pq_codebooks(emb, dim=64, n_sub=4, n_codes=16, n_iter=2)
    queries = emb.filter(F.col("vec_id") < 8)
    return pq_adc_topk(emb, queries, cb, dim=64, n_sub=4, n_candidates=32, k=5)


def ann_pq_incremental(spark, sf_dir):
    """Batch-arrival PQ ANN (operators/similarity.py:
    pq_incremental_topk — VERDICT r12 task 6): codebooks are trained
    ONCE on the standing corpus (vec_id % 25 != 0) and frozen, the
    standing corpus's code table is persisted, and the arriving batch
    (vec_id % 25 == 0, the daily-ingest shape) is encoded on arrival
    and probes standing ∪ batch through the ADC lookup table — no
    retrain, no re-encode of the standing corpus, full vectors touched
    only for the broadcast-shortlist rerank.  The oracle replays
    training on the standing slice, encode over the union, every LUT
    entry, the fixed-order ADC sum, and both ranks — value-level proof
    that encode-on-arrival against frozen codebooks equals the batch
    path restricted to the new queries."""
    from hive_scd_spark.operators.similarity import (
        pq_codebooks,
        pq_encode,
        pq_incremental_topk,
    )

    emb = t(spark, sf_dir, "embeddings")
    standing = emb.filter(F.col("vec_id") % 25 != 0)
    new = emb.filter(F.col("vec_id") % 25 == 0)
    cb = pq_codebooks(standing, dim=64, n_sub=4, n_codes=16, n_iter=2)
    corpus_codes = pq_encode(standing, cb, dim=64, n_sub=4)
    return pq_incremental_topk(
        new, standing, cb, corpus_codes=corpus_codes,
        dim=64, n_sub=4, n_candidates=32, k=5,
    )


def ann_ivf_pq_topk(spark, sf_dir):
    """IVF×PQ composed ANN (operators/similarity.py: ivf_pq_topk —
    VERDICT r14 task 3), the layout real 100 TB ANN serving uses: the
    stride-sampled coarse quantizer prunes WHICH inverted lists each
    query scans (top-4 probes of ~17 lists — the ivf_cosine_topk probe
    rule verbatim), the frozen 4×16 PQ codebooks score WHAT remains
    through the broadcast ADC lookup table (the ann_pq_adc_topk scan
    restricted by one equi-join on the stored list id), and the exact
    cosine rerank touches only the 32-row-per-query shortlist.  The
    oracle replays all four k-means trainings, the IVF assignment and
    probe selection, every LUT entry, the fixed-order ADC sum over
    probed lists only, and both ranks — full value-level verification
    of the composed pipeline."""
    from hive_scd_spark.operators.similarity import ivf_pq_topk, pq_codebooks

    emb = t(spark, sf_dir, "embeddings")
    cb = pq_codebooks(emb, dim=64, n_sub=4, n_codes=16, n_iter=2)
    queries = emb.filter(F.col("vec_id") < 8)
    return ivf_pq_topk(
        emb, queries, cb, dim=64, n_sub=4, k=5, n_probe=4, n_candidates=32
    )


def ann_ivf_pq_incremental(spark, sf_dir):
    """Batch-arrival IVF×PQ (operators/similarity.py:
    ivf_pq_incremental_topk) — the FULL frozen-index serving loop:
    centroids (stride sample) and PQ codebooks train ONCE on the
    standing corpus (vec_id % 25 != 0) and freeze; the standing code
    table and list assignment are the persisted index state; the
    arrival batch (vec_id % 25 == 0, the daily-ingest shape) is
    encoded AND assigned on arrival against broadcasts, then probes
    standing ∪ batch through the ADC lookup table restricted to its
    top-4 lists.  No retrain, no re-encode, no re-assignment, no
    full-corpus scan.  The oracle replays training on the standing
    slice, the standing-restricted centroid sample, encode +
    assignment over the union, probe selection for the arrivals,
    every LUT entry, the fixed-order ADC sum over probed lists, and
    both ranks — value-level proof that arrival-time encode+assign
    against frozen state equals the batch path restricted to the new
    queries."""
    from hive_scd_spark.operators.similarity import (
        ivf_assign,
        ivf_centroids,
        ivf_pq_incremental_topk,
        pq_codebooks,
        pq_encode,
    )

    emb = t(spark, sf_dir, "embeddings")
    standing = emb.filter(F.col("vec_id") % 25 != 0)
    new = emb.filter(F.col("vec_id") % 25 == 0)
    cb = pq_codebooks(standing, dim=64, n_sub=4, n_codes=16, n_iter=2)
    # dim=64 is the embeddings fixture's fixed width; it is above
    # functions.MAX_CODEGEN_DOT_WIDTH, so the assignment dot/norm keep
    # the HOF fold (bit-identical either way) and dim= checks the width
    cent = ivf_centroids(standing, dim=64)
    corpus_codes = pq_encode(standing, cb, dim=64, n_sub=4)
    corpus_assign = ivf_assign(standing, centroids=cent, dim=64)
    return ivf_pq_incremental_topk(
        new, standing, cb, cent,
        corpus_codes=corpus_codes, corpus_assign=corpus_assign,
        dim=64, n_sub=4, k=5, n_probe=4, n_candidates=32,
    )


def sample_deterministic(spark, sf_dir):
    """Reproducible sampling — the training-pipeline requirement Spark's
    ``df.sample`` (partition-layout-dependent RNG) cannot give: hash the
    stable id, keep ``h % 100 < rate``.  Same rows on ANY cluster
    layout, any engine (md5-derived hash, cross-engine deterministic),
    and pushdown-friendly (a pure filter over the scan).  Stratified
    variant: different rates per segment via a CASE on the rate."""
    docs = t(spark, sf_dir, "documents")
    h = hash32(F.col("doc_id").cast("string")) % 100
    rate = F.when(F.col("lang") == "en", 50).otherwise(10)  # stratified
    return docs.filter(h < rate).select("doc_id", "lang", "n_chars")


def sample_top_n_per_group(spark, sf_dir):
    """Deterministic per-group cap — "at most N documents per source",
    the standard data-mixing primitive.  Rank within each source by
    md5(doc_id) (a stable, layout- and engine-independent order, same
    trick as sample_deterministic) and keep rank ≤ 20.

    Scale story in ``operators/sampling.py:cap_per_group``."""
    from hive_scd_spark.operators.sampling import cap_per_group

    docs = t(spark, sf_dir, "documents")
    return cap_per_group(docs, "source", "doc_id", 20, rank_col="rk").select(
        "doc_id", "source", F.col("rk").cast("long").alias("rk")
    )


def pipeline_corpus_to_sequences(spark, sf_dir):
    """CAPSTONE: the full training-data pipeline as ONE lazy plan —
    planted-dup corpus → exact dedup (canonical min-id per content
    digest) → benchmark exclusion + 13-gram decontamination (the
    bounded eval set of decontam_ngram_overlap; members dropped by id,
    near-copies dropped by shared-gram screen) → token-count quality
    filter (≥ 40 BPE-ish tokens) → train-split selection (salted-hash
    800‰, r6) → deterministic per-source cap (15, md5 rank) →
    concat-and-chunk packing into 128-token sequences.  Six operators
    composing in a single DataFrame proves the operator set is a
    pipeline, not a collection; the oracle replays the whole chain —
    including the gram screen and the split hash — in one SQL CTE."""
    from hive_scd_spark.operators.decontam import decontaminate
    from hive_scd_spark.operators.dedup import exact_dedup
    from hive_scd_spark.operators.pack import pack_sequences
    from hive_scd_spark.operators.sampling import cap_per_group, split_assign
    from hive_scd_spark.operators.text import TOKEN_REGEX

    corpus = _dup_corpus(spark, sf_dir)
    uniq = exact_dedup(corpus, id_col="doc_id", text_col="text")
    # the bounded benchmark set (same contract as decontam_ngram_overlap:
    # ≤200 docs at any sf, honoring the broadcast-eval contract)
    is_eval = (F.col("doc_id") % 97 == 0) & (F.col("doc_id") < 97 * 200)
    eval_df = t(spark, sf_dir, "documents").select("doc_id", "text").filter(is_eval)
    # benchmark members leave by id (canonical ids are always ORIGINAL
    # ids — copies get +DUP_ID_OFFSET, min wins — so the id test is exact);
    # contaminated near-copies leave by the 13-gram screen.  The token
    # filter runs BEFORE the screen: the two are independent row
    # filters on the same rows (they commute — the surviving set and
    # the oracle are identical either way), and filtering first means
    # the 13-gram hashing only touches documents that can actually be
    # packed — the cheap regexp_count prunes the expensive
    # split/slice/md5 pipeline's input.
    train = uniq.filter(~is_eval)
    docs = t(spark, sf_dir, "documents").select("doc_id", "source")
    surv = (
        train.join(docs, "doc_id")
        .withColumn(
            "n_tokens", F.regexp_count(F.col("text"), F.lit(TOKEN_REGEX)).cast("long")
        )
        .filter(F.col("n_tokens") >= 40)
    )
    clean = decontaminate(surv, eval_df, "doc_id", "text", n=13)
    train_only = split_assign(clean, "doc_id").filter(F.col("split") == "train")
    capped = cap_per_group(train_only, "source", "doc_id", 15)
    return pack_sequences(capped.select("doc_id", "n_tokens"), "doc_id", "n_tokens", 128)


def feature_histogram(spark, sf_dir):
    """Fixed-edge histogram via ``width_bucket`` — the feature-binning
    primitive.  One partial-aggregated groupBy on the bucket id; bucket
    count is a constant, so the shuffle is 22 rows regardless of data
    size."""
    orders = t(spark, sf_dir, "orders")
    b = F.width_bucket(F.col("o_totalprice"), F.lit(0.0), F.lit(600000.0), F.lit(20))
    return (
        orders.select(b.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n"))
    )


def json_props_stats(spark, sf_dir):
    """JSON scalar functions (§2.B scalar surface): parse the events
    ``props`` JSON column, extract a typed field, aggregate per event
    type.  JSON parse is a per-row JVM expression — codegen, no UDF."""
    ev = t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


def lateral_recent_orders(spark, sf_dir):
    """LATERAL correlated subquery (§2.B SQL surface — the per-row
    dependent subquery form, distinct from the window-topk rewrite):
    each BUILDING-segment customer joined to its 3 most recent orders
    via LATERAL (ORDER BY ... LIMIT inside the correlation).  Catalyst
    decorrelates this into a join + per-key WindowGroupLimit — same
    physical shape as the window formulation, which is exactly the
    point: the SQL surface is supported without a plan penalty.
    Deterministic: date ties broken by orderkey."""
    t(spark, sf_dir, "customer").createOrReplaceTempView("customer_lat")
    t(spark, sf_dir, "orders").createOrReplaceTempView("orders_lat")
    return spark.sql(
        """
        SELECT c.c_custkey, r.o_orderkey, r.o_orderdate, r.o_totalprice
        FROM customer_lat c,
        LATERAL (
          SELECT o_orderkey, o_orderdate, o_totalprice
          FROM orders_lat
          WHERE o_custkey = c.c_custkey
          ORDER BY o_orderdate DESC, o_orderkey ASC
          LIMIT 3
        ) r
        WHERE c.c_mktsegment = 'BUILDING'
        """
    )


def agg_median_listagg(spark, sf_dir):
    """Spark 4 ordered-set aggregates (§2.B agg surface): exact
    ``median`` and ``listagg WITHIN GROUP (ORDER BY)`` in ONE groupBy
    (the conditional-listagg form — listagg skips NULLs, so the CASE
    realizes the filtered variant without a second scan or join).

    Median is computed over integer CENTS: a half-cent midpoint like
    4097.235 rounds to .24 in Spark but .23 in DuckDB (Spark rounds
    the decimal string, DuckDB the binary double — empirically ~3.5 %
    of half-cent values diverge), so a round(double, 2) gate is a
    latent cross-engine flake.  Over bigint cents the midpoint is
    exactly .0 or .5, and doubling it yields an exact integer — the
    same integer-cents discipline every revenue gate here uses."""
    cust = t(spark, sf_dir, "customer")
    cents = F.floor(F.col("c_acctbal") * 100 + 0.5).cast("bigint")
    return (
        cust.select("c_mktsegment", cents.alias("__c"), "c_custkey")
        .groupBy("c_mktsegment")
        .agg(
            (F.median("__c") * 2).cast("bigint").alias("median_cents_x2"),
            F.expr(
                "listagg(CASE WHEN __c > 990000 "
                "THEN cast(c_custkey as string) END, ',') "
                "WITHIN GROUP (ORDER BY c_custkey)"
            ).alias("top_custkeys"),
        )
        .select(
            "c_mktsegment",
            "median_cents_x2",
            F.coalesce("top_custkeys", F.lit("")).alias("top_custkeys"),
        )
    )


def skew_salted_join_orders(spark, sf_dir):
    """salted_join gate (operators/skew.py — previously only
    equality-tested in pytest): the skewed fact side joins a
    16×-replicated dim side on (key, salt), spreading any hot key over
    16 tasks without a broadcast.  The salt is internal — the result
    is EXACTLY the plain join, which is the oracle."""
    from hive_scd_spark.operators.skew import salted_join

    orders = t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"), "o_orderkey", "o_totalprice"
    )
    cust = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_mktsegment"
    )
    j = salted_join(orders, cust, "custkey", n_salts=16)
    return j.select(
        "custkey",
        "o_orderkey",
        "c_mktsegment",
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").alias(
            "price_cents"
        ),
    )


def multimodal_dedup_exact(spark, sf_dir):
    """Multimodal content dedup — the composition the image/audio
    stubs exist to feed: binary payloads → Arrow-batched feature
    extraction (mapInPandas computes the md5 content checksum) →
    canonical media per checksum (min id), i.e. exact image dedup by
    content hash, the first pass of any 100 TB media pipeline.  The
    checksum is real (md5 of the payload bytes), so the oracle replays
    the whole chain."""
    from hive_scd_spark.operators.multimodal import (
        attach_binary,
        extract_image_features,
    )

    media = attach_binary(
        t(spark, sf_dir, "documents"),
        id_col="doc_id",
        payload_col="text",
        media_type="image",
    )
    feats = extract_image_features(media)
    canon = feats.groupBy("checksum").agg(
        F.min("media_id").alias("canonical_id"),
        F.count("*").alias("n_copies"),
    )
    return canon.select("canonical_id", "n_copies", "checksum")


def multimodal_dedup_near(spark, sf_dir):
    """Perceptual NEAR-duplicate media dedup (operators/multimodal.py:
    multimodal_dedup_near, VERDICT r13 task 5) — the pass exact
    content-hash dedup cannot do: re-encoded/upscaled copies of one
    image hash to the SAME dHash (the stub's continuous byte-resample
    is exactly invariant under uniform k× upsampling), and the banded
    Hamming-ball join (dedup.banded_hamming_pairs — the simhash
    machinery reused) finds every pair within Hamming 3 with
    pigeonhole-exact recall.

    The gate plants the transforms: every doc_id % 10 == 0 gains a
    2×-upsampled copy (id + 1000000), every doc_id % 10 == 5 a
    3×-upsampled copy (id + 2000000); payloads are printable-ASCII
    sanitized so bytes == codepoints and the DuckDB oracle replays the
    ENTIRE computation — sanitize, upsample, exact integer segment
    integrals, 64 compare bits, two's-complement pack, 16-bit banding,
    bucket census, Hamming join — with integer ops."""
    from hive_scd_spark.operators.multimodal import (
        attach_binary,
        multimodal_dedup_near as near_pairs,
    )

    src = (
        t(spark, sf_dir, "documents")
        .select("doc_id", F.regexp_replace("text", "[^ -~]", "").alias("t"))
        .filter(F.length("t") >= 72)
    )
    up2 = src.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.regexp_replace("t", "(.)", "$1$1").alias("t"),
    )
    up3 = src.filter(F.col("doc_id") % 10 == 5).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.regexp_replace("t", "(.)", "$1$1$1").alias("t"),
    )
    corpus = src.unionByName(up2).unionByName(up3)
    media = attach_binary(corpus, id_col="doc_id", payload_col="t", media_type="image")
    return near_pairs(media.select("media_id", "payload"))


def multimodal_dedup_near_audio(spark, sf_dir):
    """Perceptual near-dup for the AUDIO lane (operators/multimodal.py:
    multimodal_dedup_near_audio, r14) — the energy-envelope hash over
    headerless-PCM16 payloads (the fake_decode_audio convention),
    exactly invariant under uniform sample duplication (naive k×
    resample) and positive volume scaling, then the shared banded
    Hamming-ball join.  The gate plants the transforms: every
    doc_id % 10 == 2 gains a 2×-sample-duplicated copy (id + 3e6),
    every doc_id % 10 == 7 a 3× copy (id + 4e6); payloads are
    printable-ASCII sanitized and the DuckDB oracle replays the ENTIRE
    computation — PCM16 magnitude extraction, exact integer envelope
    integrals, bit pack, banding, census, Hamming join — sharing the
    envelope CTE tail with the image gate."""
    from hive_scd_spark.operators.multimodal import (
        attach_binary,
        multimodal_dedup_near_audio as near_pairs,
    )

    src = (
        t(spark, sf_dir, "documents")
        .select("doc_id", F.regexp_replace("text", "[^ -~]", "").alias("t"))
        .filter(F.length("t") >= 144)
    )
    up2 = src.filter(F.col("doc_id") % 10 == 2).select(
        (F.col("doc_id") + 3000000).alias("doc_id"),
        F.regexp_replace("t", "(..)", "$1$1").alias("t"),
    )
    up3 = src.filter(F.col("doc_id") % 10 == 7).select(
        (F.col("doc_id") + 4000000).alias("doc_id"),
        F.regexp_replace("t", "(..)", "$1$1$1").alias("t"),
    )
    corpus = src.unionByName(up2).unionByName(up3)
    media = attach_binary(corpus, id_col="doc_id", payload_col="t", media_type="audio")
    return near_pairs(media.select("media_id", "payload"))


def multimodal_dedup_near_video(spark, sf_dir):
    """Perceptual near-dup for the VIDEO lane (operators/multimodal.py:
    multimodal_dedup_near_video, r14): frame-sampled envelope hashes
    (fixed 64-byte windows — the chunk_payload frame convention) pair
    clips that share ≥2 distinct frame hashes through the grouped
    inverted-index idiom (winnow_pairs_from_selected reused with the
    frame hash as the fingerprint).  The gate plants the two
    real-world transforms a content-hash pass misses: every
    doc_id % 10 == 4 gains a HEAD-TRIMMED copy (first frame cut,
    id + 5e6 — its frames are the original's shifted by exactly one
    window) and every doc_id % 10 == 9 a TAIL-TRIMMED copy (last 64
    bytes cut, id + 6e6 — full frames identical, the short tail
    differs).  The DuckDB oracle replays frame slicing, every
    per-frame envelope hash (shared CTEs), the df cap, and the pair
    counts."""
    from hive_scd_spark.operators.multimodal import multimodal_dedup_near_video as near_pairs

    return near_pairs(_video_media(spark, sf_dir))


def _video_media(spark, sf_dir):
    """The planted video media table of multimodal_dedup_near_video
    (also the input of scripts/scale.py's decode-only profile row)."""
    from hive_scd_spark.operators.multimodal import attach_binary

    src = (
        t(spark, sf_dir, "documents")
        .select("doc_id", F.regexp_replace("text", "[^ -~]", "").alias("t"))
        .filter(F.length("t") >= 192)
    )
    head_trim = src.filter(F.col("doc_id") % 10 == 4).select(
        (F.col("doc_id") + 5000000).alias("doc_id"),
        F.expr("substring(t, 65)").alias("t"),
    )
    tail_trim = src.filter(F.col("doc_id") % 10 == 9).select(
        (F.col("doc_id") + 6000000).alias("doc_id"),
        F.expr("substring(t, 1, length(t) - 64)").alias("t"),
    )
    corpus = src.unionByName(head_trim).unionByName(tail_trim)
    media = attach_binary(corpus, id_col="doc_id", payload_col="t", media_type="video")
    return media.select("media_id", "payload")


def multimodal_dedup_near_corpus(spark, sf_dir):
    """The media-family dedup ENDGAME (r14): perceptual near-dup pairs
    → connected components → one canonical medium per cluster + all
    unpaired media — the same pairs → clusters → keepers last mile the
    MinHash and winnowing families ship (cluster.dedup_corpus), driven
    by the dHash banded-Hamming candidate generator.  Over the planted
    corpus every 2×/3× upsampled copy is Hamming-0 with its original,
    so each (d, d+1e6/2e6) pair collapses to the min-id keeper.  The
    oracle replays the dHash pipeline (shared CTEs with the pair gate)
    plus the recursive transitive closure.  Scale: the pair graph is
    candidate-sized, never corpus-sized; the keep step is one left-anti
    join (AQE broadcasts the loser list when small)."""
    from hive_scd_spark.operators.cluster import dedup_corpus
    from hive_scd_spark.operators.multimodal import (
        attach_binary,
        multimodal_dedup_near as near_pairs,
    )

    src = (
        t(spark, sf_dir, "documents")
        .select("doc_id", F.regexp_replace("text", "[^ -~]", "").alias("t"))
        .filter(F.length("t") >= 72)
    )
    up2 = src.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.regexp_replace("t", "(.)", "$1$1").alias("t"),
    )
    up3 = src.filter(F.col("doc_id") % 10 == 5).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.regexp_replace("t", "(.)", "$1$1$1").alias("t"),
    )
    corpus = src.unionByName(up2).unionByName(up3)
    media = attach_binary(corpus, id_col="doc_id", payload_col="t", media_type="image")
    pairs = near_pairs(media.select("media_id", "payload"))
    keep = dedup_corpus(media, pairs, "media_id")
    return keep.select("media_id", "n_bytes")


def q8_national_market_share(spark, sf_dir):
    """TPC-H Q8 shape: a nation's share of revenue by year — the
    LARGEST join expressible over the reduced schemas (7 tables:
    lineitem × orders × customer × supplier × part × nation × region),
    with a conditional-share aggregate on top.  All five dimension
    sides broadcast; the share is exact-integer cents over cents."""
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    cust = t(spark, sf_dir, "customer")
    supp = t(spark, sf_dir, "supplier")
    part = t(spark, sf_dir, "part").filter(F.col("p_type").startswith("PROMO"))
    nat = t(spark, sf_dir, "nation")
    reg = t(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    cn = nat.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_reg")
    )
    sn = nat.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + 0.5
    ).cast("bigint")
    j = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(cn), cust.c_nationkey == F.col("cn_key"))
        .join(F.broadcast(reg), F.col("cn_reg") == reg.r_regionkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
    )
    return (
        j.groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.sum(F.when(F.col("supp_nation") == "BRAZIL", cents).otherwise(0)).alias(
                "brazil_cents"
            ),
            F.sum(cents).alias("total_cents"),
        )
        .select(
            F.col("o_year").cast("long").alias("o_year"),
            "brazil_cents",
            "total_cents",
        )
        .orderBy("o_year")
    )


def q2_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2 shape: minimum-cost supplier per part — the correlated
    scalar-MIN subquery, adapted to the reduced schema (no partsupp
    table; the part↔supplier cost relation derives from lineitem:
    cost := the supplier's cheapest line for that part, in exact
    cents).  Size-15 parts, suppliers in region EUROPE; the correlated
    min is the classic aggregate-then-rejoin on the part key, the dims
    broadcast, and the derived cost relation is built ONCE and reused
    for both the candidate rows and the per-part min (self-join on the
    aggregate, not a recompute)."""
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part").filter(F.col("p_size") == 15)
    supp = t(spark, sf_dir, "supplier")
    nat = t(spark, sf_dir, "nation")
    reg = t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    cost = li.groupBy(
        F.col("l_partkey").alias("ps_partkey"),
        F.col("l_suppkey").alias("ps_suppkey"),
    ).agg(
        F.min(F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("bigint")).alias(
            "ps_cost_cents"
        )
    )
    eur = (
        cost.join(
            F.broadcast(supp), F.col("ps_suppkey") == F.col("s_suppkey")
        )
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    min_cost = eur.groupBy(F.col("ps_partkey").alias("mc_partkey")).agg(
        F.min("ps_cost_cents").alias("min_cost_cents")
    )
    return (
        eur.join(F.broadcast(part), F.col("ps_partkey") == F.col("p_partkey"))
        .join(
            min_cost,
            (F.col("ps_partkey") == F.col("mc_partkey"))
            & (F.col("ps_cost_cents") == F.col("min_cost_cents")),
        )
        .select(
            F.col("s_acctbal"),
            F.col("s_name"),
            F.col("n_name"),
            F.col("p_partkey"),
            F.col("p_brand"),
            F.col("ps_cost_cents"),
        )
        .orderBy(
            F.desc("s_acctbal"), "n_name", "s_name", "p_partkey"
        )
        .limit(20)
    )


def q9_product_profit(spark, sf_dir):
    """TPC-H Q9 shape: product-type profit by (nation, year) — the
    6-way join with a two-term profit expression, adapted: supply cost
    is 60 % of p_retailprice (no partsupp), both terms carried in
    EXACT integer cents (revenue cents minus qty × cost-cents;
    l_quantity is integer-valued) so the aggregate cannot drift
    between engines.  'gear'-named parts play the %green% filter.
    All dims broadcast; one shuffle for the (nation, year) aggregate."""
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part").filter(F.col("p_name").contains("gear"))
    supp = t(spark, sf_dir, "supplier")
    nat = t(spark, sf_dir, "nation")
    orders = t(spark, sf_dir, "orders")
    revenue = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + 0.5
    ).cast("bigint")
    cost = F.col("l_quantity").cast("bigint") * F.floor(
        F.col("p_retailprice") * 60 + 0.5
    ).cast("bigint")
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(F.sum(revenue - cost).alias("profit_cents"))
        .orderBy("nation", F.desc("o_year"))
    )


def q11_important_stock(spark, sf_dir):
    """TPC-H Q11 shape: per-part value with a HAVING threshold against
    a GLOBAL scalar aggregate of the same relation — adapted to the
    lineitem-derived value (sum of line cents for suppliers in
    NATION_7).  The global total is a 1-row aggregate broadcast into
    the HAVING comparison; the threshold 1000 × part_value > total is
    exact-integer (no 0.001 × double drift).  One shuffle builds the
    per-part aggregate; the nation-filtered base is computed once for
    both sides via an explicit reused plan."""
    li = t(spark, sf_dir, "lineitem")
    supp = t(spark, sf_dir, "supplier")
    nat = t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")
    cents = F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("bigint")
    base = (
        li.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(F.col("l_partkey"), cents.alias("__cents"))
    )
    per_part = base.groupBy("l_partkey").agg(
        F.sum("__cents").alias("value_cents")
    )
    total = per_part.agg(F.sum("value_cents").alias("__total"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("value_cents") * 1000 > F.col("__total"))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.col("value_cents"),
        )
        .orderBy(F.desc("value_cents"), "p_partkey")
    )


def q12_shipping_priority_classes(spark, sf_dir):
    """TPC-H Q12 shape: per-category conditional priority counts —
    adapted: the categorical is a DERIVED shipping-delay class (no
    l_shipmode column): SLOW when the line shipped >60 days after the
    order date, else FAST.  1996 ship-year filter pushes to the scan;
    the two CASE-counts are one map-combinable aggregate over a single
    orders join (orders side carries only (key, priority, date) after
    pruning)."""
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    orders = t(spark, sf_dir, "orders")
    cls = F.when(
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > 60, F.lit("SLOW")
    ).otherwise(F.lit("FAST"))
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(cls.alias("ship_class"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("ship_class")
    )


def q15_top_supplier(spark, sf_dir):
    """TPC-H Q15 shape: top supplier by quarterly revenue — the
    revenue-view-referenced-twice pattern (once for the scalar MAX,
    once for the equality selection), in exact cents so the MAX
    boundary is engine-stable.  The revenue aggregate is one shuffle;
    its 1-row max broadcasts back; supplier dim broadcasts for the
    name join."""
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    supp = t(spark, sf_dir, "supplier")
    cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + 0.5
    ).cast("bigint")
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(cents).alias("total_revenue_cents")
    )
    mx = revenue.agg(F.max("total_revenue_cents").alias("__mx"))
    return (
        revenue.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue_cents") == F.col("__mx"))
        .join(F.broadcast(supp), F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue_cents")
        .orderBy("s_suppkey")
    )


def q16_supplier_part_counts(spark, sf_dir):
    """TPC-H Q16 shape: distinct-supplier counts by part attributes
    with a NOT-IN exclusion subquery — adapted: the part↔supplier
    relation derives from lineitem (no partsupp), and the excluded
    suppliers are those with negative account balance (no s_comment).
    The exclusion is a broadcast anti-join (the NOT IN list is tiny);
    the count(distinct) groups by three low-cardinality attributes —
    map-side partial aggregation takes out the duplicate (attrs,
    suppkey) pairs before the shuffle."""
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#5") & (F.col("p_size").isin(1, 9, 15, 25, 36, 49))
    )
    bad = t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0)
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(
            F.broadcast(bad),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


def q20_excess_shippers(spark, sf_dir):
    """TPC-H Q20 shape: suppliers qualified through a nested aggregate
    IN-subquery — adapted: a NATION_3 supplier qualifies when MORE THAN
    HALF of all the 'red'-part quantity they ever shipped went out in
    1997+ (availqty → the supplier's own historical total; the 2×
    cross-multiplication keeps the comparison integer-exact).  The
    inner aggregate groups the filtered fact once; both filters (part
    name, nation) cut before any shuffle."""
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part").filter(F.col("p_name").contains("red"))
    supp = t(spark, sf_dir, "supplier")
    nat = t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    red = li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    per_supp = red.groupBy(F.col("l_suppkey").alias("q_suppkey")).agg(
        F.sum(F.col("l_quantity").cast("bigint")).alias("total_qty"),
        F.sum(
            F.when(
                F.col("l_shipdate") >= "1997-01-01",
                F.col("l_quantity").cast("bigint"),
            ).otherwise(0)
        ).alias("recent_qty"),
    )
    return (
        per_supp.filter(F.col("recent_qty") * 2 > F.col("total_qty"))
        .join(F.broadcast(supp), F.col("q_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_name", "s_acctbal", "total_qty", "recent_qty")
        .orderBy("s_name")
    )


def q21_waiting_orders(spark, sf_dir):
    """TPC-H Q21 shape: suppliers who were the SOLE late shipper on a
    multi-supplier order — the double correlated EXISTS / NOT-EXISTS
    self-join on the fact table, adapted: 'late' is shipping >90 days
    after the order date (no commit/receipt columns).  Expressed as
    one per-(order, supplier) aggregate — (any_late, n_suppliers on
    the order via a window over the DISTINCT supplier rows) — then the
    EXISTS pair becomes two predicates on the aggregate: another
    supplier exists AND no OTHER supplier is late.  The fact shuffles
    ONCE on the order key; both 'exists' conditions are window/group
    derivations of that same layout, not extra joins of the raw fact."""
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    supp = t(spark, sf_dir, "supplier")
    late = F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > 90
    per = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(late.cast("int")).alias("is_late"))
    )
    w = W.partitionBy("l_orderkey")
    per = per.select(
        "l_orderkey",
        "l_suppkey",
        "is_late",
        F.count(F.lit(1)).over(w).alias("n_supps"),
        F.sum("is_late").over(w).alias("n_late"),
    )
    return (
        per.filter(
            (F.col("is_late") == 1)
            & (F.col("n_supps") > 1)
            & (F.col("n_late") == 1)
        )
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


def sketch_merge_distinct_users(spark, sf_dir):
    """HLL sketch PERSISTENCE-and-MERGE (the incremental-analytics
    primitive agg_approx_distinct_check's inline form doesn't cover):
    per (event_type, time-block) sketches built independently —
    exactly what a daily job would persist — then merged with
    hll_union_agg and estimated.  This is how 100 TB pipelines answer
    "distinct users this quarter" without rescanning: sketches are
    mergeable state.  Binary sketches are engine-specific, so the gate
    checks the deterministic property: the merged estimate stays
    within tolerance of exact (same contract as the inline HLL
    gate)."""
    ev = load_events(spark, sf_dir)
    blocks = ev.select(
        "event_type",
        "user_id",
        (F.col("ts_us") / F.lit(7 * 86400 * 1_000_000)).cast("long").alias("wk"),
    )
    part = blocks.groupBy("event_type", "wk").agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    merged = part.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
    )
    exact = blocks.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return (
        merged.join(exact, "event_type")
        .select(
            "event_type",
            "exact_users",
            # exact == 0 would make the ratio NULL (never the oracle's
            # TRUE); an all-NULL-user group is within tolerance iff the
            # sketch also says zero
            F.when(
                F.col("exact_users") > 0,
                F.abs(F.col("est") / F.col("exact_users") - 1.0) <= 0.15,
            )
            .otherwise(F.col("est") <= 0.0)
            .alias("within_15pct"),
        )
    )


def text_inverted_index(spark, sf_dir):
    """Materialized inverted index over documents (text_rank.
    build_inverted_index): blocked posting lists — the
    standing-artifact form of retrieval.  The synthetic vocabulary is
    31 terms, ~all hot (df up to ~80% of the corpus), which is exactly
    the shape the BLOCKING exists for: no max_df screen here, so every
    hot term's postings split across doc_id div 200 blocks and no
    output row exceeds the block bound.  Postings emitted as CSV for a
    representation-independent hash."""
    from hive_scd_spark.operators.text_rank import build_inverted_index

    idx = build_inverted_index(
        t(spark, sf_dir, "documents"), "doc_id", "text", block_size=200
    )
    return idx.select(
        "term",
        "block",
        "doc_freq",
        F.array_join("postings", ",").alias("postings_csv"),
    )


def graph_pagerank_dups(spark, sf_dir):
    """Integer-exact PageRank (operators/cluster.py pagerank) over the
    exact-substring duplicate graph — ranks centrality within dup
    components (the canonical-doc-selection signal).  Every update is
    integer arithmetic, so the fixed-5-iteration result is
    bit-identical in DuckDB, which replays the same edge CTE and the
    same unrolled steps."""
    from hive_scd_spark.operators.cluster import pagerank
    from hive_scd_spark.operators.dedup import substring_dup_pairs

    pairs = substring_dup_pairs(
        t(spark, sf_dir, "documents"), "doc_id", "text", n=15, max_df=50
    )
    return pagerank(pairs, "id_a", "id_b", iters=5)


def text_bpe_tokenize(spark, sf_dir):
    """BPE tokenization as a pure column expression (operators/text.py
    bpe_tokenize): the merge table is a chain of literal replaces, so
    the ENTIRE tokenizer is one codegen projection and the oracle
    replays the identical chain — tokenizer-exact budgeting with zero
    dependencies.  Tokens emitted as CSV for a representation-
    independent value hash."""
    from hive_scd_spark.operators.text import bpe_tokenize

    out = bpe_tokenize(t(spark, sf_dir, "documents"), "doc_id", "text")
    return out.select(
        "doc_id",
        "n_tokens",
        F.array_join("tokens", ",").alias("tokens_csv"),
    )


def text_bpe_batched(spark, sf_dir):
    """Production BPE path (operators/text.py bpe_tokenize_batched):
    the canonical lowest-rank-pair-first loop as one Arrow-batched
    mapInPandas projection — the route for self-pair merges and 32k
    tables that the expression chain refuses (VERDICT r6 task 2).  On
    the shared (self-pair-free) BPE_MERGES table the two paths are
    bit-identical (pinned in tests), so the SAME replace-chain SQL
    oracle replays this gate — the driver hash therefore checks the
    Arrow plumbing end-to-end, while the >=1k-table and self-pair
    semantics are pinned by the fuzz suite against the Python
    reference."""
    from hive_scd_spark.operators.text import bpe_tokenize_batched

    out = bpe_tokenize_batched(t(spark, sf_dir, "documents"), "doc_id", "text")
    return out.select(
        "doc_id",
        "n_tokens",
        F.array_join("tokens", ",").alias("tokens_csv"),
    )


def variant_props_stats(spark, sf_dir):
    """Spark 4 VARIANT type (§2.B scalar surface, the semi-structured
    path): ``parse_json`` materializes the props column as a VARIANT —
    a binary-encoded document parsed ONCE — and typed ``variant_get``
    extractions read it without re-parsing, where the older
    ``get_json_object`` path (json_props_stats) re-parses the string
    per extraction.  Same aggregate contract as the JSON gate, so the
    two gates cross-check each other's extraction semantics; quartile
    bucketing of k exercises a second typed extraction."""
    ev = t(spark, sf_dir, "events")
    v = ev.select("event_type", F.parse_json("props").alias("__v"))
    k = F.expr("variant_get(__v, '$.k', 'bigint')")
    return (
        v.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").alias("sum_k"),
            F.sum(F.when(F.col("k") >= 50, 1).otherwise(0)).alias("n_high"),
        )
    )


def skew_salted_order_stats(spark, sf_dir):
    """Two-phase salted aggregation (operators/skew.py) over a
    deliberately skewed key: order counts and revenue per orderstatus
    ('O'/'F' hold ~half the table each — exactly the hot-key shape a
    plain groupBy serializes onto one reducer before AQE).  The salt is
    internal; results are identical to the plain aggregation, which is
    what the oracle states."""
    from hive_scd_spark.operators.skew import salted_agg

    orders = t(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")
    out = salted_agg(
        orders.withColumn("__cents", cents),
        ["o_orderstatus"],
        {
            "n_orders": (F.count("*"), F.sum("n_orders")),
            "revenue_cents": (F.sum("__cents"), F.sum("revenue_cents")),
        },
        n_salts=16,
    )
    return out.select("o_orderstatus", "n_orders", "revenue_cents")


def dedup_corpus_canonical(spark, sf_dir):
    """End-to-end dedup (operators/cluster.dedup_corpus): pairs →
    components → one canonical doc per cluster + all unpaired docs —
    the operation a training pipeline actually ships."""
    from hive_scd_spark.operators.cluster import dedup_corpus

    docs = t(spark, sf_dir, "documents")
    pairs = shared_minhash_pairs(spark, sf_dir)
    return dedup_corpus(docs, pairs, "doc_id").select("doc_id", "n_chars")


BM25_QUERY_TERMS = ["join", "vector", "stream"]


def text_bm25_topk(spark, sf_dir):
    """BM25 retrieval (operators/text_rank.py): top-20 documents for a
    three-term query; Lucene idf form, k1=1.2, b=0.75."""
    from hive_scd_spark.operators.text_rank import bm25_topk

    return bm25_topk(
        t(spark, sf_dir, "documents"), "doc_id", "text", BM25_QUERY_TERMS, k=20
    )


def shard_assignment(spark, sf_dir):
    """Token-balanced training shards (operators/shard.py): serpentine
    LPT over a DISTRIBUTED global rank (range-repartition + local
    row_number + broadcast offsets — no single-partition window)."""
    from hive_scd_spark.operators.shard import balanced_shards

    docs = t(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_tokens")
    )
    return balanced_shards(docs, "doc_id", "n_tokens", 8).select(
        "doc_id", "n_tokens", "shard"
    )


def text_repetition_stats(spark, sf_dir):
    """Gopher-style repetition screen (operators/quality.py:
    repetition_stats) over a corpus with PLANTED line structure: every
    run of 6 words becomes a line (the flat synthetic text has no
    newlines), and every 5th document re-appends its first line twice
    so the duplicate-line metrics are genuinely exercised."""
    from hive_scd_spark.operators.quality import repetition_stats

    docs = t(spark, sf_dir, "documents")
    lined = F.regexp_replace(F.col("text"), r"(([^ ]+ ){5}[^ ]+) ", "$1\n")
    first = F.regexp_extract(lined, r"^[^\n]*", 0)
    planted = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(lined, F.lit("\n"), first, F.lit("\n"), first),
        )
        .otherwise(lined)
        .alias("text"),
    )
    out = repetition_stats(planted, "doc_id", "text")
    return out.select(
        "doc_id",
        "n_lines",
        "dup_line_frac",
        "dup_line_char_frac",
        "top_token_frac",
        "top_bigram_frac",
        F.col("repetitive").cast("long").alias("repetitive"),
    )


def text_unigram_logprob(spark, sf_dir):
    """CCNet-style unigram LM quality score (operators/quality.py:
    unigram_logprob): corpus-derived top-30 vocabulary (the synthetic
    corpus has 31 distinct tokens, so the rarest genuinely exercises
    the OOV floor), broadcast back, per-doc mean log-probability."""
    from hive_scd_spark.operators.quality import unigram_logprob

    out = unigram_logprob(
        t(spark, sf_dir, "documents"), "doc_id", "text", vocab_size=30
    )
    return out.select("doc_id", "n_tokens", "n_oov", "oov_frac", "avg_logprob")


def corpus_top_ngrams(spark, sf_dir):
    """Corpus-wide top-25 word bigrams (operators/quality.py:
    top_ngrams) — combiner-collapsed count shuffle + deterministic
    top-k (count desc, gram asc)."""
    from hive_scd_spark.operators.quality import top_ngrams

    return top_ngrams(t(spark, sf_dir, "documents"), "text", n=2, k=25)


def sample_token_budget_per_source(spark, sf_dir):
    """Token-budget data mixing (operators/sampling.py:
    cap_tokens_per_group): each source contributes documents in
    deterministic md5 order until 600 tokens are consumed; the
    straddling document is kept (budget is a floor)."""
    from hive_scd_spark.operators.sampling import cap_tokens_per_group

    docs = t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias("n_tokens"),
    )
    out = cap_tokens_per_group(
        docs, "source", "doc_id", "n_tokens", budget=600, cum_col="cum_before"
    )
    return out.select("doc_id", "source", "n_tokens", "cum_before")


def text_redact_pii(spark, sf_dir):
    """PII redaction (operators/text.py:redact_pii) over a corpus with
    planted PII: every 6th doc gets an email, the next a phone number,
    the next a bare IPv4, the next an email-shaped address with an IP
    domain (no alpha TLD ⇒ NOT an email; the IP inside it must still
    redact — exercises the email→phone→IP ordering contract)."""
    from hive_scd_spark.operators.text import redact_pii

    docs = t(spark, sf_dir, "documents")
    m = F.col("doc_id") % 6
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(m == 0, F.lit(" contact bob@corp.example.org now"))
            .when(m == 1, F.lit(" call +1 555-0134 221 ok"))
            .when(m == 2, F.lit(" from 10.0.42.7 net"))
            .when(m == 3, F.lit(" mail root@10.0.0.1 host"))
            .otherwise(F.lit("")),
        ).alias("text"),
    )
    out = redact_pii(planted, "doc_id", "text")
    return out.select(
        "doc_id",
        F.md5("redacted_text").alias("redacted_md5"),
        "n_emails",
        "n_phones",
        "n_ips",
    )


def text_chunk_sliding(spark, sf_dir):
    """RAG-style sliding-window chunking (operators/text.py:
    chunk_text_tokens): 24-token windows advancing by 16 (8-token
    overlap); the tail chunk may be short.  Chunk text is hashed for
    the value check."""
    from hive_scd_spark.operators.text import chunk_text_tokens

    out = chunk_text_tokens(
        t(spark, sf_dir, "documents"), "doc_id", "text", window=24, stride=16
    )
    return out.select(
        "doc_id",
        "chunk_id",
        "start_tok",
        "n_chunk_tokens",
        F.md5("chunk_text").alias("chunk_md5"),
    )


def text_strip_html(spark, sf_dir):
    """HTML stripping (operators/text.py:strip_html) over a corpus with
    planted markup: every 3rd doc is wrapped in tags with entity-escaped
    punctuation so tag removal, entity decode (incl. the &amp;-last
    ordering), and whitespace collapse are all genuinely exercised."""
    from hive_scd_spark.operators.text import strip_html

    docs = t(spark, sf_dir, "documents")
    planted = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit('<html><body class="main">\n<p>'),
                F.col("text"),
                F.lit("</p>\n<a href=\"http://x.example\">a &amp; b &lt;tag&gt;</a></body></html>"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    out = strip_html(planted, "doc_id", "text")
    return out.select(
        "doc_id",
        F.md5("stripped_text").alias("stripped_md5"),
        "n_tags",
        "n_chars_raw",
        "n_chars_stripped",
    )


def pipeline_semantic_dedup(spark, sf_dir):
    """CAPSTONE #2 — model-free semantic dedup, two operator families
    composed in one plan: feature-hashing embedding
    (similarity.hash_embed, dim 32) over the planted-dup corpus feeds
    banded hyperplane LSH near-dup pair generation
    (dedup.embedding_near_dup_pairs, ``n_planes='auto'`` sized from the
    corpus count at target bucket 8, 2 bands, θ ≥ 0.95) — text in,
    near-dup pairs out, no external model, no all-pairs join.  The
    oracle replays BOTH approximations: the md5 hashing-trick vectors
    AND the md5 hyperplane buckets, including the COUNT(*)-derived
    plane count."""
    from hive_scd_spark.operators.dedup import embedding_near_dup_pairs
    from hive_scd_spark.operators.similarity import hash_embed

    corpus = _dup_corpus(spark, sf_dir)
    emb = hash_embed(corpus, "doc_id", "text", dim=32).select(
        "doc_id", F.col("vec").cast("array<double>").alias("vec")
    )
    # lazy checkpoint: the embedding feeds bucketize AND both scoring
    # sides — without it the whole embed DAG re-executes per consumer
    # (the same double-pass the MinHash path kills this way)
    emb = emb.localCheckpoint(eager=False)
    # auto plane sizing is NOT optional here: fixed 4 planes measured
    # 46 s at sf0.1 (bucket population ∝ N ⇒ candidates ∝ N²/2^P — the
    # SCALE_NOTES r5 pathology, reproduced).  n_rows is the corpus
    # count (docs + every-5th copies) so sizing doesn't re-execute the
    # embedding pipeline just to count its rows.
    n_rows = corpus.count()
    return embedding_near_dup_pairs(
        emb,
        "doc_id",
        "vec",
        threshold=0.95,
        use_lsh=True,
        n_planes="auto",
        # 2 bands: identical vectors (the dup class this gate targets)
        # collide in EVERY band, so exact-dup recall is band-count-free;
        # extra bands only buy borderline-pair recall at 2x plane cost
        n_bands=2,
        dim=32,
        # target 8 (not the default 32): candidate scoring is the cost
        # at this corpus size — population 8 keeps the pair volume
        # ~N·16 while exact dups (identical vectors) collide in EVERY
        # band regardless of resolution
        target_bucket=8,
        n_rows=n_rows,
    )


def q10_returned_items(spark, sf_dir):
    """TPC-H Q10 shape: revenue lost to returns per customer in one
    quarter — 4-way join (lineitem×orders×customer×broadcast nation),
    filter-first on both fact sides, deterministic top-20."""
    cust = t(spark, sf_dir, "customer")
    nat = t(spark, sf_dir, "nation")
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-04-01")
    )
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        # revenue in integer CENTS (per-row floor, then an exact integer
        # sum) — the skew_salted_order_stats pattern: a double SUM's
        # addition order is engine/partition-dependent and flips the
        # 2-decimal rounding on boundary values
        .agg(
            F.sum(
                F.floor(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                    + 0.5
                ).cast("bigint")
            ).alias("revenue_cents")
        )
        .orderBy(F.desc("revenue_cents"), F.asc("c_custkey"))
        .limit(20)
        .select("c_custkey", "c_name", "n_name", "revenue_cents")
    )


def q14_promo_revenue(spark, sf_dir):
    """TPC-H Q14 shape: promo-type revenue share for one month — the
    conditional-aggregate-over-join pattern; part broadcasts."""
    part = t(spark, sf_dir, "part")
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-03-01")
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
                / F.sum(rev),
                4,
            ).alias("promo_pct")
        )
    )


def q7_nation_volume(spark, sf_dir):
    """TPC-H Q7 shape: shipping volume between supplier and customer
    nations by year — the double-dimension star (nation joined twice
    under different roles, both broadcast)."""
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    supp = t(spark, sf_dir, "supplier")
    nat = t(spark, sf_dir, "nation")
    sn = nat.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cn = nat.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .filter(F.col("supp_nation") < F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(
            F.sum(
                F.floor(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                    + 0.5
                ).cast("bigint")
            ).alias("revenue_cents")
        )
        .select(
            "supp_nation",
            "cust_nation",
            F.col("l_year").cast("long").alias("l_year"),
            "revenue_cents",
        )
    )


def window_range_frame_spend(spark, sf_dir):
    """RANGE-frame window (§2.B window surface, the frame type no other
    gate covers): per customer, rolling 30-day order spend — RANGE
    BETWEEN 30 PRECEDING AND CURRENT ROW over epoch-day ordering.  A
    RANGE frame is peer-inclusive (all rows tied on the order key join
    the frame), so the result is deterministic under date ties with no
    tiebreak column needed — unlike ROWS frames, where ties forced the
    window_running gate's value-tiebreak.  Spend in exact integer
    cents."""
    orders = t(spark, sf_dir, "orders")
    days = F.datediff(F.col("o_orderdate"), F.lit("1995-01-01"))
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")
    w = (
        W.partitionBy("o_custkey")
        .orderBy(days.alias("__d"))
        .rangeBetween(-30, W.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        days.alias("order_day"),
        F.sum(cents).over(w).alias("spend_30d_cents"),
        F.count(F.lit(1)).over(w).alias("orders_30d"),
    )


def q4_order_priority(spark, sf_dir):
    """TPC-H Q4 shape: order-priority checking — a correlated EXISTS
    whose inner predicate references BOTH sides (l_shipdate >
    o_orderdate), so it cannot be pre-filtered into a plain semi join
    key-match; Catalyst rewrites it to a left-semi with a mixed
    condition.  Counts are exact integers.  The reduced schema has no
    l_commitdate/l_receiptdate (TESTDATA.md), so the classic "late
    commit" predicate becomes "shipped after the order quarter opened"
    — same plan shape, same rewrite."""
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1995-07-01") & (F.col("o_orderdate") < "1995-10-01")
    )
    li = t(spark, sf_dir, "lineitem")
    matched = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey) & (li.l_shipdate > orders.o_orderdate),
        "left_semi",
    )
    return (
        matched.groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


def q13_customer_distribution(spark, sf_dir):
    """TPC-H Q13 shape: customer order-count distribution — LEFT OUTER
    join with a filter INSIDE the join condition (the classic outer-join
    trap: pushing o_orderstatus <> 'F' below the join as a WHERE would
    silently drop zero-order customers), then aggregation-of-an-
    aggregation.  Both groupBys are exact integer counts; the second
    one's input is one row per customer — tiny."""
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    per_cust = (
        cust.join(
            orders,
            (cust.c_custkey == orders.o_custkey)
            & (orders.o_orderstatus != F.lit("F")),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


def q17_small_quantity_revenue(spark, sf_dir):
    """TPC-H Q17 shape: small-quantity-order revenue — the correlated
    scalar AVG subquery (avg l_quantity per part), expressed as an
    aggregate-then-rejoin on the fact's own key.  The threshold
    comparison l_quantity < 0.2 * avg(l_quantity) is evaluated in
    EXACT integer arithmetic (5 * qty * cnt < sum — l_quantity is
    integer-valued, so the bigint cross-multiplication dodges the
    engine-dependent double-division boundary that 0.2*sum/cnt would
    hit).  The per-part aggregate is map-side combinable, so the only
    data that moves is one (partkey, sum, cnt) row per part — the fact
    table itself never shuffles: the plan probes it once against the
    broadcast part dim and once against the (broadcast at this SF,
    sort-merge beyond the threshold) aggregate side."""
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23")
    per_part = li.groupBy(F.col("l_partkey").alias("agg_partkey")).agg(
        F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
        F.count("*").alias("cnt_qty"),
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(per_part, li.l_partkey == F.col("agg_partkey"))
        .filter(
            F.col("l_quantity").cast("bigint") * 5 * F.col("cnt_qty")
            < F.col("sum_qty")
        )
        .agg(
            F.sum(
                F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("bigint")
            ).alias("small_qty_revenue_cents")
        )
    )


def q18_large_volume_customers(spark, sf_dir):
    """TPC-H Q18 shape: large-volume customers — an IN subquery over a
    HAVING-filtered aggregate of the same fact table (orderkeys whose
    total quantity exceeds a threshold), then a 3-way join and a
    deterministic top-k.  sum(l_quantity) is exact (integer-valued
    doubles), so the HAVING boundary cannot flip between engines.  The
    qualifying-key set is tiny → Catalyst broadcasts the semi join."""
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("tot_qty"))
        .filter(F.col("tot_qty") > 160)
    )
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            "tot_qty",
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(25)
    )


def q19_disjunctive_pred(spark, sf_dir):
    """TPC-H Q19 shape: discounted revenue under an OR-of-ANDs
    predicate spanning both join sides (brand/size ranges × quantity
    ranges).  The disjunction can only be evaluated ABOVE the join, but
    Catalyst factors the common conjuncts (p_size >= 1, quantity
    bounds) below it and broadcasts the filtered part side — the
    textbook disjunctive-pushdown plan.  Revenue in exact integer
    cents."""
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    qty = F.col("l_quantity")
    arm = lambda brand, smax, qlo, qhi: (  # noqa: E731
        (F.col("p_brand") == brand)
        & (F.col("p_size").between(1, smax))
        & qty.between(qlo, qhi)
    )
    return j.filter(
        arm("Brand#12", 5, 1, 11) | arm("Brand#23", 10, 10, 20) | arm("Brand#34", 15, 20, 30)
    ).agg(
        F.sum(
            F.floor(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + 0.5
            ).cast("bigint")
        ).alias("revenue_cents")
    )


def q22_global_sales_opportunity(spark, sf_dir):
    """TPC-H Q22 shape: customers with above-average balances and no
    orders — a global scalar-AVG subquery feeding a filter, an anti
    join, and a substring-key aggregation.  The average is computed
    over exact integer cents and the comparison cross-multiplied
    (cents * n > sum_cents), so the threshold is engine-exact; the
    1-row aggregate enters the plan as a broadcast nested-loop join of
    a single row (the one place BNLJ is the RIGHT plan).  The reduced
    customer schema has no c_phone, so the country-code grouping
    becomes a mktsegment grouping — same shape.  Every sf0.01 customer
    has SOME order, so "no orders" is scoped to the most recent period
    (>= 2000-01-01) to keep the gate population non-vacuous; the date
    filter lands below the anti join's build side."""
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= "2000-01-01"
    )
    cents = F.floor(F.col("c_acctbal") * 100 + 0.5).cast("bigint")
    pos = cust.filter(F.col("c_acctbal") > 0.0)
    stats = pos.agg(
        F.sum(cents).alias("sum_cents"), F.count("*").alias("n_pos")
    )
    return (
        cust.withColumn("acct_cents", cents)
        .join(F.broadcast(stats))
        .filter(F.col("acct_cents") * F.col("n_pos") > F.col("sum_cents"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("numcust"),
            F.sum("acct_cents").alias("totacctbal_cents"),
        )
        .orderBy("c_mktsegment")
    )


def sql_recursive_calendar(spark, sf_dir):
    """Recursive CTE (§2.B SQL surface — Spark 4 WITH RECURSIVE):
    generate the Q1-1995 calendar recursively and left-join daily order
    counts, zero-filling gap days — the standard gap-filled time-series
    shape.  The recursion is 90 driver-side-free iterations of a
    one-row frontier; DuckDB replays the identical recursion."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("orders_rc")
    return spark.sql(
        """
        WITH RECURSIVE cal(day) AS (
          SELECT DATE '1995-01-01'
          UNION ALL
          SELECT date_add(day, 1) FROM cal WHERE day < DATE '1995-03-31'
        )
        SELECT cal.day AS day, CAST(COALESCE(o.cnt, 0) AS BIGINT) AS n_orders
        FROM cal LEFT JOIN (
          SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*) AS cnt
          FROM orders_rc GROUP BY 1
        ) o ON o.d = cal.day
        """
    )


def corpus_source_report(spark, sf_dir):
    """Per-source corpus report card — the aggregate a data-mixing
    decision is actually made from: document and token counts, unique
    rate (exact-dedup digest), and mean quality score per source, one
    combiner-collapsed groupBy over the quality_stats projection."""
    from hive_scd_spark.operators.text import quality_stats

    docs = t(spark, sf_dir, "documents")
    q = quality_stats(docs, "doc_id", "text").join(
        docs.select("doc_id", "source", "text"), "doc_id"
    )
    digest = F.md5(F.lower(F.trim(F.regexp_replace(F.col("text"), r"\s+", " "))))
    return (
        q.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.count_distinct(digest).cast("long").alias("n_unique"),
            F.round(F.avg("quality_score"), 6).alias("mean_quality"),
            F.round(F.avg("stopword_ratio"), 6).alias("mean_stopword_ratio"),
        )
        .select(
            "source",
            "n_docs",
            "total_tokens",
            "n_unique",
            F.round(F.col("n_unique") / F.col("n_docs"), 6).alias("unique_rate"),
            "mean_quality",
            "mean_stopword_ratio",
        )
    )


def text_hash_embed_ann(spark, sf_dir):
    """Model-free text→vector→ANN composition: feature-hashing
    embedding (operators/similarity.py:hash_embed, dim 32) straight
    into exact cosine top-5 for query docs doc_id < 5 — documents
    reach the embedding operator family without an external encoder,
    and the oracle replays the hashing (md5 bucket + sign parity),
    densification, and ranking exactly."""
    from hive_scd_spark.operators.similarity import cosine_topk, hash_embed

    docs = t(spark, sf_dir, "documents")
    emb = hash_embed(docs, "doc_id", "text", dim=32).select(
        "doc_id", F.col("vec").cast("array<double>").alias("vec")
    )
    return cosine_topk(
        emb, emb.filter(F.col("doc_id") < 5), id_col="doc_id", vec_col="vec", k=5
    )


def text_script_detect(spark, sf_dir):
    """Unicode-script detection (operators/text.py:script_detect) over
    a corpus with planted non-Latin snippets — the coverage layer for
    non-European text that the Latin trigram model labels 'und'."""
    from hive_scd_spark.operators.text import script_detect

    docs = t(spark, sf_dir, "documents")
    m = F.col("doc_id") % 8
    planted = docs.select(
        "doc_id",
        F.when(m == 1, F.lit("привет мир как дела сегодня у вас"))
        .when(m == 2, F.lit("你好世界早上好今天天气很好"))
        .when(m == 3, F.lit("مرحبا بالعالم صباح الخير اليوم"))
        .when(m == 4, F.lit("안녕하세요 세계 좋은 아침입니다"))
        .when(m == 5, F.lit("नमस्ते दुनिया सुप्रभात आज"))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    out = script_detect(planted, "doc_id", "text")
    return out.select("doc_id", "pred_script", "script_frac", "n_letters")


URL_BLOCKLIST = ["spam.example", "ads.example"]


def text_url_domain_filter(spark, sf_dir):
    """URL domain extraction + blocklist screen (operators/text.py:
    url_domain_stats) over planted URLs: a www-prefixed blocked domain,
    a clean domain, a mixed-case blocked domain (normalization must
    catch it), and a no-URL remainder."""
    from hive_scd_spark.operators.text import url_domain_stats

    docs = t(spark, sf_dir, "documents")
    m = F.col("doc_id") % 4
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(m == 0, F.lit(" see https://www.spam.example/path now"))
            .when(m == 1, F.lit(" via http://ok.example.org/a b"))
            .when(m == 2, F.lit(" link https://Ads.Example/x y"))
            .otherwise(F.lit("")),
        ).alias("text"),
    )
    out = url_domain_stats(planted, "doc_id", "text", blocklist=URL_BLOCKLIST)
    return out.select("doc_id", "domains_csv", "n_urls", F.col("blocked").cast("long").alias("blocked"))


def sample_split_assign(spark, sf_dir):
    """Deterministic train/val/test split (operators/sampling.py:
    split_assign): 800/100/100 per-mille by id hash — pure projection,
    layout-independent, integer arithmetic end-to-end."""
    from hive_scd_spark.operators.sampling import split_assign

    docs = t(spark, sf_dir, "documents").select("doc_id", "source")
    return split_assign(docs, "doc_id").select("doc_id", "source", "split")


def sample_temperature_mix(spark, sf_dir):
    """Temperature-scaled source mixing (operators/sampling.py:
    temperature_mix — the XLM/mT5-style n_s^alpha recipe): the 20
    documents sources rebalanced at alpha = 0.5 under a 50k-token
    budget; per-document repeat factors (full epochs + the md5-order
    remainder prefix).  The oracle replays the ladder (IEEE sqrt),
    the sorted-source fold sum, the floor targets, and the window
    prefix — the whole float path is value-checked because every step
    is correctly-rounded-deterministic (see _ALPHA_LADDER)."""
    from hive_scd_spark.operators.sampling import temperature_mix

    docs = t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(
            F.filter(
                F.split(F.trim(F.coalesce(F.col("text"), F.lit(""))), r"\s+"),
                lambda x: x != "",
            )
        )
        .cast("long")
        .alias("n_tokens"),
    )
    out = temperature_mix(
        docs, "doc_id", "source", "n_tokens", budget=50_000, alpha=0.5
    )
    return out.select("doc_id", "source", "n_tokens", "n_repeats")


def sample_shuffle_order(spark, sf_dir):
    """Deterministic distributed global shuffle (operators/sampling.py:
    shuffle_corpus): dense training-order rank by md5(salt:id) via the
    two-phase distributed ranking — reproducible across runs, layouts,
    and engines; no single-partition sort anywhere."""
    from hive_scd_spark.operators.sampling import shuffle_corpus

    docs = t(spark, sf_dir, "documents").select("doc_id", "source")
    out = shuffle_corpus(docs, "doc_id", salt="order1")
    return out.select("doc_id", "shuffle_rank")


def pipeline_mix_shuffle_pack(spark, sf_dir):
    """CAPSTONE (VERDICT r11 task 6): the r11 mixing family composed
    into the order a real training run uses, in ONE lazy plan —
    temperature mixing (operators/sampling.py: temperature_mix,
    n_s^0.5 at a 50k-token budget) → repeat MATERIALIZATION (each
    document's n_repeats explode to distinct repeat instances,
    id '#'-salted so every epoch copy has its own shuffle identity) →
    deterministic global shuffle over the repeat instances
    (shuffle_corpus — two-phase distributed rank, no single-partition
    sort) → sequence packing in shuffle order (operators/pack.py:
    pack_sequences at context 512, the distributed prefix sum).

    The oracle replays the full chain — the IEEE-exact quarter-power
    weights and integer repeat arithmetic (the sample_temperature_mix
    float contract), generate_series repeat expansion, md5-order
    ROW_NUMBER, and the running-sum packing spans — every step is
    engine-exact by construction, so the composition is too.

    Scale: nothing new is paid for composing — the mix is
    source-count-sized metadata plus one bucketed prefix, the explode
    is output-sized, and shuffle+pack are the same two range shuffles
    they cost alone; no stage materializes between them."""
    from hive_scd_spark.operators.pack import pack_sequences
    from hive_scd_spark.operators.sampling import shuffle_corpus, temperature_mix

    docs = t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(
            F.filter(
                F.split(F.trim(F.coalesce(F.col("text"), F.lit(""))), r"\s+"),
                lambda x: x != "",
            )
        )
        .cast("long")
        .alias("n_tokens"),
    )
    mixed = temperature_mix(
        docs, "doc_id", "source", "n_tokens", budget=50_000, alpha=0.5
    )
    # sequence(1, 0) DESCENDS in Spark — filter the zero-repeat docs
    # before building the repeat range
    reps = mixed.filter(F.col("n_repeats") > 0).select(
        "doc_id",
        "n_tokens",
        F.explode(F.sequence(F.lit(1).cast("long"), F.col("n_repeats"))).alias(
            "rep"
        ),
    )
    reps = reps.withColumn(
        "rep_id",
        F.concat(
            F.col("doc_id").cast("string"), F.lit("#"), F.col("rep").cast("string")
        ),
    )
    shuffled = shuffle_corpus(reps, "rep_id", salt="mixshuf")
    packed = pack_sequences(
        shuffled,
        "shuffle_rank",
        "n_tokens",
        512,
        keep_cols=("doc_id", "rep"),
    )
    return packed.select(
        "doc_id", "rep", "shuffle_rank", "seq_id", "slice_start", "slice_len"
    )


def sample_split_by_cluster(spark, sf_dir):
    """Leakage-safe split (operators/sampling.py: split_by_cluster):
    every member of a MinHash near-dup cluster receives the SAME split,
    keyed on the cluster's min doc_id; singletons key on themselves.
    The oracle replays the full chain — minhash pairs → recursive-CTE
    connected components → left join → the same per-mille md5 rule —
    so both the component structure AND the leak-safety property
    (cluster members share an assignment) are value-checked."""
    from hive_scd_spark.operators.sampling import split_by_cluster

    docs = t(spark, sf_dir, "documents").select("doc_id")
    out = split_by_cluster(docs, shared_minhash_pairs(spark, sf_dir))
    return out.select("doc_id", "split_key", "split")


def dedup_url_canonical(spark, sf_dir):
    """URL-exact dedup (operators/text.py: url_canonical_dedup) over a
    planted crawl-URL fixture derived from doc_id: six surface variants
    of the same logical page — plain, UPPERCASED scheme+host, explicit
    default port, www. + trailing slash, tracking params + reordered
    query, fragment — of which the first four share one canonical form
    and the last two another.  The oracle does NOT replay the
    canonicalizer: it derives the expected canonical form analytically
    from the plant structure (the remove_boilerplate idiom), so the
    engine's normalization chain is checked against independent ground
    truth, keeper selection and dup flags included."""
    from hive_scd_spark.operators.text import url_canonical_dedup

    docs = t(spark, sf_dir, "documents").select("doc_id")
    h = (F.col("doc_id") % 97).cast("string")
    p = (F.col("doc_id") % 37).cast("string")
    v = F.col("doc_id") % 6
    url = (
        F.when(v == 0, F.concat(F.lit("https://example"), h, F.lit(".com/docs/"), p))
        .when(v == 1, F.concat(F.lit("HTTPS://EXAMPLE"), h, F.lit(".COM/docs/"), p))
        .when(
            v == 2,
            F.concat(F.lit("https://example"), h, F.lit(".com:443/docs/"), p),
        )
        .when(
            v == 3,
            F.concat(
                F.lit("https://www.example"), h, F.lit(".com/docs/"), p, F.lit("/")
            ),
        )
        .when(
            v == 4,
            F.concat(
                F.lit("https://example"),
                h,
                F.lit(".com/docs/"),
                p,
                F.lit("?utm_source=feed&b=2&a=1"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("https://example"),
                h,
                F.lit(".com/docs/"),
                p,
                F.lit("?a=1&b=2#frag"),
            )
        )
    )
    fixture = docs.select("doc_id", url.alias("url"))
    out = url_canonical_dedup(fixture, "doc_id", "url")
    return out.select("doc_id", "url_canon", "keeper", "is_dup")


def text_bigram_logprob(spark, sf_dir):
    """Bigram LM scoring with a separately-trained model
    (operators/quality.py: bigram_logprob — the CCNet shape: train on
    trusted text, score the crawl): src0+src1 are the trusted corpus,
    the other 18 sources are scored against its clipped-vocab (V=30)
    add-one bigram model.  The conditional model is what a unigram
    score cannot be: word-salad with ordinary unigrams scores low, and
    ``n_unseen`` counts transitions absent from training.  The oracle
    replays vocab cut, unk clipping, train bigram/context counts, and
    every ln term."""
    from hive_scd_spark.operators.quality import bigram_logprob

    docs = t(spark, sf_dir, "documents")
    is_tr = F.col("source").isin("src0", "src1")
    out = bigram_logprob(
        docs.filter(~is_tr), "doc_id", "text", vocab_size=30,
        train=docs.filter(is_tr),
    )
    return out.select("doc_id", "n_bigrams", "n_unseen", "avg_bigram_logprob")


def text_kn_trigram_logprob(spark, sf_dir):
    """Interpolated Kneser-Ney trigram scoring (operators/quality.py:
    kn_trigram_logprob) — the KenLM-class model CCNet actually filters
    with, in the same train-on-trusted/score-the-crawl shape as the
    bigram gate: src0+src1 train a V=30 clipped-vocab KN model, the
    other 18 sources are scored under it.  Scored documents carry
    trigrams the trusted corpus never saw, so all three backoff levels
    (trigram → continuation-bigram → continuation-unigram + uniform
    floor) execute and are value-checked — the oracle replays the
    vocabulary cut, every count table (c3/c2ctx/n3, cc2/ctx2/n2,
    cc1/T/U), and each ln term with a token-identical expression
    tree."""
    from hive_scd_spark.operators.quality import kn_trigram_logprob

    docs = t(spark, sf_dir, "documents")
    is_tr = F.col("source").isin("src0", "src1")
    out = kn_trigram_logprob(
        docs.filter(~is_tr), "doc_id", "text", vocab_size=30,
        train=docs.filter(is_tr),
    )
    return out.select("doc_id", "n_trigrams", "n_unseen", "avg_kn_logprob")


def sample_embedding_diverse(spark, sf_dir):
    """Diversity (cluster-balanced) sampling: LSH buckets as cheap
    semantic clusters (similarity.py: lsh_bucketize, 8 md5-derived
    hyperplanes), then a deterministic md5-rank cap of 8 vectors per
    bucket (sampling.py: cap_per_group) — the standard "one dense
    region must not dominate the sample" selection for embedding-space
    coverage.  The oracle replays hyperplanes, bucket assignment, and
    the md5 rank, so the diversity mechanism itself is value-checked.
    Scale: one projection for buckets + one group-shuffle for the cap.
    The gate pins n_planes=8 (2^8 buckets — right for the fixture
    corpus and the static oracle); a production caller sizes planes
    with the corpus (dedup.auto_n_planes: ceil(log2(n/target_bucket)),
    the r6 fixed-parameter lesson) so per-bucket sort stays bounded at
    any n."""
    from hive_scd_spark.operators.sampling import cap_per_group
    from hive_scd_spark.operators.similarity import lsh_bucketize

    emb = t(spark, sf_dir, "embeddings")
    buckets = lsh_bucketize(emb, "vec_id", "embedding", n_planes=8)
    out = cap_per_group(buckets, "bucket", "vec_id", n=8, rank_col="rk")
    return out.select("vec_id", "bucket", "rk")


def report_domain_census(spark, sf_dir):
    """Per-domain crawl curation report — the aggregate a curation team
    reads before allow/block decisions: over the planted URL fixture
    (three surface variants per page, all canonicalizing to one form),
    each canonical domain reports document count, unique-page count
    (distinct canonical URLs), the duplicate fraction, total tokens,
    and how many documents the opt-out rules disallow.  Composes
    canonicalize_url + url_optout_filter + the shared tokenizer in one
    plan; the oracle derives every aggregate from doc_id arithmetic.
    Scale: row-local URL work, one token projection, one domain-keyed
    combiner-collapsed groupBy."""
    from hive_scd_spark.functions import ws_tokens
    from hive_scd_spark.operators.text import url_optout_filter

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    h = (F.col("doc_id") % 97).cast("string")
    p = (F.col("doc_id") % 37).cast("string")
    v = F.col("doc_id") % 3
    url = (
        F.when(
            v == 0,
            F.concat(F.lit("https://example"), h, F.lit(".com/docs/"), p),
        )
        .when(
            v == 1,
            F.concat(F.lit("HTTPS://WWW.EXAMPLE"), h, F.lit(".COM/docs/"), p),
        )
        .otherwise(
            F.concat(
                F.lit("https://example"),
                h,
                F.lit(".com/docs/"),
                p,
                F.lit("?utm_source=feed"),
            )
        )
    )
    fixture = docs.select("doc_id", "text", url.alias("url"))
    rules = spark.createDataFrame(
        [("EXAMPLE7.com", ""), ("example13.com", "/docs/1")],
        "domain string, path_prefix string",
    )
    screened = url_optout_filter(fixture, "doc_id", "url", rules)
    toks = F.filter(
        ws_tokens(F.coalesce(F.col("text"), F.lit(""))), lambda x: x != ""
    )
    per_doc = screened.select(
        "domain",
        "url_canon",
        F.size(toks).cast("long").alias("__nt"),
        F.col("disallowed"),
    )
    return per_doc.groupBy("domain").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.countDistinct("url_canon").cast("long").alias("n_pages"),
        F.round(
            F.lit(1.0)
            - F.countDistinct("url_canon").cast("double") / F.count("*"),
            6,
        ).alias("dup_frac"),
        F.sum("__nt").cast("long").alias("n_tokens"),
        F.sum("disallowed").cast("long").alias("n_disallowed"),
    )


def text_dedupe_lines_in_doc(spark, sf_dir):
    """Intra-document repeated-line removal (operators/quality.py:
    dedupe_lines_in_doc) over a planted fixture: each document carries
    a nav header repeated verbatim AND as a case/whitespace variant, a
    repeated per-doc item line, a blank separator, and unique body
    lines — first occurrences kept verbatim, blanks never deduped.
    The oracle replays the first-occurrence rule with DuckDB's
    1-based list_position over the same normalized lines."""
    from hive_scd_spark.operators.quality import dedupe_lines_in_doc

    docs = t(spark, sf_dir, "documents").select("doc_id")
    i5 = (F.col("doc_id") % 5).cast("string")
    text = F.concat(
        F.lit("Nav Home\nitem "),
        i5,
        F.lit("\nNav Home\n\nbody of doc "),
        F.col("doc_id").cast("string"),
        F.lit("\n  NAV HOME \nitem "),
        i5,
        F.lit("\ntail"),
    )
    fixture = docs.select("doc_id", text.alias("text"))
    out = dedupe_lines_in_doc(fixture, "doc_id", "text")
    return out.select("doc_id", "text", "n_lines_kept", "n_lines_removed")


def select_quality_floor(spark, sf_dir):
    """Per-source quality floor (operators/sampling.py:
    quality_floor_per_group chained on quality.unigram_logprob): score
    every document with the corpus-derived unigram LM, then keep the
    top 60 % of EACH source by (avg_logprob desc, doc_id) rank — the
    curation step that enforces a quality bar without letting one
    high-scoring source crowd out the mixture.  Rank-based selection
    (ceil via per-mille int arithmetic) is engine-exact where a
    quantile threshold would be float-boundary fragile; the oracle
    replays the full chain: vocab cut, ln scoring, per-source
    row_number and count, the same ceil."""
    from hive_scd_spark.operators.quality import unigram_logprob
    from hive_scd_spark.operators.sampling import quality_floor_per_group

    docs = t(spark, sf_dir, "documents")
    scored = unigram_logprob(docs, "doc_id", "text", vocab_size=30).join(
        docs.select("doc_id", "source"), "doc_id"
    )
    out = quality_floor_per_group(
        scored, "source", "doc_id", "avg_logprob", keep_permille=600
    )
    return out.select("doc_id", "source", "avg_logprob", "q_rank", "n_group")


def text_url_optout_screen(spark, sf_dir):
    """Robots/opt-out URL screen (operators/text.py: url_optout_filter)
    over a planted crawl-URL fixture (three surface variants per page —
    plain, shouting www., tracking-tagged — all canonicalizing to one
    form): a deliberately UN-normalized rules table ('EXAMPLE7.com'
    whole-domain; 'example13.com' under /docs/1) marks covered docs.
    The oracle derives host, path, and coverage analytically from the
    plant structure — rule-domain normalization, the empty-prefix
    whole-domain rule, and the prefix semantics ('/docs/1' covers
    /docs/1 and /docs/10..19, never /docs/21) are all value-checked
    against independent ground truth."""
    from hive_scd_spark.operators.text import url_optout_filter

    docs = t(spark, sf_dir, "documents").select("doc_id")
    h = (F.col("doc_id") % 97).cast("string")
    p = (F.col("doc_id") % 37).cast("string")
    v = F.col("doc_id") % 3
    url = (
        F.when(
            v == 0,
            F.concat(F.lit("https://example"), h, F.lit(".com/docs/"), p),
        )
        .when(
            v == 1,
            F.concat(F.lit("HTTPS://WWW.EXAMPLE"), h, F.lit(".COM/docs/"), p),
        )
        .otherwise(
            F.concat(
                F.lit("https://example"),
                h,
                F.lit(".com/docs/"),
                p,
                F.lit("?utm_source=feed"),
            )
        )
    )
    fixture = docs.select("doc_id", url.alias("url"))
    rules = spark.createDataFrame(
        [("EXAMPLE7.com", ""), ("example13.com", "/docs/1")],
        "domain string, path_prefix string",
    )
    out = url_optout_filter(fixture, "doc_id", "url", rules)
    return out.select("doc_id", "domain", "disallowed")


def _warc_fixture(spark, sf_dir) -> str:
    """Shared WARC fixture for the crawl-source gates: every document
    wrapped in an HTTP-200 WARC response record — three uncompressed
    files (read back as 8 KiB byte-range splits, exercising the
    chain-validated realignment on every boundary) plus one
    per-record-gzip member file (the CommonCrawl layout).  The target
    URI and record id derive from doc_id arithmetic so oracles can
    reconstruct them analytically.  Written once per (data
    fingerprint, sf) under /tmp; the build branch STREAMS rows through
    ``toLocalIterator`` (VERDICT r9 task 4 — never a full-table
    collect), so fixture construction holds one partition of documents
    in driver memory at a time whatever the sf."""
    import hashlib
    import os
    import tempfile

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    tag = hashlib.md5(
        ("warc_gate_v2" + _data_fingerprint(sf_dir, "documents")).encode()
    ).hexdigest()[:8]
    base = os.path.join(
        tempfile.gettempdir(), f"warc_scan_{os.path.basename(sf_dir)}_{tag}"
    )
    write_warc_fixture(docs, base)
    return base


def write_warc_fixture(docs, base: str) -> None:
    """Write the _warc_fixture layout (3 plain lanes + 1 per-record-
    gzip lane, doc_id % 4 routing) for any (doc_id, text) frame —
    shared with the scale scripts.  Idempotent via a marker file."""
    import os

    from hive_scd_spark.sources.warc import write_warc_records

    marker = os.path.join(base, "_built")
    if os.path.exists(marker):
        return
    os.makedirs(base, exist_ok=True)

    def rec(r):
        return {
            "record_id": f"<urn:doc:{r.doc_id}>",
            "warc_type": "response",
            "target_uri": (
                f"https://example{r.doc_id % 97}.com/docs/{r.doc_id % 37}"
            ),
            "warc_date": "2024-01-01T00:00:00Z",
            "content_type": "application/http; msgtype=response",
            "payload": b"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\n"
            + (r.text or "").encode("utf-8"),
        }

    # stream in doc_id order (a sorted frame's partitions are
    # range-ordered, so toLocalIterator yields global order) and
    # append record-by-record; per-record gzip members concatenate
    # to exactly the one-shot bytes
    handles = [
        open(os.path.join(base, f"part{i}.warc"), "wb") for i in range(3)
    ] + [open(os.path.join(base, "part3.warc.gz"), "wb")]
    try:
        for r in docs.orderBy("doc_id").toLocalIterator():
            lane = r.doc_id % 4
            handles[lane].write(
                write_warc_records([rec(r)], compress=lane == 3)
            )
    finally:
        for h in handles:
            h.close()
    with open(marker, "w") as f:
        f.write("ok")


def source_warc_scan(spark, sf_dir):
    """WARC crawl-archive scan (sources/warc.py: read_warc — the
    pipeline's actual first mile; CommonCrawl ships ~100 TB crawls as
    WARC) over the shared fixture (see _warc_fixture: 3 split-read
    plain files + 1 per-record-gzip file).  The oracle does NOT replay
    the parser: every output column (id from the record id, status,
    BYTE length of the HTTP body, the target URI) derives analytically
    from the documents table, so framing, split exactly-once-ness,
    HTTP envelope split, and utf-8 payload length are all checked
    against independent ground truth.  The scan itself is the
    session-shared one (shared_warc_records — materialized once,
    fanned out to this gate and both crawl capstones)."""
    return _warc_scan_from(shared_warc_records(spark, sf_dir))


def _warc_scan_over(spark, warc_dir: str, split_bytes: int = 8192):
    """The source_warc_scan plan over any _warc_fixture-layout
    directory (shared with scripts/scale.py).
    The 8 KiB default exercises realignment on every boundary of the
    tiny gate fixtures; the scale harness passes a production-like size
    (task count still grows linearly with data, but payload — not
    per-task scheduling — is what each task spends its time on)."""
    from hive_scd_spark.sources.warc import read_warc

    return _warc_scan_from(read_warc(spark, warc_dir, split_bytes=split_bytes))


def _warc_scan_from(out):
    return out.select(
        F.regexp_extract("record_id", r"<urn:doc:(\d+)>", 1)
        .cast("long")
        .alias("doc_id"),
        F.col("http_status"),
        F.length("payload").cast("long").alias("payload_bytes"),
        "target_uri",
    )


def _warc_monolith_fixture(spark, sf_dir) -> str:
    """ONE whole-file-gzip archive of every document — the crawl
    layout byte-range splits cannot reach (single gzip member, no
    interior boundaries).  Streamed driver build (toLocalIterator
    through one GzipFile, mtime=0), marker-idempotent per (data
    fingerprint, sf) under /tmp — the _warc_fixture conventions."""
    import hashlib
    import os
    import tempfile

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    tag = hashlib.md5(
        ("warc_mono_v1" + _data_fingerprint(sf_dir, "documents")).encode()
    ).hexdigest()[:8]
    base = os.path.join(
        tempfile.gettempdir(), f"warc_mono_{os.path.basename(sf_dir)}_{tag}"
    )
    write_warc_monolith(docs, base)
    return base


def _warc_monolith_multi_fixture(spark, sf_dir, n_archives: int = 4) -> str:
    """*n_archives* whole-file-gzip archives of the documents table
    (docs routed by doc_id % n) — the multi-archive crawl-drop shape
    the reshard pre-pass parallelizes across (VERDICT r11 task 3).
    Same conventions as _warc_monolith_fixture."""
    import hashlib
    import os
    import tempfile

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    tag = hashlib.md5(
        (f"warc_monomulti_v1_{n_archives}" + _data_fingerprint(sf_dir, "documents")).encode()
    ).hexdigest()[:8]
    base = os.path.join(
        tempfile.gettempdir(),
        f"warc_monomulti_{os.path.basename(sf_dir)}_{tag}",
    )
    write_warc_monolith(docs, base, n_archives=n_archives)
    return base


def write_warc_monolith(docs, base: str, n_archives: int = 1) -> None:
    """Write docs as *n_archives* whole-file-gzip archives (single
    member each, mtime=0) under *base* — the _warc_monolith_fixture
    layout for any (doc_id, text) frame; shared with the scale
    scripts.  ``n_archives=1`` keeps the original single
    ``archive.warc.gz`` name; more archives route docs by
    ``doc_id % n`` into ``archive-<i>.warc.gz`` (constant per-archive
    size as the corpus grows — the real crawl-drop shape, and what the
    reshard pre-pass parallelizes ACROSS).  Streamed toLocalIterator
    build, marker-idempotent (the write_warc_fixture conventions)."""
    import gzip as _gzip
    import os

    from hive_scd_spark.sources.warc import write_warc_records

    marker = os.path.join(base, "_built")
    if os.path.exists(marker):
        return
    os.makedirs(base, exist_ok=True)
    if n_archives > 1:
        gzs = [
            _gzip.GzipFile(
                os.path.join(base, f"archive-{i:03d}.warc.gz"), "wb", mtime=0
            )
            for i in range(n_archives)
        ]
        try:
            for r in docs.orderBy("doc_id").toLocalIterator():
                gzs[r.doc_id % n_archives].write(
                    write_warc_records([_monolith_record(r)])
                )
        finally:
            for gz in gzs:
                gz.close()
        with open(marker, "w") as f:
            f.write("ok")
        return
    with _gzip.GzipFile(
        os.path.join(base, "archive.warc.gz"), "wb", mtime=0
    ) as gz:
        for r in docs.orderBy("doc_id").toLocalIterator():
            gz.write(write_warc_records([_monolith_record(r)]))
    with open(marker, "w") as f:
        f.write("ok")


def _monolith_record(r) -> dict:
    """One fixture WARC record for a (doc_id, text) row — the analytic
    id/URI arithmetic every WARC oracle derives from."""
    return {
        "record_id": f"<urn:doc:{r.doc_id}>",
        "warc_type": "response",
        "target_uri": (
            f"https://example{r.doc_id % 97}.com/docs/{r.doc_id % 37}"
        ),
        "warc_date": "2024-01-01T00:00:00Z",
        "content_type": "application/http; msgtype=response",
        "payload": (
            b"HTTP/1.1 200 OK\r\n"
            b"Content-Type: text/plain\r\n\r\n" + (r.text or "").encode("utf-8")
        ),
    }


def source_warc_reshard(spark, sf_dir):
    """The decompress-and-reshard pre-pass (sources/warc.py:
    reshard_warc_gz) closing the module's documented serial residual:
    FOUR whole-file-gzip archives (one member each, unsplittable —
    the _warc_monolith_multi_fixture; >1 archive so the pre-pass's
    across-archive parallel path is what the gate exercises, VERDICT
    r11 task 3) are streamed once into per-record-gzip members, then
    read back BYTE-RANGE SPLIT at 8 KiB.  The oracle is the
    source_warc_scan analytic: id/status/body-byte-length/URI all
    derive from the documents table, so the reshard's byte fidelity,
    the member framing, split exactly-once-ness, AND the union across
    archives are checked against independent ground truth.  The
    reshard itself runs once per fixture (marker-idempotent,
    manifest-collect bounded by the archive COUNT — four here, never
    rows)."""
    import os

    from hive_scd_spark.sources.warc import read_warc, reshard_warc_gz

    base = _warc_monolith_multi_fixture(spark, sf_dir, n_archives=4)
    dst = os.path.join(base, "resharded")
    marker = os.path.join(dst, "_resharded")
    if not os.path.exists(marker):
        # explicit archive list, not the base dir: dst lives under
        # base, and a crashed earlier run's partial output must never
        # be walked up as INPUT
        srcs = [
            os.path.join(base, f"archive-{i:03d}.warc.gz") for i in range(4)
        ]
        manifest = reshard_warc_gz(spark, srcs, dst).collect()
        assert len(manifest) == 4, manifest
        assert all(m.n_records > 0 for m in manifest), manifest
        assert len({m.dst for m in manifest}) == 4, manifest
        with open(marker, "w") as f:
            f.write("ok")
    out = read_warc(spark, dst, split_bytes=8192)
    return out.select(
        F.regexp_extract("record_id", r"<urn:doc:(\d+)>", 1)
        .cast("long")
        .alias("doc_id"),
        F.col("http_status"),
        F.length("payload").cast("long").alias("payload_bytes"),
        "target_uri",
    )


def pipeline_crawl_to_corpus(spark, sf_dir):
    """CAPSTONE: the crawl first mile in ONE lazy plan — WARC scan
    (chain-validated byte-range splits + per-record-gzip members, the
    shared _warc_fixture) → HTTP body to text → URL-exact dedup on the
    canonical target URI (min-id keeper; the fixture's id arithmetic
    makes distinct documents genuinely collide on URL) → robots/
    opt-out screen (whole-domain + path-prefix rules) → token counts +
    deterministic train/val/test split for the survivors.  Four
    operator families, one plan, no intermediate materialization.  The
    oracle replays the whole chain ANALYTICALLY from the documents
    table (canonical form, keeper choice, rule coverage, token count,
    split hash) — none of the engine code is replayed.  The WARC scan
    is the session-shared one (shared_warc_records)."""
    return _crawl_to_corpus_from(spark, shared_warc_records(spark, sf_dir))


def _crawl_to_corpus_over(spark, warc_dir: str, split_bytes: int = 8192):
    """The pipeline_crawl_to_corpus plan over any _warc_fixture-layout
    directory (shared with scripts/scale.py; see
    _warc_scan_over for the split-size convention)."""
    from hive_scd_spark.sources.warc import read_warc

    return _crawl_to_corpus_from(
        spark, read_warc(spark, warc_dir, split_bytes=split_bytes)
    )


def _crawl_to_corpus_from(spark, warc):
    from hive_scd_spark.functions import ws_tokens
    from hive_scd_spark.operators.sampling import split_assign
    from hive_scd_spark.operators.text import (
        url_canonical_dedup,
        url_optout_filter,
    )

    parsed = warc.select(
        F.regexp_extract("record_id", r"<urn:doc:(\d+)>", 1)
        .cast("long")
        .alias("doc_id"),
        F.col("payload").cast("string").alias("text"),
        F.col("target_uri").alias("url"),
    )
    kept = (
        url_canonical_dedup(parsed, "doc_id", "url")
        .filter(F.col("is_dup") == 0)
        .select("doc_id", "text", "url")  # drop url_canon: the optout
        # screen re-derives it (name would collide otherwise)
    )
    rules = spark.createDataFrame(
        [("EXAMPLE7.com", ""), ("example13.com", "/docs/1")],
        "domain string, path_prefix string",
    )
    screened = url_optout_filter(kept, "doc_id", "url", rules).filter(
        F.col("disallowed") == 0
    )
    toks = F.filter(
        ws_tokens(F.coalesce(F.col("text"), F.lit(""))), lambda x: x != ""
    )
    out = split_assign(
        screened.select(
            "doc_id", "url_canon", F.size(toks).cast("long").alias("n_tokens")
        ),
        "doc_id",
    )
    return out.select("doc_id", "url_canon", "n_tokens", "split")


def pipeline_crawl_to_corpus_v2(spark, sf_dir):
    """CAPSTONE v2 (VERDICT r10 task 3): the r10 cleaner families
    chained onto the crawl first mile in ONE lazy plan — WARC scan
    (chain-validated byte-range splits + per-record-gzip members, the
    shared _warc_fixture) → C4 line/page rules (operators/text.py:
    clean_c4_lines) → CROSS-document paragraph dedup (operators/
    dedup.py: dedup_paragraphs, the CCNet first pass) → robots.txt
    parse + opt-out screen from RAW robots bytes (operators/text.py:
    parse_robots → url_optout_filter).  Four operator families, one
    plan, no intermediate materialization.

    The page structure is PLANTED lazily on top of the scanned payload
    (a promo sentence shared by the doc_id%7 class — the cross-doc
    dedup target; a body sentence carrying the PAYLOAD's character
    count — so the WARC byte path stays load-bearing; a C4-failing
    short line; every 13th page poisoned with 'lorem ipsum' — the C4
    page kill), so the oracle replays the whole chain ANALYTICALLY
    from the documents table: C4 survivorship, the per-class paragraph
    winner, reassembled-text md5, and single-digit-prefix robots
    coverage all derive from doc_id arithmetic + payload length —
    none of the engine code is replayed.  The WARC scan is the
    session-shared one (shared_warc_records)."""
    return _crawl_to_corpus_v2_from(spark, shared_warc_records(spark, sf_dir))


def _crawl_to_corpus_v2_over(spark, warc_dir: str, split_bytes: int = 8192):
    """The pipeline_crawl_to_corpus_v2 plan over any _warc_fixture-
    layout directory (shared with scripts/scale.py; see
    _warc_scan_over for the split-size convention)."""
    from hive_scd_spark.sources.warc import read_warc

    return _crawl_to_corpus_v2_from(
        spark, read_warc(spark, warc_dir, split_bytes=split_bytes)
    )


def _crawl_to_corpus_v2_from(spark, warc):
    from hive_scd_spark.operators.dedup import dedup_paragraphs
    from hive_scd_spark.operators.text import (
        clean_c4_lines,
        parse_robots,
        url_optout_filter,
    )

    parsed = warc.select(
        F.regexp_extract("record_id", r"<urn:doc:(\d+)>", 1)
        .cast("long")
        .alias("doc_id"),
        F.col("payload").cast("string").alias("raw"),
        F.col("target_uri").alias("url"),
    )
    k = (F.col("doc_id") % 7).cast("string")
    d = F.col("doc_id").cast("string")
    n = F.length(F.coalesce(F.col("raw"), F.lit(""))).cast("string")
    page = F.concat(
        F.lit("Shared promo sentence for class "), k, F.lit(".\n"),
        F.lit("Document "), d, F.lit(" carries "), n,
        F.lit(" payload characters.\n"),
        F.lit("short\n"),
        F.lit("Unique closing sentence for document "), d, F.lit("."),
    )
    page = F.when(
        F.col("doc_id") % 13 == 0,
        F.concat(page, F.lit("\nMore text lorem ipsum appears here today.")),
    ).otherwise(page)
    planted = parsed.select("doc_id", page.alias("text"), "url")
    # keep_cols threads the URL THROUGH both cleaning stages (r11):
    # document metadata rides the stages' existing plans instead of a
    # corpus-sized re-join against a second WARC decode
    cleaned = clean_c4_lines(
        planted, "doc_id", "text", keep_cols=("url",)
    )
    alive = cleaned.filter(F.col("kept") == 1).select("doc_id", "text", "url")
    # line-granular cross-doc dedup: C4 output joins kept lines with
    # '\n', so paragraphs == lines here (the CCNet convention)
    deduped = dedup_paragraphs(
        alive, "doc_id", "text", sep="\n", keep_cols=("url",)
    )
    robots = spark.range(97).select(
        F.concat(F.lit("example"), F.col("id").cast("string"), F.lit(".com"))
        .alias("domain"),
        F.concat(
            F.lit("User-agent: *\nDisallow: /docs/"),
            (F.col("id") % 5).cast("string"),
            F.lit("\n"),
        ).alias("payload"),
    )
    rules = parse_robots(robots, "domain", "payload")
    out = url_optout_filter(deduped, "doc_id", "url", rules)
    return out.select(
        "doc_id",
        "domain",
        "disallowed",
        "n_paras_kept",
        "n_paras_removed",
        F.md5("text").alias("clean_md5"),
    )


def select_dsir_weights(spark, sf_dir):
    """DSIR importance weighting (operators/selection.py:
    dsir_importance_weights, Xie et al. 2023): src0+src1 documents
    play the target corpus, the other 18 sources the raw pool; every
    raw document scores its hashed-unigram+bigram log likelihood ratio
    against add-one-smoothed bucket models (B=512).  The oracle
    replays the full chain — shared tokenizer, bigram construction,
    md5 bucket hashing, both smoothed models, the per-doc ln-ratio
    sum — so the feature space AND the model arithmetic are
    value-checked (round-6 float contract, the unigram_logprob
    precedent)."""
    from hive_scd_spark.operators.selection import dsir_importance_weights

    docs = t(spark, sf_dir, "documents")
    is_tgt = F.col("source").isin("src0", "src1")
    out = dsir_importance_weights(
        docs.filter(~is_tgt), docs.filter(is_tgt), "doc_id", "text",
        n_buckets=512,
    )
    return out.select("doc_id", "n_feats", "dsir_logw")


def select_dsir_gumbel_topk(spark, sf_dir):
    """Gumbel-top-k importance resampling (operators/selection.py:
    dsir_gumbel_topk): 60 documents sampled without replacement
    proportional to softmax(dsir_logw), via md5-derived Gumbel noise —
    the selection step of the DSIR pipeline, a pure function of
    (salt, doc_id).  The oracle replays weights + noise + the
    (key desc, id) top-k, so the sampler's distributional mechanism is
    value-checked end to end."""
    from hive_scd_spark.operators.selection import (
        dsir_gumbel_topk,
        dsir_importance_weights,
    )

    docs = t(spark, sf_dir, "documents")
    is_tgt = F.col("source").isin("src0", "src1")
    w = dsir_importance_weights(
        docs.filter(~is_tgt), docs.filter(is_tgt), "doc_id", "text",
        n_buckets=512,
    )
    out = dsir_gumbel_topk(w, "doc_id", k=60)
    return out.select("doc_id", "dsir_logw", "gumbel_key")


def text_remove_boilerplate(spark, sf_dir):
    """C4-style boilerplate removal (operators/quality.py:
    remove_boilerplate_lines) over a corpus with planted boilerplate: a
    footer line on every 3rd doc and a header line on every 7th (both
    cross the min_docs=3 census threshold and must strip), plus a
    footer shared by exactly TWO docs (under threshold — must stay)."""
    from hive_scd_spark.operators.quality import remove_boilerplate_lines

    docs = t(spark, sf_dir, "documents")
    base = F.col("text")
    f1 = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(base, F.lit("\nvisit our website for more")),
    ).otherwise(base)
    f2 = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(F.lit("subscribe to the newsletter\n"), f1),
    ).otherwise(f1)
    f3 = F.when(
        F.col("doc_id").isin(1, 2), F.concat(f2, F.lit("\nrarely shared footer"))
    ).otherwise(f2)
    planted = docs.select("doc_id", f3.alias("text"))
    out = remove_boilerplate_lines(planted, "doc_id", "text", min_docs=3)
    return out.select(
        "doc_id",
        F.md5("text").alias("clean_md5"),
        "n_lines_kept",
        "n_lines_removed",
    )


def embedding_quantize_int8(spark, sf_dir):
    """Symmetric int8 scalar quantization (operators/similarity.py:
    quantize_embeddings) over the embeddings table; codes are emitted
    CSV-joined so the value hash is representation-independent."""
    from hive_scd_spark.operators.similarity import quantize_embeddings

    emb = t(spark, sf_dir, "embeddings")
    out = quantize_embeddings(emb, "vec_id", "embedding")
    return out.select(
        "vec_id",
        "scale",
        F.concat_ws(",", F.col("q").cast("array<string>")).alias("q_csv"),
    )


# -- oracle SQL for the extensions ------------------------------------------

_SHINGLE_CTE = """
sh AS (SELECT DISTINCT doc_id, substr(text, i, 8) AS s
       FROM documents,
            LATERAL (SELECT unnest(generate_series(1, GREATEST(len(text)-7, 1))) AS i) t),
sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1)
"""


def _minhash_oracle(pair_filter: str = "") -> str:
    """DuckDB replica of the MinHash+LSH pipeline.  *pair_filter*: extra
    AND-condition on candidate pairs (a = lower id side, b = higher) —
    the incremental gate restricts to pairs touching the new batch."""
    from hive_scd_spark.functions import minhash_perms

    values = ",".join(
        f"({j},{a},{b})" for j, (a, b) in enumerate(minhash_perms(32, 42))
    )
    flt = f" AND ({pair_filter})" if pair_filter else ""
    return f"""
        WITH {_SHINGLE_CTE},
        h AS (SELECT doc_id, ('0x'||substr(md5(s),1,8))::BIGINT % 2147483647 AS hv FROM sh),
        perms(j, a, b) AS (SELECT * FROM (VALUES {values})),
        sigs AS (SELECT doc_id, j, MIN((a*hv+b) % 2147483647) AS sig FROM h, perms GROUP BY 1,2),
        bands AS (SELECT doc_id, j//4 AS band, string_agg(sig::VARCHAR, ',' ORDER BY j) AS key
                  FROM sigs GROUP BY 1,2),
        cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                 FROM bands a JOIN bands b ON a.band=b.band AND a.key=b.key
                                          AND a.doc_id < b.doc_id{flt}),
        shared AS (SELECT c.id_a, c.id_b, count(*) AS cnt
                   FROM cand c JOIN sh x ON x.doc_id = c.id_a
                               JOIN sh y ON y.doc_id = c.id_b AND x.s = y.s
                   GROUP BY 1,2)
        SELECT s.id_a, s.id_b,
               ROUND(cnt*1.0/(sa.n+sb.n-cnt), 6) AS jaccard
        FROM shared s JOIN sz sa ON s.id_a = sa.doc_id
                      JOIN sz sb ON s.id_b = sb.doc_id
        WHERE cnt*1.0/(sa.n+sb.n-cnt) >= 0.3
    """


_COS_SQL = """
ROUND(
  list_sum(list_transform(list_zip(q.embedding, c.embedding),
           p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
  / (SQRT(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
     * SQRT(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))), 6)
"""

def _lsh_bucket_cte(n_planes: int, dim: int, n_bands: int = 1, src: str = "embeddings") -> str:
    """DuckDB replica of operators.similarity lsh bucketing: the same
    md5-derived hyperplanes (global plane index keys the md5; bit
    position is the index within the band), so the approximation itself
    is checked.  With ``n_bands=1`` `buckets` has (vec_id, bucket);
    otherwise (vec_id, band, bucket).  *src*: table or prior CTE with
    (vec_id, embedding) — defaults to the embeddings table; the
    semantic-dedup oracle points it at hash-embed vectors."""
    total = n_planes * n_bands
    band_sel = f"p // {n_planes} AS band," if n_bands > 1 else ""
    return f"""
planes AS (SELECT p, d,
                  ('0x'||substr(md5(p::VARCHAR||'_'||d::VARCHAR),1,8))::BIGINT
                    / 4294967296.0 - 0.5 AS w
           FROM (SELECT unnest(range({total})) AS p), (SELECT unnest(range({dim})) AS d)),
dots AS (SELECT e.vec_id, pl.p,
                SUM(CAST(e.embedding[pl.d+1] AS DOUBLE) * pl.w) AS dot
         FROM {src} e, planes pl GROUP BY 1, 2),
buckets AS (SELECT vec_id, {band_sel}
                   SUM(CASE WHEN dot > 0 THEN 1::BIGINT << (p % {n_planes}) ELSE 0 END) AS bucket
            FROM dots GROUP BY vec_id{', band' if n_bands > 1 else ''})
"""


_LSH_BUCKET_CTE = _lsh_bucket_cte(8, 64)


def _lsh_bucket_cte_auto(
    dim: int, n_bands: int, target_bucket: int, src: str = "embeddings"
) -> str:
    """The dynamic-resolution replica of :func:`_lsh_bucket_cte`: the
    plane count per band is DERIVED FROM THE DATA inside the SQL —
    ``GREATEST(2, CEIL(LOG2(GREATEST(N,2)/target)))`` over
    ``COUNT(*) FROM embeddings`` — mirroring
    ``operators.dedup.auto_n_planes`` term for term (both engines
    evaluate IEEE log2/ceil on the same double, so the derived integer
    is identical).  This makes the auto-sizing path itself
    oracle-checkable at every scale factor with ONE static SQL
    string."""
    return f"""
params AS (SELECT GREATEST(2, CAST(CEIL(LOG2(
             CAST(GREATEST((SELECT COUNT(*) FROM {src}), 2) AS DOUBLE)
             / {max(target_bucket, 1)})) AS BIGINT)) AS np),
planes AS (SELECT p, d,
                  ('0x'||substr(md5(p::VARCHAR||'_'||d::VARCHAR),1,8))::BIGINT
                    / 4294967296.0 - 0.5 AS w
           FROM (SELECT unnest(range((SELECT np * {n_bands} FROM params))) AS p),
                (SELECT unnest(range({dim})) AS d)),
dots AS (SELECT e.vec_id, pl.p,
                SUM(CAST(e.embedding[pl.d+1] AS DOUBLE) * pl.w) AS dot
         FROM {src} e, planes pl GROUP BY 1, 2),
buckets AS (SELECT vec_id, p // (SELECT np FROM params) AS band,
                   SUM(CASE WHEN dot > 0
                            THEN 1::BIGINT << (p % (SELECT np FROM params))
                            ELSE 0 END) AS bucket
            FROM dots GROUP BY vec_id, band)
"""

EXT_ORACLES: dict[str, str] = {
    "dedup_exact": f"""
        WITH corpus AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + {DUP_ID_OFFSET}, text FROM documents WHERE doc_id % 5 = 0)
        SELECT MIN(doc_id) AS doc_id FROM corpus
        GROUP BY md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
    """,
    "dedup_minhash_lsh": _minhash_oracle(),
    "dedup_minhash_incremental": _minhash_oracle(
        "a.doc_id % 5 = 3 OR b.doc_id % 5 = 3"
    ),
    "dedup_embedding_lsh": f"""
        WITH {_lsh_bucket_cte(4, 64, n_bands=4)},
        cand AS (SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
                 FROM buckets x JOIN buckets y
                   ON x.band = y.band AND x.bucket = y.bucket
                  AND x.vec_id < y.vec_id)
        SELECT cd.id_a, cd.id_b, {_COS_SQL} AS cos
        FROM cand cd
        JOIN embeddings q ON q.vec_id = cd.id_a
        JOIN embeddings c ON c.vec_id = cd.id_b
        WHERE {_COS_SQL} >= 0.35
    """,
    "dedup_embedding_lsh_incremental": f"""
        WITH {_lsh_bucket_cte(4, 64, n_bands=4)},
        cand AS (SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
                 FROM buckets x JOIN buckets y
                   ON x.band = y.band AND x.bucket = y.bucket
                  AND x.vec_id < y.vec_id)
        SELECT cd.id_a, cd.id_b, {_COS_SQL} AS cos
        FROM cand cd
        JOIN embeddings q ON q.vec_id = cd.id_a
        JOIN embeddings c ON c.vec_id = cd.id_b
        WHERE {_COS_SQL} >= 0.35
          AND (cd.id_a % 5 = 3 OR cd.id_b % 5 = 3)
    """,
    "dedup_embedding_lsh_auto": f"""
        WITH {_lsh_bucket_cte_auto(64, 4, 32)},
        cand AS (SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
                 FROM buckets x JOIN buckets y
                   ON x.band = y.band AND x.bucket = y.bucket
                  AND x.vec_id < y.vec_id)
        SELECT cd.id_a, cd.id_b, {_COS_SQL} AS cos
        FROM cand cd
        JOIN embeddings q ON q.vec_id = cd.id_a
        JOIN embeddings c ON c.vec_id = cd.id_b
        WHERE {_COS_SQL} >= 0.35
    """,
    "text_token_count": """
        SELECT doc_id,
               len(string_split_regex(trim(text), '\\s+')) AS n_ws_tokens,
               len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS n_regex_tokens,
               ROUND(CASE WHEN len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) > 0
                          THEN CAST(len(text) AS DOUBLE)
                               / len(regexp_extract_all(text, '\\w+|[^\\w\\s]'))
                          ELSE 0.0 END, 6) AS chars_per_token
        FROM documents
    """,
    "dedup_simhash": """
        WITH toks AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS t
                      FROM documents),
        th AS (SELECT doc_id, ('0x'||substr(md5(t),1,15))::BIGINT AS h FROM toks),
        n AS (SELECT doc_id, count(*) AS nt FROM th GROUP BY 1),
        votes AS (SELECT doc_id, b, SUM((h >> b) & 1) AS v
                  FROM th, (SELECT unnest(range(60)) AS b) GROUP BY 1, 2)
        SELECT votes.doc_id,
               CAST(SUM(CASE WHEN v*2 > nt THEN 1::BIGINT << b ELSE 0::BIGINT END) AS BIGINT) AS simhash
        FROM votes JOIN n ON votes.doc_id = n.doc_id
        GROUP BY 1
    """,
    "fuzzy_link_master": """
        WITH strs AS (
          SELECT doc_id AS id,
                 substr(md5(CAST(doc_id AS VARCHAR)), 1, 12) AS w
          FROM documents
          UNION ALL
          SELECT doc_id + 100000000,
                 substr(w, 1, 4) || 'z' || substr(w, 6, 7)
          FROM (SELECT doc_id,
                       substr(md5(CAST(doc_id AS VARCHAR)), 1, 12) AS w
                FROM documents WHERE doc_id % 7 = 0)),
        typos AS (SELECT id AS tid, w AS tw FROM strs WHERE id >= 100000000),
        master AS (SELECT id AS mid, w AS mw FROM strs WHERE id < 100000000),
        cand AS (
          SELECT t.tid, m.mid
          FROM typos t JOIN master m ON substr(t.tw, 1, 6) = substr(m.mw, 1, 6)
          UNION
          SELECT t.tid, m.mid
          FROM typos t JOIN master m ON substr(t.tw, 7, 6) = substr(m.mw, 7, 6))
        SELECT c.tid, c.mid, t.tw AS left_str, m.mw AS right_str,
               CAST(levenshtein(t.tw, m.mw) AS INT) AS dist
        FROM cand c
        JOIN typos t ON t.tid = c.tid
        JOIN master m ON m.mid = c.mid
        WHERE levenshtein(t.tw, m.mw) <= 1
    """,
    "sample_weighted_docs": """
        WITH w AS (SELECT doc_id,
                          LEAST(CAST(FLOOR(n_chars / 50) AS BIGINT) + 1, 20) AS wt
                   FROM documents),
        tickets AS (SELECT doc_id,
                           md5(CAST(doc_id AS VARCHAR) || ':' || CAST(j AS VARCHAR)) AS t
                    FROM w, LATERAL unnest(generate_series(1, wt)) AS u(j)
                    WHERE wt >= 1),
        best AS (SELECT doc_id, MAX(t) AS p FROM tickets GROUP BY 1),
        top AS (SELECT doc_id FROM best ORDER BY p DESC, doc_id ASC LIMIT 100)
        SELECT w.doc_id, w.wt FROM top JOIN w ON top.doc_id = w.doc_id
    """,
    "fuzzy_typo_pairs": """
        WITH strs AS (
          SELECT doc_id AS id,
                 substr(md5(CAST(doc_id AS VARCHAR)), 1, 12) AS w
          FROM documents
          UNION ALL
          SELECT doc_id + 100000000,
                 substr(w, 1, 4) || 'z' || substr(w, 6, 7)
          FROM (SELECT doc_id,
                       substr(md5(CAST(doc_id AS VARCHAR)), 1, 12) AS w
                FROM documents WHERE doc_id % 7 = 0)),
        -- equal-length strings at dist <= 1 differ by one SUBSTITUTION,
        -- so one half matches verbatim (the operator's own pigeonhole):
        -- exact prefilter, no quadratic scan
        cand AS (
          SELECT a.id AS ia, b.id AS ib
          FROM strs a JOIN strs b
            ON substr(a.w, 1, 6) = substr(b.w, 1, 6) AND a.id < b.id
          UNION
          SELECT a.id, b.id
          FROM strs a JOIN strs b
            ON substr(a.w, 7, 6) = substr(b.w, 7, 6) AND a.id < b.id)
        SELECT c.ia AS id_a, c.ib AS id_b, a.w AS str_a, b.w AS str_b,
               CAST(levenshtein(a.w, b.w) AS INT) AS dist
        FROM cand c
        JOIN strs a ON a.id = c.ia
        JOIN strs b ON b.id = c.ib
        WHERE levenshtein(a.w, b.w) <= 1
    """,
    "sketch_quantile_totalprice": """
        WITH stats AS (SELECT MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
                       FROM orders),
        params AS (SELECT lo, hi, (hi - lo) / 128 AS width FROM stats),
        -- direct global build: per-row bucketing is grouping-independent,
        -- so Spark's per-month-build + merge must equal this EXACTLY
        sk AS (SELECT CAST(LEAST(GREATEST(FLOOR((o_totalprice - lo) / width), 0),
                                 127) AS BIGINT) AS bucket,
                      COUNT(*) AS cnt
               FROM orders, params
               WHERE o_totalprice IS NOT NULL
               GROUP BY 1),
        cum AS (SELECT bucket, cnt,
                       SUM(cnt) OVER (ORDER BY bucket) AS cum,
                       SUM(cnt) OVER () AS total
                FROM sk),
        ps AS (SELECT unnest([0.5, 0.9, 0.99]::DOUBLE[]) AS p),
        hit AS (SELECT p, bucket, cnt, cum, total
                FROM cum, ps WHERE cum >= CEIL(p * total)),
        first_hit AS (SELECT p, MIN(bucket) AS b FROM hit GROUP BY 1),
        est AS (SELECT h.p,
                       ROUND(lo + (h.bucket
                                   + (CEIL(h.p * h.total) - (h.cum - h.cnt))
                                     / CAST(h.cnt AS DOUBLE)) * width,
                             6) AS est
                FROM hit h JOIN first_hit f ON h.p = f.p AND h.bucket = f.b,
                     params),
        exact AS (SELECT 0.5::DOUBLE AS p, quantile_cont(o_totalprice, 0.5) AS ex FROM orders
                  UNION ALL
                  SELECT 0.9::DOUBLE, quantile_cont(o_totalprice, 0.9) FROM orders
                  UNION ALL
                  SELECT 0.99::DOUBLE, quantile_cont(o_totalprice, 0.99) FROM orders)
        SELECT est.p, est.est,
               ABS(est.est - exact.ex) <= (SELECT width FROM params) AS within_bound
        FROM est JOIN exact ON est.p = exact.p
    """,
    "dedup_simhash_near": """
        WITH toks AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS t
                      FROM documents),
        th AS (SELECT doc_id, ('0x'||substr(md5(t),1,15))::BIGINT AS h FROM toks),
        n AS (SELECT doc_id, count(*) AS nt FROM th GROUP BY 1),
        votes AS (SELECT doc_id, b, SUM((h >> b) & 1) AS v
                  FROM th, (SELECT unnest(range(60)) AS b) GROUP BY 1, 2),
        fp AS (SELECT votes.doc_id,
                      CAST(SUM(CASE WHEN v*2 > nt THEN 1::BIGINT << b ELSE 0::BIGINT END) AS BIGINT) AS simhash
               FROM votes JOIN n ON votes.doc_id = n.doc_id GROUP BY 1),
        banded AS (SELECT doc_id, simhash, band,
                          CAST((simhash >> (band * 15)) & 32767 AS BIGINT) AS val
                   FROM fp, (SELECT unnest(range(4)) AS band)),
        keep AS (SELECT * FROM (SELECT banded.*, count(*) OVER (PARTITION BY band, val) AS n_bucket
                                FROM banded)
                 WHERE n_bucket <= 200)
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
        FROM keep a JOIN keep b
          ON a.band = b.band AND a.val = b.val AND a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
    "text_quality_stats": """
        WITH toks AS (SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS t
                      FROM documents),
        agg AS (SELECT doc_id, count(*) AS nt, SUM(len(t)) AS char_sum,
                       SUM(CASE WHEN t IN ('the','and','of','to','in','is','that','with','for','a')
                                THEN 1 ELSE 0 END) AS stop_hits
                FROM toks GROUP BY 1)
        SELECT d.doc_id,
               agg.nt AS n_tokens,
               len(d.text) AS n_chars,
               ROUND(CAST(char_sum AS DOUBLE) / nt, 6) AS mean_token_len,
               ROUND(CAST(len(d.text) - len(regexp_replace(d.text, '[^\\w\\s]', '', 'g')) AS DOUBLE)
                     / len(d.text), 6) AS punct_ratio,
               ROUND(CAST(stop_hits AS DOUBLE) / nt, 6) AS stopword_ratio,
               ROUND(LEAST(CAST(nt AS DOUBLE) / 100.0, 1.0) * 0.5
                     + (1.0 - LEAST(CAST(len(d.text) - len(regexp_replace(d.text, '[^\\w\\s]', '', 'g')) AS DOUBLE)
                                    / len(d.text) * 5.0, 1.0)) * 0.3
                     + LEAST(CAST(stop_hits AS DOUBLE) / nt * 5.0, 1.0) * 0.2, 6) AS quality_score
        FROM documents d JOIN agg ON d.doc_id = agg.doc_id
    """,
    "text_lang_id": """
        WITH toks AS (SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS t
                      FROM documents),
        hits AS (SELECT doc_id,
                   CAST(SUM(CASE WHEN t IN ('der','die','das','und','ist','mit','für','ein','nicht','von') THEN 1 ELSE 0 END) AS BIGINT) AS hits_de,
                   CAST(SUM(CASE WHEN t IN ('the','and','of','to','in','is','that','with','for','a') THEN 1 ELSE 0 END) AS BIGINT) AS hits_en,
                   CAST(SUM(CASE WHEN t IN ('el','la','los','y','es','para','en','que','una','de') THEN 1 ELSE 0 END) AS BIGINT) AS hits_es,
                   CAST(SUM(CASE WHEN t IN ('le','la','les','et','est','pour','dans','que','une','des') THEN 1 ELSE 0 END) AS BIGINT) AS hits_fr
                 FROM toks GROUP BY 1)
        SELECT doc_id,
               CASE WHEN GREATEST(hits_de, hits_en, hits_es, hits_fr) = 0 THEN 'und'
                    WHEN hits_de = GREATEST(hits_de, hits_en, hits_es, hits_fr) THEN 'de'
                    WHEN hits_en = GREATEST(hits_de, hits_en, hits_es, hits_fr) THEN 'en'
                    WHEN hits_es = GREATEST(hits_de, hits_en, hits_es, hits_fr) THEN 'es'
                    ELSE 'fr' END AS pred_lang,
               hits_de, hits_en, hits_es, hits_fr
        FROM hits
    """,
    "text_doc_fingerprint": f"""
        WITH {_SHINGLE_CTE},
        h AS (SELECT doc_id, ('0x'||substr(md5(s),1,8))::BIGINT AS hv FROM sh)
        SELECT doc_id, MIN(hv) AS fp_min, MAX(hv) AS fp_max, COUNT(*) AS n_shingles
        FROM h GROUP BY 1
    """,
    "knn_brute_force": f"""
        WITH scored AS (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {_COS_SQL} AS cos
          FROM embeddings q JOIN embeddings c ON q.vec_id < 10 AND c.vec_id != q.vec_id)
        SELECT query_id, neighbor_id, cos, rk FROM (
          SELECT query_id, neighbor_id, cos,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY cos DESC, neighbor_id ASC) AS rk
          FROM scored) WHERE rk <= 5
    """,
    "ann_lsh_topk": f"""
        WITH {_LSH_BUCKET_CTE},
        scored AS (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {_COS_SQL} AS cos
          FROM embeddings q
          JOIN buckets bq ON q.vec_id = bq.vec_id AND q.vec_id < 10
          JOIN buckets bc ON bq.bucket = bc.bucket
          JOIN embeddings c ON c.vec_id = bc.vec_id AND c.vec_id != q.vec_id)
        SELECT query_id, neighbor_id, cos, rk FROM (
          SELECT query_id, neighbor_id, cos,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY cos DESC, neighbor_id ASC) AS rk
          FROM scored) WHERE rk <= 5
    """,
    "ivf_cosine_topk": """
        WITH norms AS (
          SELECT vec_id, embedding,
                 SQRT(list_sum(list_transform(embedding,
                      x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS nrm
          FROM embeddings),
        cent AS (SELECT vec_id AS list_id, embedding AS centv, nrm AS centn
                 FROM norms WHERE vec_id % 29 = 0),
        assign AS (
          SELECT vec_id, list_id FROM (
            SELECT v.vec_id, c.list_id,
                   ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
                     ROUND(list_sum(list_transform(list_zip(v.embedding, c.centv),
                           p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE)))
                           / (v.nrm * c.centn), 6) DESC, c.list_id ASC) AS rk
            FROM norms v, cent c) WHERE rk = 1),
        probes AS (
          SELECT query_id, list_id FROM (
            SELECT q.vec_id AS query_id, c.list_id,
                   ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
                     ROUND(list_sum(list_transform(list_zip(q.embedding, c.centv),
                           p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE)))
                           / (q.nrm * c.centn), 6) DESC, c.list_id ASC) AS rk
            FROM norms q, cent c WHERE q.vec_id < 10) WHERE rk <= 4),
        scored AS (
          SELECT p.query_id, n.vec_id AS neighbor_id,
                 ROUND(list_sum(list_transform(list_zip(q.embedding, n.embedding),
                       x -> CAST(x[1] AS DOUBLE)*CAST(x[2] AS DOUBLE)))
                       / (q.nrm * n.nrm), 6) AS cos
          FROM probes p
          JOIN assign a ON a.list_id = p.list_id
          JOIN norms n ON n.vec_id = a.vec_id AND n.vec_id != p.query_id
          JOIN norms q ON q.vec_id = p.query_id)
        SELECT query_id, neighbor_id, cos, rk FROM (
          SELECT query_id, neighbor_id, cos,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY cos DESC, neighbor_id ASC) AS rk
          FROM scored) WHERE rk <= 5
    """,
    "multimodal_image_features": """
        SELECT doc_id AS media_id,
               octet_length(encode(text)) AS n_bytes,
               CAST(octet_length(encode(text)) % 1024 + 1 AS INT) AS width,
               CAST((octet_length(encode(text)) // 1024) % 1024 + 1 AS INT) AS height,
               md5(text) AS checksum
        FROM documents
    """,
    "multimodal_chunking": """
        SELECT doc_id AS media_id,
               i AS chunk_idx,
               len(substr(text, CAST(i*256+1 AS INT), 256)) AS chunk_chars,
               md5(substr(text, CAST(i*256+1 AS INT), 256)) AS chunk_md5
        FROM documents,
             LATERAL (SELECT unnest(generate_series(0,
                        GREATEST(CAST(CEIL(len(text)/256.0) AS BIGINT), 1) - 1)) AS i) t
    """,
    "multimodal_audio_features": """
        SELECT doc_id AS media_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               CAST(octet_length(encode(text)) // 2 AS BIGINT) AS n_samples,
               CAST((octet_length(encode(text)) // 2) * 1000 // 16000 AS BIGINT) AS duration_ms,
               md5(text) AS checksum
        FROM documents
    """,
    "multimodal_frame_sample": """
        SELECT doc_id AS media_id,
               i AS chunk_idx,
               len(substr(text, CAST(i*256+1 AS INT), 256)) AS chunk_chars,
               md5(substr(text, CAST(i*256+1 AS INT), 256)) AS chunk_md5
        FROM documents,
             LATERAL (SELECT unnest(generate_series(0,
                        GREATEST(CAST(CEIL(len(text)/256.0) AS BIGINT), 1) - 1, 4)) AS i) t
    """,
    "join_full_outer_period_activity": """
        WITH early AS (SELECT o_custkey, COUNT(*) AS n_early FROM orders
                       WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00' GROUP BY 1),
             late AS (SELECT o_custkey, COUNT(*) AS n_late FROM orders
                      WHERE o_orderdate >= TIMESTAMP '1999-01-01 00:00:00' GROUP BY 1)
        SELECT COALESCE(early.o_custkey, late.o_custkey) AS o_custkey,
               COALESCE(n_early, 0) AS n_early,
               COALESCE(n_late, 0) AS n_late
        FROM early FULL OUTER JOIN late ON early.o_custkey = late.o_custkey
    """,
    "window_lead_ntile_orders": """
        SELECT o_custkey, o_orderkey,
               epoch_ms(LEAD(o_orderdate, 1) OVER
                 (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey))
               - epoch_ms(o_orderdate) AS ms_to_next_order,
               NTILE(4) OVER (PARTITION BY o_custkey
                              ORDER BY o_totalprice DESC, o_orderkey ASC) AS spend_quartile
        FROM orders
    """,
    "agg_filtered_event_stats": """
        SELECT user_id,
               COUNT(*) FILTER (WHERE event_type = 'error') AS n_errors,
               COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_purchases,
               COUNT(*) AS n_total
        FROM events GROUP BY user_id
    """,
    "asof_join_click_purchase": """
        SELECT c.event_id AS click_id, c.user_id,
               epoch_us(c.ts) AS click_us,
               epoch_us(p.ts) AS purchase_us,
               p.event_id AS purchase_event_id,
               p.value AS purchase_value
        FROM (SELECT * FROM events WHERE event_type = 'click') c
        ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
          ON c.user_id = p.user_id AND c.ts >= p.ts
    """,
    "events_window_counts": """
        SELECT epoch_us(ts) // 300000000 AS bucket, event_type,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(FLOOR(value * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_micros
        FROM events GROUP BY 1, 2
    """,
}

# dedup_ngram_jaccard / dedup_embedding_cosine (the two quadratic exact
# baselines) are deliberately NOT driver-gated: the scale paths
# (minhash_lsh / embedding_lsh) carry the driver signal (VERDICT r1
# #2/#8).  Both baselines stay oracle-checked via BASELINE_ORACLES.
ORACLES: dict[str, str] = {
    "scd_asof_timeline": f"""
        SELECT 'raw' AS phase, * FROM customer
        UNION ALL
        SELECT 'mid' AS phase, * FROM ({_ORACLE_CUST_MID})
        UNION ALL
        SELECT 'now' AS phase, * FROM ({_ORACLE_CUST_NOW})
    """,
    "scd_avro_e2e": _ORACLE_CUST_NOW,
    "scd_decimal_dml": """
        WITH s0 AS (
          SELECT o_orderkey,
                 CAST(CAST(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS DECIMAL(18,4)) / 100 AS DECIMAL(12,2)) AS o_price,
                 o_orderdate, o_orderstatus
          FROM orders),
        s1 AS (
          SELECT o_orderkey,
                 -- ROUND, not bare CAST: DuckDB's decimal downcast
                 -- TRUNCATES where Spark's CAST rounds HALF_UP; DuckDB's
                 -- ROUND on decimals is half-away-from-zero = Spark's
                 CASE WHEN o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
                      THEN CAST(ROUND(o_price * 1.05, 2) AS DECIMAL(12,2)) ELSE o_price END AS o_price,
                 o_orderdate, o_orderstatus FROM s0),
        s2 AS (
          SELECT o_orderkey, o_price,
                 CASE WHEN o_orderstatus = 'O' THEN o_orderdate + INTERVAL 1 DAY
                      ELSE o_orderdate END AS o_orderdate
          FROM s1)
        SELECT o_orderkey,
               ROUND(CAST(o_price AS DOUBLE), 2) AS price_adj,
               CAST(o_orderdate AS DATE) AS odate
        FROM s2
        WHERE NOT (o_price > CAST(400000 AS DECIMAL(12,2))
                   AND o_orderdate >= TIMESTAMP '1998-06-01 00:00:00')
    """,
    "scd_update_chain_preimage": """
        WITH s1 AS (
          SELECT c_custkey, c_name,
                 CASE WHEN c_acctbal > 1000 THEN c_nationkey + 1 ELSE c_nationkey END AS c_nationkey,
                 CASE WHEN c_acctbal > 1000 THEN c_acctbal + c_nationkey ELSE c_acctbal END AS c_acctbal,
                 c_mktsegment
          FROM customer)
        SELECT c_custkey, c_name, c_nationkey,
               CASE WHEN c_nationkey = 5 THEN -c_acctbal ELSE c_acctbal END AS c_acctbal,
               c_mktsegment
        FROM s1
    """,
    "scd2_customer_history": """
        WITH s0 AS (
          SELECT c_custkey, c_name, c_nationkey, c_acctbal,
                 CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 'MACHINERY'
                      ELSE c_mktsegment END AS c_mktsegment
          FROM customer),
        base AS (SELECT *, c_acctbal < 0 AS neg, c_custkey % 7 = 0 AS del FROM s0)
        SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
               0 AS valid_from_ms,
               CASE WHEN neg THEN 1709251200000
                    WHEN del THEN 1717200000000 END AS valid_to_ms,
               (NOT neg AND NOT del) AS is_current
        FROM base
        UNION ALL
        SELECT c_custkey, c_name, c_nationkey, c_acctbal + 100.0, c_mktsegment,
               1709251200000 AS valid_from_ms,
               CASE WHEN del THEN 1717200000000 END AS valid_to_ms,
               NOT del AS is_current
        FROM base WHERE neg
    """,
    # chain + out-of-order effective times (r14; oracle generalized r15
    # per ADVICE — no silent no-pre-existing-'PROMO' assumption).  Per
    # ROW the fold resolves to one of three shapes:
    #   pre ('PROMO' already in base, any balance): boundary 2024-03
    #   adds +50 (stmt 2 reads base segment); boundary 2024-06 folds
    #   stmt1→stmt2 to the SAME state (stmt1 is a no-op or re-assigns
    #   'PROMO', stmt2 re-adds +50 to the recomputed-from-base state),
    #   so the 06 interval merges into the 03 one;
    #   neg (negative balance, not pre): 2024-03 state equals base
    #   (not 'PROMO' yet — merges away); 2024-06 folds both in script
    #   order → 'PROMO', +50;
    #   neither: untouched.
    # TPC-H data has no 'PROMO' segment, so pre is empty today — the
    # oracle models it anyway so the gate survives generator drift.
    "scd2_chain_outoforder": """
        WITH base AS (SELECT *, c_acctbal < 0 AS neg,
                             c_mktsegment = 'PROMO' AS pre
                      FROM customer)
        SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
               0 AS valid_from_ms,
               CASE WHEN pre THEN 1709251200000
                    WHEN neg THEN 1717200000000 END AS valid_to_ms,
               (NOT pre AND NOT neg) AS is_current
        FROM base
        UNION ALL
        SELECT c_custkey, c_name, c_nationkey, c_acctbal + 50.0, 'PROMO',
               CASE WHEN pre THEN 1709251200000
                    ELSE 1717200000000 END AS valid_from_ms,
               CAST(NULL AS BIGINT) AS valid_to_ms,
               TRUE AS is_current
        FROM base WHERE pre OR neg
    """,
    "scd_h2_dialect": """
        WITH s1 AS (
          SELECT o_orderkey,
                 CASE WHEN o_orderstatus = 'O'
                      THEN (CASE WHEN o_orderpriority = '1-URGENT'
                                 THEN '0-EXPEDITE' ELSE o_orderpriority END)
                      ELSE o_orderpriority END AS o_orderpriority,
                 CASE WHEN o_orderstatus = 'O'
                      THEN o_orderdate + INTERVAL 2 DAY
                      ELSE o_orderdate END AS o_orderdate,
                 o_totalprice
          FROM orders),
        s2 AS (
          SELECT o_orderkey,
                 CASE WHEN date_diff('day', o_orderdate, TIMESTAMP '1997-01-01 00:00:00') > 0
                      THEN COALESCE(o_orderpriority, 'none') || '+h2'
                      ELSE o_orderpriority END AS o_orderpriority,
                 o_orderdate, o_totalprice
          FROM s1),
        -- statement 3: CONCAT (NULL-skipping) + 3-arg INSTR (locate
        -- from position 2, emulated via substr) + REGEXP_LIKE 'i' flag
        s3 AS (
          SELECT o_orderkey,
                 CASE WHEN regexp_matches(o_orderpriority, '(?i)^[123]-')
                      THEN COALESCE(o_orderpriority, '') || '' ||
                           COALESCE(CASE WHEN (CASE WHEN strpos(substr(o_orderpriority, 2), 'U') > 0
                                               THEN strpos(substr(o_orderpriority, 2), 'U') + 1
                                               ELSE 0 END) > 0
                                    THEN '*U' ELSE '' END, '')
                      ELSE o_orderpriority END AS o_orderpriority,
                 o_orderdate, o_totalprice
          FROM s2),
        -- statement 4: H2 string INSERT boundary semantics — start
        -- runs through 0..3, start<1 (and start>len+1, len<=0) must
        -- return the ORIGINAL string, in-range splices like overlay
        s4 AS (
          SELECT o_orderkey,
                 CASE WHEN o_orderkey % 5 = 0 THEN
                      CASE WHEN CAST(o_orderkey % 4 AS INT) < 1
                                OR CAST(o_orderkey % 4 AS INT) > length(o_orderpriority) + 1
                           THEN o_orderpriority
                           ELSE substr(o_orderpriority, 1, CAST(o_orderkey % 4 AS INT) - 1)
                                || 'Z#'
                                || substr(o_orderpriority, CAST(o_orderkey % 4 AS INT) + 2) END
                      ELSE o_orderpriority END AS o_orderpriority,
                 o_orderdate, o_totalprice
          FROM s3),
        -- statement 5: TRUNC(ts,'MONTH') → date_trunc, TO_CHAR Oracle
        -- 'YYYY-MM' model → strftime '%Y-%m'
        s5 AS (
          SELECT o_orderkey,
                 CASE WHEN o_orderkey % 7 = 0
                      THEN strftime(date_trunc('month', o_orderdate), '%Y-%m')
                           || '~' || o_orderpriority
                      ELSE o_orderpriority END AS o_orderpriority,
                 o_orderdate, o_totalprice
          FROM s4),
        -- statement 6: flagged REGEXP_REPLACE — the 'i' flag folds to
        -- an embedded (?i); DuckDB needs its own 'g' to match Java
        -- replaceAll's replace-every-occurrence default
        s6 AS (
          SELECT o_orderkey,
                 CASE WHEN o_orderkey % 3 = 1
                      THEN regexp_replace(o_orderpriority, '(?i)urgent', 'URGT', 'g')
                      ELSE o_orderpriority END AS o_orderpriority,
                 o_orderdate, o_totalprice
          FROM s5),
        -- statement 7: FORMATDATETIME 'yyyy/MM/dd' → strftime
        s7 AS (
          SELECT o_orderkey,
                 CASE WHEN o_orderkey % 11 = 0
                      THEN strftime(o_orderdate, '%Y/%m/%d') || '>' || o_orderpriority
                      ELSE o_orderpriority END AS o_orderpriority,
                 o_orderdate, o_totalprice
          FROM s6)
        SELECT o_orderkey, o_orderpriority, CAST(o_orderdate AS DATE) AS odate
        FROM s7
        WHERE NOT (o_totalprice > 450000.0)
    """,
    "scd_partitioned_updates": """
        SELECT c_custkey, c_name, c_nationkey,
               CASE WHEN c_nationkey % 3 = 0 AND c_acctbal < 0
                    THEN c_acctbal + 10 ELSE c_acctbal END AS c_acctbal,
               c_mktsegment
        FROM customer
        WHERE NOT (c_nationkey % 3 = 1 AND c_custkey % 2 = 0)
    """,
    "scd_customer_orders_revenue": """
        WITH cust AS (
          SELECT c_custkey,
                 CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 'MACHINERY' ELSE c_mktsegment END AS c_mktsegment
          FROM customer WHERE NOT (c_custkey % 7 = 0))
        SELECT c_mktsegment, COUNT(*) AS n_orders,
               ROUND(SUM(o_totalprice), 2) AS revenue
        FROM orders JOIN cust ON o_custkey = c_custkey
        GROUP BY c_mktsegment
    """,
    "q1_pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               ROUND(SUM(l_quantity), 2) AS sum_qty,
               ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
               ROUND(AVG(l_quantity), 6) AS avg_qty,
               ROUND(AVG(l_extendedprice), 6) AS avg_price,
               ROUND(AVG(l_discount), 6) AS avg_disc,
               COUNT(*) AS count_order
        FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """,
    "q3_shipping_priority": """
        SELECT l_orderkey, o_orderpriority,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
          AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        GROUP BY l_orderkey, o_orderpriority
        ORDER BY revenue DESC, l_orderkey ASC
        LIMIT 10
    """,
    "q5_local_supplier_revenue": """
        SELECT n_name,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY n_name
    """,
    "q6_revenue_forecast": """
        SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue,
               COUNT(*) AS n_items
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
          AND l_discount >= 0.05 AND l_discount <= 0.07
          AND l_quantity < 24
    """,
    "agg_rollup_returnflag": """
        SELECT l_returnflag, l_linestatus,
               ROUND(SUM(l_quantity), 2) AS sum_qty,
               COUNT(*) AS n_rows
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    "window_topk_parts_per_brand": """
        SELECT p_brand, p_partkey, p_name, p_retailprice, rk FROM (
          SELECT p_brand, p_partkey, p_name, p_retailprice,
                 ROW_NUMBER() OVER (PARTITION BY p_brand
                                    ORDER BY p_retailprice DESC, p_partkey ASC) AS rk
          FROM part) WHERE rk <= 3
    """,
    "window_running_supplier_revenue": """
        SELECT l_suppkey, l_orderkey, l_linenumber,
               CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) OVER (
                 PARTITION BY l_suppkey
                 ORDER BY l_shipdate, l_orderkey, l_linenumber,
                          CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS running_revenue_cents
        FROM lineitem
    """,
    "join_anti_customers_without_orders": """
        SELECT c_custkey, c_name FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                          AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00')
    """,
    "setop_intersect_except": """
        SELECT 'both' AS op, custkey FROM (
          SELECT o_custkey AS custkey FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
          INTERSECT
          SELECT o_custkey AS custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
        UNION ALL
        SELECT 'gone' AS op, custkey FROM (
          SELECT DISTINCT custkey FROM (
            SELECT o_custkey AS custkey FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
            EXCEPT ALL
            SELECT o_custkey AS custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'))
    """,
    "pivot_nation_by_segment": """
        SELECT c_nationkey,
               CAST(SUM(CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 1 ELSE 0 END) AS BIGINT) AS "AUTOMOBILE",
               CAST(SUM(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END) AS BIGINT) AS "BUILDING",
               CAST(SUM(CASE WHEN c_mktsegment = 'FURNITURE' THEN 1 ELSE 0 END) AS BIGINT) AS "FURNITURE",
               CAST(SUM(CASE WHEN c_mktsegment = 'HOUSEHOLD' THEN 1 ELSE 0 END) AS BIGINT) AS "HOUSEHOLD",
               CAST(SUM(CASE WHEN c_mktsegment = 'MACHINERY' THEN 1 ELSE 0 END) AS BIGINT) AS "MACHINERY"
        FROM customer GROUP BY c_nationkey
    """,
    "events_sessionize": """
        WITH g AS (
          SELECT user_id,
                 CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER
                        (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000
                      OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                      THEN 1 ELSE 0 END AS new_sess
          FROM events)
        SELECT user_id, CAST(SUM(new_sess) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
        FROM g GROUP BY user_id
    """,
}

# Registry order is the driver contract: the driver's CORRECTNESS check
# covers only the FIRST 50 entries of queries().  The first section below
# is therefore the curated driver window — one gate per operator family,
# every round-3/4 operator included (VERDICT r3 #1).  Entries after the
# "beyond the driver window" marker are near-duplicate gates demoted to
# make room; they remain fully oracle-checked by
# scripts/check_contract.py (which checks ALL entries) and by tests/.

# Gates whose value is NOT SQL-expressible — the driver records a weaker
# rows-only check for these (per the driver contract), and the gate
# itself asserts its contract in-process (see each docstring).  Keep
# this list SHORT and justified: everything else must carry a DuckDB
# oracle.
ROWS_ONLY_GATES: frozenset[str] = frozenset({
    # file-layout evidence (parquet footer spans) — no SQL replay exists
    "layout_zorder_skipping",
    # iterative algorithm (k greedy argmax rounds) — the driver contract's
    # explicit weaker-check category; the loop is pinned merge-for-merge
    # against a Python reference trainer in tests/test_operators.py
    "text_bpe_train",
    # zlib is not expressible in either SQL engine; exact compressed
    # sizes are pinned against CPython's zlib in
    # tests/test_corpus_clean_r10.py
    "text_compression_ratio",
})


def dedup_corpus_paragraphs(spark, sf_dir):
    """Cross-document exact paragraph dedup (operators/dedup.py:
    dedup_paragraphs — the CCNet first pass, arXiv:1911.00359 §3.1)
    over a planted fixture: every document carries a promo paragraph
    shared by its doc_id % 7 class (plus a CASE-variant copy of it), a
    unique body paragraph, and a blank separator.  The globally first
    occurrence (min doc_id of the class, paragraph 0) keeps the promo;
    every other copy corpus-wide is removed; blanks and bodies
    survive.  The oracle derives winners and reassembled text
    ANALYTICALLY from the plant (MIN(doc_id) per class — none of the
    engine's split/normalize/winner code is replayed)."""
    from hive_scd_spark.operators.dedup import dedup_paragraphs

    docs = t(spark, sf_dir, "documents").select("doc_id")
    k = (F.col("doc_id") % 7).cast("string")
    d = F.col("doc_id").cast("string")
    text = F.concat(
        F.lit("Promo Block "), k,
        F.lit("\n\nbody "), d,
        F.lit("\n\n  \n\npromo block "), k,  # blank para + normalized dup
    )
    fixture = docs.select("doc_id", text.alias("text"))
    out = dedup_paragraphs(fixture, "doc_id", "text")
    return out.select("doc_id", "text", "n_paras_kept", "n_paras_removed")


def text_clean_c4(spark, sf_dir):
    """The C4 cleaning rules (operators/text.py: clean_c4_lines,
    arXiv:1910.10683 §2.2) over a planted fixture: three proper
    sentences per document plus a short line, a no-terminal-punct
    line, and a javascript warning; every 11th document additionally
    carries a 'lorem ipsum' line (passes the LINE rules, kills the
    PAGE) and every 13th a brace line (fails the line rule and kills
    the page).  The oracle replays none of the engine — expected
    kept/removed counts, the kept flag, and the reassembled text all
    derive from the plant arithmetic."""
    from hive_scd_spark.operators.text import clean_c4_lines

    docs = t(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id").cast("string")
    base = F.concat(
        F.lit("This is proper sentence number "),
        (F.col("doc_id") % 5).cast("string"),
        F.lit("."),
        F.lit("\nHere is another proper sentence number "),
        (F.col("doc_id") % 3).cast("string"),
        F.lit("."),
        F.lit("\nFinally a third proper sentence about document "),
        d,
        F.lit("."),
        F.lit("\ntoo short."),
        F.lit("\nno terminal punctuation here at all"),
        F.lit("\nPlease enable javascript to view this page."),
    )
    text = F.concat(
        base,
        F.when(
            F.col("doc_id") % 11 == 0, F.lit("\nlorem ipsum dolor sit amet.")
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 13 == 0, F.lit("\ncode { sample }")
        ).otherwise(F.lit("")),
    )
    fixture = docs.select("doc_id", text.alias("text"))
    out = clean_c4_lines(fixture, "doc_id", "text")
    return out.select(
        "doc_id", "text", "n_lines_kept", "n_lines_removed", "kept"
    )


def dedup_winnow_pairs(spark, sf_dir):
    """Winnowing-fingerprint candidate pairs (operators/dedup.py:
    winnow_fingerprints / winnow_dup_pairs — Schleimer et al.
    SIGMOD'03, the MOSS algorithm) over the known-duplicate corpus
    (_dup_corpus): every re-keyed copy must share its original's
    fingerprints (the k+w-1 substring guarantee), boilerplate
    fingerprints are df-capped, and pairs need ≥5 shared fingerprints.
    The oracle replays the whole selection — positional k-gram md5
    hashes, per-window list minima, distinct set, df cap, pair count —
    with plain DuckDB list ops: selecting window-minimum VALUES (not
    positions) makes tie-breaking irrelevant, so the replay needs no
    positional tie rule.  The selection is the session-shared one
    (shared_winnow_selected — materialized once, reused by the corpus
    and df-capped gates)."""
    from hive_scd_spark.operators.dedup import winnow_pairs_from_selected

    return winnow_pairs_from_selected(
        shared_winnow_selected(spark, sf_dir), "doc_id",
        max_df=50, min_shared=5,
    )


def dedup_winnow_corpus(spark, sf_dir):
    """Winnowing composed into the dedup ENDGAME (VERDICT r10 task 4):
    fingerprint-overlap pairs (operators/dedup.py: winnow_dup_pairs,
    the MOSS algorithm) → connected components → one canonical doc per
    cluster + all unpaired docs (operators/cluster.py: dup_clusters /
    dedup_corpus) — the same pairs → clusters → keepers last mile the
    MinHash family ships, driven by the winnowing candidate generator
    instead.  Over the known-duplicate corpus (_dup_corpus): every
    re-keyed copy shares ≥5 fingerprints with its original (the
    k+w-1 guarantee), so each (d, d+DUP_ID_OFFSET) pair collapses to the
    min-id keeper.  The oracle replays winnow selection + recursive
    transitive closure in SQL (the dedup_corpus_canonical pattern).

    The production default is the DF-CAPPED form, max_df=32 (VERDICT
    r12 task 4).  Measured on this corpus at sf0.1: planted-pair
    recall 995/1000 at cap 32 vs 998/1000 at the old cap 50 (the
    losers are short template-heavy documents whose every fingerprint
    is common — they lose at ANY practical cap, see the capped recall
    gate), while the pair graph shrinks 2019 → 1721 and the df∈(33,50]
    boilerplate band — whose Σdf² is what drives the pair step's
    superlinear 100× growth — is dropped before pair generation.  "No
    keeper change" is NOT achievable at any cap < 50 and that is the
    point: the 189-doc keeper delta at cap 32 (sf0.1) is entirely
    incidental boilerplate merges between NON-duplicate documents —
    cap-50 false merges, not lost duplicates; planted dedup decisions
    are cap-invariant at both test SFs (test_winnow_r13 pins this).

    Scale: the pair graph is candidate-sized, never corpus-sized; the
    final keep step is one left-anti join (AQE picks broadcast when
    the loser list is small).  The fingerprint selection is the
    session-shared one (shared_winnow_selected)."""
    from hive_scd_spark.operators.cluster import dedup_corpus
    from hive_scd_spark.operators.dedup import winnow_pairs_from_selected

    corpus = _dup_corpus(spark, sf_dir)
    pairs = winnow_pairs_from_selected(
        shared_winnow_selected(spark, sf_dir), "doc_id",
        max_df=32, min_shared=5,
    )
    keep = dedup_corpus(corpus, pairs, "doc_id")
    return keep.select(
        "doc_id",
        F.length(F.coalesce(F.col("text"), F.lit("")))
        .cast("long")
        .alias("n_chars"),
    )


def dedup_winnow_capped(spark, sf_dir):
    """Df-capped winnowing RECALL gate (VERDICT r11 task 5): the MOSS
    noise threshold tightened from max_df=50 to max_df=16 (a
    fingerprint in > 16 documents is dropped before pair generation —
    operators/dedup.py: winnow_pairs_from_selected), and the output
    MEASURES recall on the planted duplicates, oracle-checked in both
    engines: one row per planted original (doc_id % 5 == 0) with
    whether its re-keyed copy (doc_id + DUP_ID_OFFSET) was recovered and with
    how many shared surviving fingerprints.  Planted copies are
    verbatim, so their shared fingerprints are the original's whole
    selected set — rare fingerprints survive any df cap ≥ 2, which is
    why tightening the cap costs little recall while bounding
    candidate fan-out at Σ df² with df ≤ 16.  Measured recall of the
    (≥ 5 shared) pair at this corpus's density: 100/100 at sf0.001
    and sf0.01; 979/1000 at sf0.1 (vs 998/1000 at the production
    max_df=50 — short template-heavy documents whose every fingerprint
    is common lose the pair at ANY practical cap; the df band is a
    density dial, not a correctness switch).  test_advice_r12 pins the
    100 % small-SF recall.  The oracle replays the capped selection +
    pair count in DuckDB list ops and the same planted left join.
    The selection is the session-shared one (shared_winnow_selected)."""
    from hive_scd_spark.operators.dedup import winnow_pairs_from_selected

    pairs = winnow_pairs_from_selected(
        shared_winnow_selected(spark, sf_dir), "doc_id",
        max_df=16, min_shared=5,
    )
    planted = t(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 5 == 0
    ).select("doc_id")
    hit = pairs.filter(F.col("id_b") == F.col("id_a") + DUP_ID_OFFSET).select(
        F.col("id_a"), F.col("n_shared").alias("__ns")
    )
    out = planted.join(hit, planted["doc_id"] == hit["id_a"], "left")
    return out.select(
        "doc_id",
        F.when(F.col("id_a").isNotNull(), 1).otherwise(0)
        .cast("int")
        .alias("recovered"),
        F.coalesce(F.col("__ns"), F.lit(0)).cast("long").alias("n_shared"),
    )


def text_compression_ratio(spark, sf_dir):
    """zlib compressibility screen (operators/quality.py:
    compression_ratio — the Dolma/Gopher-era structural filter):
    per-document compressed/raw byte ratio via Arrow-batched
    mapInPandas, with the keep-band flag.  ROWS-ONLY gate: zlib exists
    in neither SQL engine, so exact sizes are pinned against CPython's
    zlib in pytest instead of DuckDB (the text_bpe_train precedent)."""
    from hive_scd_spark.operators.quality import compression_ratio

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    return compression_ratio(docs, "doc_id", "text")


def text_robots_parse_screen(spark, sf_dir):
    """Crawl compliance from RAW robots bytes (operators/text.py:
    parse_robots → url_optout_filter): one planted robots.txt per
    crawl domain — a decoy group for another agent, a merged
    ``*``+named group disallowing ``/docs/<k%5>`` and ``/cart``, an
    empty (allow-all) Disallow, comments, and case-mixed field names —
    parsed into the rules table that then screens the planted URL
    corpus.  No hand-maintained rules: the table the screen consumes
    comes out of the parser.  The oracle replays NEITHER the parser
    nor the screen — the disallowed flag follows analytically from the
    plant (single-digit prefix arithmetic)."""
    from hive_scd_spark.operators.text import parse_robots, url_optout_filter

    docs = t(spark, sf_dir, "documents").select("doc_id")
    k = (F.col("doc_id") % 97).cast("string")
    robots = docs.select((F.col("doc_id") % 97).alias("k")).distinct().select(
        F.concat(F.lit("example"), F.col("k").cast("string"), F.lit(".com")).alias(
            "domain"
        ),
        F.concat(
            F.lit("# policy\nUser-agent: fancybot\nDisallow: /secret\n\n"),
            F.lit("User-agent: *\nUSER-AGENT: otherbot\nDisallow: /docs/"),
            (F.col("k") % 5).cast("string"),
            F.lit("  # rule\nDisallow:\nAllow: /public\nDisallow: /cart\n"),
        ).alias("payload"),
    )
    rules = parse_robots(robots, "domain", "payload")
    fixture = docs.select(
        "doc_id",
        F.concat(
            F.lit("https://example"), k, F.lit(".com/docs/"),
            (F.col("doc_id") % 37).cast("string"),
        ).alias("url"),
    )
    out = url_optout_filter(fixture, "doc_id", "url", rules)
    return out.select("doc_id", "domain", "disallowed")



def events_anomaly_zscore(spark, sf_dir):
    """Rolling z-score anomaly flags (operators/asof.py:
    anomaly_zscore) — each event scored against the mean/std of its
    user's 20 preceding observations (leave-one-out), the monitoring
    primitive a pipeline health dashboard reads.  Engine-exact by
    construction: baseline moments come from exact integer window sums
    (milli-scaled values), z is ROUND(·,6), and the flag compares the
    rounded value; the oracle replays the identical window frame
    (ordered by time then event_id, so frame membership is
    total-ordered) and the same fixed expression shape."""
    from hive_scd_spark.operators.asof import anomaly_zscore

    ev = load_events(spark, sf_dir).select("user_id", "ts_us", "event_id", "value")
    return anomaly_zscore(
        ev, "user_id", "ts_us", "value", "event_id",
        lookback=20, min_history=8, z_threshold=3.0, scale=1000,
    )


def report_source_overlap(spark, sf_dir):
    """Cross-source contamination matrix (operators/decontam.py:
    source_overlap_matrix): distinct shared 8-gram hashes + Jaccard
    for every source pair — the census a curation team reads before
    mixing sources (re-released datasets and benchmark leaks show up
    as off-diagonal spikes).  Grouped inverted-index pair generation
    (per-gram fan-out bounded by the SOURCE count, never the corpus);
    the oracle replays the hashing, the per-source distinct sets, and
    every pair count in DuckDB list ops."""
    from hive_scd_spark.operators.decontam import source_overlap_matrix

    docs = t(spark, sf_dir, "documents")
    return source_overlap_matrix(docs, "source", "text", n=8)


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # --- driver window (first 50) ---------------------------------------
    # SCD core (the reference surface)
    "scd_asof_timeline": scd_asof_timeline,
    "scd_decimal_dml": scd_decimal_dml,
    "scd_update_chain_preimage": scd_update_chain_preimage,
    "scd_partitioned_updates": scd_partitioned_updates,
    "scd_avro_e2e": scd_avro_e2e,
    "scd2_customer_history": scd2_customer_history,
    "scd_customer_orders_revenue": scd_customer_orders_revenue,
    "scd_sql_over_view": scd_sql_over_view,
    "scd_snapshot_roundtrip": scd_snapshot_roundtrip,
    "scd_h2_dialect": scd_h2_dialect,
    # r9 rotation (VERDICT r8 tasks 1+4): twelve never-driver-verified
    # entries take the slots of eleven multiply-green veterans plus the
    # rows-only layout gate.  In: the six r7 operators with only
    # self-reported contract evidence (fuzzy_typo_pairs,
    # fuzzy_link_master, sketch_quantile_totalprice,
    # decontam_bloom_screen, sample_weighted_docs,
    # dedup_embedding_lsh_incremental) and six TPC-H shapes never
    # driver-checked (q21, q2, q9, q20, q15, q22 — hardest-first per
    # the task-4 list).  Out: text_clean_normalize, text_strip_html,
    # corpus_top_ngrams, sample_top_n_per_group,
    # multimodal_frame_sample (each driver-green >= 2 rounds),
    # multimodal_audio_features, text_unigram_logprob,
    # sample_token_budget_per_source, skew_salted_join_orders,
    # text_remove_boilerplate, embedding_quantize_int8 (green
    # r6+r7+r8), and layout_zorder_skipping (rows-only by design — it
    # can never hash-green, so its slot goes to a hash-checkable gate;
    # its in-gate assertions keep running via check_contract.py).  The
    # ten SCD core gates do NOT rotate (reference surface —
    # test_registry.py pins this invariant).  Family
    # coverage after the swap: cleaning keeps text_redact_pii, quality
    # keeps text_repetition_stats, sampling gains sample_weighted_docs,
    # multimodal keeps multimodal_dedup_exact, joins keep
    # range_join_event_windows + both fuzzy joins.
    "fuzzy_typo_pairs": fuzzy_typo_pairs,
    # r12 rotation (VERDICT r11 task 1): the ENTIRE remaining
    # never-driver-verified pool — all 11 rotatable entries — takes
    # window slots in one shot, plus the two gates built this round
    # (dedup_winnow_capped — the df-capped winnowing recall gate, task
    # 5; pipeline_mix_shuffle_pack — the mix→shuffle→pack composed
    # capstone, task 6; rotate-on-add policy).  After this window,
    # every hash-checkable registry entry has held a driver slot at
    # least once.  Out (13 multiply-green veterans, all still
    # DuckDB-verified every round via scripts/check_contract.py):
    # q21/q2/q9/q20/q15/q22 (green r9+r10+r11), q19/q16/q11/q12
    # (green r10+r11) — TPC-H keeps seven fresh r11 shapes in-window
    # (q4/q7/q10/q13/q14/q17/q18); fuzzy_link_master (x3 —
    # fuzzy_typo_pairs keeps the family); sample_weighted_docs (x3 —
    # sampling gains four fresh reps below);
    # dedup_embedding_lsh_incremental (x3 — dedup keeps five reps:
    # winnow pairs/corpus/capped, url-canonical, paragraphs).  The ten
    # SCD core gates never rotate (test_registry.py pins the
    # invariant).
    "text_chunk_sliding": text_chunk_sliding,
    "text_url_domain_filter": text_url_domain_filter,
    "sample_split_assign": sample_split_assign,
    "text_script_detect": text_script_detect,
    "text_dedupe_lines_in_doc": text_dedupe_lines_in_doc,
    "sample_embedding_diverse": sample_embedding_diverse,
    "report_domain_census": report_domain_census,
    "source_warc_reshard": source_warc_reshard,
    "sample_temperature_mix": sample_temperature_mix,
    "sample_shuffle_order": sample_shuffle_order,
    "dedup_winnow_capped": dedup_winnow_capped,
    "pipeline_mix_shuffle_pack": pipeline_mix_shuffle_pack,
    # TPC-H-style analytics (join + agg + pushdown + top-k)
    # r7 rotation (VERDICT r6 task 1): seven never-driver-verified
    # entries take the slots of seven multiply-green veterans
    # (q1_pricing_summary, q3_shipping_priority — green r3-r6, q5 + q8
    # keep TPC-H in-window; asof_join_click_purchase — r3+r5+r6,
    # range_join keeps the family; dedup_minhash_lsh +
    # dedup_embedding_lsh — r3-r6, six dedup reps remain in-window;
    # ann_lsh_topk — r3-r6, ivf_kmeans keeps ANN; text_bm25_topk —
    # r4-r6, text_inverted_index takes the retrieval slot).  Every
    # displaced veteran stays DuckDB-verified each round via
    # scripts/check_contract.py
    # r11 rotation (VERDICT r10 tasks 1+3+4): FOURTEEN never-driver-
    # verified entries take the slots of fourteen multiply-green
    # veterans.  In: the 7 remaining TPC-H shapes never driver-checked
    # (q4/q7/q10/q13/q14/q17/q18 — the task-1 list), the r10 late
    # additions (dedup_corpus_paragraphs, text_clean_c4,
    # text_robots_parse_screen, dedup_winnow_pairs, text_bigram_logprob),
    # and the two r11 gates built this round (pipeline_crawl_to_corpus_v2
    # — the cleaner-chained crawl capstone, task 3; dedup_winnow_corpus —
    # winnowing composed into pairs→clusters→keepers, task 4), following
    # the r10 precedent of driver-verifying brand-new gates immediately.
    # Out (hash-green 4-6 driver rounds each, all still DuckDB-verified
    # every round via scripts/check_contract.py):
    # range_join_event_windows (x6), pipeline_semantic_dedup (x5 —
    # pipelines keep crawl v1 + the new v2 in-window),
    # sql_recursive_calendar (x5), table_profile_documents (x5),
    # text_bpe_tokenize (x5) + text_bpe_batched (x4 — BPE stays pinned
    # against its Python reference in pytest and contract-checked),
    # text_hash_embed_ann (x5), text_lang_id_ngram (x5),
    # text_redact_pii (x5 — cleaning gains text_clean_c4),
    # text_repetition_stats (x5 — quality gains text_bigram_logprob),
    # lateral_recent_orders (x4), q8_national_market_share (x4 — TPC-H
    # gains seven fresh shapes), text_inverted_index (x4),
    # sketch_merge_distinct_users (x4 — sketch_quantile_totalprice
    # keeps the sketch family in-window).  variant_props_stats and
    # multimodal_dedup_exact stay — each is its family's only window
    # representative.  The ten SCD core gates never rotate
    # (test_registry.py pins the invariant).
    "q17_small_quantity_revenue": q17_small_quantity_revenue,
    "q18_large_volume_customers": q18_large_volume_customers,
    # multimodal keeps its only window representative
    # r10 rotation (VERDICT r9 tasks 1+7): twelve never-driver-verified
    # entries take the slots of twelve multiply-green veterans.  In:
    # the full r9 crawl-first-mile family (source_warc_scan,
    # pipeline_crawl_to_corpus, dedup_url_canonical,
    # select_dsir_weights, select_dsir_gumbel_topk,
    # text_url_optout_screen, select_quality_floor,
    # sample_split_by_cluster) and four TPC-H shapes never
    # driver-checked (q19, q16, q11, q12 — the task-1 list).  Out (all
    # hash-green >= 3 rounds, most recently r9; every one stays
    # DuckDB-verified per round via scripts/check_contract.py):
    # q5_local_supplier_revenue (x9 — q8 + 10 TPC-H shapes stay),
    # dedup_cluster_assign (x6), decontam_ngram_overlap (x5 —
    # decontam_bloom_screen keeps the family), pack_sequences_ctx (x5)
    # + pipeline_corpus_to_sequences (x5 — pipelines stay represented
    # by pipeline_semantic_dedup and the new crawl capstone, which
    # also exercises packing's quality-filter stage),
    # agg_median_listagg (x4 — ordered-set aggs rejoin later; the new
    # select_quality_floor covers window functions),
    # dedup_embedding_lsh_auto (x4 — the incremental variant stays),
    # dedup_exact_substring (x4), dedup_minhash_incremental (x4),
    # dedup_simhash_near (x3 — dedup keeps 4 window reps: embedding-LSH
    # incremental, semantic capstone, url-canonical, minhash pairs
    # inside sample_split_by_cluster), graph_pagerank_dups (x4 — graph
    # stays via dup_clusters inside sample_split_by_cluster),
    # window_range_frame_spend (x4).  text_bpe_train is rows-only and
    # deliberately NOT rotated in (the layout_zorder_skipping lesson:
    # it can never hash-green; rotation_report.py now excludes
    # rows-only gates from the IN pool mechanically).
    # r12 session-2 rotation (rotate-on-add, the r10/r11 precedent):
    # the three operators built mid-round take window slots immediately.
    # In: sketch_heavy_hitters (frequent-items joins the mergeable-
    # sketch family in-window), text_kn_trigram_logprob (the KenLM-
    # class CCNet filter; LM scoring keeps text_bigram_logprob too),
    # ann_pq_adc_topk (ANN regains a window representative — the whole
    # ladder had rotated out).  Out (each driver-green r10+r11, still
    # DuckDB-verified every round via scripts/check_contract.py):
    # select_dsir_weights (x2 — selection keeps dsir_gumbel_topk,
    # which scores THROUGH the weights path), select_quality_floor
    # (x2 — quality gains the KN gate), sample_split_by_cluster (x2 —
    # sampling keeps four fresh window reps: temperature_mix,
    # shuffle_order, split_assign, embedding_diverse).
    "sketch_heavy_hitters": sketch_heavy_hitters,
    "text_kn_trigram_logprob": text_kn_trigram_logprob,
    "ann_pq_adc_topk": ann_pq_adc_topk,
    # fourth session-2 slot: text_span_scrub in (the Dolma tagger/mixer
    # span-attribute pipeline), text_url_optout_screen out (x2 — the
    # text-screen family stays represented in-window by text_clean_c4
    # and text_robots_parse_screen)
    "text_span_scrub": text_span_scrub,
    # fifth session-2 slot: select_nb_quality in (the GPT-3-shape
    # two-class quality classifier), pipeline_crawl_to_corpus out (x2 —
    # pipelines keep crawl v2 + mix_shuffle_pack in-window)
    "select_nb_quality": select_nb_quality,
    # r13 rotation (VERDICT r12 task 1): the complete six-entry
    # rotation-IN pool the r12 session pre-documented — the last
    # never-driver-verified hash-checkable entries (each already
    # DuckDB-matched at both SFs in the committed r12 contract logs,
    # each with 10x scale evidence).  After this window the
    # never-windowed debt is exactly the permanent rows-only set.
    # Out (six multiply-green veterans, every family keeping an
    # in-window representative; all stay DuckDB-verified every round
    # via scripts/check_contract.py): sketch_quantile_totalprice (x4 —
    # sketches keep sketch_heavy_hitters), dedup_url_canonical (x3) +
    # dedup_corpus_paragraphs (x2) + dedup_winnow_pairs (x2 — dedup
    # keeps winnow_corpus + winnow_capped in-window),
    # select_dsir_gumbel_topk (x3 — selection keeps select_nb_quality),
    # source_warc_scan (x3 — sources keep source_warc_reshard).  In:
    # range-join and as-of/grid families REGAIN window reps
    # (range_join_event_windows rotated out in r11), sampling gains
    # soft-dedup weights, quality gains the StarCoder-style code
    # filters, reports gain the KL drift census, pipelines gain the
    # scrub->classify->report capstone.  The ten SCD core gates never
    # rotate (test_registry.py pins the invariant).
    "range_join_interval_overlap": range_join_interval_overlap,
    "events_gap_fill_locf": events_gap_fill_locf,
    "sample_softdedup_weights": sample_softdedup_weights,
    "text_code_quality": text_code_quality,
    "report_source_divergence": report_source_divergence,
    "pipeline_scrub_classify_report": pipeline_scrub_classify_report,
    # r13 rotate-on-add (the r10/r11/r12 precedent — a gate built this
    # round takes a window slot immediately): ann_pq_incremental in
    # (batch-arrival PQ probing a persisted code table against frozen
    # codebooks, VERDICT r12 task 6; ANN keeps ann_pq_adc_topk too).
    # Out: q4_order_priority (x2 — TPC-H keeps six fresh in-window
    # shapes: q7/q10/q13/q14/q17/q18; q4 stays DuckDB-verified every
    # round via scripts/check_contract.py).
    "ann_pq_incremental": ann_pq_incremental,
    # r13 second tranche (rotate-on-add): rolling z-score anomaly flags
    # (the monitoring primitive; events family keeps gap_fill too) and
    # the cross-source n-gram contamination matrix (reports family
    # keeps source_divergence too).  Out: q7_nation_volume +
    # q10_returned_items (each x2 — TPC-H keeps four fresh in-window
    # shapes: q13/q14/q17/q18; both stay DuckDB-verified every round
    # via scripts/check_contract.py).
    "events_anomaly_zscore": events_anomaly_zscore,
    "report_source_overlap": report_source_overlap,
    # r14 rotation (VERDICT r13 task 7): rotate-on-add puts the two
    # gates built this round straight into the window
    # (scd2_chain_outoforder - the out-of-order chain SCD2 fold, task
    # 6; multimodal_dedup_near - perceptual dHash + banded Hamming,
    # task 5), and with the never-windowed debt at zero the remaining
    # nine slots BACK-FILL the stalest out-of-window veterans (last
    # driver-green r3, per scripts/rotation_report.py's new staleness
    # pool) so no entry's most recent driver verification ages
    # without bound.  Out (eleven multiply-green veterans, all still
    # DuckDB-verified every round via scripts/check_contract.py):
    # multimodal_dedup_exact (x8 - the family keeps the NEW near-dup
    # gate plus back-filled image_features), variant_props_stats (x7),
    # decontam_bloom_screen (x5 - decontam keeps report_source_overlap),
    # dedup_winnow_corpus (x3 - dedup keeps winnow_capped),
    # pipeline_crawl_to_corpus_v2 (x3 - pipelines keep mix_shuffle_pack
    # + scrub_classify_report), q13 + q14 (x3 each - TPC-H keeps
    # q17/q18), text_bigram_logprob (x3 - LM scoring keeps the KN
    # gate), text_clean_c4 + text_robots_parse_screen (x3 each -
    # cleaning keeps span_scrub + url_domain_filter + dedupe_lines),
    # corpus_source_report (x2 - reports keep domain_census +
    # source_divergence + source_overlap).
    "scd2_chain_outoforder": scd2_chain_outoforder,
    "multimodal_dedup_near": multimodal_dedup_near,
    # second r14 tranche (rotate-on-add): the media-family dedup
    # endgame (pairs -> clusters -> keepers over the dHash pair set).
    # Out: scalar_functions_showcase returns to the back-fill pool
    # (the remaining eight back-fills keep their slots).
    "multimodal_dedup_near_corpus": multimodal_dedup_near_corpus,
    # third r14 tranche (rotate-on-add): the audio perceptual near-dup
    # sibling.  Out: knn_brute_force returns to the back-fill pool.
    "multimodal_dedup_near_audio": multimodal_dedup_near_audio,
    # fourth r14 tranche (rotate-on-add): the video frame-hash sibling.
    # Out: join_left_outer_order_counts returns to the back-fill pool.
    "multimodal_dedup_near_video": multimodal_dedup_near_video,
    # r15 rotation (rotate-on-add, VERDICT r14 task 3): the IVF×PQ
    # composed ANN gate takes a window slot on creation.  Out:
    # multimodal_image_features returns to the back-fill pool (x2 —
    # the multimodal family keeps four in-window reps: dedup_near,
    # dedup_near_corpus, dedup_near_audio, dedup_near_video).
    "ann_ivf_pq_topk": ann_ivf_pq_topk,
    # r15 second tranche (rotate-on-add): the frozen-index incremental
    # serving loop (arrival encode+assign, persisted codes+assignment,
    # probe-restricted ADC).  Out: window_lead_ntile_orders returns to
    # the back-fill pool (it re-verifies next round).
    "ann_ivf_pq_incremental": ann_ivf_pq_incremental,
    # r15 staleness back-fill (the r14 discipline): with the IN-pool
    # debt at zero, the remaining window slots go to the five stalest
    # out-of-window veterans (last driver-green r3, per
    # scripts/rotation_report.py) so no entry's most recent driver
    # verification ages without bound.  Out: agg_approx_distinct_check,
    # agg_cube_status_priority, agg_having_big_customers,
    # agg_rollup_returnflag, date_functions_showcase (each x4
    # driver-green r11-r14; all stay DuckDB-verified every round via
    # scripts/check_contract.py).
    "join_left_outer_order_counts": join_left_outer_order_counts,
    "knn_brute_force": knn_brute_force,
    "scalar_functions_showcase": scalar_functions_showcase,
    "text_token_count": text_token_count,
    # --- beyond the driver window (slot >50) ----------------------------
    "window_lead_ntile_orders": window_lead_ntile_orders,
    "agg_approx_distinct_check": agg_approx_distinct_check,
    "agg_cube_status_priority": agg_cube_status_priority,
    "agg_having_big_customers": agg_having_big_customers,
    "agg_rollup_returnflag": agg_rollup_returnflag,
    "date_functions_showcase": date_functions_showcase,
    "multimodal_image_features": multimodal_image_features,
    # r14 displaced veterans (see the r14 rotation comment above):
    "multimodal_dedup_exact": multimodal_dedup_exact,
    "variant_props_stats": variant_props_stats,
    "decontam_bloom_screen": decontam_bloom_screen,
    "dedup_winnow_corpus": dedup_winnow_corpus,
    "pipeline_crawl_to_corpus_v2": pipeline_crawl_to_corpus_v2,
    "q13_customer_distribution": q13_customer_distribution,
    "q14_promo_revenue": q14_promo_revenue,
    "text_bigram_logprob": text_bigram_logprob,
    "text_clean_c4": text_clean_c4,
    "text_robots_parse_screen": text_robots_parse_screen,
    "corpus_source_report": corpus_source_report,
    "q7_nation_volume": q7_nation_volume,
    "q10_returned_items": q10_returned_items,
    "q4_order_priority": q4_order_priority,
    # r13 displaced veterans (see the r13 rotation comment above):
    "sketch_quantile_totalprice": sketch_quantile_totalprice,
    "dedup_url_canonical": dedup_url_canonical,
    "select_dsir_gumbel_topk": select_dsir_gumbel_topk,
    "source_warc_scan": source_warc_scan,
    "dedup_corpus_paragraphs": dedup_corpus_paragraphs,
    "dedup_winnow_pairs": dedup_winnow_pairs,
    # r12 session-2 displaced veterans (see the rotation comment above):
    "select_dsir_weights": select_dsir_weights,
    "select_quality_floor": select_quality_floor,
    "sample_split_by_cluster": sample_split_by_cluster,
    "text_url_optout_screen": text_url_optout_screen,
    "pipeline_crawl_to_corpus": pipeline_crawl_to_corpus,
    # r12 displaced veterans (see the r12 rotation comment above):
    "q21_waiting_orders": q21_waiting_orders,
    "q2_min_cost_supplier": q2_min_cost_supplier,
    "q9_product_profit": q9_product_profit,
    "q20_excess_shippers": q20_excess_shippers,
    "q15_top_supplier": q15_top_supplier,
    "q22_global_sales_opportunity": q22_global_sales_opportunity,
    "q19_disjunctive_pred": q19_disjunctive_pred,
    "q16_supplier_part_counts": q16_supplier_part_counts,
    "q11_important_stock": q11_important_stock,
    "q12_shipping_priority_classes": q12_shipping_priority_classes,
    "fuzzy_link_master": fuzzy_link_master,
    "sample_weighted_docs": sample_weighted_docs,
    "dedup_embedding_lsh_incremental": dedup_embedding_lsh_incremental,
    # Near-duplicates of gates above; every operator family keeps a
    # driver-window representative.  All of these stay value-checked
    # against their DuckDB oracles by scripts/check_contract.py.
    # r11 displaced veterans (see the r11 rotation comment above):
    "range_join_event_windows": range_join_event_windows,
    "pipeline_semantic_dedup": pipeline_semantic_dedup,
    "sql_recursive_calendar": sql_recursive_calendar,
    "table_profile_documents": table_profile_documents,
    "text_bpe_tokenize": text_bpe_tokenize,
    "text_bpe_batched": text_bpe_batched,
    "text_hash_embed_ann": text_hash_embed_ann,
    "text_lang_id_ngram": text_lang_id_ngram,
    "text_redact_pii": text_redact_pii,
    "text_repetition_stats": text_repetition_stats,
    "lateral_recent_orders": lateral_recent_orders,
    "q8_national_market_share": q8_national_market_share,
    "text_inverted_index": text_inverted_index,
    "sketch_merge_distinct_users": sketch_merge_distinct_users,
    # r10 displaced veterans (see the r10 rotation comment above):
    "q5_local_supplier_revenue": q5_local_supplier_revenue,
    "window_range_frame_spend": window_range_frame_spend,
    "agg_median_listagg": agg_median_listagg,
    "dedup_embedding_lsh_auto": dedup_embedding_lsh_auto,
    "pack_sequences_ctx": pack_sequences_ctx,
    "decontam_ngram_overlap": decontam_ngram_overlap,
    "pipeline_corpus_to_sequences": pipeline_corpus_to_sequences,
    "dedup_exact_substring": dedup_exact_substring,
    "dedup_cluster_assign": dedup_cluster_assign,
    "graph_pagerank_dups": graph_pagerank_dups,
    "dedup_simhash_near": dedup_simhash_near,
    "dedup_minhash_incremental": dedup_minhash_incremental,
    "shard_assignment": shard_assignment,
    # (window_lead_ntile_orders, text_token_count: promoted to the r15
    # window back-fill — see the rotation comment above)
    "sample_deterministic": sample_deterministic,
    "feature_histogram": feature_histogram,
    "unpivot_part_metrics": unpivot_part_metrics,
    "subquery_correlated_max_order": subquery_correlated_max_order,
    # r6 rotation: displaced multiply-green veterans — every one stays
    # DuckDB-verified by scripts/check_contract.py each round
    "agg_grouping_sets": agg_grouping_sets,
    "events_window_counts": events_window_counts,
    "q6_revenue_forecast": q6_revenue_forecast,
    "agg_percentiles_per_segment": agg_percentiles_per_segment,
    "pivot_nation_by_segment": pivot_nation_by_segment,
    "json_props_stats": json_props_stats,
    "setop_intersect_except": setop_intersect_except,
    "array_functions_showcase": array_functions_showcase,
    # r6 second rotation: displaced veterans + the two r6 operators that
    # did not get a window slot (next round's rotation candidates)
    "agg_distinct_parts_per_supplier": agg_distinct_parts_per_supplier,
    "window_topk_parts_per_brand": window_topk_parts_per_brand,
    "join_semi_customers_with_big_order": join_semi_customers_with_big_order,
    "text_doc_fingerprint": text_doc_fingerprint,
    "ivf_cosine_topk": ivf_cosine_topk_q,
    # (text_chunk_sliding, text_url_domain_filter, sample_split_assign,
    # text_script_detect, corpus_source_report: promoted to the r12
    # driver window — see the rotation comment above)
    # r7: the TPC-H suite completed — every remaining shape adapted to
    # the reduced schema (no partsupp/shipmode/commitdate; see each
    # docstring).  q21/q2/q9/q20/q15/q22 promoted to the window in r9;
    # q19/q16/q11/q12 in r10; q4/q7/q10/q13/q14/q17/q18 in r11 — every
    # TPC-H shape is now driver-verified or in this round's window.
    # displaced in the r6 sixth rotation (green r3+r4+r5; quality and
    # conditional-agg families keep newer in-window representatives)
    "agg_filtered_event_stats": agg_filtered_event_stats,
    "text_quality_stats": text_quality_stats,
    # displaced in the r6 fifth rotation (all multiply-green; their
    # families stay window-represented by newer gates)
    "dedup_exact": dedup_exact,
    "skew_salted_order_stats": skew_salted_order_stats,
    "window_running_supplier_revenue": window_running_supplier_revenue,
    "text_lang_id": text_lang_id,
    # displaced in the third r6 rotation (both green r3+r4+r5)
    "join_anti_customers_without_orders": join_anti_customers_without_orders,
    "dedup_simhash": dedup_simhash,
    # displaced in the r6 seventh rotation (multiply-green; their
    # families keep newer in-window representatives)
    "multimodal_chunking": multimodal_chunking,
    "events_sessionize": events_sessionize,
    "join_full_outer_period_activity": join_full_outer_period_activity,
    # displaced in the r7 rotation (each green 3-4 driver rounds; their
    # families keep in-window representatives) — still DuckDB-verified
    # by scripts/check_contract.py every round
    "q1_pricing_summary": q1_pricing_summary,
    "q3_shipping_priority": q3_shipping_priority,
    "asof_join_click_purchase": asof_join_click_purchase,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_embedding_lsh": dedup_embedding_lsh,
    # r7: distributed BPE vocabulary induction (rows-only: iterative)
    "text_bpe_train": text_bpe_train,
    "ann_lsh_topk": ann_lsh_topk,
    "text_bm25_topk": text_bm25_topk,
    "dedup_corpus_canonical": dedup_corpus_canonical,
    "ivf_kmeans_topk": ivf_kmeans_topk,  # oracle replays the k-means training in SQL
    # displaced in the r9 rotation (each driver-green 2-3 rounds; their
    # families keep in-window representatives — see the window comment)
    # — still DuckDB-verified by scripts/check_contract.py every round
    "embedding_quantize_int8": embedding_quantize_int8,
    "text_clean_normalize": text_clean_normalize,
    "text_strip_html": text_strip_html,
    "corpus_top_ngrams": corpus_top_ngrams,
    "sample_top_n_per_group": sample_top_n_per_group,
    "multimodal_frame_sample": multimodal_frame_sample,
    "multimodal_audio_features": multimodal_audio_features,
    "text_unigram_logprob": text_unigram_logprob,
    "sample_token_budget_per_source": sample_token_budget_per_source,
    "skew_salted_join_orders": skew_salted_join_orders,
    "text_remove_boilerplate": text_remove_boilerplate,
    # (text_dedupe_lines_in_doc, source_warc_reshard,
    # sample_temperature_mix, sample_shuffle_order,
    # sample_embedding_diverse, report_domain_census: promoted to the
    # r12 driver window — the never-driver-verified pool is now EMPTY;
    # see the rotation comment above.  text_compression_ratio stays
    # here: rows-only by design, it can never hash-green.)
    "text_compression_ratio": text_compression_ratio,
    # rows-only layout gate, swapped out of the window in r9 (it can
    # never hash-green; its in-gate skip-fraction assertions still run
    # here via check_contract.py's rows-only path)
    "layout_zorder_skipping": layout_zorder_skipping,
    # (the six r12 session-2 later tranches — interval overlap, LOCF
    # grid fill, soft dedup weights, code filters, KL drift report,
    # and the scrub->classify->report capstone — were promoted to the
    # r13 driver window above; the never-driver-verified pool is now
    # exactly the permanent rows-only set, per rotation_report.py)
}
ORACLES.update(_SQL_SURFACE_ORACLES)
ORACLES.update(EXT_ORACLES)

ORACLES["range_join_event_windows"] = f"""
    WITH w AS (SELECT i AS window_id,
                      {_WINDOW_EPOCH_US} + i*{_WINDOW_STEP_US} AS start_us,
                      {_WINDOW_EPOCH_US} + i*{_WINDOW_STEP_US} + {_WINDOW_LEN_US} AS end_us
               FROM (SELECT unnest(range(60)) AS i)),
    e AS (SELECT epoch_us(ts) AS ts_us, value FROM events)
    SELECT window_id, COUNT(*) AS n_events,
           CAST(SUM(CAST(FLOOR(value*1e6+0.5) AS BIGINT)) AS BIGINT) AS sum_value_micros
    FROM e JOIN w ON w.start_us <= e.ts_us AND e.ts_us < w.end_us
    GROUP BY 1
"""

# transitive closure over the SAME LSH pair set the minhash oracle
# produces, labeled by component minimum — the SQL form of
# operators/cluster.dup_clusters' fixpoint
def _lang_id_ngram_oracle() -> str:
    """DuckDB replica of operators.text.lang_id_ngram: the SAME
    embedded trigram profiles as a VALUES list (quote-escaped), the
    same padded-distinct-trigram extraction, the same argmax with
    declaration-order tiebreak — the classification is value-checked,
    not just reproduced in shape."""
    from hive_scd_spark.operators.text import LANG_PROFILES

    rows = ", ".join(
        "({o}, '{lang}', '{g}')".format(o=o, lang=lang, g=g.replace("'", "''"))
        for o, lang in enumerate(LANG_PROFILES)
        for g in LANG_PROFILES[lang]
    )
    return f"""
    WITH prof(ord, lang, g) AS (VALUES {rows}),
    tri AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, GREATEST(len(p) - 2, 1) + 1),
                           i -> substr(p, i, 3))) AS tris
      FROM (SELECT doc_id, ' ' || lower(coalesce(text, '')) || ' ' AS p
            FROM documents)
    ),
    x AS (SELECT doc_id, unnest(tris) AS g FROM tri),
    scores AS (SELECT x.doc_id, p.ord, p.lang, COUNT(*) AS s
               FROM x JOIN prof p USING (g) GROUP BY 1, 2, 3),
    pick AS (SELECT doc_id, lang, s,
                    ROW_NUMBER() OVER (PARTITION BY doc_id
                                       ORDER BY s DESC, ord) AS rk
             FROM scores)
    SELECT t.doc_id,
           COALESCE(p.lang, 'und') AS pred_lang,
           COALESCE(ROUND(CAST(p.s AS DOUBLE) / len(t.tris), 6), 0.0) AS confidence
    FROM tri t
    LEFT JOIN (SELECT * FROM pick WHERE rk = 1) p USING (doc_id)
    """


ORACLES["text_lang_id_ngram"] = _lang_id_ngram_oracle()

ORACLES["text_clean_normalize"] = """
    WITH aug AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0
                  THEN text || '  see https://example.com/x?q=1 or mail a.b@test.org  '
                  ELSE text END AS text
      FROM documents
    ), steps AS (
      -- whitespace is an explicit class, not \\s: Java \\s includes
      -- \\x0B, RE2 \\s does not (see operators/text.py WS_CLASS)
      SELECT doc_id, text,
             regexp_replace(text, 'https?://[^ \\t\\n\\x0B\\f\\r]+', ' ', 'g') AS no_url
      FROM aug
    ), steps2 AS (
      SELECT doc_id, text, no_url,
             regexp_replace(no_url,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+', ' ', 'g') AS no_email
      FROM steps
    ), fin AS (
      SELECT doc_id, text, no_url, no_email,
             trim(regexp_replace(no_email, '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')) AS cleaned
      FROM steps2
    )
    SELECT doc_id,
           md5(cleaned) AS clean_md5,
           CAST(len(text) <> len(no_url) AS BIGINT) AS had_url,
           CAST(len(no_url) <> len(no_email) AS BIGINT) AS had_email,
           CAST(len(text) AS BIGINT) AS n_chars_raw,
           CAST(len(cleaned) AS BIGINT) AS n_chars_clean
    FROM fin
"""

ORACLES["pipeline_corpus_to_sequences"] = f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + {DUP_ID_OFFSET}, text FROM documents WHERE doc_id % 5 = 0
    ), canon AS (
      SELECT MIN(doc_id) AS doc_id FROM corpus
      GROUP BY md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
    ), w AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^0-9a-z_]+'),
                         x -> x <> '') AS w
      FROM documents
    ), g AS (
      SELECT DISTINCT doc_id, h FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, CAST(len(w) AS BIGINT) - 11), i ->
                 ('0x' || substring(md5(array_to_string(w[i:i+12], ' ')), 1, 15))::BIGINT)) AS h
        FROM w WHERE len(w) >= 13)
    ), contaminated AS (
      SELECT DISTINCT t.doc_id
      FROM (SELECT * FROM g WHERE NOT (doc_id % 97 = 0 AND doc_id < 19400)) t
      JOIN (SELECT * FROM g WHERE doc_id % 97 = 0 AND doc_id < 19400) e USING (h)
    ), surv AS (
      SELECT d.doc_id, d.source,
             CAST(len(regexp_extract_all(d.text, '\\w+|[^\\w\\s]')) AS BIGINT) AS n
      FROM documents d JOIN canon USING (doc_id)
      WHERE NOT (d.doc_id % 97 = 0 AND d.doc_id < 19400)
        AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)
        AND len(regexp_extract_all(d.text, '\\w+|[^\\w\\s]')) >= 40
        -- r6: train-split selection (split_assign, 800 per-mille)
        AND ('0x' || substr(md5('split:' || CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000 < 800
    ), capped AS (
      SELECT doc_id, n FROM (
        SELECT doc_id, n,
               ROW_NUMBER() OVER (PARTITION BY source
                 ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        FROM surv) WHERE rk <= 15
    ), pre AS (
      SELECT doc_id, n,
             CAST(COALESCE(SUM(n) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS s
      FROM capped
    ), x AS (
      SELECT doc_id, n, s,
             unnest(range(s // 128, (s + n - 1) // 128 + 1)) AS seq_id
      FROM pre
    )
    SELECT doc_id, CAST(seq_id AS BIGINT) AS seq_id,
           CAST(GREATEST(0, seq_id*128 - s) AS BIGINT) AS slice_start,
           CAST(LEAST(n, (seq_id+1)*128 - s)
                - GREATEST(0, seq_id*128 - s) AS BIGINT) AS slice_len
    FROM x
"""

ORACLES["sample_top_n_per_group"] = """
    WITH r AS (
      SELECT doc_id, source,
             CAST(ROW_NUMBER() OVER (PARTITION BY source
                    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rk
      FROM documents)
    SELECT doc_id, source, rk FROM r WHERE rk <= 20
"""

ORACLES["pack_sequences_ctx"] = """
    WITH tok AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS BIGINT) AS n
      FROM documents
    ), nz AS (SELECT * FROM tok WHERE n > 0),
    pre AS (
      SELECT doc_id, n,
             CAST(COALESCE(SUM(n) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS s
      FROM nz
    ), x AS (
      SELECT doc_id, n, s,
             unnest(range(s // 512, (s + n - 1) // 512 + 1)) AS seq_id
      FROM pre
    )
    SELECT doc_id,
           CAST(seq_id AS BIGINT) AS seq_id,
           CAST(GREATEST(0, seq_id*512 - s) AS BIGINT) AS slice_start,
           CAST(LEAST(n, (seq_id+1)*512 - s)
                - GREATEST(0, seq_id*512 - s) AS BIGINT) AS slice_len
    FROM x
"""

ORACLES["decontam_ngram_overlap"] = """
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^0-9a-z_]+'),
                         x -> x <> '') AS w
      FROM documents
    ), g0 AS (
      SELECT doc_id,
             unnest(list_transform(range(1, CAST(len(w) AS BIGINT) - 11), i ->
               ('0x' || substring(md5(array_to_string(w[i:i+12], ' ')), 1, 15))::BIGINT)) AS h
      FROM w WHERE len(w) >= 13
    ), g AS (SELECT DISTINCT doc_id, h FROM g0)
    SELECT t.doc_id AS train_id, e.doc_id AS eval_id,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM (SELECT * FROM g WHERE NOT (doc_id % 97 = 0 AND doc_id < 19400)) t
    JOIN (SELECT * FROM g WHERE doc_id % 97 = 0 AND doc_id < 19400) e USING (h)
    GROUP BY 1, 2
"""

# Bloom screen replay: the bitmap is just the distinct SET of md5 bit
# positions the benchmark grams touch, so DuckDB needs no nibble
# mechanics — membership of all k probe positions in that set IS the
# "all k bits set" test.  Gram CTE shape identical to
# decontam_ngram_overlap above (n=13: range end len-11, slice w[i:i+12]).
ORACLES["decontam_bloom_screen"] = """
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^0-9a-z_]+'),
                         x -> x <> '') AS w
      FROM documents
    ), g0 AS (
      SELECT doc_id,
             unnest(list_transform(range(1, CAST(len(w) AS BIGINT) - 11), i ->
               array_to_string(w[i:i+12], ' '))) AS g
      FROM w WHERE len(w) >= 13
    ), g AS (SELECT DISTINCT doc_id, g FROM g0),
    bits AS (
      SELECT DISTINCT
             ('0x' || substring(md5(CAST(r.j AS VARCHAR) || ':' || e.g), 1, 15))::BIGINT
               % 262144 AS p
      FROM (SELECT DISTINCT g FROM g
            WHERE doc_id % 7 = 0 AND doc_id < 700) e
      CROSS JOIN range(1, 5) r(j)
    ),
    train AS (SELECT doc_id, g FROM g
              WHERE NOT (doc_id % 7 = 0 AND doc_id < 700)),
    hitg AS (
      SELECT t.doc_id, t.g
      FROM train t
      CROSS JOIN range(1, 5) r(j)
      JOIN bits b
        ON ('0x' || substring(md5(CAST(r.j AS VARCHAR) || ':' || t.g), 1, 15))::BIGINT
             % 262144 = b.p
      GROUP BY t.doc_id, t.g
      HAVING count(*) = 4
    ),
    nh AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit
           FROM hitg GROUP BY doc_id),
    ng AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
           FROM train GROUP BY doc_id)
    SELECT nh.doc_id, ng.n_grams, nh.n_hit
    FROM nh JOIN ng USING (doc_id)
"""

ORACLES["table_profile_documents"] = """
    SELECT 'doc_id' AS col_name, count(*) AS n_rows,
           CAST(count(*) - count(doc_id) AS BIGINT) AS n_nulls,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_distinct,
           CAST(min(doc_id) AS VARCHAR) AS min_str,
           CAST(max(doc_id) AS VARCHAR) AS max_str
    FROM documents
    UNION ALL
    SELECT 'text', count(*), CAST(count(*) - count(text) AS BIGINT),
           CAST(count(DISTINCT text) AS BIGINT),
           CAST(min(text) AS VARCHAR), CAST(max(text) AS VARCHAR)
    FROM documents
    UNION ALL
    SELECT 'lang', count(*), CAST(count(*) - count(lang) AS BIGINT),
           CAST(count(DISTINCT lang) AS BIGINT),
           CAST(min(lang) AS VARCHAR), CAST(max(lang) AS VARCHAR)
    FROM documents
    UNION ALL
    SELECT 'source', count(*), CAST(count(*) - count(source) AS BIGINT),
           CAST(count(DISTINCT source) AS BIGINT),
           CAST(min(source) AS VARCHAR), CAST(max(source) AS VARCHAR)
    FROM documents
    UNION ALL
    SELECT 'n_chars', count(*), CAST(count(*) - count(n_chars) AS BIGINT),
           CAST(count(DISTINCT n_chars) AS BIGINT),
           CAST(min(n_chars) AS VARCHAR), CAST(max(n_chars) AS VARCHAR)
    FROM documents
"""

# Shared DuckDB CTE: the substring-gram census (n=15, max_df handled by
# consumers) used by BOTH the substring-dedup oracle and the pagerank
# oracle — one definition so the two gates cannot drift (the literals
# 13/14/15 encode n=15: range end len-13, slice width 14+1 words).
_SUBSTRING_GRAM_CTE = """    WITH w AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^0-9a-z_]+'),
                         x -> x <> '') AS w
      FROM documents
    ), g0 AS (
      SELECT doc_id,
             unnest(list_transform(range(1, CAST(len(w) AS BIGINT) - 13), i ->
               ('0x' || substring(md5(array_to_string(w[i:i+14], ' ')), 1, 15))::BIGINT)) AS h
      FROM w WHERE len(w) >= 15
    ), g AS (SELECT DISTINCT doc_id, h FROM g0),
    df AS (SELECT h, count(*) AS c, min(doc_id) AS rep FROM g GROUP BY h)"""

ORACLES["dedup_exact_substring"] = f"""
{_SUBSTRING_GRAM_CTE}
    SELECT d.rep AS id_a, g.doc_id AS id_b, CAST(count(*) AS BIGINT) AS n_shared
    FROM g JOIN df d USING (h)
    WHERE d.c BETWEEN 2 AND 50 AND g.doc_id <> d.rep
    GROUP BY 1, 2
"""

# MATERIALIZED on the pair CTEs feeding recursive closures (r11,
# VERDICT r10 task 5): without it DuckDB re-evaluates the whole
# non-recursive CTE chain on EVERY recursion iteration — measured
# 21.5 s → 0.6 s on dedup_corpus_canonical and 69 s → 5.4 s on
# dedup_winnow_corpus at sf0.1, identical results.  This was most of
# the contract run's cluster-family wall time.
ORACLES["dedup_cluster_assign"] = f"""
    WITH RECURSIVE pairs AS MATERIALIZED ({_minhash_oracle()}),
    und AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM pairs
            UNION SELECT id_b, id_a FROM pairs),
    reach(a, b) AS (
      SELECT a, a FROM (SELECT DISTINCT a FROM und) n
      UNION
      SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a
    )
    SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a
"""

ORACLES["sample_softdedup_weights"] = f"""
    WITH RECURSIVE pairs AS MATERIALIZED ({_minhash_oracle()}),
    und AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM pairs
            UNION SELECT id_b, id_a FROM pairs),
    reach(a, b) AS (
      SELECT a, a FROM (SELECT DISTINCT a FROM und) n
      UNION
      SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a
    ),
    cl AS (SELECT a AS node, MIN(b) AS cluster FROM reach GROUP BY a),
    sz AS (SELECT cluster, CAST(count(*) AS BIGINT) AS csz FROM cl GROUP BY 1),
    lab AS (SELECT cl.node, sz.csz FROM cl JOIN sz USING (cluster))
    SELECT d.doc_id, COALESCE(lab.csz, 1) AS cluster_size,
           ROUND(1.0 / CAST(COALESCE(lab.csz, 1) AS DOUBLE), 6) AS weight
    FROM documents d LEFT JOIN lab ON d.doc_id = lab.node
"""

ORACLES["sample_split_by_cluster"] = f"""
    WITH RECURSIVE pairs AS MATERIALIZED ({_minhash_oracle()}),
    und AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM pairs
            UNION SELECT id_b, id_a FROM pairs),
    reach(a, b) AS (
      SELECT a, a FROM (SELECT DISTINCT a FROM und) n
      UNION
      SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a
    ),
    cl AS (SELECT a AS node, MIN(b) AS cluster FROM reach GROUP BY a),
    keyed AS (
      SELECT d.doc_id, COALESCE(cl.cluster, d.doc_id) AS split_key
      FROM documents d LEFT JOIN cl ON d.doc_id = cl.node
    )
    SELECT doc_id, split_key,
           CASE WHEN ('0x' || substr(md5('split:' || CAST(split_key AS VARCHAR)), 1, 8))::BIGINT % 1000 < 800 THEN 'train'
                WHEN ('0x' || substr(md5('split:' || CAST(split_key AS VARCHAR)), 1, 8))::BIGINT % 1000 < 900 THEN 'val'
                ELSE 'test' END AS split
    FROM keyed
"""

# Analytic ground truth, NOT a canonicalizer replica: the expected
# canonical form follows from the fixture's plant structure alone
ORACLES["dedup_url_canonical"] = """
    WITH f AS (
      SELECT doc_id,
             'https://example' || CAST(doc_id % 97 AS VARCHAR) || '.com/docs/' ||
             CAST(doc_id % 37 AS VARCHAR) ||
             CASE WHEN doc_id % 6 IN (4, 5) THEN '?a=1&b=2' ELSE '' END AS url_canon
      FROM documents
    ),
    k AS (SELECT url_canon, MIN(doc_id) AS keeper FROM f GROUP BY 1)
    SELECT f.doc_id, f.url_canon, k.keeper,
           CAST(CASE WHEN f.doc_id <> k.keeper THEN 1 ELSE 0 END AS INT) AS is_dup
    FROM f JOIN k USING (url_canon)
"""

# Shared DSIR weight computation (both select_dsir_* oracles): the
# full published chain — tokenize, unigrams+bigrams, md5 bucket hash,
# add-one-smoothed target/raw bucket models, per-doc ln-ratio sum.
_DSIR_WEIGHTS_CTE = """
    tgt AS (SELECT doc_id, text FROM documents WHERE source IN ('src0','src1')),
    raw AS (SELECT doc_id, text FROM documents WHERE source NOT IN ('src0','src1')),
    rtoks AS (SELECT doc_id,
                     list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                                 t -> t <> '') AS toks FROM raw),
    ttoks AS (SELECT doc_id,
                     list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                                 t -> t <> '') AS toks FROM tgt),
    rgrams AS (
      SELECT doc_id, unnest(toks || CASE WHEN len(toks) >= 2
               THEN list_transform(range(1, CAST(len(toks) AS BIGINT)),
                                   i -> toks[i] || ' ' || toks[i+1])
               ELSE [] END) AS gram
      FROM rtoks),
    tgrams AS (
      SELECT doc_id, unnest(toks || CASE WHEN len(toks) >= 2
               THEN list_transform(range(1, CAST(len(toks) AS BIGINT)),
                                   i -> toks[i] || ' ' || toks[i+1])
               ELSE [] END) AS gram
      FROM ttoks),
    rfeat AS (SELECT doc_id,
                     ('0x' || substr(md5('dsir:' || gram), 1, 8))::BIGINT % 512
                       AS bucket FROM rgrams),
    tfeat AS (SELECT doc_id,
                     ('0x' || substr(md5('dsir:' || gram), 1, 8))::BIGINT % 512
                       AS bucket FROM tgrams),
    qm AS (SELECT bucket, CAST(count(*) AS BIGINT) AS qc FROM rfeat GROUP BY 1),
    pm AS (SELECT bucket, CAST(count(*) AS BIGINT) AS pc FROM tfeat GROUP BY 1),
    tot AS (SELECT (SELECT COALESCE(CAST(SUM(qc) AS BIGINT), 0) FROM qm) AS qt,
                   (SELECT COALESCE(CAST(SUM(pc) AS BIGINT), 0) FROM pm) AS pt),
    db AS (SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS dc
           FROM rfeat GROUP BY 1, 2),
    sc AS (
      SELECT db.doc_id, CAST(SUM(dc) AS BIGINT) AS n_feats,
             ROUND(SUM(dc * (ln((COALESCE(pc, 0) + 1)::DOUBLE / (pt + 512))
                           - ln((COALESCE(qc, 0) + 1)::DOUBLE / (qt + 512)))),
                   6) AS dsir_logw
      FROM db LEFT JOIN pm USING (bucket) LEFT JOIN qm USING (bucket)
      CROSS JOIN tot
      GROUP BY 1),
    weights AS (
      SELECT r.doc_id, COALESCE(sc.n_feats, 0) AS n_feats,
             COALESCE(sc.dsir_logw, 0.0) AS dsir_logw
      FROM raw r LEFT JOIN sc ON r.doc_id = sc.doc_id)
"""

ORACLES["select_quality_floor"] = """
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS t
      FROM documents
    ), tok2 AS (SELECT * FROM toks WHERE t <> ''),
    counts AS (SELECT t, count(*) AS c FROM tok2 GROUP BY 1),
    total AS (SELECT CAST(SUM(c) AS DOUBLE) AS tot FROM counts),
    vocab AS (SELECT t, c FROM counts ORDER BY c DESC, t LIMIT 30),
    scored AS (
      SELECT k.doc_id, CAST(COALESCE(v.c, 1) AS DOUBLE) AS cc
      FROM tok2 k LEFT JOIN vocab v USING (t)
    ),
    lm AS (
      SELECT doc_id,
             ROUND(AVG(ln(cc / (SELECT tot FROM total))), 6) AS avg_logprob
      FROM scored GROUP BY doc_id
    ),
    ranked AS (
      SELECT d.doc_id, d.source, lm.avg_logprob,
             CAST(ROW_NUMBER() OVER (PARTITION BY d.source
                    ORDER BY lm.avg_logprob DESC, d.doc_id) AS INT) AS q_rank,
             CAST(COUNT(*) OVER (PARTITION BY d.source) AS BIGINT) AS n_group
      FROM documents d JOIN lm USING (doc_id)
    )
    SELECT doc_id, source, avg_logprob, q_rank, n_group
    FROM ranked WHERE q_rank <= (n_group * 600 + 999) // 1000
"""

# Analytic ground truth from the plant structure: host, path, and rule
# coverage derive from doc_id arithmetic, never from the canonicalizer
ORACLES["text_url_optout_screen"] = """
    SELECT doc_id,
           'example' || CAST(doc_id % 97 AS VARCHAR) || '.com' AS domain,
           CAST(CASE WHEN doc_id % 97 = 7 THEN 1
                     WHEN doc_id % 97 = 13
                          AND starts_with('/docs/' || CAST(doc_id % 37 AS VARCHAR),
                                          '/docs/1') THEN 1
                     ELSE 0 END AS INT) AS disallowed
    FROM documents
"""

# Analytic ground truth for the WARC scan: every column derives from
# the documents table, never from re-running the parser
ORACLES["source_warc_scan"] = """
    SELECT doc_id,
           CAST(200 AS INT) AS http_status,
           CAST(octet_length(encode(COALESCE(text, ''))) AS BIGINT)
             AS payload_bytes,
           'https://example' || CAST(doc_id % 97 AS VARCHAR) || '.com/docs/'
             || CAST(doc_id % 37 AS VARCHAR) AS target_uri
    FROM documents
"""

# the reshard gate reproduces the source_warc_scan surface from a
# monolithic archive — same analytic ground truth
ORACLES["source_warc_reshard"] = ORACLES["source_warc_scan"]

# Full replay of the temperature-mix float path: every step is
# correctly-rounded-deterministic (sqrt ladder, ordered fold, one
# divide/multiply/floor), so the doubles agree bit-for-bit and the
# integer repeats replay exactly.  list_reduce folds the source
# weights in sorted-name order — the same addition order as the Spark
# side's sort_array aggregate.
ORACLES["sample_temperature_mix"] = r"""
    WITH d AS (
      SELECT doc_id, source,
             CAST(len(list_filter(string_split_regex(trim(COALESCE(text, '')),
                                                     '\s+'),
                                  x -> x <> '')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    s AS (SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS n
          FROM d GROUP BY 1 HAVING SUM(n_tokens) > 0),
    w AS (SELECT source, n, sqrt(CAST(n AS DOUBLE)) AS w FROM s),
    tot AS (SELECT list_reduce(list(w ORDER BY source), (a, b) -> a + b)
              AS sm FROM w),
    tg AS (SELECT source, n,
                  CAST(FLOOR(CAST(50000 AS DOUBLE) * (w / sm)) AS BIGINT)
                    AS target
           FROM w, tot),
    cum AS (
      SELECT d.doc_id, d.source, d.n_tokens, tg.n, tg.target,
             COALESCE(SUM(d.n_tokens) OVER (
               PARTITION BY d.source
               ORDER BY md5('tmix:' || CAST(d.doc_id AS VARCHAR)), d.doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS before
      FROM d LEFT JOIN tg USING (source)
    )
    SELECT doc_id, source, n_tokens,
           CAST(COALESCE(target // n
                         + CASE WHEN before < target % n THEN 1 ELSE 0 END,
                         0) AS BIGINT) AS n_repeats
    FROM cum
"""

ORACLES["sample_shuffle_order"] = """
    SELECT doc_id,
           CAST(ROW_NUMBER() OVER (
             ORDER BY md5('order1:' || CAST(doc_id AS VARCHAR)), doc_id
           ) AS BIGINT) AS shuffle_rank
    FROM documents
"""

# mix → repeat-expand → shuffle → pack, replayed end-to-end: the
# temperature CTEs are the sample_temperature_mix contract verbatim;
# repeats expand with generate_series; the shuffle is ROW_NUMBER over
# the same md5(salt:rep_id) total order; packing is the running-sum
# span arithmetic of pack_sequences_ctx in shuffle_rank order.
ORACLES["pipeline_mix_shuffle_pack"] = r"""
    WITH d AS (
      SELECT doc_id, source,
             CAST(len(list_filter(string_split_regex(trim(COALESCE(text, '')),
                                                     '\s+'),
                                  x -> x <> '')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    s AS (SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS n
          FROM d GROUP BY 1 HAVING SUM(n_tokens) > 0),
    w AS (SELECT source, n, sqrt(CAST(n AS DOUBLE)) AS w FROM s),
    tot AS (SELECT list_reduce(list(w ORDER BY source), (a, b) -> a + b)
              AS sm FROM w),
    tg AS (SELECT source, n,
                  CAST(FLOOR(CAST(50000 AS DOUBLE) * (w / sm)) AS BIGINT)
                    AS target
           FROM w, tot),
    cum AS (
      SELECT d.doc_id, d.n_tokens, tg.n, tg.target,
             COALESCE(SUM(d.n_tokens) OVER (
               PARTITION BY d.source
               ORDER BY md5('tmix:' || CAST(d.doc_id AS VARCHAR)), d.doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS before
      FROM d LEFT JOIN tg USING (source)
    ),
    mixrep AS (
      SELECT doc_id, n_tokens,
             CAST(COALESCE(target // n
                           + CASE WHEN before < target % n THEN 1 ELSE 0 END,
                           0) AS BIGINT) AS n_repeats
      FROM cum
    ),
    r AS (
      SELECT doc_id, n_tokens,
             unnest(range(1, n_repeats + 1)) AS rep
      FROM mixrep WHERE n_repeats > 0
    ),
    k AS (
      SELECT doc_id, CAST(rep AS BIGINT) AS rep, n_tokens,
             CAST(ROW_NUMBER() OVER (ORDER BY
               md5('mixshuf:' || CAST(doc_id AS VARCHAR) || '#'
                   || CAST(rep AS VARCHAR)),
               CAST(doc_id AS VARCHAR) || '#' || CAST(rep AS VARCHAR)
             ) AS BIGINT) AS shuffle_rank
      FROM r
    ),
    nz AS (SELECT * FROM k WHERE n_tokens > 0),
    pre AS (
      SELECT doc_id, rep, shuffle_rank, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY shuffle_rank
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS st
      FROM nz
    ),
    x AS (
      SELECT doc_id, rep, shuffle_rank, n_tokens, st,
             unnest(range(st // 512, (st + n_tokens - 1) // 512 + 1)) AS seq_id
      FROM pre
    )
    SELECT doc_id, rep, shuffle_rank,
           CAST(seq_id AS BIGINT) AS seq_id,
           CAST(GREATEST(0, seq_id*512 - st) AS BIGINT) AS slice_start,
           CAST(LEAST(n_tokens, (seq_id+1)*512 - st)
                - GREATEST(0, seq_id*512 - st) AS BIGINT) AS slice_len
    FROM x
"""

ORACLES["text_bigram_logprob"] = """
    WITH tr AS (SELECT text FROM documents WHERE source IN ('src0','src1')),
    sc0 AS (SELECT doc_id, text FROM documents
            WHERE source NOT IN ('src0','src1')),
    trt AS (SELECT list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                               t -> t <> '') AS ts FROM tr),
    vocab AS (SELECT t FROM (SELECT unnest(ts) AS t FROM trt)
              GROUP BY t ORDER BY count(*) DESC, t LIMIT 30),
    vl AS (SELECT LIST(t) AS vs FROM vocab),
    trc AS (SELECT list_transform(ts,
               x -> CASE WHEN list_contains(vl.vs, x)
                         THEN x ELSE '<unk>' END) AS ws FROM trt, vl),
    trp AS (SELECT unnest(list_transform(range(1, CAST(len(ws) AS BIGINT)),
                                         i -> [ws[i], ws[i+1]])) AS pr
            FROM trc WHERE len(ws) >= 2),
    trp2 AS (SELECT pr[1] AS w1, pr[2] AS w2 FROM trp),
    bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS bc FROM trp2 GROUP BY 1, 2),
    cc AS (SELECT w1, CAST(count(*) AS BIGINT) AS cc FROM trp2 GROUP BY 1),
    sct AS (SELECT doc_id,
                   list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                               t -> t <> '') AS ts FROM sc0),
    scc AS (SELECT doc_id, list_transform(ts,
               x -> CASE WHEN list_contains(vl.vs, x)
                         THEN x ELSE '<unk>' END) AS ws FROM sct, vl),
    scp AS (SELECT doc_id,
                   unnest(list_transform(range(1, CAST(len(ws) AS BIGINT)),
                                         i -> [ws[i], ws[i+1]])) AS pr
            FROM scc WHERE len(ws) >= 2),
    p2 AS (SELECT doc_id, pr[1] AS w1, pr[2] AS w2 FROM scp),
    s AS (SELECT p2.doc_id,
                 CASE WHEN bc.bc IS NULL THEN 1 ELSE 0 END AS unseen,
                 ln((COALESCE(bc.bc, 0) + 1)::DOUBLE
                    / (COALESCE(cc.cc, 0) + 31)) AS lp
          FROM p2 LEFT JOIN bc USING (w1, w2) LEFT JOIN cc USING (w1)),
    agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                   CAST(SUM(unseen) AS BIGINT) AS n_unseen,
                   ROUND(AVG(lp), 6) AS avg_bigram_logprob
            FROM s GROUP BY 1)
    SELECT d.doc_id, COALESCE(agg.n_bigrams, 0) AS n_bigrams,
           COALESCE(agg.n_unseen, 0) AS n_unseen, agg.avg_bigram_logprob
    FROM sc0 d LEFT JOIN agg USING (doc_id)
"""

ORACLES["sample_embedding_diverse"] = f"""
    WITH {_LSH_BUCKET_CTE},
    r AS (
      SELECT vec_id, CAST(bucket AS BIGINT) AS bucket,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY bucket
               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS INT) AS rk
      FROM buckets
    )
    SELECT vec_id, bucket, rk FROM r WHERE rk <= 8
"""

ORACLES["report_domain_census"] = """
    WITH f AS (
      SELECT doc_id,
             'example' || CAST(doc_id % 97 AS VARCHAR) || '.com' AS domain,
             'https://example' || CAST(doc_id % 97 AS VARCHAR) || '.com/docs/'
               || CAST(doc_id % 37 AS VARCHAR) AS url_canon,
             CAST(len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                                  x -> x <> '')) AS BIGINT) AS nt,
             CASE WHEN doc_id % 97 = 7 THEN 1
                  WHEN doc_id % 97 = 13
                       AND starts_with('/docs/' || CAST(doc_id % 37 AS VARCHAR),
                                       '/docs/1') THEN 1
                  ELSE 0 END AS dis
      FROM documents
    )
    SELECT domain,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT url_canon) AS BIGINT) AS n_pages,
           ROUND(1.0 - COUNT(DISTINCT url_canon) * 1.0 / COUNT(*), 6) AS dup_frac,
           CAST(SUM(nt) AS BIGINT) AS n_tokens,
           CAST(SUM(dis) AS BIGINT) AS n_disallowed
    FROM f GROUP BY domain
"""

# Analytic plant replay: winners per promo class are MIN(doc_id) —
# none of the engine's split/normalize/min-struct code is replayed
ORACLES["dedup_corpus_paragraphs"] = """
    WITH w AS (
      SELECT doc_id % 7 AS k, MIN(doc_id) AS win FROM documents GROUP BY 1
    )
    SELECT d.doc_id,
           CASE WHEN d.doc_id = w.win
                THEN 'Promo Block ' || CAST(d.doc_id % 7 AS VARCHAR)
                     || chr(10) || chr(10) || 'body '
                     || CAST(d.doc_id AS VARCHAR)
                     || chr(10) || chr(10) || '  '
                ELSE 'body ' || CAST(d.doc_id AS VARCHAR)
                     || chr(10) || chr(10) || '  ' END AS text,
           CAST(CASE WHEN d.doc_id = w.win THEN 2 ELSE 1 END AS BIGINT)
             AS n_paras_kept,
           CAST(CASE WHEN d.doc_id = w.win THEN 1 ELSE 2 END AS BIGINT)
             AS n_paras_removed
    FROM documents d JOIN w ON d.doc_id % 7 = w.k
"""

# Analytic plant replay: kept flag and counts follow from the plant
# arithmetic alone (lorem line passes the LINE rules but kills the
# page; the brace line fails the line rule AND kills the page)
ORACLES["text_clean_c4"] = """
    SELECT doc_id,
           CASE WHEN doc_id % 11 <> 0 AND doc_id % 13 <> 0
                THEN 'This is proper sentence number '
                     || CAST(doc_id % 5 AS VARCHAR) || '.' || chr(10)
                     || 'Here is another proper sentence number '
                     || CAST(doc_id % 3 AS VARCHAR) || '.' || chr(10)
                     || 'Finally a third proper sentence about document '
                     || CAST(doc_id AS VARCHAR) || '.'
                ELSE '' END AS text,
           CAST(3 + CASE WHEN doc_id % 11 = 0 THEN 1 ELSE 0 END AS BIGINT)
             AS n_lines_kept,
           CAST(3 + CASE WHEN doc_id % 13 = 0 THEN 1 ELSE 0 END AS BIGINT)
             AS n_lines_removed,
           CAST(CASE WHEN doc_id % 11 <> 0 AND doc_id % 13 <> 0
                     THEN 1 ELSE 0 END AS INT) AS kept
    FROM documents
"""

# Full winnowing replay in DuckDB list ops: window-minimum VALUES are
# tie-independent, so no positional tie rule needs porting.  Shared by
# the pair gate, the composed pairs→clusters→keepers gate, and the
# df-capped recall gate below (max_df parametrizes the MOSS noise
# threshold — r12).
def _winnow_ctes(max_df: int) -> str:
    return f"""
    c AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + {DUP_ID_OFFSET} AS doc_id, text FROM documents WHERE doc_id % 5 = 0
    ),
    g AS (SELECT doc_id, lower(trim(COALESCE(text, ''))) AS t FROM c),
    h AS (SELECT doc_id,
                 list_transform(range(1, greatest(len(t) - 11, 1) + 1),
                   i -> ('0x' || substr(md5(substr(t, CAST(i AS INT), 12)), 1, 8))::BIGINT
                        % 2147483647) AS hs
          FROM g),
    s AS (SELECT doc_id,
                 list_distinct(list_transform(
                   range(1, greatest(len(hs) - 7, 1) + 1),
                   j -> list_min(list_slice(hs, CAST(j AS INT), CAST(j + 7 AS INT)))))
                   AS fps
          FROM h),
    e AS MATERIALIZED (SELECT doc_id, unnest(fps) AS f FROM s),
    d AS (SELECT f FROM e GROUP BY f HAVING count(*) BETWEEN 2 AND {max_df}),
    wpairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(count(*) AS BIGINT) AS n_shared
      FROM e a JOIN d ON a.f = d.f JOIN e b ON b.f = a.f
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2
      HAVING count(*) >= 5
    )
"""


_WINNOW_CTES = _winnow_ctes(50)

ORACLES["dedup_winnow_pairs"] = f"""
    WITH {_WINNOW_CTES}
    SELECT id_a, id_b, n_shared FROM wpairs
"""

# df-capped recall replay: the same selection at max_df=16, left-joined
# to the planted originals — recovered must be provable in BOTH engines
ORACLES["dedup_winnow_capped"] = f"""
    WITH {_winnow_ctes(16)}
    SELECT p.doc_id,
           CAST(CASE WHEN w.id_a IS NOT NULL THEN 1 ELSE 0 END AS INT)
             AS recovered,
           CAST(COALESCE(w.n_shared, 0) AS BIGINT) AS n_shared
    FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 0) p
    LEFT JOIN wpairs w
      ON w.id_a = p.doc_id AND w.id_b = p.doc_id + {DUP_ID_OFFSET}
"""

# pairs → recursive transitive closure → min-id canonical keepers
# (the dedup_corpus_canonical oracle pattern over the winnow pair set)
# — at the production df cap 32 (r13: the capped form is the default)
ORACLES["dedup_winnow_corpus"] = f"""
    WITH RECURSIVE {_winnow_ctes(32)},
    und AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM wpairs
            UNION SELECT id_b, id_a FROM wpairs),
    reach(a, b) AS (
      SELECT a, a FROM (SELECT DISTINCT a FROM und) n
      UNION
      SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a
    ),
    comp AS (SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a)
    SELECT c.doc_id, CAST(len(COALESCE(c.text, '')) AS BIGINT) AS n_chars
    FROM c
    WHERE c.doc_id NOT IN (SELECT doc_id FROM comp WHERE doc_id <> cluster_id)
"""

# Analytic plant replay: disallowed follows from single-digit prefix
# arithmetic — neither the robots parser nor the screen is replayed
ORACLES["text_robots_parse_screen"] = """
    SELECT doc_id,
           'example' || CAST(doc_id % 97 AS VARCHAR) || '.com' AS domain,
           CAST(CASE WHEN substr(CAST(doc_id % 37 AS VARCHAR), 1, 1)
                          = CAST((doc_id % 97) % 5 AS VARCHAR)
                     THEN 1 ELSE 0 END AS INT) AS disallowed
    FROM documents
"""

ORACLES["text_dedupe_lines_in_doc"] = """
    WITH f AS (
      SELECT doc_id,
             'Nav Home' || chr(10) || 'item ' || CAST(doc_id % 5 AS VARCHAR)
               || chr(10) || 'Nav Home' || chr(10) || chr(10)
               || 'body of doc ' || CAST(doc_id AS VARCHAR) || chr(10)
               || '  NAV HOME ' || chr(10) || 'item '
               || CAST(doc_id % 5 AS VARCHAR) || chr(10) || 'tail' AS text
      FROM documents
    ),
    s AS (
      SELECT doc_id, string_split(text, chr(10)) AS ls,
             list_transform(string_split(text, chr(10)),
                            x -> lower(trim(x))) AS ns
      FROM f
    ),
    k AS (
      SELECT doc_id, ls,
             list_filter(range(1, CAST(len(ls) AS BIGINT) + 1),
                         i -> trim(ls[i]) = ''
                              OR list_position(ns, ns[i]) = i) AS keep_i
      FROM s
    )
    SELECT doc_id,
           array_to_string(list_transform(keep_i, i -> ls[i]), chr(10)) AS text,
           CAST(len(keep_i) AS BIGINT) AS n_lines_kept,
           CAST(len(ls) - len(keep_i) AS BIGINT) AS n_lines_removed
    FROM k
"""

# Analytic whole-chain replay: canonical form, keeper, rule coverage,
# token count, and split hash all derive from the documents table —
# none of the engine code (parser, canonicalizer, screen) is replayed
ORACLES["pipeline_crawl_to_corpus"] = """
    WITH f AS (
      SELECT doc_id, text,
             'https://example' || CAST(doc_id % 97 AS VARCHAR) || '.com/docs/'
               || CAST(doc_id % 37 AS VARCHAR) AS url_canon
      FROM documents
    ),
    k AS (SELECT url_canon, MIN(doc_id) AS keeper FROM f GROUP BY 1),
    kept AS (
      SELECT f.doc_id, f.text, f.url_canon
      FROM f JOIN k USING (url_canon) WHERE f.doc_id = k.keeper
    ),
    scr AS (
      SELECT * FROM kept
      WHERE NOT (doc_id % 97 = 7
                 OR (doc_id % 97 = 13
                     AND starts_with('/docs/' || CAST(doc_id % 37 AS VARCHAR),
                                     '/docs/1')))
    )
    SELECT doc_id, url_canon,
           CAST(len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                                x -> x <> '')) AS BIGINT) AS n_tokens,
           CASE WHEN ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000 < 800 THEN 'train'
                WHEN ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000 < 900 THEN 'val'
                ELSE 'test' END AS split
    FROM scr
"""

# Analytic whole-chain replay for the v2 capstone: C4 survivorship
# (the lorem plant), the per-class paragraph winner, reassembled-text
# md5, and single-digit-prefix robots coverage all derive from doc_id
# arithmetic + payload length — none of the engine code is replayed.
ORACLES["pipeline_crawl_to_corpus_v2"] = """
    WITH alive AS (
      SELECT doc_id, len(COALESCE(text, '')) AS n
      FROM documents WHERE doc_id % 13 <> 0
    ),
    w AS (SELECT doc_id % 7 AS k, MIN(doc_id) AS win FROM alive GROUP BY 1),
    txt AS (
      SELECT a.doc_id,
             CASE WHEN a.doc_id = w.win
                  THEN 'Shared promo sentence for class '
                       || CAST(a.doc_id % 7 AS VARCHAR) || '.' || chr(10)
                  ELSE '' END
             || 'Document ' || CAST(a.doc_id AS VARCHAR) || ' carries '
             || CAST(a.n AS VARCHAR) || ' payload characters.' || chr(10)
             || 'Unique closing sentence for document '
             || CAST(a.doc_id AS VARCHAR) || '.' AS text,
             CASE WHEN a.doc_id = w.win THEN 3 ELSE 2 END AS kept,
             CASE WHEN a.doc_id = w.win THEN 0 ELSE 1 END AS removed
      FROM alive a JOIN w ON a.doc_id % 7 = w.k
    )
    SELECT doc_id,
           'example' || CAST(doc_id % 97 AS VARCHAR) || '.com' AS domain,
           CAST(CASE WHEN substr(CAST(doc_id % 37 AS VARCHAR), 1, 1)
                          = CAST((doc_id % 97) % 5 AS VARCHAR)
                     THEN 1 ELSE 0 END AS INT) AS disallowed,
           CAST(kept AS BIGINT) AS n_paras_kept,
           CAST(removed AS BIGINT) AS n_paras_removed,
           md5(text) AS clean_md5
    FROM txt
"""

ORACLES["select_dsir_weights"] = f"""
    WITH {_DSIR_WEIGHTS_CTE}
    SELECT doc_id, n_feats, dsir_logw FROM weights
"""

ORACLES["select_dsir_gumbel_topk"] = f"""
    WITH {_DSIR_WEIGHTS_CTE}
    SELECT doc_id, dsir_logw,
           ROUND(dsir_logw - ln(-ln(
             ((('0x' || substr(md5('dsir-g:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               + 0.5) / 4294967296.0))), 6) AS gumbel_key
    FROM weights
    ORDER BY gumbel_key DESC, doc_id
    LIMIT 60
"""

ORACLES["scd_snapshot_roundtrip"] = _ORACLE_CUST_NOW

ORACLES["sample_deterministic"] = """
    SELECT doc_id, lang, n_chars FROM documents
    WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100
          < CASE WHEN lang = 'en' THEN 50 ELSE 10 END
"""

# DuckDB lacks width_bucket — the CASE replica is the exact definition
# Spark documents (bucket i covers [min+(i-1)w, min+iw), under→0,
# over→n+1)
ORACLES["feature_histogram"] = """
    SELECT CAST(CASE WHEN o_totalprice < 0.0 THEN 0
                     WHEN o_totalprice >= 600000.0 THEN 21
                     ELSE 1 + CAST(FLOOR(o_totalprice / 30000.0) AS BIGINT)
                END AS BIGINT) AS bucket,
           COUNT(*) AS n
    FROM orders GROUP BY 1
"""

ORACLES["json_props_stats"] = """
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           MIN(CAST(json_extract(props, '$.k') AS BIGINT)) AS min_k,
           MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
    FROM events GROUP BY 1
"""

ORACLES["lateral_recent_orders"] = """
    SELECT c.c_custkey, r.o_orderkey, r.o_orderdate, r.o_totalprice
    FROM customer c,
    LATERAL (
      SELECT o_orderkey, o_orderdate, o_totalprice
      FROM orders
      WHERE o_custkey = c.c_custkey
      ORDER BY o_orderdate DESC, o_orderkey ASC
      LIMIT 3
    ) r
    WHERE c.c_mktsegment = 'BUILDING'
"""

def _bpe_oracle() -> str:
    """DuckDB replica of bpe_tokenize: the same spell-out prep and the
    same merge table as nested literal replace() calls (each twice —
    the adjacency pass), generated from operators.text.BPE_MERGES so
    the two engines cannot drift."""
    from hive_scd_spark.operators.text import BPE_MERGES

    s = "sp.s"
    for a, b in BPE_MERGES:
        pat, rep = f" {a} {b} ", f" {a}{b} "
        for _ in range(2):
            s = f"replace({s}, '{pat}', '{rep}')"
    return f"""
    WITH t1 AS (
      SELECT doc_id,
             trim(regexp_replace(lower(coalesce(text, '')),
                                 '[^a-z0-9]+', ' ', 'g')) AS t
      FROM documents
    ), sp AS (
      SELECT doc_id,
             CASE WHEN t = '' THEN ''
                  ELSE ' ' || replace(regexp_replace(t, '(.)', '\\1 ', 'g'),
                                      '   ', ' </w> ') || '</w> '
             END AS s
      FROM t1
    ), merged AS (SELECT doc_id, {s} AS s FROM sp)
    SELECT doc_id,
           CASE WHEN trim(s) = '' THEN 0
                ELSE CAST(len(string_split_regex(trim(s), ' +')) AS INT)
           END AS n_tokens,
           CASE WHEN trim(s) = '' THEN ''
                ELSE array_to_string(string_split_regex(trim(s), ' +'), ',')
           END AS tokens_csv
    FROM merged
    """


ORACLES["text_bpe_tokenize"] = _bpe_oracle()
# identical tokenization on the shared table — same oracle (see gate docstring)
ORACLES["text_bpe_batched"] = _bpe_oracle()


def _pagerank_oracle(iters: int = 5, scale: int = 1_000_000) -> str:
    """DuckDB replica of graph_pagerank_dups: the substring-dup edge
    CTE plus *iters* UNROLLED integer-exact update steps (recursive
    CTEs cannot aggregate over their own reference, and the iteration
    count is fixed anyway)."""
    base = scale * 3 // 20
    steps = []
    for k in range(1, iters + 1):
        steps.append(
            f"""r{k} AS (
      SELECT n.node,
             CAST({base} + (17 * COALESCE(s.i, 0)) // 20 AS BIGINT)
               AS rank_scaled
      FROM nodes n
      LEFT JOIN (SELECT e.d AS node,
                        SUM(r.rank_scaled // dg.deg) AS i
                 FROM und e
                 JOIN r{k-1} r ON e.s = r.node
                 JOIN deg dg ON e.s = dg.s
                 GROUP BY e.d) s ON n.node = s.node
    )"""
        )
    return f"""
{_SUBSTRING_GRAM_CTE},
    pairs AS (SELECT DISTINCT d.rep AS id_a, g.doc_id AS id_b
              FROM g JOIN df d USING (h)
              WHERE d.c BETWEEN 2 AND 50 AND g.doc_id <> d.rep),
    und AS MATERIALIZED (SELECT id_a AS s, id_b AS d FROM pairs
            UNION SELECT id_b, id_a FROM pairs),
    deg AS (SELECT s, CAST(count(*) AS BIGINT) AS deg FROM und GROUP BY s),
    nodes AS (SELECT DISTINCT s AS node FROM und
              UNION SELECT DISTINCT d FROM und),
    r0 AS (SELECT node, CAST({scale} AS BIGINT) AS rank_scaled FROM nodes),
    {", ".join(steps)}
    SELECT node, rank_scaled FROM r{iters}
    """


ORACLES["graph_pagerank_dups"] = _pagerank_oracle()

ORACLES["agg_median_listagg"] = """
    SELECT c_mktsegment,
           CAST(median(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) * 2
                AS BIGINT) AS median_cents_x2,
           COALESCE(string_agg(
             CASE WHEN CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) > 990000
                  THEN CAST(c_custkey AS VARCHAR) END, ','
             ORDER BY c_custkey), '') AS top_custkeys
    FROM customer GROUP BY 1
"""

ORACLES["skew_salted_join_orders"] = """
    SELECT o_custkey AS custkey, o_orderkey, c_mktsegment,
           CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents
    FROM orders JOIN customer ON o_custkey = c_custkey
"""

ORACLES["multimodal_dedup_exact"] = """
    -- coalesce matches the decode boundary's documented semantics:
    -- a NULL payload decodes as empty bytes (fake_decode_image and
    -- the checksum both see b''), so NULL-text and empty-text docs
    -- share the d41d8... checksum on BOTH engines
    SELECT CAST(min(doc_id) AS BIGINT) AS canonical_id,
           count(*) AS n_copies,
           md5(coalesce(text, '')) AS checksum
    FROM documents
    GROUP BY md5(coalesce(text, ''))
"""

# Full replay of the perceptual-hash near-dup pipeline (r14): sanitize
# to printable ASCII (bytes == codepoints), plant the 2×/3× upsampled
# copies, resample each byte step-function to 72 segments by EXACT
# integer integration (I(u) = 72·P[q] + r·b[q+1] on the common
# 1/(72n) grid), compare the 8×9 grid's row-adjacent segments into 64
# bits, pack two's-complement, band into 4×16 bits, census buckets,
# and Hamming-join — every step integer-exact on both engines.
# shared dHash pipeline CTEs (r14): the full integer replay up to the
# near-dup pair set `npairs` — reused by the pair gate and the corpus
# endgame gate (the winnow-corpus composition precedent)
# common envelope-hash CTE tail (r14): integral bounds -> segments ->
# 64 bits -> two's-complement pack -> banding -> census -> Hamming
# pairs.  Shared by the image (byte) and audio (|PCM16|) replays —
# both feed it (id, n, i, b) rows in `pref` and (id, n) in `grid`.
# integral bounds -> segments -> 64 bits -> two's-complement pack —
# shared by every envelope-hash replay (image bytes, |PCM16|, video
# frames); expects (id, n, i, b) rows in `pref` and (id, n) in `grid`
_ENVELOPE_HASH_CTES = """

    ivals AS (
      SELECT g.id, g.s,
             72 * COALESCE(p1.p, 0) + g.r * COALESCE(p2.b, 0) AS ival
      FROM grid g
      LEFT JOIN pref p1 ON p1.id = g.id AND p1.i = g.q
      LEFT JOIN pref p2 ON p2.id = g.id AND p2.i = g.q + 1
    ),
    segs AS (
      SELECT id, s,
             lead(ival) OVER (PARTITION BY id ORDER BY s) - ival AS seg
      FROM ivals
      QUALIFY s < 72
    ),
    bits AS (
      SELECT a.id, CAST(k.k AS BIGINT) AS k,
             CASE WHEN a.seg > b.seg THEN 1 ELSE 0 END AS bit
      FROM UNNEST(range(0, 64)) AS k(k)
      JOIN segs a ON a.s = 9 * (CAST(k.k AS BIGINT) // 8) + (CAST(k.k AS BIGINT) % 8)
      JOIN segs b ON b.id = a.id AND b.s = a.s + 1
    ),
    hraw AS (
      SELECT id,
             sum(CASE WHEN bit = 1 THEN CAST(1 AS HUGEINT) << CAST(k AS INT)
                      ELSE CAST(0 AS HUGEINT) END) AS hu
      FROM bits GROUP BY id
    ),
    hashes AS (
      SELECT id,
             CAST(CASE WHEN hu >= CAST(9223372036854775808 AS HUGEINT)
                       THEN hu - CAST(18446744073709551616 AS HUGEINT)
                       ELSE hu END AS BIGINT) AS h
      FROM hraw
    ),
"""

# whole-payload banding + Hamming pairs (image/audio); video pairs
# clips on shared FRAME hashes instead (see the video oracle)
_BAND_PAIR_TAIL = """
    banded AS (
      SELECT id, h, CAST(bd.band AS INT) AS band,
             (h >> (16 * CAST(bd.band AS INT))) & 65535 AS val
      FROM hashes, UNNEST(range(0, 4)) AS bd(band)
    ),
    ok AS (
      SELECT band, val FROM banded
      GROUP BY band, val HAVING count(*) BETWEEN 2 AND 200
    ),
    kept AS (SELECT b.* FROM banded b JOIN ok USING (band, val)),
    npairs AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b,
             CAST(bit_count(xor(a.h, b.h)) AS INT) AS hamming
      FROM kept a
      JOIN kept b ON a.band = b.band AND a.val = b.val AND a.id < b.id
      WHERE bit_count(xor(a.h, b.h)) <= 3
    )"""

_ENVELOPE_TAIL = _ENVELOPE_HASH_CTES + _BAND_PAIR_TAIL


_DHASH_CTES = """

    src AS (
      SELECT doc_id, regexp_replace(text, '[^ -~]', '', 'g') AS t
      FROM documents
    ),
    base AS (SELECT doc_id AS id, t FROM src WHERE length(t) >= 72),
    corpus AS (
      SELECT id, t FROM base
      UNION ALL
      SELECT id + 1000000, regexp_replace(t, '(.)', '\\1\\1', 'g')
      FROM base WHERE id % 10 = 0
      UNION ALL
      SELECT id + 2000000, regexp_replace(t, '(.)', '\\1\\1\\1', 'g')
      FROM base WHERE id % 10 = 5
    ),
    chars AS (
      SELECT id, length(t) AS n, CAST(u.i AS BIGINT) AS i,
             ord(substr(t, CAST(u.i AS INT), 1)) AS b
      FROM corpus, UNNEST(range(1, length(t) + 1)) AS u(i)
    ),
    pref AS (
      SELECT id, n, i, b,
             sum(b) OVER (PARTITION BY id ORDER BY i) AS p
      FROM chars
    ),
    grid AS (
      SELECT c.id, c.n, CAST(s.s AS BIGINT) AS s,
             (CAST(s.s AS BIGINT) * c.n) // 72 AS q,
             (CAST(s.s AS BIGINT) * c.n) % 72 AS r
      FROM (SELECT id, length(t) AS n FROM corpus) c,
           UNNEST(range(0, 73)) AS s(s)
    ),
""" + _ENVELOPE_TAIL

# audio head: samples are little-endian PCM16 magnitudes over the
# ASCII-sanitized payload (high byte <= 126 so the sign branch is
# never taken on this corpus; kept for fidelity); transforms are 2x
# and 3x SAMPLE duplication (2-byte groups), the naive-resample
# stand-in the envelope hash is exactly invariant under
_AHASH_CTES = """
    src AS (
      SELECT doc_id, regexp_replace(text, '[^ -~]', '', 'g') AS t
      FROM documents
    ),
    base AS (SELECT doc_id AS id, t FROM src WHERE length(t) >= 144),
    corpus AS (
      SELECT id, t FROM base
      UNION ALL
      SELECT id + 3000000, regexp_replace(t, '(..)', '\\1\\1', 'g')
      FROM base WHERE id % 10 = 2
      UNION ALL
      SELECT id + 4000000, regexp_replace(t, '(..)', '\\1\\1\\1', 'g')
      FROM base WHERE id % 10 = 7
    ),
    chars AS (
      SELECT id, length(t) // 2 AS n, CAST(u.i AS BIGINT) AS i,
             abs(CASE WHEN ord(substr(t, CAST(2 * u.i AS INT), 1)) * 256
                           + ord(substr(t, CAST(2 * u.i - 1 AS INT), 1)) >= 32768
                      THEN ord(substr(t, CAST(2 * u.i AS INT), 1)) * 256
                           + ord(substr(t, CAST(2 * u.i - 1 AS INT), 1)) - 65536
                      ELSE ord(substr(t, CAST(2 * u.i AS INT), 1)) * 256
                           + ord(substr(t, CAST(2 * u.i - 1 AS INT), 1)) END) AS b
      FROM corpus, UNNEST(range(1, length(t) // 2 + 1)) AS u(i)
    ),
    pref AS (
      SELECT id, n, i, b,
             sum(b) OVER (PARTITION BY id ORDER BY i) AS p
      FROM chars
    ),
    grid AS (
      SELECT c.id, c.n, CAST(s.s AS BIGINT) AS s,
             (CAST(s.s AS BIGINT) * c.n) // 72 AS q,
             (CAST(s.s AS BIGINT) * c.n) % 72 AS r
      FROM (SELECT id, length(t) // 2 AS n FROM corpus) c,
           UNNEST(range(0, 73)) AS s(s)
    ),
""" + _ENVELOPE_TAIL

ORACLES["multimodal_dedup_near_audio"] = f"""
    WITH {_AHASH_CTES}
    SELECT id_a, id_b, hamming FROM npairs
"""

# video: per-frame envelope hashes (fid = clip_id * 100000 + frame);
# clips pair on >= 2 shared DISTINCT frame hashes under the df cap —
# the winnow inverted-index idiom replayed in SQL
_VHASH_CTES = """
    src AS (
      SELECT doc_id, regexp_replace(text, '[^ -~]', '', 'g') AS t
      FROM documents
    ),
    base AS (SELECT doc_id AS id, t FROM src WHERE length(t) >= 192),
    clips AS (
      SELECT id, t FROM base
      UNION ALL
      SELECT id + 5000000, substr(t, 65) FROM base WHERE id % 10 = 4
      UNION ALL
      SELECT id + 6000000, substr(t, 1, CAST(length(t) - 64 AS INT))
      FROM base WHERE id % 10 = 9
    ),
    corpus AS (
      SELECT c.id * 100000 + CAST(f.f AS BIGINT) AS id,
             substr(c.t, CAST(64 * f.f + 1 AS INT), 64) AS t
      FROM clips c,
           UNNEST(range(0, (length(c.t) + 63) // 64)) AS f(f)
    ),
    chars AS (
      SELECT id, length(t) AS n, CAST(u.i AS BIGINT) AS i,
             ord(substr(t, CAST(u.i AS INT), 1)) AS b
      FROM corpus, UNNEST(range(1, length(t) + 1)) AS u(i)
    ),
    pref AS (
      SELECT id, n, i, b,
             sum(b) OVER (PARTITION BY id ORDER BY i) AS p
      FROM chars
    ),
    grid AS (
      SELECT c.id, length(c.t) AS n, CAST(s.s AS BIGINT) AS s,
             (CAST(s.s AS BIGINT) * length(c.t)) // 72 AS q,
             (CAST(s.s AS BIGINT) * length(c.t)) % 72 AS r
      FROM corpus c, UNNEST(range(0, 73)) AS s(s)
    ),
""" + _ENVELOPE_HASH_CTES

ORACLES["multimodal_dedup_near_video"] = f"""
    WITH {_VHASH_CTES}
    fsel AS (SELECT DISTINCT id // 100000 AS mid, h FROM hashes),
    ok AS (SELECT h FROM fsel GROUP BY h HAVING count(*) BETWEEN 2 AND 50),
    kept AS (SELECT f.* FROM fsel f JOIN ok USING (h))
    SELECT a.mid AS id_a, b.mid AS id_b,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM kept a JOIN kept b ON a.h = b.h AND a.mid < b.mid
    GROUP BY 1, 2
    HAVING count(*) >= 2
"""



ORACLES["multimodal_dedup_near"] = f"""
    WITH {_DHASH_CTES}
    SELECT id_a, id_b, hamming FROM npairs
"""

# media endgame: pairs -> connected components -> one canonical medium
# per cluster + all unpaired media (the dedup_corpus_canonical
# recursive-closure oracle pattern over the dHash pair set)
ORACLES["multimodal_dedup_near_corpus"] = f"""
    WITH RECURSIVE {_DHASH_CTES},
    und AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM npairs
            UNION SELECT id_b, id_a FROM npairs),
    reach(a, b) AS (
      SELECT a, a FROM (SELECT DISTINCT a FROM und) n
      UNION
      SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a
    ),
    comp AS (SELECT a AS id, MIN(b) AS cluster_id FROM reach GROUP BY a)
    SELECT c.id AS media_id, CAST(length(c.t) AS BIGINT) AS n_bytes
    FROM corpus c
    WHERE c.id NOT IN (SELECT id FROM comp WHERE id <> cluster_id)
"""


ORACLES["q8_national_market_share"] = """
    SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
           CAST(SUM(CASE WHEN sn.n_name = 'BRAZIL'
                         THEN CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS brazil_cents,
           CAST(SUM(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)
                    AS BIGINT)) AS BIGINT) AS total_cents
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    JOIN region ON cn.n_regionkey = r_regionkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      AND p_type LIKE 'PROMO%'
      AND r_name = 'AMERICA'
    GROUP BY 1 ORDER BY 1
"""

ORACLES["sketch_merge_distinct_users"] = """
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS within_15pct
    FROM events GROUP BY 1
"""

ORACLES["text_inverted_index"] = """
    WITH w AS (
      SELECT doc_id,
             list_distinct(list_filter(
               string_split_regex(lower(text), '[^0-9a-z_]+'),
               x -> x <> '')) AS ws
      FROM documents
    ), p AS (SELECT doc_id, unnest(ws) AS term FROM w),
    c AS (SELECT term, doc_id,
                 count(*) OVER (PARTITION BY term) AS doc_freq
          FROM p)
    SELECT term, doc_id // 200 AS block, CAST(doc_freq AS BIGINT) AS doc_freq,
           array_to_string(list_sort(list(doc_id)), ',') AS postings_csv
    FROM c
    GROUP BY 1, 2, 3
"""

ORACLES["variant_props_stats"] = """
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(SUM(CASE WHEN CAST(json_extract(props, '$.k') AS BIGINT) >= 50
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_high
    FROM events GROUP BY 1
"""

ORACLES["skew_salted_order_stats"] = """
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM orders GROUP BY 1
"""

# canonical survivors = everything minus non-minimal cluster members
ORACLES["dedup_corpus_canonical"] = f"""
    WITH RECURSIVE pairs AS MATERIALIZED ({_minhash_oracle()}),
    und AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM pairs
            UNION SELECT id_b, id_a FROM pairs),
    reach(a, b) AS (
      SELECT a, a FROM (SELECT DISTINCT a FROM und) n
      UNION
      SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a
    ),
    comp AS (SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a)
    SELECT d.doc_id, d.n_chars FROM documents d
    WHERE d.doc_id NOT IN (SELECT doc_id FROM comp WHERE doc_id <> cluster_id)
"""

_BM25_TERMS_SQL = ",".join(f"'{t}'" for t in BM25_QUERY_TERMS)
ORACLES["text_bm25_topk"] = f"""
    WITH toks AS (SELECT doc_id,
                         unnest(string_split_regex(trim(lower(text)),'\\s+')) AS t
                  FROM documents),
    dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
    stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
    tf AS (SELECT doc_id, t, count(*) AS tf FROM toks
           WHERE t IN ({_BM25_TERMS_SQL}) GROUP BY 1,2),
    dfq AS (SELECT t, count(*) AS df FROM tf GROUP BY 1),
    scored AS (SELECT tf.doc_id, dl.dl AS n_tokens,
                      ROUND(SUM(ln(1 + (n_docs - df + 0.5)/(df + 0.5))
                                * tf*(1.2+1)
                                / (tf + 1.2*(1 - 0.75 + 0.75*dl/avgdl))), 6) AS score
               FROM tf JOIN dfq USING(t) JOIN dl USING(doc_id), stats
               GROUP BY 1,2)
    SELECT doc_id, n_tokens, score FROM scored
    ORDER BY score DESC, doc_id LIMIT 20
"""

ORACLES["shard_assignment"] = """
    WITH s AS (SELECT doc_id,
                      len(string_split_regex(trim(text),'\\s+')) AS n_tokens
               FROM documents),
    r AS (SELECT doc_id, n_tokens,
                 ROW_NUMBER() OVER (ORDER BY n_tokens DESC, doc_id) AS rk
          FROM s)
    SELECT doc_id, n_tokens,
           CAST(CASE WHEN (rk-1)%16 < 8 THEN (rk-1)%16
                     ELSE 15 - (rk-1)%16 END AS INT) AS shard
    FROM r
"""

# Quadratic exact baselines, oracle-checked by tests/ (not driver-gated —
# see the comment in EXT_QUERIES).  scripts/check_contract.py includes
# these so local verification still covers them end-to-end.
BASELINE_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_embedding_cosine": dedup_embedding_cosine,
}
# Full k-means replication in SQL: the training is deterministic
# (md5-seeded init, fixed iteration count, round-6 argmin ties), so the
# oracle re-runs BOTH Lloyd iterations and the IVF probe/rank — this
# upgrades ivf_kmeans_topk from a rows-only check to a value-checked
# gate.  Cross-engine float drift in the per-dimension means (~1e-15,
# summation order) is absorbed by the ROUND(...,6) at every comparison
# point, the same discipline as the ivf_cosine_topk oracle.
_KM_DOT = (
    "list_sum(list_transform(list_zip({a}, {b}), "
    "p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE)))"
)


def _km_assign_cte(cent: str) -> str:
    dot = _KM_DOT.format(a="v.embedding", b="c.centv")
    return f"""
      SELECT vec_id, list_id FROM (
        SELECT v.vec_id, c.list_id,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
                 ROUND({dot} / (v.nrm * c.centn), 6) DESC, c.list_id ASC) AS rk
        FROM norms v, {cent} c) WHERE rk = 1"""


def _km_mean_cte(assign: str) -> str:
    return f"""
      SELECT list_id, centv,
             SQRT(list_sum(list_transform(centv,
                  x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS centn
      FROM (
        SELECT list_id, list(avgv ORDER BY pos) AS centv FROM (
          SELECT a.list_id, u.pos, AVG(u.val) AS avgv
          FROM {assign} a JOIN norms n USING (vec_id),
               LATERAL (SELECT unnest(n.embedding) AS val,
                               generate_subscripts(n.embedding, 1) AS pos) u
          GROUP BY a.list_id, u.pos)
        GROUP BY list_id)"""


ORACLES["ivf_kmeans_topk"] = f"""
    WITH norms AS (
      SELECT vec_id, embedding,
             SQRT(list_sum(list_transform(embedding,
                  x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS nrm
      FROM embeddings),
    seed AS (
      SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1
               AS list_id,
             embedding AS centv, nrm AS centn
      FROM norms ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
    a1 AS ({_km_assign_cte("seed")}),
    c1 AS ({_km_mean_cte("a1")}),
    a2 AS ({_km_assign_cte("c1")}),
    c2 AS ({_km_mean_cte("a2")}),
    assign AS ({_km_assign_cte("c2")}),
    probes AS (
      SELECT query_id, list_id FROM (
        SELECT q.vec_id AS query_id, c.list_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
                 ROUND({_KM_DOT.format(a="q.embedding", b="c.centv")}
                       / (q.nrm * c.centn), 6) DESC, c.list_id ASC) AS rk
        FROM norms q, c2 c WHERE q.vec_id < 10) WHERE rk <= 8),
    scored AS (
      SELECT p.query_id, n.vec_id AS neighbor_id,
             ROUND({_KM_DOT.format(a="q.embedding", b="n.embedding")}
                   / (q.nrm * n.nrm), 6) AS cos
      FROM probes p
      JOIN assign a ON a.list_id = p.list_id
      JOIN norms n ON n.vec_id = a.vec_id AND n.vec_id != p.query_id
      JOIN norms q ON q.vec_id = p.query_id)
    SELECT query_id, neighbor_id, cos, rk FROM (
      SELECT query_id, neighbor_id, cos,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id ASC) AS rk
      FROM scored) WHERE rk <= 5
"""

BASELINE_ORACLES: dict[str, str] = {
    # the same deterministic doc_id % 2 = 0 gate slice as the Spark
    # side (see dedup_ngram_jaccard's docstring)
    "dedup_ngram_jaccard": f"""
        WITH {_SHINGLE_CTE.replace(
            "FROM documents,",
            "FROM (SELECT * FROM documents WHERE doc_id % 2 = 0) documents,",
        )},
        shared AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS cnt
                   FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
                   GROUP BY 1,2)
        SELECT s.id_a, s.id_b,
               ROUND(cnt*1.0/(sa.n+sb.n-cnt), 6) AS jaccard
        FROM shared s JOIN sz sa ON s.id_a = sa.doc_id
                      JOIN sz sb ON s.id_b = sb.doc_id
        WHERE cnt*1.0/(sa.n+sb.n-cnt) >= 0.3
    """,
    # same deterministic vec_id % 2 = 0 gate slice as the Spark side
    "dedup_embedding_cosine": f"""
        SELECT q.vec_id AS id_a, c.vec_id AS id_b, {_COS_SQL} AS cos
        FROM (SELECT * FROM embeddings WHERE vec_id % 2 = 0) q
        JOIN (SELECT * FROM embeddings WHERE vec_id % 2 = 0) c
          ON q.vec_id < c.vec_id
        WHERE {_COS_SQL} >= 0.35
    """,
}


# -- round-6 additions: quality filters, mixing, redaction, chunking ---------

ORACLES["text_repetition_stats"] = """
    WITH lined AS (
      SELECT doc_id,
             regexp_replace(text, '(([^ ]+ ){5}[^ ]+) ', '\\1' || chr(10), 'g') AS lt
      FROM documents
    ), planted AS (
      SELECT doc_id,
             CASE WHEN doc_id % 5 = 0
                  THEN lt || chr(10) || regexp_extract(lt, '^[^\\n]*')
                          || chr(10) || regexp_extract(lt, '^[^\\n]*')
                  ELSE lt END AS text
      FROM lined
    ), base AS (
      SELECT doc_id,
             list_filter(string_split(text, chr(10)), x -> len(trim(x)) > 0) AS lines,
             string_split_regex(trim(lower(text)), '\\s+') AS toks
      FROM planted
    ), st AS (
      SELECT doc_id, lines, toks,
             len(lines) AS n_lines,
             len(lines) - len(list_distinct(lines)) AS n_dup,
             COALESCE(list_sum(list_transform(lines, x -> len(x))), 0) AS line_chars,
             COALESCE(list_sum(list_transform(list_distinct(lines),
               g -> (len(list_filter(lines, x -> x = g)) - 1) * len(g))), 0) AS dup_chars,
             len(toks) AS n_toks,
             COALESCE(list_max(list_transform(list_distinct(toks),
               g -> len(list_filter(toks, x -> x = g)))), 0) AS top_tok,
             CASE WHEN len(toks) >= 2
                  THEN list_transform(range(1, CAST(len(toks) AS BIGINT)),
                                      i -> toks[i] || ' ' || toks[i+1])
                  ELSE CAST([] AS VARCHAR[]) END AS bi
      FROM base
    ), st2 AS (
      SELECT doc_id, n_lines, n_dup, line_chars, dup_chars, n_toks, top_tok,
             len(bi) AS n_bi,
             COALESCE(list_max(list_transform(list_distinct(bi),
               g -> len(list_filter(bi, x -> x = g)))), 0) AS top_bi
      FROM st
    ), fr AS (
      SELECT doc_id,
             CAST(n_lines AS BIGINT) AS n_lines,
             ROUND(CASE WHEN n_lines > 0 THEN CAST(n_dup AS DOUBLE)/n_lines ELSE 0 END, 6) AS dup_line_frac,
             ROUND(CASE WHEN line_chars > 0 THEN CAST(dup_chars AS DOUBLE)/line_chars ELSE 0 END, 6) AS dup_line_char_frac,
             ROUND(CASE WHEN n_toks > 0 THEN CAST(top_tok AS DOUBLE)/n_toks ELSE 0 END, 6) AS top_token_frac,
             ROUND(CASE WHEN n_bi > 0 THEN CAST(top_bi AS DOUBLE)/n_bi ELSE 0 END, 6) AS top_bigram_frac
      FROM st2
    )
    SELECT doc_id, n_lines, dup_line_frac, dup_line_char_frac,
           top_token_frac, top_bigram_frac,
           CAST(dup_line_char_frac > 0.30 OR top_bigram_frac > 0.18 AS BIGINT) AS repetitive
    FROM fr
"""

ORACLES["text_unigram_logprob"] = """
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS t
      FROM documents
    ), tok2 AS (SELECT * FROM toks WHERE t <> ''),
    counts AS (SELECT t, count(*) AS c FROM tok2 GROUP BY 1),
    total AS (SELECT CAST(SUM(c) AS DOUBLE) AS tot FROM counts),
    vocab AS (SELECT t, c FROM counts ORDER BY c DESC, t LIMIT 30),
    scored AS (
      SELECT k.doc_id,
             CAST(COALESCE(v.c, 1) AS DOUBLE) AS cc,
             CASE WHEN v.c IS NULL THEN 1 ELSE 0 END AS oov
      FROM tok2 k LEFT JOIN vocab v USING (t)
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(SUM(oov) AS BIGINT) AS n_oov,
           ROUND(SUM(oov)*1.0/count(*), 6) AS oov_frac,
           ROUND(AVG(ln(cc / (SELECT tot FROM total))), 6) AS avg_logprob
    FROM scored GROUP BY doc_id
"""

ORACLES["corpus_top_ngrams"] = """
    WITH w AS (
      SELECT string_split_regex(trim(lower(text)), '\\s+') AS toks FROM documents
    ), g AS (
      SELECT unnest(list_transform(range(1, CAST(len(toks) AS BIGINT)),
                                   i -> toks[i] || ' ' || toks[i+1])) AS ngram
      FROM w WHERE len(toks) >= 2
    )
    SELECT ngram, CAST(count(*) AS BIGINT) AS cnt
    FROM g GROUP BY ngram
    ORDER BY cnt DESC, ngram LIMIT 25
"""

ORACLES["sample_token_budget_per_source"] = """
    WITH s AS (
      SELECT doc_id, source,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens
      FROM documents
    ), c AS (
      SELECT doc_id, source, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS cum_before
      FROM s
    )
    SELECT doc_id, source, n_tokens, cum_before FROM c WHERE cum_before < 600
"""

ORACLES["text_redact_pii"] = """
    WITH planted AS (
      SELECT doc_id,
             text || CASE doc_id % 6
               WHEN 0 THEN ' contact bob@corp.example.org now'
               WHEN 1 THEN ' call +1 555-0134 221 ok'
               WHEN 2 THEN ' from 10.0.42.7 net'
               WHEN 3 THEN ' mail root@10.0.0.1 host'
               ELSE '' END AS text
      FROM documents
    ), s1 AS (
      SELECT doc_id, text,
             regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+',
               '<EMAIL>', 'g') AS no_email
      FROM planted
    ), s2 AS (
      SELECT doc_id, text, no_email,
             regexp_replace(no_email,
               '\\+[0-9]{1,3}([- ][0-9]{2,4}){2,4}|\\([0-9]{3}\\) [0-9]{3}-[0-9]{4}',
               '<PHONE>', 'g') AS no_phone
      FROM s1
    ), s3 AS (
      SELECT doc_id, text, no_email, no_phone,
             regexp_replace(no_phone,
               '\\b[0-9]{1,3}(\\.[0-9]{1,3}){3}\\b', '<IP>', 'g') AS redacted
      FROM s2
    )
    SELECT doc_id, md5(redacted) AS redacted_md5,
           CAST(len(regexp_extract_all(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(no_email,
             '\\+[0-9]{1,3}([- ][0-9]{2,4}){2,4}|\\([0-9]{3}\\) [0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phones,
           CAST(len(regexp_extract_all(no_phone,
             '\\b[0-9]{1,3}(\\.[0-9]{1,3}){3}\\b')) AS BIGINT) AS n_ips
    FROM s3
"""

ORACLES["text_chunk_sliding"] = """
    WITH w AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents
    ), n AS (
      SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM w
    ), c AS (
      SELECT doc_id, toks, n,
             unnest(range(0, CASE WHEN n <= 24 THEN 1
                                  ELSE (n - 24 + 15)//16 + 1 END)) AS chunk_id
      FROM n
    )
    SELECT doc_id,
           CAST(chunk_id AS BIGINT) AS chunk_id,
           CAST(chunk_id*16 AS BIGINT) AS start_tok,
           CAST(len(toks[chunk_id*16+1 : chunk_id*16+24]) AS BIGINT) AS n_chunk_tokens,
           md5(array_to_string(toks[chunk_id*16+1 : chunk_id*16+24], ' ')) AS chunk_md5
    FROM c
"""

ORACLES["embedding_quantize_int8"] = """
    WITH m AS (
      SELECT vec_id, embedding AS x,
             list_max(list_transform(embedding, v -> abs(CAST(v AS DOUBLE)))) AS vmax
      FROM embeddings
    )
    SELECT vec_id,
           ROUND(vmax/127.0, 9) AS scale,
           CASE WHEN vmax > 0
                THEN array_to_string(list_transform(x, v ->
                  GREATEST(-127, LEAST(127,
                    CAST(floor(CAST(v AS DOUBLE)/(vmax/127.0) + 0.5) AS INT)))), ',')
                ELSE array_to_string(list_transform(x, v -> 0), ',')
           END AS q_csv
    FROM m
"""

ORACLES["text_remove_boilerplate"] = """
    WITH planted AS (
      SELECT doc_id,
             CASE WHEN doc_id IN (1, 2)
                  THEN h2 || chr(10) || 'rarely shared footer'
                  ELSE h2 END AS text
      FROM (
        SELECT doc_id,
               CASE WHEN doc_id % 7 = 0
                    THEN 'subscribe to the newsletter' || chr(10) || f
                    ELSE f END AS h2
        FROM (
          SELECT doc_id,
                 CASE WHEN doc_id % 3 = 0
                      THEN text || chr(10) || 'visit our website for more'
                      ELSE text END AS f
          FROM documents))
    ), ln AS (
      SELECT doc_id, u.pos, u.line, lower(trim(u.line)) AS k
      FROM planted, LATERAL (
        SELECT unnest(string_split(text, chr(10))) AS line,
               generate_subscripts(string_split(text, chr(10)), 1) AS pos) u
    ), bp AS (
      SELECT k FROM ln WHERE k <> ''
      GROUP BY k HAVING count(DISTINCT doc_id) >= 3
    ), tagged AS (
      SELECT doc_id, pos, line,
             (k = '' OR k NOT IN (SELECT k FROM bp)) AS keep
      FROM ln
    )
    SELECT doc_id,
           md5(COALESCE(string_agg(CASE WHEN keep THEN line END,
                                   chr(10) ORDER BY pos), '')) AS clean_md5,
           CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_lines_kept,
           CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_lines_removed
    FROM tagged GROUP BY doc_id
"""

ORACLES["text_url_domain_filter"] = """
    WITH planted AS (
      SELECT doc_id,
             text || CASE doc_id % 4
               WHEN 0 THEN ' see https://www.spam.example/path now'
               WHEN 1 THEN ' via http://ok.example.org/a b'
               WHEN 2 THEN ' link https://Ads.Example/x y'
               ELSE '' END AS text
      FROM documents
    ), h AS (
      SELECT doc_id,
             list_transform(
               regexp_extract_all(text, 'https?://([^/ \\t\\n\\x0B\\f\\r]+)', 1),
               x -> regexp_replace(lower(x), '^www\\.', '')) AS hosts
      FROM planted
    )
    SELECT doc_id,
           -- DuckDB array_to_string([]) is NULL; Spark array_join([]) is ''
           COALESCE(array_to_string(hosts, ','), '') AS domains_csv,
           CAST(len(hosts) AS BIGINT) AS n_urls,
           CAST(len(list_filter(hosts,
             x -> x IN ('spam.example', 'ads.example'))) > 0 AS BIGINT) AS blocked
    FROM h
"""

ORACLES["sample_split_assign"] = """
    SELECT doc_id, source,
           CASE WHEN ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000 < 800 THEN 'train'
                WHEN ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000 < 900 THEN 'val'
                ELSE 'test' END AS split
    FROM documents
"""


def _script_detect_oracle() -> str:
    """DuckDB replica of operators.text.script_detect: the SAME Unicode
    block classes (\\x{...} syntax is shared by Java regex and RE2),
    unpivoted to rows so the argmax + declaration-order tie-break
    replays as ROW_NUMBER (the lang_id_ngram oracle idiom — DuckDB
    greatest() does not take structs)."""
    from hive_scd_spark.operators.text import SCRIPT_CLASSES

    counts = ",\n             ".join(
        f"CAST(len(regexp_extract_all(text, '{pat}')) AS BIGINT) AS s_{name}"
        for name, pat in SCRIPT_CLASSES.items()
    )
    unpiv = "\n      UNION ALL ".join(
        f"SELECT doc_id, {i} AS ord, '{n}' AS name, s_{n} AS s FROM c"
        for i, n in enumerate(SCRIPT_CLASSES)
    )
    return f"""
    WITH planted AS (
      SELECT doc_id,
             CASE doc_id % 8
               WHEN 1 THEN 'привет мир как дела сегодня у вас'
               WHEN 2 THEN '你好世界早上好今天天气很好'
               WHEN 3 THEN 'مرحبا بالعالم صباح الخير اليوم'
               WHEN 4 THEN '안녕하세요 세계 좋은 아침입니다'
               WHEN 5 THEN 'नमस्ते दुनिया सुप्रभात आज'
               ELSE text END AS text
      FROM documents
    ), c AS (
      SELECT doc_id,
             {counts}
      FROM planted
    ), u AS (
      {unpiv}
    ), tot AS (
      SELECT doc_id, CAST(SUM(s) AS BIGINT) AS n_letters FROM u GROUP BY 1
    ), pick AS (
      SELECT doc_id, name, s,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY s DESC, ord) AS rk
      FROM u
    )
    SELECT t.doc_id,
           CASE WHEN p.s > 0 THEN p.name ELSE 'und' END AS pred_script,
           CASE WHEN p.s > 0 THEN ROUND(CAST(p.s AS DOUBLE)/t.n_letters, 6)
                ELSE 0.0 END AS script_frac,
           t.n_letters
    FROM tot t JOIN (SELECT * FROM pick WHERE rk = 1) p USING (doc_id)
"""


ORACLES["text_script_detect"] = _script_detect_oracle()

ORACLES["text_hash_embed_ann"] = """
    WITH tok AS (
      SELECT doc_id,
             unnest(list_filter(
               string_split_regex(trim(lower(text)), '\\s+'),
               x -> x <> '')) AS t
      FROM documents
    ), h AS (
      SELECT doc_id,
             ('0x' || substr(md5('hembed:' || t), 1, 8))::BIGINT % 32 AS b,
             CASE WHEN ('0x' || substr(md5('hembed:' || t), 9, 1))::BIGINT % 2 = 0
                  THEN 1 ELSE -1 END AS s
      FROM tok
    ), agg AS (
      SELECT doc_id, b, SUM(s) AS v FROM h GROUP BY 1, 2
    ), ids AS (SELECT DISTINCT doc_id FROM documents),
    dense AS (
      SELECT i.doc_id, r.range AS j, COALESCE(a.v, 0) AS v
      FROM ids i CROSS JOIN range(0, 32) r
      LEFT JOIN agg a ON a.doc_id = i.doc_id AND a.b = r.range
    ), vec0 AS (
      SELECT doc_id, list(CAST(v AS DOUBLE) ORDER BY j) AS vec
      FROM dense GROUP BY 1
    ), vec AS (
      -- norm from the assembled list (sequential list_sum), not a
      -- GROUP BY SUM: grouped double addition is order-nondeterministic
      SELECT doc_id, vec,
             SQRT(list_sum(list_transform(vec, x -> x*x))) AS nrm
      FROM vec0
    ), scored AS (
      SELECT q.doc_id AS query_id, c.doc_id AS neighbor_id,
             ROUND(list_sum(list_transform(list_zip(q.vec, c.vec),
                     p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE)))
                   / (q.nrm * c.nrm), 6) AS cos
      FROM vec q JOIN vec c ON c.doc_id <> q.doc_id
      WHERE q.doc_id < 5
    )
    SELECT query_id, neighbor_id, cos, rk FROM (
      SELECT query_id, neighbor_id, cos,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id) AS rk
      FROM scored) WHERE rk <= 5
"""

ORACLES["corpus_source_report"] = """
    WITH toks AS (SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS t
                  FROM documents),
    agg AS (SELECT doc_id, count(*) AS nt, SUM(len(t)) AS char_sum,
                   SUM(CASE WHEN t IN ('the','and','of','to','in','is','that','with','for','a')
                            THEN 1 ELSE 0 END) AS stop_hits
            FROM toks GROUP BY 1),
    perdoc AS (
      SELECT d.doc_id, d.source, agg.nt,
             md5(lower(trim(regexp_replace(d.text, '\\s+', ' ', 'g')))) AS dig,
             ROUND(CAST(stop_hits AS DOUBLE) / nt, 6) AS stopword_ratio,
             ROUND(LEAST(CAST(nt AS DOUBLE) / 100.0, 1.0) * 0.5
                   + (1.0 - LEAST(CAST(len(d.text) - len(regexp_replace(d.text, '[^\\w\\s]', '', 'g')) AS DOUBLE)
                                  / len(d.text) * 5.0, 1.0)) * 0.3
                   + LEAST(CAST(stop_hits AS DOUBLE) / nt * 5.0, 1.0) * 0.2, 6) AS quality_score
      FROM documents d JOIN agg ON d.doc_id = agg.doc_id
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(nt) AS BIGINT) AS total_tokens,
           CAST(count(DISTINCT dig) AS BIGINT) AS n_unique,
           ROUND(count(DISTINCT dig)*1.0/count(*), 6) AS unique_rate,
           ROUND(AVG(quality_score), 6) AS mean_quality,
           ROUND(AVG(stopword_ratio), 6) AS mean_stopword_ratio
    FROM perdoc GROUP BY 1
"""

ORACLES["text_strip_html"] = """
    WITH planted AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0
                  THEN '<html><body class="main">' || chr(10) || '<p>' || text
                       || '</p>' || chr(10)
                       || '<a href="http://x.example">a &amp; b &lt;tag&gt;</a></body></html>'
                  ELSE text END AS text
      FROM documents
    ), s1 AS (
      SELECT doc_id, text,
             regexp_replace(text, '<[^>]+>', ' ', 'g') AS no_tags
      FROM planted
    ), s2 AS (
      SELECT doc_id, text, no_tags,
             replace(replace(replace(replace(replace(replace(no_tags,
               '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
               '&nbsp;', ' '), '&amp;', '&') AS decoded
      FROM s1
    ), fin AS (
      SELECT doc_id, text,
             trim(regexp_replace(decoded, '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')) AS cleaned
      FROM s2
    )
    SELECT f.doc_id,
           md5(f.cleaned) AS stripped_md5,
           CAST(len(regexp_extract_all(f.text, '<[^>]+>')) AS BIGINT) AS n_tags,
           CAST(len(f.text) AS BIGINT) AS n_chars_raw,
           CAST(len(f.cleaned) AS BIGINT) AS n_chars_stripped
    FROM fin f
"""

ORACLES["sql_recursive_calendar"] = """
    WITH RECURSIVE cal(day) AS (
      SELECT DATE '1995-01-01'
      UNION ALL
      SELECT day + 1 FROM cal WHERE day < DATE '1995-03-31'
    )
    SELECT cal.day AS day, CAST(COALESCE(o.cnt, 0) AS BIGINT) AS n_orders
    FROM cal LEFT JOIN (
      SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*) AS cnt
      FROM orders GROUP BY 1
    ) o ON o.d = cal.day
"""

_HASH_EMBED_CTE = f"""
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {DUP_ID_OFFSET}, text FROM documents WHERE doc_id % 5 = 0
), tok AS (
  SELECT doc_id,
         unnest(list_filter(
           string_split_regex(trim(lower(text)), '\\s+'),
           x -> x <> '')) AS t
  FROM corpus
), hb AS (
  SELECT doc_id,
         ('0x' || substr(md5('hembed:' || t), 1, 8))::BIGINT % 32 AS b,
         CASE WHEN ('0x' || substr(md5('hembed:' || t), 9, 1))::BIGINT % 2 = 0
              THEN 1 ELSE -1 END AS s
  FROM tok
), hagg AS (
  SELECT doc_id, b, SUM(s) AS v FROM hb GROUP BY 1, 2
), hdense AS (
  SELECT i.doc_id, r.range AS j, COALESCE(a.v, 0) AS v
  FROM (SELECT DISTINCT doc_id FROM corpus) i CROSS JOIN range(0, 32) r
  LEFT JOIN hagg a ON a.doc_id = i.doc_id AND a.b = r.range
), emb AS (
  SELECT doc_id AS vec_id, list(CAST(v AS DOUBLE) ORDER BY j) AS embedding
  FROM hdense GROUP BY 1
)"""

ORACLES["pipeline_semantic_dedup"] = f"""
    WITH {_HASH_EMBED_CTE},
    {_lsh_bucket_cte_auto(32, 2, 8, src="emb")},
    cand AS (SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
             FROM buckets x JOIN buckets y
               ON x.band = y.band AND x.bucket = y.bucket
              AND x.vec_id < y.vec_id)
    SELECT cd.id_a, cd.id_b, {{cos}} AS cos
    FROM cand cd
    JOIN emb q ON q.vec_id = cd.id_a
    JOIN emb c ON c.vec_id = cd.id_b
    WHERE {{cos}} >= 0.95
""".format(cos=_COS_SQL)

ORACLES["q10_returned_items"] = """
    SELECT c_custkey, c_name, n_name,
           CAST(SUM(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)
                    AS BIGINT)) AS BIGINT) AS revenue_cents
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue_cents DESC, c_custkey ASC
    LIMIT 20
"""

ORACLES["q14_promo_revenue"] = """
    SELECT ROUND(100.0 * SUM(CASE WHEN p_type = 'PROMO'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0.0 END)
                 / SUM(l_extendedprice * (1 - l_discount)), 4) AS promo_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1996-03-01 00:00:00'
"""

ORACLES["window_range_frame_spend"] = """
    SELECT o_custkey, o_orderkey,
           CAST(datediff('day', DATE '1995-01-01', o_orderdate) AS INT)
             AS order_day,
           CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) OVER w
                AS BIGINT) AS spend_30d_cents,
           CAST(COUNT(*) OVER w AS BIGINT) AS orders_30d
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY datediff('day', DATE '1995-01-01', o_orderdate)
                 RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
"""

ORACLES["q4_order_priority"] = """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1995-07-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1995-10-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
"""

ORACLES["q13_customer_distribution"] = """
    SELECT c_count, count(*) AS custdist
    FROM (SELECT c_custkey, count(o_orderkey) AS c_count
          FROM customer
          LEFT OUTER JOIN orders
            ON c_custkey = o_custkey AND o_orderstatus <> 'F'
          GROUP BY c_custkey)
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
"""

ORACLES["q17_small_quantity_revenue"] = """
    SELECT CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
           AS BIGINT) AS small_qty_revenue_cents
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    JOIN (SELECT l_partkey AS agg_partkey,
                 SUM(CAST(l_quantity AS BIGINT)) AS sum_qty,
                 count(*) AS cnt_qty
          FROM lineitem GROUP BY l_partkey) ON l_partkey = agg_partkey
    WHERE p_brand = 'Brand#23'
      AND CAST(l_quantity AS BIGINT) * 5 * cnt_qty < sum_qty
"""

ORACLES["q18_large_volume_customers"] = """
    SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
           CAST(tot_qty AS BIGINT) AS tot_qty
    FROM orders
    JOIN (SELECT l_orderkey, SUM(CAST(l_quantity AS BIGINT)) AS tot_qty
          FROM lineitem GROUP BY l_orderkey
          HAVING SUM(CAST(l_quantity AS BIGINT)) > 160) big
      ON o_orderkey = big.l_orderkey
    JOIN customer ON o_custkey = c_custkey
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 25
"""

ORACLES["q19_disjunctive_pred"] = """
    SELECT CAST(SUM(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)
                    AS BIGINT)) AS BIGINT) AS revenue_cents
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 20 AND 30)
"""

ORACLES["q22_global_sales_opportunity"] = """
    WITH stats AS (
      SELECT SUM(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS sum_cents,
             count(*) AS n_pos
      FROM customer WHERE c_acctbal > 0.0
    )
    SELECT c_mktsegment, count(*) AS numcust,
           CAST(SUM(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS totacctbal_cents
    FROM customer, stats
    WHERE CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) * n_pos > sum_cents
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                      AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
"""

ORACLES["q7_nation_volume"] = """
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           CAST(year(l_shipdate) AS BIGINT) AS l_year,
           CAST(SUM(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)
                    AS BIGINT)) AS BIGINT) AS revenue_cents
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      AND sn.n_name < cn.n_name
    GROUP BY 1, 2, 3
"""


# --- r7 TPC-H completion oracles (q2/q9/q11/q12/q15/q16/q20/q21 shapes) -----

ORACLES["q2_min_cost_supplier"] = """
    WITH cost AS (
      SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
             MIN(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS ps_cost_cents
      FROM lineitem GROUP BY 1, 2
    ), eur AS (
      SELECT c.*, s.s_acctbal, s.s_name, n.n_name
      FROM cost c
      JOIN supplier s ON c.ps_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      WHERE r.r_name = 'EUROPE'
    ), mc AS (
      SELECT ps_partkey AS mc_partkey, MIN(ps_cost_cents) AS min_cost_cents
      FROM eur GROUP BY 1
    )
    SELECT e.s_acctbal, e.s_name, e.n_name, p.p_partkey, p.p_brand,
           e.ps_cost_cents
    FROM eur e
    JOIN part p ON e.ps_partkey = p.p_partkey AND p.p_size = 15
    JOIN mc ON e.ps_partkey = mc.mc_partkey
           AND e.ps_cost_cents = mc.min_cost_cents
    ORDER BY e.s_acctbal DESC, e.n_name, e.s_name, p.p_partkey
    LIMIT 20
"""

ORACLES["q9_product_profit"] = """
    SELECT n.n_name AS nation,
           CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
           CAST(SUM(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5) AS BIGINT)
                    - CAST(l.l_quantity AS BIGINT)
                      * CAST(floor(p.p_retailprice * 60 + 0.5) AS BIGINT)) AS BIGINT)
             AS profit_cents
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey AND p.p_name LIKE '%gear%'
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1, 2
    ORDER BY nation, o_year DESC
"""

ORACLES["q11_important_stock"] = """
    WITH base AS (
      SELECT l.l_partkey,
             CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      WHERE n.n_name = 'NATION_7'
    ), per_part AS (
      SELECT l_partkey, CAST(SUM(cents) AS BIGINT) AS value_cents
      FROM base GROUP BY 1
    ), total AS (SELECT CAST(SUM(value_cents) AS BIGINT) AS t FROM per_part)
    SELECT l_partkey AS p_partkey, value_cents
    FROM per_part, total
    WHERE value_cents * 1000 > t
    ORDER BY value_cents DESC, p_partkey
"""

ORACLES["q12_shipping_priority_classes"] = """
    SELECT CASE WHEN date_diff('day', o.o_orderdate, l.l_shipdate) > 60
                THEN 'SLOW' ELSE 'FAST' END AS ship_class,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY 1
    ORDER BY ship_class
"""

ORACLES["q15_top_supplier"] = """
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             CAST(SUM(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)
                           AS BIGINT)) AS BIGINT) AS total_revenue_cents
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY 1
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue_cents
    FROM revenue r
    JOIN supplier s ON r.supplier_no = s.s_suppkey
    WHERE r.total_revenue_cents = (SELECT MAX(total_revenue_cents) FROM revenue)
    ORDER BY s.s_suppkey
"""

ORACLES["q16_supplier_part_counts"] = """
    SELECT p.p_brand, p.p_type, p.p_size,
           CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_brand <> 'Brand#5'
      AND p.p_size IN (1, 9, 15, 25, 36, 49)
      AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY 1, 2, 3
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""

ORACLES["q20_excess_shippers"] = """
    WITH per_supp AS (
      SELECT l.l_suppkey AS q_suppkey,
             CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS total_qty,
             CAST(SUM(CASE WHEN l.l_shipdate >= TIMESTAMP '1997-01-01'
                           THEN CAST(l.l_quantity AS BIGINT) ELSE 0 END)
                  AS BIGINT) AS recent_qty
      FROM lineitem l
      JOIN part p ON l.l_partkey = p.p_partkey
      WHERE p.p_name LIKE '%red%'
      GROUP BY 1
    )
    SELECT s.s_name, s.s_acctbal, ps.total_qty, ps.recent_qty
    FROM per_supp ps
    JOIN supplier s ON ps.q_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE n.n_name = 'NATION_3' AND ps.recent_qty * 2 > ps.total_qty
    ORDER BY s.s_name
"""

ORACLES["q21_waiting_orders"] = """
    WITH per AS (
      SELECT l.l_orderkey, l.l_suppkey,
             MAX(CASE WHEN date_diff('day', o.o_orderdate, l.l_shipdate) > 90
                      THEN 1 ELSE 0 END) AS is_late
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderstatus = 'F'
      GROUP BY 1, 2
    ), win AS (
      SELECT l_orderkey, l_suppkey, is_late,
             COUNT(*) OVER (PARTITION BY l_orderkey) AS n_supps,
             SUM(is_late) OVER (PARTITION BY l_orderkey) AS n_late
      FROM per
    )
    SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM win w
    JOIN supplier s ON w.l_suppkey = s.s_suppkey
    WHERE w.is_late = 1 AND w.n_supps > 1 AND w.n_late = 1
    GROUP BY 1
    ORDER BY numwait DESC, s_name
    LIMIT 20
"""

# -- round-12 session-2 additions: heavy hitters, KN trigram LM, PQ ANN ------

ORACLES["sketch_heavy_hitters"] = """
    WITH s AS (
      SELECT CAST(FLOOR(1048576 / (
               ('0x' || substr(md5(CAST(l_orderkey*8 + l_linenumber AS VARCHAR)),
                       1, 5))::BIGINT + 1)) AS BIGINT) AS key
      FROM lineitem),
    tot AS (SELECT count(*) AS n FROM s),
    c AS (SELECT key, count(*) AS cnt FROM s GROUP BY 1)
    SELECT c.key, CAST(c.cnt AS BIGINT) AS cnt,
           ROUND(CAST(c.cnt AS DOUBLE) / tot.n, 6) AS share
    FROM c, tot
    WHERE c.cnt * 128 >= tot.n
"""

ORACLES["text_kn_trigram_logprob"] = """
    WITH tr AS (SELECT text FROM documents WHERE source IN ('src0','src1')),
    sc0 AS (SELECT doc_id, text FROM documents
            WHERE source NOT IN ('src0','src1')),
    trt AS (SELECT list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                               t -> t <> '') AS ts FROM tr),
    vocab AS (SELECT t FROM (SELECT unnest(ts) AS t FROM trt)
              GROUP BY t ORDER BY count(*) DESC, t LIMIT 30),
    vl AS (SELECT LIST(t) AS vs FROM vocab),
    trc AS (SELECT list_transform(ts,
               x -> CASE WHEN list_contains(vl.vs, x)
                         THEN x ELSE '<unk>' END) AS ws FROM trt, vl),
    trg AS (SELECT unnest(list_transform(range(1, CAST(len(ws)-1 AS BIGINT)),
                                         i -> [ws[i], ws[i+1], ws[i+2]])) AS g
            FROM trc WHERE len(ws) >= 3),
    t3 AS (SELECT g[1] AS w1, g[2] AS w2, g[3] AS w3 FROM trg),
    tri AS (SELECT w1, w2, w3, CAST(count(*) AS BIGINT) AS c3
            FROM t3 GROUP BY 1, 2, 3),
    ctx3 AS (SELECT w1, w2, CAST(SUM(c3) AS BIGINT) AS c2ctx,
                    CAST(count(*) AS BIGINT) AS n3 FROM tri GROUP BY 1, 2),
    cb AS (SELECT w2, w3, CAST(count(*) AS BIGINT) AS b_cc2
           FROM tri GROUP BY 1, 2),
    cbx AS (SELECT w2, CAST(SUM(b_cc2) AS BIGINT) AS ctx2s,
                   CAST(count(*) AS BIGINT) AS n2 FROM cb GROUP BY 1),
    cu AS (SELECT w3, CAST(count(*) AS BIGINT) AS u_cc1 FROM cb GROUP BY 1),
    tot AS (SELECT CAST(SUM(u_cc1) AS BIGINT) AS tt,
                   CAST(count(*) AS BIGINT) AS uu FROM cu),
    sct AS (SELECT doc_id,
                   list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                               t -> t <> '') AS ts FROM sc0),
    scc AS (SELECT doc_id, list_transform(ts,
               x -> CASE WHEN list_contains(vl.vs, x)
                         THEN x ELSE '<unk>' END) AS ws FROM sct, vl),
    scg AS (SELECT doc_id,
                   unnest(list_transform(range(1, CAST(len(ws)-1 AS BIGINT)),
                                         i -> [ws[i], ws[i+1], ws[i+2]])) AS g
            FROM scc WHERE len(ws) >= 3),
    st3 AS (SELECT doc_id, g[1] AS w1, g[2] AS w2, g[3] AS w3 FROM scg),
    j AS (SELECT st3.doc_id, tri.c3, ctx3.c2ctx, ctx3.n3, cb.b_cc2,
                 cbx.ctx2s, cbx.n2, cu.u_cc1, tot.tt, tot.uu
          FROM st3
          LEFT JOIN tri USING (w1, w2, w3)
          LEFT JOIN ctx3 USING (w1, w2)
          LEFT JOIN cb USING (w2, w3)
          LEFT JOIN cbx USING (w2)
          LEFT JOIN cu USING (w3)
          CROSS JOIN tot),
    p1c AS (SELECT *,
              GREATEST(CAST(COALESCE(u_cc1, 0) AS DOUBLE) - 0.75, 0.0)
                / CAST(tt AS DOUBLE)
              + 0.75 * CAST(uu AS DOUBLE) / CAST(tt AS DOUBLE) / 31.0 AS p1
            FROM j),
    p2c AS (SELECT *,
              CASE WHEN ctx2s IS NULL THEN p1
                   ELSE GREATEST(CAST(COALESCE(b_cc2, 0) AS DOUBLE) - 0.75, 0.0)
                          / CAST(ctx2s AS DOUBLE)
                        + 0.75 * CAST(n2 AS DOUBLE) / CAST(ctx2s AS DOUBLE) * p1
              END AS p2
            FROM p1c),
    p3c AS (SELECT *,
              CASE WHEN c2ctx IS NULL THEN p2
                   ELSE GREATEST(CAST(COALESCE(c3, 0) AS DOUBLE) - 0.75, 0.0)
                          / CAST(c2ctx AS DOUBLE)
                        + 0.75 * CAST(n3 AS DOUBLE) / CAST(c2ctx AS DOUBLE) * p2
              END AS p3
            FROM p2c),
    agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
                   CAST(SUM(CASE WHEN c3 IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_unseen,
                   ROUND(AVG(ln(p3)), 6) AS avg_kn_logprob
            FROM p3c GROUP BY 1)
    SELECT d.doc_id, COALESCE(agg.n_trigrams, 0) AS n_trigrams,
           COALESCE(agg.n_unseen, 0) AS n_unseen, agg.avg_kn_logprob
    FROM sc0 d LEFT JOIN agg USING (doc_id)
"""


# Full PQ replication in SQL (same discipline as the ivf_kmeans_topk
# oracle): each of the four subspace k-means trainings is replayed
# CTE-by-CTE (md5-seeded init, two Lloyd iterations, round-6 argmax
# ties), then the encode argmax, every LUT entry, the fixed-order
# 4-term ADC sum, the 32-candidate shortlist, and the exact rerank.
def _pq_sql_dot(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(list_zip({a}, {b}), "
        f"p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE)))"
    )


def _pq_assign_cte(norms: str, cent: str) -> str:
    dot = _pq_sql_dot("v.emb", "c.centv")
    return f"""
      SELECT vec_id, list_id FROM (
        SELECT v.vec_id, c.list_id,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
                 ROUND({dot} / (v.nrm * c.centn), 6) DESC, c.list_id ASC) AS rk
        FROM {norms} v, {cent} c) WHERE rk = 1"""


def _pq_mean_cte(assign: str, norms: str) -> str:
    return f"""
      SELECT list_id, centv,
             SQRT(list_sum(list_transform(centv,
                  x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS centn
      FROM (
        SELECT list_id, list(avgv ORDER BY pos) AS centv FROM (
          SELECT a.list_id, u.pos, AVG(u.val) AS avgv
          FROM {assign} a JOIN {norms} n USING (vec_id),
               LATERAL (SELECT unnest(n.emb) AS val,
                               generate_subscripts(n.emb, 1) AS pos) u
          GROUP BY a.list_id, u.pos)
        GROUP BY list_id)"""


def _pq_oracle(
    n_sub: int = 4,
    width: int = 16,
    n_codes: int = 16,
    train_where: str = "",
    query_where: str = "vec_id < 8",
    ivf_probe: int | None = None,
    ivf_stride: int = 29,
    ivf_cent_where: str = "",
) -> str:
    """PQ pipeline replay.  *train_where* restricts codebook training
    (seeds + both Lloyd iterations) to a sub-corpus — empty trains on
    everything (the batch gate); the incremental gate trains on the
    STANDING corpus only, encodes everything, and queries the arriving
    batch (*query_where*), replaying pq_incremental_topk's frozen-
    codebook parity contract value-for-value.

    *ivf_probe* splices the IVF coarse prune into the ADC scan (the
    ivf_pq_topk composition, VERDICT r14 task 3): three extra CTEs
    replay the stride-sampled centroids, the corpus list assignment,
    and each query's top-*ivf_probe* probe selection (round-6 cosine,
    ties → smallest list id — the ivf_cosine_topk oracle verbatim),
    and the scored join is restricted to (probed list, owning query)
    pairs.  Everything else — LUT, fixed-order ADC sum, both ranks —
    is byte-identical to the plain PQ oracle."""
    tw = f"WHERE {train_where}" if train_where else ""
    ctes = []
    if ivf_probe is not None:
        dot_vc = _pq_sql_dot("v.embedding", "c.centv")
        dot_qc = _pq_sql_dot("q.embedding", "c.centv")
        ctes.append(
            """ifnorm AS (
      SELECT vec_id, embedding,
             SQRT(list_sum(list_transform(embedding,
                  x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS nrm
      FROM embeddings)"""
        )
        cent_and = f" AND {ivf_cent_where}" if ivf_cent_where else ""
        ctes.append(
            f"""icent AS (
      SELECT vec_id AS ivf_list, embedding AS centv, nrm AS centn
      FROM ifnorm WHERE vec_id % {ivf_stride} = 0{cent_and})"""
        )
        ctes.append(
            f"""iassign AS (
      SELECT vec_id, ivf_list FROM (
        SELECT v.vec_id, c.ivf_list,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
                 ROUND({dot_vc} / (v.nrm * c.centn), 6) DESC,
                 c.ivf_list ASC) AS rk
        FROM ifnorm v, icent c) WHERE rk = 1)"""
        )
        ctes.append(
            f"""iprobes AS (
      SELECT query_id, ivf_list FROM (
        SELECT q.vec_id AS query_id, c.ivf_list,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
                 ROUND({dot_qc} / (q.nrm * c.centn), 6) DESC,
                 c.ivf_list ASC) AS rk
        FROM ifnorm q, icent c WHERE {query_where}) WHERE rk <= {ivf_probe})"""
        )
    for s in range(n_sub):
        lo, hi = s * width + 1, (s + 1) * width
        ctes.append(
            f"""norms{s} AS (
      SELECT vec_id, embedding[{lo}:{hi}] AS emb,
             SQRT(list_sum(list_transform(embedding[{lo}:{hi}],
                  x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS nrm
      FROM embeddings)"""
        )
        ctes.append(f"tnorms{s} AS (SELECT * FROM norms{s} {tw})")
        ctes.append(
            f"""seed{s} AS (
      SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1
               AS list_id,
             emb AS centv, nrm AS centn
      FROM tnorms{s} ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {n_codes})"""
        )
        ctes.append(f"a{s}1 AS ({_pq_assign_cte(f'tnorms{s}', f'seed{s}')})")
        ctes.append(f"c{s}1 AS ({_pq_mean_cte(f'a{s}1', f'tnorms{s}')})")
        ctes.append(f"a{s}2 AS ({_pq_assign_cte(f'tnorms{s}', f'c{s}1')})")
        ctes.append(f"c{s}2 AS ({_pq_mean_cte(f'a{s}2', f'tnorms{s}')})")
        ctes.append(f"enc{s} AS ({_pq_assign_cte(f'norms{s}', f'c{s}2')})")
        lut_dot = _pq_sql_dot("v.emb", "c.centv")
        ctes.append(
            f"""lut{s} AS (
      SELECT v.vec_id AS query_id, c.list_id, ROUND({lut_dot}, 6) AS d
      FROM norms{s} v, c{s}2 c WHERE {query_where})"""
        )
    enc_joins = "\n      ".join(
        f"JOIN enc{s} e{s} USING (vec_id)" for s in range(1, n_sub)
    )
    lut_joins = "\n      ".join(
        f"JOIN lut{s} l{s} ON l{s}.query_id = l0.query_id "
        f"AND l{s}.list_id = e{s}.list_id"
        for s in range(1, n_sub)
    )
    adc_sum = " + ".join(f"l{s}.d" for s in range(n_sub))
    ivf_joins = (
        """
      JOIN iassign ia ON ia.vec_id = e0.vec_id
      JOIN iprobes ip ON ip.ivf_list = ia.ivf_list
                     AND ip.query_id = l0.query_id"""
        if ivf_probe is not None
        else ""
    )
    ctes.append(
        f"""scored AS (
      SELECT l0.query_id, e0.vec_id AS neighbor_id,
             ROUND({adc_sum}, 6) AS adc
      FROM enc0 e0
      {enc_joins}
      JOIN lut0 l0 ON l0.list_id = e0.list_id
      {lut_joins}{ivf_joins}
      WHERE e0.vec_id != l0.query_id)"""
    )
    ctes.append(
        """shortlist AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY adc DESC, neighbor_id ASC) AS ark
        FROM scored) WHERE ark <= 32)"""
    )
    full_dot = _pq_sql_dot("q.embedding", "n.embedding")
    ctes.append(
        """fnorm AS (
      SELECT vec_id, embedding,
             SQRT(list_sum(list_transform(embedding,
                  x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS nrm
      FROM embeddings)"""
    )
    ctes.append(
        f"""rer AS (
      SELECT s.query_id, s.neighbor_id,
             ROUND({full_dot} / (q.nrm * n.nrm), 6) AS cos
      FROM shortlist s
      JOIN fnorm q ON q.vec_id = s.query_id
      JOIN fnorm n ON n.vec_id = s.neighbor_id)"""
    )
    body = ",\n    ".join(ctes)
    return f"""
    WITH {body}
    SELECT query_id, neighbor_id, cos, rk FROM (
      SELECT query_id, neighbor_id, cos,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id ASC) AS rk
      FROM rer) WHERE rk <= 5
"""


ORACLES["ann_pq_adc_topk"] = _pq_oracle()
ORACLES["ann_ivf_pq_topk"] = _pq_oracle(ivf_probe=4)
ORACLES["ann_ivf_pq_incremental"] = _pq_oracle(
    train_where="vec_id % 25 != 0",
    query_where="vec_id % 25 = 0",
    ivf_probe=4,
    ivf_cent_where="vec_id % 25 != 0",
)

# incremental: train on the standing corpus, encode the union, query
# the arriving batch — the frozen-codebook parity replay
ORACLES["ann_pq_incremental"] = _pq_oracle(
    train_where="vec_id % 25 <> 0", query_where="vec_id % 25 = 0"
)

# r13: rolling z-score — identical frame (time, event_id order), exact
# integer window sums, the same fixed moment expressions, ROUND(z,6)
ORACLES["events_anomaly_zscore"] = """
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS ts_us, event_id, value,
             CAST(FLOOR(value*1000 + 0.5) AS BIGINT) AS v
      FROM events
    ), s AS (
      SELECT user_id, ts_us, event_id, value, v,
             COUNT(v) OVER w AS n,
             SUM(v) OVER w AS sv,
             SUM(v*v) OVER w AS ss
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
                   ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
    ), z AS (
      SELECT user_id, ts_us, event_id, value,
             CAST(n AS BIGINT) AS n_baseline,
             CASE WHEN n >= 8 AND ss*n > sv*sv THEN
               ROUND((CAST(v AS DOUBLE) - CAST(sv AS DOUBLE)/n)
                     / SQRT(CAST(ss AS DOUBLE)/n
                            - (CAST(sv AS DOUBLE)/n)*(CAST(sv AS DOUBLE)/n)), 6)
             END AS z
      FROM s
    )
    SELECT user_id, ts_us, event_id, value, n_baseline, z,
           COALESCE(ABS(z) > 3.0, FALSE) AS is_anomaly
    FROM z
"""

# r13: cross-source overlap matrix — the decontamination gram hashing
# (n=8: range end len-6 exclusive, slice w[i:i+7] inclusive), per-source
# distinct sets, every pair count + Jaccard
ORACLES["report_source_overlap"] = """
    WITH w AS (
      SELECT source,
             list_filter(string_split_regex(lower(text), '[^0-9a-z_]+'),
                         x -> x <> '') AS w
      FROM documents
    ), g0 AS (
      SELECT source,
             unnest(list_distinct(list_transform(
               range(1, CAST(len(w) AS BIGINT) - 6), i ->
               ('0x' || substring(md5(array_to_string(w[i:i+7], ' ')), 1, 15))::BIGINT
             ))) AS h
      FROM w WHERE len(w) >= 8
    ), g AS (SELECT DISTINCT source, h FROM g0),
    tot AS (SELECT source, COUNT(*) AS t FROM g GROUP BY 1),
    sh AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(COUNT(*) AS BIGINT) AS n_shared
      FROM g a JOIN g b ON a.h = b.h AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT source_a, source_b, n_shared,
           CAST(ta.t AS BIGINT) AS n_a, CAST(tb.t AS BIGINT) AS n_b,
           ROUND(CAST(n_shared AS DOUBLE) / (ta.t + tb.t - n_shared), 6)
             AS jaccard
    FROM sh
    JOIN tot ta ON ta.source = sh.source_a
    JOIN tot tb ON tb.source = sh.source_b
"""

ORACLES["text_span_scrub"] = """
    WITH planted AS (
      SELECT doc_id,
             COALESCE(text, '') || chr(10) || chr(10)
               || 'contact me at user' || CAST(doc_id AS VARCHAR)
               || '@example.com' || chr(10) || chr(10) || 'ok'
               || chr(10) || chr(10)
               || 'closing body paragraph for doc ' || CAST(doc_id AS VARCHAR)
               AS t
      FROM documents),
    sp AS (
      SELECT doc_id, u.p AS span, u.i - 1 AS span_idx
      FROM planted,
           LATERAL (SELECT unnest(string_split(t, chr(10)||chr(10))) AS p,
                           generate_subscripts(
                             string_split(t, chr(10)||chr(10)), 1) AS i) u),
    att AS (
      SELECT doc_id, span_idx,
             (len(list_filter(string_split_regex(trim(span), '\\s+'),
                              x -> x <> '')) < 3) AS too_short,
             (regexp_matches(span,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+')
              OR regexp_matches(
                   regexp_replace(span,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+',
                     '<EMAIL>', 'g'),
                   '\\+[0-9]{1,3}([- ][0-9]{2,4}){2,4}|\\([0-9]{3}\\) [0-9]{3}-[0-9]{4}')
              OR regexp_matches(
                   regexp_replace(
                     regexp_replace(span,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+',
                       '<EMAIL>', 'g'),
                     '\\+[0-9]{1,3}([- ][0-9]{2,4}){2,4}|\\([0-9]{3}\\) [0-9]{3}-[0-9]{4}',
                     '<PHONE>', 'g'),
                   '\\b[0-9]{1,3}(\\.[0-9]{1,3}){3}\\b')) AS has_pii,
             (len(span) > 0 AND
              ROUND(CAST(len(regexp_replace(lower(span), '[a-z0-9\\s]', '', 'g'))
                         AS DOUBLE) / CAST(len(span) AS DOUBLE), 6) > 0.5)
               AS symbol_heavy
      FROM sp),
    kept AS (
      SELECT sp.doc_id, sp.span, sp.span_idx
      FROM sp JOIN att USING (doc_id, span_idx)
      WHERE NOT (att.too_short OR att.has_pii OR att.symbol_heavy)),
    reb AS (
      SELECT doc_id,
             string_agg(span, chr(10)||chr(10) ORDER BY span_idx) AS scrubbed,
             CAST(count(*) AS BIGINT) AS n_kept,
             CAST(SUM(len(span)) AS BIGINT) AS kept_chars
      FROM kept GROUP BY 1),
    tot AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
             CAST(SUM(len(span)) AS BIGINT) AS total_chars
      FROM sp GROUP BY 1)
    SELECT t2.doc_id, md5(COALESCE(reb.scrubbed, '')) AS scrubbed_md5,
           COALESCE(reb.n_kept, 0) AS n_spans_kept,
           t2.n_spans - COALESCE(reb.n_kept, 0) AS n_spans_removed,
           t2.total_chars - COALESCE(reb.kept_chars, 0) AS chars_removed
    FROM tot t2 LEFT JOIN reb USING (doc_id)
"""

ORACLES["select_nb_quality"] = """
    WITH posd AS (SELECT text FROM documents WHERE source IN ('src0','src1')),
    negd AS (SELECT text FROM documents WHERE source IN ('src2','src3')),
    sc0 AS (SELECT doc_id, text FROM documents
            WHERE source NOT IN ('src0','src1','src2','src3')),
    post AS (SELECT list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                                t -> t <> '') AS ts FROM posd),
    negt AS (SELECT list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                                t -> t <> '') AS ts FROM negd),
    train AS (SELECT ts FROM post UNION ALL SELECT ts FROM negt),
    vocab AS (SELECT t FROM (SELECT unnest(ts) AS t FROM train)
              GROUP BY t ORDER BY count(*) DESC, t LIMIT 30),
    vl AS (SELECT LIST(t) AS vs FROM vocab),
    cp AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM (
             SELECT CASE WHEN list_contains(vl.vs, u.t)
                         THEN u.t ELSE '<unk>' END AS w
             FROM post, vl, LATERAL (SELECT unnest(ts) AS t) u)
           GROUP BY 1),
    cn AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM (
             SELECT CASE WHEN list_contains(vl.vs, u.t)
                         THEN u.t ELSE '<unk>' END AS w
             FROM negt, vl, LATERAL (SELECT unnest(ts) AS t) u)
           GROUP BY 1),
    tot AS (SELECT (SELECT SUM(c) FROM cp) AS np,
                   (SELECT SUM(c) FROM cn) AS nn),
    sct AS (SELECT doc_id,
                   list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                               t -> t <> '') AS ts FROM sc0),
    scw AS (SELECT doc_id,
                   CASE WHEN list_contains(vl.vs, u.t)
                        THEN u.t ELSE '<unk>' END AS w
            FROM sct, vl, LATERAL (SELECT unnest(ts) AS t) u),
    s AS (SELECT scw.doc_id,
                 ln(CAST(COALESCE(cp.c, 0) + 1 AS DOUBLE)
                    / CAST(COALESCE(tot.np, 0) + 31 AS DOUBLE))
                 - ln(CAST(COALESCE(cn.c, 0) + 1 AS DOUBLE)
                      / CAST(COALESCE(tot.nn, 0) + 31 AS DOUBLE)) AS llr
          FROM scw LEFT JOIN cp ON cp.w = scw.w
                   LEFT JOIN cn ON cn.w = scw.w
                   CROSS JOIN tot),
    agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                   ROUND(AVG(llr), 6) AS nb_logodds
            FROM s GROUP BY 1)
    SELECT d.doc_id, COALESCE(agg.n_tokens, 0) AS n_tokens, agg.nb_logodds,
           COALESCE(agg.nb_logodds >= 0.0, FALSE) AS kept
    FROM sc0 d LEFT JOIN agg USING (doc_id)
"""

# The session-2 capstone oracle: the span-scrub replay (planted/sp/att/
# kept/reb — identical CTEs to text_span_scrub) feeds the NB-classifier
# replay (identical CTEs to select_nb_quality, reading scrubbed text),
# then the per-source rollup.
ORACLES["pipeline_scrub_classify_report"] = """
    WITH planted AS (
      SELECT doc_id, source,
             COALESCE(text, '') || chr(10) || chr(10)
               || 'contact me at user' || CAST(doc_id AS VARCHAR)
               || '@example.com' || chr(10) || chr(10) || 'ok'
               || chr(10) || chr(10)
               || 'closing body paragraph for doc ' || CAST(doc_id AS VARCHAR)
               AS t
      FROM documents),
    sp AS (
      SELECT doc_id, u.p AS span, u.i - 1 AS span_idx
      FROM planted,
           LATERAL (SELECT unnest(string_split(t, chr(10)||chr(10))) AS p,
                           generate_subscripts(
                             string_split(t, chr(10)||chr(10)), 1) AS i) u),
    att AS (
      SELECT doc_id, span_idx,
             (len(list_filter(string_split_regex(trim(span), '\\s+'),
                              x -> x <> '')) < 3) AS too_short,
             (regexp_matches(span,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+')
              OR regexp_matches(
                   regexp_replace(span,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+',
                     '<EMAIL>', 'g'),
                   '\\+[0-9]{1,3}([- ][0-9]{2,4}){2,4}|\\([0-9]{3}\\) [0-9]{3}-[0-9]{4}')
              OR regexp_matches(
                   regexp_replace(
                     regexp_replace(span,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+',
                       '<EMAIL>', 'g'),
                     '\\+[0-9]{1,3}([- ][0-9]{2,4}){2,4}|\\([0-9]{3}\\) [0-9]{3}-[0-9]{4}',
                     '<PHONE>', 'g'),
                   '\\b[0-9]{1,3}(\\.[0-9]{1,3}){3}\\b')) AS has_pii,
             (len(span) > 0 AND
              ROUND(CAST(len(regexp_replace(lower(span), '[a-z0-9\\s]', '', 'g'))
                         AS DOUBLE) / CAST(len(span) AS DOUBLE), 6) > 0.5)
               AS symbol_heavy
      FROM sp),
    keptsp AS (
      SELECT sp.doc_id, sp.span, sp.span_idx
      FROM sp JOIN att USING (doc_id, span_idx)
      WHERE NOT (att.too_short OR att.has_pii OR att.symbol_heavy)),
    reb AS (
      SELECT doc_id,
             string_agg(span, chr(10)||chr(10) ORDER BY span_idx) AS scrubbed
      FROM keptsp GROUP BY 1),
    scrubbed AS (
      SELECT p2.doc_id, p2.source, COALESCE(reb.scrubbed, '') AS text
      FROM planted p2 LEFT JOIN reb USING (doc_id)),
    posd AS (SELECT text FROM scrubbed WHERE source IN ('src0','src1')),
    negd AS (SELECT text FROM scrubbed WHERE source IN ('src2','src3')),
    sc0 AS (SELECT doc_id, source, text FROM scrubbed
            WHERE source NOT IN ('src0','src1','src2','src3')),
    post AS (SELECT list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                                t -> t <> '') AS ts FROM posd),
    negt AS (SELECT list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                                t -> t <> '') AS ts FROM negd),
    train AS (SELECT ts FROM post UNION ALL SELECT ts FROM negt),
    vocab AS (SELECT t FROM (SELECT unnest(ts) AS t FROM train)
              GROUP BY t ORDER BY count(*) DESC, t LIMIT 30),
    vl AS (SELECT LIST(t) AS vs FROM vocab),
    cp AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM (
             SELECT CASE WHEN list_contains(vl.vs, u.t)
                         THEN u.t ELSE '<unk>' END AS w
             FROM post, vl, LATERAL (SELECT unnest(ts) AS t) u)
           GROUP BY 1),
    cn AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM (
             SELECT CASE WHEN list_contains(vl.vs, u.t)
                         THEN u.t ELSE '<unk>' END AS w
             FROM negt, vl, LATERAL (SELECT unnest(ts) AS t) u)
           GROUP BY 1),
    tot AS (SELECT (SELECT SUM(c) FROM cp) AS np,
                   (SELECT SUM(c) FROM cn) AS nn),
    sct AS (SELECT doc_id,
                   list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                               t -> t <> '') AS ts FROM sc0),
    scw AS (SELECT doc_id,
                   CASE WHEN list_contains(vl.vs, u.t)
                        THEN u.t ELSE '<unk>' END AS w
            FROM sct, vl, LATERAL (SELECT unnest(ts) AS t) u),
    s AS (SELECT scw.doc_id,
                 ln(CAST(COALESCE(cp.c, 0) + 1 AS DOUBLE)
                    / CAST(COALESCE(tot.np, 0) + 31 AS DOUBLE))
                 - ln(CAST(COALESCE(cn.c, 0) + 1 AS DOUBLE)
                      / CAST(COALESCE(tot.nn, 0) + 31 AS DOUBLE)) AS llr
          FROM scw LEFT JOIN cp ON cp.w = scw.w
                   LEFT JOIN cn ON cn.w = scw.w
                   CROSS JOIN tot),
    agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                   ROUND(AVG(llr), 6) AS nb_logodds
            FROM s GROUP BY 1),
    perdoc AS (
      SELECT d.doc_id, d.source, COALESCE(agg.n_tokens, 0) AS n_tokens,
             agg.nb_logodds,
             COALESCE(agg.nb_logodds >= 0.0, FALSE) AS kept
      FROM sc0 d LEFT JOIN agg USING (doc_id))
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(n_tokens) AS BIGINT) AS toks_total,
           CAST(SUM(CASE WHEN kept THEN n_tokens ELSE 0 END) AS BIGINT)
             AS toks_kept,
           ROUND(AVG(nb_logodds), 6) AS avg_nb_logodds
    FROM perdoc GROUP BY 1
"""

ORACLES["range_join_interval_overlap"] = f"""
    WITH acts AS (
      SELECT user_id, MIN(ts_us) AS act_start, MAX(ts_us) + 1 AS act_end
      FROM (SELECT user_id, epoch_us(ts) AS ts_us FROM events)
      GROUP BY user_id, ts_us // 86400000000
    ),
    w AS (SELECT i AS window_id,
                 {_WINDOW_EPOCH_US} + i*{_WINDOW_STEP_US} AS w_start,
                 {_WINDOW_EPOCH_US} + i*{_WINDOW_STEP_US} + {_WINDOW_LEN_US} AS w_end
          FROM (SELECT unnest(range(60)) AS i))
    SELECT w.window_id, CAST(COUNT(*) AS BIGINT) AS n_user_days,
           CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_users
    FROM acts a JOIN w ON a.act_start < w.w_end AND w.w_start < a.act_end
    GROUP BY 1
"""

_GF_START = _WINDOW_EPOCH_US
_GF_END = _WINDOW_EPOCH_US + 60 * _WINDOW_STEP_US
ORACLES["events_gap_fill_locf"] = f"""
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS ts_us, value FROM events
      WHERE epoch_us(ts) >= {_GF_START} AND epoch_us(ts) < {_GF_END}),
    obs AS (
      SELECT user_id, bucket, v AS obs FROM (
        SELECT user_id, ts_us // {_WINDOW_STEP_US} AS bucket, value AS v,
               ROW_NUMBER() OVER (PARTITION BY user_id, ts_us // {_WINDOW_STEP_US}
                                  ORDER BY ts_us DESC, value DESC) AS rk
        FROM e) WHERE rk = 1),
    keys AS (SELECT DISTINCT user_id FROM events),
    grid AS (
      SELECT keys.user_id, u.b AS bucket
      FROM keys, (SELECT unnest(range({_GF_START // _WINDOW_STEP_US},
                                      {(_GF_END - 1) // _WINDOW_STEP_US} + 1))
                    AS b) u),
    j AS (SELECT g.user_id, g.bucket, obs.obs
          FROM grid g LEFT JOIN obs USING (user_id, bucket))
    SELECT user_id, bucket,
           last_value(obs IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY bucket
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS filled_value,
           obs IS NOT NULL AS is_observed
    FROM j
"""

ORACLES["text_code_quality"] = """
    WITH base AS (
      SELECT doc_id,
             CASE WHEN doc_id % 5 = 0
                  THEN replace(COALESCE(text, ''), ' ', '')
                  ELSE COALESCE(text, '') END AS b
      FROM documents),
    planted AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0
                  THEN '// auto-generated do not edit' || chr(10) || b
                  ELSE b END AS t
      FROM base),
    stats AS (
      SELECT doc_id, t,
             string_split(t, chr(10)) AS ls
      FROM planted),
    m AS (
      SELECT doc_id, t,
             CAST(len(ls) AS BIGINT) AS n_lines,
             ROUND(CAST(list_sum(list_transform(ls, x -> len(x))) AS DOUBLE)
                   / CAST(len(ls) AS DOUBLE), 6) AS avg_line_len,
             CAST(list_max(list_transform(ls, x -> len(x))) AS BIGINT)
               AS max_line_len,
             ROUND(CASE WHEN len(t) > 0
                        THEN CAST(len(regexp_replace(t, '[^a-zA-Z0-9]', '', 'g'))
                                  AS DOUBLE) / CAST(len(t) AS DOUBLE)
                        ELSE 0.0 END, 6) AS alnum_frac,
             (contains(lower(t), 'auto-generated')
              OR contains(lower(t), 'do not edit')
              OR contains(lower(t), 'generated by')) AS autogen,
             starts_with(t, '<?xml') AS xml_header
      FROM stats)
    SELECT doc_id, n_lines, avg_line_len, max_line_len, alnum_frac,
           autogen, xml_header,
           (avg_line_len <= 100.0 AND max_line_len <= 1000
            AND alnum_frac >= 0.25 AND NOT autogen AND NOT xml_header
            AND n_lines > 0) AS kept
    FROM m
"""

ORACLES["report_source_divergence"] = """
    WITH toks AS (
      SELECT source, unnest(list_filter(
               string_split_regex(trim(lower(text)), '\\s+'),
               t -> t <> '')) AS tok
      FROM documents),
    vocab AS (SELECT tok FROM toks GROUP BY tok
              ORDER BY count(*) DESC, tok LIMIT 30),
    vl AS (SELECT LIST(tok) AS vs FROM vocab),
    clipped AS (
      SELECT source,
             CASE WHEN list_contains(vl.vs, tok) THEN tok
                  ELSE '<unk>' END AS w
      FROM toks, vl),
    sw AS (SELECT source, w, CAST(count(*) AS BIGINT) AS sc
           FROM clipped GROUP BY 1, 2),
    gw AS (SELECT w, CAST(count(*) AS BIGINT) AS gc FROM clipped GROUP BY 1),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM clipped),
    ns AS (SELECT source, CAST(SUM(sc) AS BIGINT) AS nsum FROM sw GROUP BY 1),
    term AS (
      SELECT sw.source, sw.sc, sw.w,
             (CAST(sw.sc AS DOUBLE) / CAST(ns.nsum AS DOUBLE))
             * ln((CAST(sw.sc AS DOUBLE) / CAST(ns.nsum AS DOUBLE))
                  / (CAST(gw.gc AS DOUBLE) / CAST(tot.n AS DOUBLE))) AS kl
      FROM sw JOIN gw USING (w) JOIN ns USING (source) CROSS JOIN tot),
    top AS (
      SELECT source, w AS top_token FROM (
        SELECT source, w,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY sc DESC, w ASC) AS rk
        FROM sw) WHERE rk = 1)
    SELECT term.source, CAST(SUM(term.sc) AS BIGINT) AS n_tokens,
           ROUND(SUM(term.kl), 6) AS kl_vs_corpus,
           ANY_VALUE(top.top_token) AS top_token
    FROM term JOIN top USING (source)
    GROUP BY 1
"""
