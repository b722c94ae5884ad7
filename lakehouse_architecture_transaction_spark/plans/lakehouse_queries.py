"""Registered queries over the LakeTable/metastore surface.

The reference's read path is Glue crawler → catalog table → Athena SQL
(reference code/step_function_code.json "StartCrawler" state, then
Athena over the curated zone). These queries exercise the repo's
stand-in END-TO-END and oracle-checked: a clustered LakeTable copy is
"crawled" (registered by name) with file-level footer pruning, and the
answer comes back through ``spark.sql`` by table name — so data
skipping sits on the actual query path, not just in unit tests.

Correctness is pruning-independent by construction (pruned_read
re-applies the predicates as ordinary filters), which is exactly what
lets a DuckDB oracle check the result while tests pin the files_read
count separately.
"""

from __future__ import annotations

import atexit
import datetime as _dt
import shutil
import tempfile


def _scratch_dir(prefix: str) -> str:
    """mkdtemp with process-exit cleanup: the clustered/bucketed table
    copies are session artifacts, not deliverables — without the
    atexit hook every gate/bench run would leak an orders+lineitem
    copy into the temp dir."""
    path = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_architecture_transaction_spark.catalog import load_table
from lakehouse_architecture_transaction_spark.plans.registry import register

#: Session-scoped memo of the clustered "curated orders" table path,
#: keyed by (applicationId, sf_dir) — the crawl/cluster step runs once
#: per session (it IS the table build; queries pay only the scan),
#: matching the _lsh_index/_cluster_frame amortization pattern.
_SCAN_TABLE_MEMO: dict[tuple[str, str], str] = {}

#: files in the clustered copy — small enough that every file spans
#: months (pruning visible at sf0.001), large enough that a 6-month
#: predicate skips most of them
_SCAN_FILES = 8

_SCAN_FROM = _dt.datetime(1996, 1, 1)
_SCAN_TO = _dt.datetime(1996, 7, 1)


def clustered_orders_path(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per app+sf_dir) the date-clustered curated orders
    table: ``repartitionByRange`` on o_orderdate gives each parquet
    file a tight, disjoint date span — the single-column analogue of
    zorder_write, and the layout that makes footer pruning bite on
    date predicates."""
    key = (spark.sparkContext.applicationId, sf_dir)
    got = _SCAN_TABLE_MEMO.get(key)
    if got is not None:
        return got
    path = _scratch_dir("lakehouse_architecture_transaction_scan_orders_")
    orders = load_table(spark, sf_dir, "orders")
    orders.repartitionByRange(_SCAN_FILES, "o_orderdate").write.mode("overwrite").parquet(path)
    _SCAN_TABLE_MEMO[key] = path
    return path


def pruned_scan_report(spark: SparkSession, sf_dir: str) -> dict:
    """Register the pruned scan view and return the skipping report —
    split out so tests can assert files_read < files_total on the SAME
    path the registered query takes."""
    from lakehouse_architecture_transaction_spark.lakehouse.table import pruned_read

    where = [("o_orderdate", ">=", _SCAN_FROM), ("o_orderdate", "<", _SCAN_TO)]
    df, report = pruned_read(spark, clustered_orders_path(spark, sf_dir), where)
    df.createOrReplaceTempView("orders_pruned_scan")
    return report


@register(
    "orders_pruned_scan_sql",
    oracle=f"""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total_price
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '{_SCAN_FROM:%Y-%m-%d %H:%M:%S}'
      AND o_orderdate <  TIMESTAMP '{_SCAN_TO:%Y-%m-%d %H:%M:%S}'
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority ASC
    """,
)
def orders_pruned_scan_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority mix of H1-1996 orders, answered BY NAME over the
    footer-pruned scan view (lakehouse/table.py pruned_read): the
    crawler→catalog→SQL read path of the reference, with file-level
    data skipping on the date predicate (6 months of a multi-year
    range-clustered table — most files never open). The oracle runs
    the same predicate unpruned; tests pin files_read < files_total
    via pruned_scan_report."""
    pruned_scan_report(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderpriority,
               COUNT(*) AS n_orders,
               CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total_price
        FROM orders_pruned_scan
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority ASC
        """
    )


@register(
    "orders_salted_segment_revenue",
    oracle="""
    SELECT c_mktsegment,
           COUNT(*) AS n_orders,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment ASC
    """,
)
def orders_salted_segment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment revenue through the SALTED join path (operators/skew.py
    salted_join — until round 5 an 'Also' component pinned only by
    unit tests): the fact side takes a random salt, the customer dim
    replicates across all 16 salt values, and the hot-key shuffle
    spreads over 16 reducers. Logically identical to the plain
    equi-join — which is exactly what the oracle checks."""
    from lakehouse_architecture_transaction_spark.operators.skew import salted_join

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    j = salted_join(orders, cust, left_key="o_custkey", right_key="c_custkey", salt=16)
    return (
        j.groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.expr("SUM(CAST(o_totalprice AS DECIMAL(18,2)))")
            .cast("decimal(18,2)")
            .cast("double")
            .alias("revenue"),
        )
        .orderBy("c_mktsegment")
    )


#: Session-scoped memo of the bucketed fact tables (orders + lineitem
#: bucketed by order key): the write IS the pre-shuffle; every keyed
#: join afterwards runs with zero exchange on the bucketed columns.
_BUCKETED_MEMO: dict[tuple[str, str], tuple[str, str]] = {}


def bucketed_fact_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Build (once per app+sf_dir) catalog-registered bucketed copies
    of orders and lineitem, co-bucketed on the order key — E14's
    zero-exchange fact-fact join layout, served to a registered query.
    Returns the two table names."""
    import hashlib

    from lakehouse_architecture_transaction_spark.lakehouse.table import write_bucketed

    key = (spark.sparkContext.applicationId, sf_dir)
    got = _BUCKETED_MEMO.get(key)
    if got is not None:
        return got
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    o_name, l_name = f"bkt_orders_{tag}", f"bkt_lineitem_{tag}"
    root = _scratch_dir("lakehouse_architecture_transaction_bucketed_")
    write_bucketed(
        load_table(spark, sf_dir, "orders"),
        o_name,
        f"{root}/orders",
        num_buckets=8,
        bucket_cols=["o_orderkey"],
    )
    write_bucketed(
        load_table(spark, sf_dir, "lineitem"),
        l_name,
        f"{root}/lineitem",
        num_buckets=8,
        bucket_cols=["l_orderkey"],
    )
    _BUCKETED_MEMO[key] = (o_name, l_name)
    return o_name, l_name


@register(
    "orders_lineitem_bucketed_join",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_items,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))))
                AS DECIMAL(18,4)) AS DOUBLE) AS revenue
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority ASC
    """,
)
def orders_lineitem_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact join revenue by priority over CO-BUCKETED tables
    (lakehouse/table.py write_bucketed, E14 — until round 5 pinned
    only by a plan test): both facts are bucketed 8-way on the order
    key at write time, so the join reads bucket-aligned files with no
    exchange on either side — at 100 TB this converts the dominant
    nightly shuffle into a local zip. The oracle runs the plain join;
    tests pin the exchange-free plan."""
    o_name, l_name = bucketed_fact_tables(spark, sf_dir)
    o = spark.table(o_name)
    li = spark.table(l_name)
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_items"),
            F.expr(
                "SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))))"
            )
            .cast("decimal(18,4)")
            .cast("double")
            .alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


#: Session-scoped memo of the Z-order-clustered lineitem copy — built
#: once per (app, sf_dir) like the range-clustered orders above.
_ZORDER_MEMO: dict[tuple[str, str], str] = {}

_Z_FILES = 8
_Z_PARTKEY_LT = 99
_Z_SUPPKEY_LT = 5


def zordered_lineitem_path(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per app+sf_dir) the Z-order-clustered lineitem copy
    on (l_partkey, l_suppkey): Morton-interleaved quantile-scaled keys
    give every file a compact hyper-RECTANGLE of the two-key space, so
    footer pruning bites on BOTH predicates at once — the multi-column
    claim E25's single-column range clustering cannot make."""
    from lakehouse_architecture_transaction_spark.lakehouse.table import zorder_write

    key = (spark.sparkContext.applicationId, sf_dir)
    got = _ZORDER_MEMO.get(key)
    if got is not None:
        return got
    path = _scratch_dir("lakehouse_architecture_transaction_zorder_lineitem_")
    li = load_table(spark, sf_dir, "lineitem")
    # bits=6 (64 bins/dim): with only 8 output files, finer Morton
    # resolution buys no extra pruning, and the quantile sketch cost
    # scales with 2^bits probes — 10 bits spent ~90 s sketching at
    # sf0.1 for identical files_read.
    zorder_write(li, path, cols=["l_partkey", "l_suppkey"], num_files=_Z_FILES, bits=6)
    _ZORDER_MEMO[key] = path
    return path


def zorder_scan_report(spark: SparkSession, sf_dir: str) -> dict:
    """Register the Z-order pruned scan view and return the skipping
    report — split out (same pattern as pruned_scan_report) so tests
    assert files_read < files_total on the registered query's path."""
    from lakehouse_architecture_transaction_spark.lakehouse.table import pruned_read

    where = [("l_partkey", "<", _Z_PARTKEY_LT), ("l_suppkey", "<", _Z_SUPPKEY_LT)]
    df, report = pruned_read(spark, zordered_lineitem_path(spark, sf_dir), where)
    df.createOrReplaceTempView("lineitem_zorder_scan")
    return report


@register(
    "lineitem_zorder_pruned_scan",
    oracle=f"""
    SELECT l_returnflag,
           COUNT(*) AS n_items,
           CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))))
                AS DECIMAL(18,4)) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_partkey < {_Z_PARTKEY_LT} AND l_suppkey < {_Z_SUPPKEY_LT}
    GROUP BY l_returnflag
    ORDER BY l_returnflag ASC
    """,
)
def lineitem_zorder_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Return-flag mix of the (part < {pk}, supplier < {sk}) slice,
    answered BY NAME over the Z-ORDER-clustered footer-pruned scan
    view (lakehouse/table.py zorder_write + pruned_read — E17, until
    round 6 pinned only by a per-file span test): multi-column file
    skipping on the actual SQL path. Correctness is layout-independent
    by construction (pruned_read re-applies the predicates), which is
    exactly what the plain-table oracle checks; tests pin
    files_read < files_total via zorder_scan_report."""
    zorder_scan_report(spark, sf_dir)
    return spark.sql(
        """
        SELECT l_returnflag,
               COUNT(*) AS n_items,
               CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty,
               CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))))
                    AS DECIMAL(18,4)) AS DOUBLE) AS revenue
        FROM lineitem_zorder_scan
        GROUP BY l_returnflag
        ORDER BY l_returnflag ASC
        """
    )


#: Session-scoped memo of the versioned orders LakeTable used by the
#: CDC query (v0 = initial load, v1 = deterministic merge).
_CDC_MEMO: dict[tuple[str, str], str] = {}


def cdc_orders_table(spark: SparkSession, sf_dir: str):
    """Build (once per app+sf_dir) a versioned LakeTable with two
    committed snapshots: v0 = the orders table; v1 = after a
    deterministic MERGE that updates the priority of every key
    divisible by 100 and inserts a negated-key copy of every key
    ≡ 1 (mod 100). The modification is a pure function of the data,
    so a SQL oracle can state the expected change feed exactly."""
    from lakehouse_architecture_transaction_spark.lakehouse.table import LakeTable

    key = (spark.sparkContext.applicationId, sf_dir)
    path = _CDC_MEMO.get(key)
    if path is None:
        path = _scratch_dir("lakehouse_architecture_transaction_cdc_orders_")
        orders = load_table(spark, sf_dir, "orders")
        t = LakeTable(spark, path, keys=["o_orderkey"], versioned=True)
        t.create(orders)  # v0
        updates = orders.filter(F.col("o_orderkey") % 100 == 0).withColumn(
            "o_orderpriority", F.lit("9-CDC")
        )
        inserts = orders.filter(F.col("o_orderkey") % 100 == 1).withColumn(
            "o_orderkey", -F.col("o_orderkey")
        )
        t.upsert(updates.unionByName(inserts))  # v1
        _CDC_MEMO[key] = path
    return LakeTable(spark, path, keys=["o_orderkey"], versioned=True)


@register(
    "orders_cdc_diff",
    oracle="""
    SELECT o_orderkey, '9-CDC' AS o_orderpriority,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice,
           'update_postimage' AS change_type
    FROM orders WHERE o_orderkey % 100 = 0
    UNION ALL
    SELECT -o_orderkey, o_orderpriority,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice,
           'insert' AS change_type
    FROM orders WHERE o_orderkey % 100 = 1
    ORDER BY change_type ASC, o_orderkey ASC
    """,
)
def orders_cdc_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed between two committed snapshots
    (lakehouse/table.py diff — E20, until round 6 pinned only by unit
    tests): v1 applies a deterministic merge (priority update on keys
    ≡ 0 mod 100, negated-key inserts for keys ≡ 1 mod 100) and the
    query returns diff(v0, v1) — Delta CDF's insert/update_postimage
    rows, computed from the copy-on-write snapshots with one
    full-outer key join and a null-safe struct compare. The oracle
    states the exact expected feed from the base table."""
    t = cdc_orders_table(spark, sf_dir)
    return (
        t.diff(0, 1)
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
            F.col("_change_type").alias("change_type"),
        )
        .orderBy("change_type", "o_orderkey")
    )
