"""Aggregation operators: group-by, distinct, approx-distinct, rollup/cube/
grouping-sets.

These fill the reference's unbuilt silver→gold analytics layer (reference:
README.md:108-111 — "Aggregate taxi data ... Build Silver to Gold ETL" is a
declared milestone with no code). TPC-H Q1 is the flagship shape.

Scale notes (100 TB): hash aggregation with map-side partial aggregation —
each executor pre-aggregates before the shuffle, so shuffle volume is
O(groups), not O(rows). Group keys here are low-cardinality (flags,
priorities, nations), the cheapest possible shuffle. ``approx_count_distinct``
uses HLL++ (constant memory per group) — exact distinct at 100 TB requires a
full shuffle of the distinct column; HLL is the scale path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import Query
from ._util import DEC, davg, dec, dsum, sql_davg, sql_dsum, t


def agg_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1: pricing summary report by returnflag/linestatus."""
    li = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.to_timestamp(F.lit("2001-09-01"))
    )
    disc_price = dec("l_extendedprice") * (F.lit(1) - F.col("l_discount")).cast(DEC)
    # Cast the exact product back to DECIMAL(18,4) before multiplying again —
    # keeps precision inside both engines' decimal width limits (SURVEY §2B
    # float-discipline note); DuckDB mirrors the same double cast+round.
    charge = disc_price.cast(DEC) * (F.lit(1) + F.col("l_tax")).cast(DEC)
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).cast("double").alias("sum_disc_price"),
            F.round(F.sum(charge), 2).cast("double").alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount", 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


AGG_GROUP_SQL = f"""
SELECT l_returnflag, l_linestatus,
       {sql_dsum('l_quantity')} AS sum_qty,
       {sql_dsum('l_extendedprice')} AS sum_base_price,
       CAST(ROUND(SUM(CAST(CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END AS DECIMAL(18,4))
                     * CAST(CASE WHEN isfinite(1 - l_discount) THEN 1 - l_discount END AS DECIMAL(18,4))), 2) AS DOUBLE)
           AS sum_disc_price,
       CAST(ROUND(SUM(CAST(CAST(CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END AS DECIMAL(18,4))
                          * CAST(CASE WHEN isfinite(1 - l_discount) THEN 1 - l_discount END AS DECIMAL(18,4)) AS DECIMAL(18,4))
                     * CAST(CASE WHEN isfinite(1 + l_tax) THEN 1 + l_tax END AS DECIMAL(18,4))), 2) AS DOUBLE)
           AS sum_charge,
       {sql_davg('l_quantity')} AS avg_qty,
       {sql_davg('l_extendedprice')} AS avg_price,
       {sql_davg('l_discount', 4)} AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-09-01'
GROUP BY l_returnflag, l_linestatus
"""


def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("distinct_customers"),
        F.count(F.lit(1)).alias("order_count"),
    )


AGG_DISTINCT_SQL = """
SELECT o_orderpriority,
       COUNT(DISTINCT o_custkey) AS distinct_customers,
       COUNT(*) AS order_count
FROM orders
GROUP BY o_orderpriority
"""


def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ distinct users per event type — rows-only check (approx ≠
    exact, and HLL estimates are engine-specific by design). Accuracy is
    pinned locally instead: rsd=0.05 ⇒ relative error ≤ 3·rsd = 15%
    (3-sigma; HLL is deterministic for fixed data), asserted vs exact
    countDistinct at sf0.01 and sf0.1 in tests/test_operators.py::
    test_approx_distinct_within_hll_error_bound."""
    ev = t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.05).alias("approx_users")
    )


def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup (nation, mktsegment) with subtotals and grand total. NULL
    group markers are coalesced to 'ALL' in both engines so the hash
    compare is null-representation-independent."""
    customer = t(spark, sf_dir, "customer")
    nation = t(spark, sf_dir, "nation")
    joined = customer.join(
        F.broadcast(nation), customer.c_nationkey == nation.n_nationkey
    )
    return (
        joined.rollup("n_name", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("customer_count"),
            dsum("c_acctbal").alias("sum_acctbal"),
        )
        .select(
            F.coalesce(F.col("n_name"), F.lit("ALL")).alias("nation"),
            F.coalesce(F.col("c_mktsegment"), F.lit("ALL")).alias("segment"),
            "customer_count",
            "sum_acctbal",
        )
    )


#: HAVING COUNT(*) > 0 on the rollup/cube/grouping-sets oracles mirrors
#: Spark's empty-input semantics: Spark emits ZERO rows for a grouping-
#: set aggregate over an empty relation, while DuckDB (SQL standard)
#: emits the grand-total row. On non-empty input every emitted grouping
#: row aggregates >= 1 source row, so the guard is a no-op there — it
#: exists purely to pin the engine's (Spark's) empty-corpus contract.
AGG_ROLLUP_SQL = f"""
SELECT COALESCE(n_name, 'ALL') AS nation,
       COALESCE(c_mktsegment, 'ALL') AS segment,
       COUNT(*) AS customer_count,
       {sql_dsum('c_acctbal')} AS sum_acctbal
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY ROLLUP (n_name, c_mktsegment)
HAVING COUNT(*) > 0
"""


def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("line_count"),
            dsum("l_quantity").alias("sum_qty"),
        )
        .select(
            F.coalesce(F.col("l_returnflag"), F.lit("ALL")).alias("returnflag"),
            F.coalesce(F.col("l_linestatus"), F.lit("ALL")).alias("linestatus"),
            "line_count",
            "sum_qty",
        )
    )


AGG_CUBE_SQL = f"""
SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
       COALESCE(l_linestatus, 'ALL') AS linestatus,
       COUNT(*) AS line_count,
       {sql_dsum('l_quantity')} AS sum_qty
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
HAVING COUNT(*) > 0
"""


def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit grouping sets via the SQL entry point (same Catalyst
    Expand-based plan as rollup/cube)."""
    t(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    t(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    return spark.sql(
        """
        SELECT COALESCE(n_name, 'ALL') AS nation,
               COALESCE(c_mktsegment, 'ALL') AS segment,
               COUNT(*) AS customer_count
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY GROUPING SETS ((n_name), (c_mktsegment), ())
        """
    )


AGG_GROUPING_SETS_SQL = """
SELECT COALESCE(n_name, 'ALL') AS nation,
       COALESCE(c_mktsegment, 'ALL') AS segment,
       COUNT(*) AS customer_count
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY GROUPING SETS ((n_name), (c_mktsegment), ())
HAVING COUNT(*) > 0
"""


def agg_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL sketches (Apache DataSketches, Spark 3.5+) — THE
    100 TB pattern for distinct counts: build one sketch per nation over
    customer keys, then MERGE the pre-aggregated sketches up to regions
    with ``hll_union_agg`` instead of re-scanning the fact data. Sketches
    are tiny fixed-size binaries, so the second aggregation moves KB, not
    rows; the same layout serves daily→monthly→all-time rollups without
    ever touching raw keys again. rows-only: sketch estimates are
    engine-specific (DuckDB's approx_count_distinct uses a different HLL
    implementation), but the output is deterministic for a given input."""
    cust = t(spark, sf_dir, "customer")
    nation = t(spark, sf_dir, "nation")
    per_nation = cust.groupBy("c_nationkey").agg(
        F.hll_sketch_agg("c_custkey").alias("sk"),
        F.count(F.lit(1)).alias("customer_rows"),
    )
    with_region = per_nation.join(
        F.broadcast(nation.select("n_nationkey", "n_regionkey")),
        per_nation.c_nationkey == F.col("n_nationkey"),
    )
    return (
        with_region.groupBy("n_regionkey")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias(
                "approx_customers"
            ),
            F.sum("customer_rows").alias("customer_rows"),
        )
        .select(
            F.col("n_regionkey").alias("region_key"),
            "approx_customers",
            "customer_rows",
        )
    )


QUERIES: dict[str, Query] = {
    "agg_group": Query(agg_group, AGG_GROUP_SQL, "TPC-H Q1 pricing summary"),
    "agg_distinct": Query(agg_distinct, AGG_DISTINCT_SQL, "count distinct"),
    "agg_approx_distinct": Query(
        agg_approx_distinct, None, "HLL approx distinct (rows-only)"
    ),
    "agg_rollup": Query(agg_rollup, AGG_ROLLUP_SQL, "rollup with subtotals"),
    "agg_cube": Query(agg_cube, AGG_CUBE_SQL, "cube"),
    "agg_grouping_sets": Query(
        agg_grouping_sets, AGG_GROUPING_SETS_SQL, "explicit grouping sets"
    ),
    "agg_sketch_merge": Query(
        agg_sketch_merge, None, "mergeable HLL sketch rollup (rows-only)"
    ),
}
