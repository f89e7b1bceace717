"""Extended operator surface beyond SURVEY.md §2B's minimum: non-parquet
sources (CSV/JSON), exact percentiles, pivot, additional window functions,
and subquery forms (scalar-correlated and IN — Catalyst decorrelates both
into joins; `.explain` shows no per-row subquery execution).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import Query
from ._util import fquant, t, scratch_root, fresh_dir

SCRATCH = scratch_root()


def scan_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV source support: deterministic write of a lineitem projection to
    CSV, schema-declared read back (header, explicit types — never
    inferSchema at scale: it reads the data twice)."""
    out = fresh_dir(os.path.join(SCRATCH, "scan_csv"))
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_quantity"
    )
    # Lossless string round-trip (hostile-strings axis, round 11):
    # multiLine=True or an embedded newline silently SPLITS the quoted
    # row on read (multiLine disables input splitting — at 100 TB
    # prefer escaping newlines at write or a splittable format; this
    # key's contract is round-trip fidelity); the \N sentinel keeps
    # '' distinct from NULL (Spark's default maps both to NULL — data
    # equal to the literal sentinel is the one inherent CSV caveat);
    # ignore*WhiteSpace=False on BOTH sides (the writer AND reader trim
    # by default, silently corrupting edge-whitespace values).
    (
        li.write.mode("overwrite")
        .option("header", True)
        .option("nullValue", "\\N")
        .option("ignoreLeadingWhiteSpace", False)
        .option("ignoreTrailingWhiteSpace", False)
        .csv(out)
    )
    back = (
        spark.read.schema(
            "l_orderkey long, l_linenumber int, l_returnflag string, l_quantity double"
        )
        .option("header", True)
        .option("multiLine", True)
        .option("nullValue", "\\N")
        .option("ignoreLeadingWhiteSpace", False)
        .option("ignoreTrailingWhiteSpace", False)
        .csv(out)
    )
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("line_count"),
        F.round(
            F.sum(F.col("l_quantity").cast("decimal(18,4)")), 2
        ).cast("double").alias("sum_qty"),
    )


SCAN_CSV_SQL = """
SELECT l_returnflag,
       COUNT(*) AS line_count,
       CAST(ROUND(SUM(CAST(CASE WHEN l_quantity - (l_quantity) = 0 THEN l_quantity END AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY l_returnflag
"""


def scan_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines source support (schema-declared read; null fields are
    omitted on write and restored as NULL on read)."""
    out = fresh_dir(os.path.join(SCRATCH, "scan_json"))
    ev = t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    ev.write.mode("overwrite").json(out)
    back = spark.read.schema(
        "event_id long, user_id long, event_type string, value double"
    ).json(out)
    return back.select("event_id", "user_id", "event_type", "value")


SCAN_JSON_SQL = """
SELECT event_id, user_id, event_type, value FROM events
"""


def _pctl(
    df: DataFrame, group: str, col: str, ps: list[tuple[float, str]]
) -> DataFrame:
    """Exact (n-1)·p interpolated percentiles with the interpolation
    EXPRESSION owned by this code, not the engines: Spark's
    ``percentile`` and DuckDB's ``quantile_cont`` share the definition
    but their internal lerp operand order is unspecified — a 1-ulp
    difference at a floor-quantization grid point flips the hash. Here
    both sides evaluate the identical ``lo + (hi - lo) * frac`` over
    identical doubles. NULLs are excluded first (matching both engines'
    aggregate semantics). All percentiles of one column share a single
    ranked scan."""
    from pyspark.sql.window import Window

    d = df.select(group, col).filter(F.col(col).isNotNull())
    w = Window.partitionBy(group).orderBy(F.col(col))
    wn = Window.partitionBy(group)
    n1 = (F.count(F.lit(1)).over(wn) - 1).cast("double")
    ranked = d.select(
        group,
        F.col(col).alias("v"),
        F.row_number().over(w).alias("rn"),
        *[(n1 * F.lit(p)).alias(f"idx_{a}") for p, a in ps],
    )
    aggs = []
    for _, a in ps:
        idx = F.col(f"idx_{a}")
        lo_v = F.max(F.when(F.col("rn") == F.floor(idx) + 1, F.col("v")))
        hi_v = F.max(F.when(F.col("rn") == F.floor(idx) + 2, F.col("v")))
        frac = F.max(idx - F.floor(idx))
        aggs.append(
            fquant(lo_v + (F.coalesce(hi_v, lo_v) - lo_v) * frac, 4).alias(a)
        )
    return ranked.groupBy(group).agg(*aggs)


def agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles over an explicit shared lerp (see
    _pctl). The 100 TB path is ``approx_percentile`` (KLL/GK sketch, one
    pass, bounded memory); the exact form requires a per-group sort."""
    li = t(spark, sf_dir, "lineitem")
    qty = _pctl(
        li, "l_returnflag", "l_quantity",
        [(0.5, "median_qty"), (0.9, "p90_qty")],
    )
    return qty.join(
        _pctl(li, "l_returnflag", "l_discount", [(0.25, "p25_disc")]),
        "l_returnflag",
    )


def _pctl_sql(col: str, p: float, alias: str) -> str:
    return f"""(
  SELECT l_returnflag,
         floor((lo + (COALESCE(hi, lo) - lo) * frac) * 10000.0) / 10000.0
             AS {alias}
  FROM (
    SELECT l_returnflag,
           MAX(CASE WHEN rn = floor(idx) + 1 THEN v END) AS lo,
           MAX(CASE WHEN rn = floor(idx) + 2 THEN v END) AS hi,
           MAX(idx - floor(idx)) AS frac
    FROM (
      SELECT l_returnflag, {col} AS v,
             row_number() OVER (PARTITION BY l_returnflag
                                ORDER BY {col}) AS rn,
             CAST(COUNT(*) OVER (PARTITION BY l_returnflag) - 1 AS DOUBLE)
               * {p} AS idx
      FROM lineitem WHERE {col} IS NOT NULL
    )
    GROUP BY l_returnflag
  )
)"""


AGG_PERCENTILE_SQL = f"""
SELECT a.l_returnflag, a.median_qty, b.p90_qty, c.p25_disc
FROM {_pctl_sql('l_quantity', 0.5, 'median_qty')} a
JOIN {_pctl_sql('l_quantity', 0.9, 'p90_qty')} b USING (l_returnflag)
JOIN {_pctl_sql('l_discount', 0.25, 'p25_disc')} c USING (l_returnflag)
"""


def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot linestatus into columns. Pivot values are declared explicitly —
    leaving them implicit costs an extra distinct-scan job and makes the
    output schema data-dependent (both wrong at scale)."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.count(F.lit(1)))
        .select(
            "l_returnflag",
            F.coalesce(F.col("F"), F.lit(0)).alias("cnt_f"),
            F.coalesce(F.col("O"), F.lit(0)).alias("cnt_o"),
        )
    )


AGG_PIVOT_SQL = """
SELECT l_returnflag,
       COUNT(*) FILTER (WHERE l_linestatus = 'F') AS cnt_f,
       COUNT(*) FILTER (WHERE l_linestatus = 'O') AS cnt_o
FROM lineitem
GROUP BY l_returnflag
"""


def win_ntile_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile + first_value/last_value with an explicit full frame
    (last_value over the default frame is a famous wrong-answer trap —
    the frame ends at CURRENT ROW; both engines agree once it's explicit)."""
    orders = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    w_full = w.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.ntile(4).over(w).alias("price_quartile"),
        F.first_value(F.col("o_totalprice")).over(w_full).alias("max_price"),
        F.last_value(F.col("o_totalprice")).over(w_full).alias("min_price"),
    )


WIN_NTILE_SQL = """
SELECT o_custkey, o_orderkey,
       ntile(4) OVER w AS price_quartile,
       first_value(o_totalprice) OVER w_full AS max_price,
       last_value(o_totalprice) OVER w_full AS min_price
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey),
       w_full AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


def agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collect-to-list aggregation, made deterministic by sorting the
    collected set (bare collect_list order is partition-dependent — never
    hash-check it unsorted)."""
    orders = t(spark, sf_dir, "orders")
    joined = F.array_join(F.array_sort(F.collect_set("o_orderstatus")), ",")
    return orders.groupBy("o_orderpriority").agg(
        # an all-NULL group collects an EMPTY set: array_join would emit
        # '' while DuckDB's string_agg(DISTINCT ...) emits NULL — map the
        # empty set to NULL to match
        F.when(F.size(F.collect_set("o_orderstatus")) > 0, joined).alias(
            "statuses"
        ),
        F.count(F.lit(1)).alias("order_count"),
    )


AGG_COLLECT_SQL = """
SELECT o_orderpriority,
       string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus)
           AS statuses,
       COUNT(*) AS order_count
FROM orders
GROUP BY o_orderpriority
"""


WIN_FRAME_RANGE_SQL = """
SELECT o_custkey, o_orderkey,
       CAST(ROUND(SUM(CAST(CASE WHEN o_totalprice - (o_totalprice) = 0 THEN o_totalprice END AS DECIMAL(18,4))) OVER (
           PARTITION BY o_custkey ORDER BY o_totalprice
           RANGE BETWEEN 50000.0 PRECEDING AND CURRENT ROW), 2) AS DOUBLE)
           AS near_spend
FROM orders
"""


def win_frame_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame (value-based, not row-based): sum of each customer's
    orders within 50k below the current price. Set-valued per peer group,
    so it is deterministic under ties — unlike a ROWS frame ordered on a
    non-unique key."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(WIN_FRAME_RANGE_SQL)


SUBQ_SCALAR_SQL = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders o
WHERE CAST(CASE WHEN o_totalprice - (o_totalprice) = 0 THEN o_totalprice END AS DECIMAL(18,4))
      * (SELECT COUNT(*) FROM orders i WHERE i.o_custkey = o.o_custkey)
      > (SELECT SUM(CAST(CASE WHEN i.o_totalprice - (i.o_totalprice) = 0 THEN i.o_totalprice END AS DECIMAL(18,4)))
         FROM orders i WHERE i.o_custkey = o.o_custkey)
"""


def subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subqueries: orders above their customer's average
    (stated sum/count-style so the comparison is decimal-exact). Catalyst
    decorrelates both subqueries into aggregate+join — no per-row
    re-execution (the thing that makes correlated subqueries viable at
    100 TB)."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(SUBQ_SCALAR_SQL)


SUBQ_IN_SQL = """
SELECT o_orderkey, o_custkey, o_orderpriority
FROM orders
WHERE o_custkey IN (SELECT c_custkey FROM customer
                    WHERE c_mktsegment = 'BUILDING')
"""


def subquery_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-subquery via the SQL entry point (planned as a left-semi join,
    same physical shape as the DataFrame ``join_semi`` key)."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    t(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(SUBQ_IN_SQL)


def sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-hash sampling (~10%): keep rows whose md5 of
    the natural key starts below 0x1a (26/256 of hex space). Unlike
    ``df.sample``, this is reproducible across engines, runs, retries, and
    repartitions — the property a training-data pipeline needs for stable
    held-out splits at 100 TB."""
    li = t(spark, sf_dir, "lineitem")
    # concat, NOT concat_ws: concat_ws SKIPS null arguments (a null
    # l_linenumber would hash md5('<orderkey>') and stay sampled ~10% of
    # the time) while the oracle's || null-propagates and always drops
    # the row; concat null-propagates identically.
    fp = F.md5(
        F.concat(
            F.col("l_orderkey").cast("string"),
            F.lit("-"),
            F.col("l_linenumber").cast("string"),
        )
    )
    return (
        li.withColumn("__fp", fp)
        .filter(F.substring("__fp", 1, 2) < "1a")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    )


SAMPLE_HASH_SQL = """
SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
FROM lineitem
WHERE substring(md5(l_orderkey || '-' || l_linenumber), 1, 2) < '1a'
"""


def join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salt-spread shuffle join (operators/skew.py): semantically identical
    to the plain join the oracle runs — salting only changes the physical
    key distribution."""
    from ..operators.skew import salted_join

    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    joined = salted_join(
        li, orders, key="l_orderkey", salt_from="l_linenumber", num_salts=8
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("line_count"),
        F.round(
            F.sum(F.col("l_extendedprice").cast("decimal(18,4)")), 2
        ).cast("double").alias("sum_price"),
    )


JOIN_SALTED_SQL = """
SELECT o_orderpriority,
       COUNT(*) AS line_count,
       CAST(ROUND(SUM(CAST(CASE WHEN l_extendedprice - (l_extendedprice) = 0 THEN l_extendedprice END AS DECIMAL(18,4))), 2) AS DOUBLE)
           AS sum_price
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
"""


def join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join: both sides pre-bucketed on the key, the
    join plan has no Exchange (asserted in tests/test_plans.py) — the
    recurring-join scale play."""
    from ..operators.skew import bucketed_join, write_bucketed

    base = fresh_dir(os.path.join(SCRATCH, "bucketed"))
    write_bucketed(
        t(spark, sf_dir, "orders"), "orders_b", "o_custkey", 8,
        os.path.join(base, "orders_b"),
    )
    write_bucketed(
        t(spark, sf_dir, "customer"), "customer_b", "c_custkey", 8,
        os.path.join(base, "customer_b"),
    )
    joined = bucketed_join(spark, "orders_b", "customer_b", "o_custkey", "c_custkey")
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("order_count"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")), 2
        ).cast("double").alias("sum_price"),
    )


JOIN_BUCKETED_SQL = """
SELECT c_mktsegment,
       COUNT(*) AS order_count,
       CAST(ROUND(SUM(CAST(CASE WHEN o_totalprice - (o_totalprice) = 0 THEN o_totalprice END AS DECIMAL(18,4))), 2) AS DOUBLE)
           AS sum_price
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


QUERIES: dict[str, Query] = {
    "scan_csv": Query(
        scan_csv, SCAN_CSV_SQL, "CSV source roundtrip",
        build="side_effects",
    ),
    "scan_json": Query(
        scan_json, SCAN_JSON_SQL, "JSON-lines source roundtrip",
        build="side_effects",
    ),
    "agg_percentile": Query(agg_percentile, AGG_PERCENTILE_SQL,
                            "exact interpolated percentiles"),
    "agg_pivot": Query(agg_pivot, AGG_PIVOT_SQL, "pivot to columns"),
    "win_ntile_first_last": Query(win_ntile_first_last, WIN_NTILE_SQL,
                                  "ntile + explicit-frame first/last"),
    "subquery_scalar": Query(subquery_scalar, SUBQ_SCALAR_SQL,
                             "correlated scalar subquery (decorrelated)"),
    "subquery_in": Query(subquery_in, SUBQ_IN_SQL, "IN-subquery → semi join"),
    "agg_collect": Query(agg_collect, AGG_COLLECT_SQL,
                         "sorted collect_set aggregation"),
    "win_frame_range": Query(win_frame_range, WIN_FRAME_RANGE_SQL,
                             "value-based RANGE frame"),
    "sample_hash": Query(sample_hash, SAMPLE_HASH_SQL,
                         "deterministic content-hash sampling"),
    "join_salted": Query(join_salted, JOIN_SALTED_SQL,
                         "salt-spread skew join"),
    "join_bucketed": Query(join_bucketed, JOIN_BUCKETED_SQL,
                           "bucketed shuffle-free join", build="side_effects"),
}
