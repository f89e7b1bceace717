"""Second extension wave: ORC source, approximate quantiles, nested-type
(struct/map/array) construction+extraction, rank-distribution windows, and
per-group z-score outlier detection.

All float outputs follow the engine's cross-engine discipline
(``queries/_util.py``): exact decimal sums, single-division doubles, and
floor-quantization — never ``ROUND(double)``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import Query
from ._util import dec, fquant, t, scratch_root, fresh_dir

SCRATCH = scratch_root()


def scan_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source support: write a lineitem projection to ORC, read it
    back. Spark's native vectorized ORC reader gets the same pushdown /
    pruning treatment as parquet; the oracle checks the roundtrip is
    lossless against the parquet original (incl. ms timestamps — the
    session is pinned UTC so ORC's local-time semantics are inert)."""
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_returnflag", "l_shipdate",
    )
    base = fresh_dir(os.path.join(SCRATCH, "orc_scan"))
    li.write.mode("overwrite").orc(base)
    return spark.read.orc(base)


SCAN_ORC_SQL = """
SELECT l_orderkey, l_linenumber, l_quantity,
       l_extendedprice, l_returnflag, l_shipdate
FROM lineitem
"""


#: Sketch accuracy for the graded run. GK's rank error is ≤ n/accuracy;
#: at 1e6 every group up to a million rows is in the EXACT regime
#: (εn < 1 → the sketch returns the element at exactly rank ⌈p·n⌉,
#: verified against DuckDB's ranked selection at sf0.001/0.01) — which
#: is what lets an approximate operator carry a hash-checked oracle. A
#: production deployment lowers this to trade rank error for memory;
#: the plan (partial sketch per partition, merge, one query) is
#: identical either way.
QUANTILE_ACCURACY = 1_000_000


def agg_approx_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate quantiles (Greenwald–Khanna sketch, mergeable across
    partitions — the 100 TB path where exact percentiles would need a
    full sort). Graduated from rows-only to HASH-CHECKED in round 6 by
    pinning the sketch to its exact regime (see QUANTILE_ACCURACY): the
    returned element is the one at rank ⌈p·n⌉, which the oracle selects
    directly with a ROW_NUMBER ranking."""
    li = t(spark, sf_dir, "lineitem")
    q = F.percentile_approx(
        "l_extendedprice", [0.5, 0.9, 0.99], QUANTILE_ACCURACY
    )
    return li.groupBy("l_returnflag").agg(
        q.getItem(0).alias("q50"),
        q.getItem(1).alias("q90"),
        q.getItem(2).alias("q99"),
        F.count(F.lit(1)).alias("n_rows"),
    )


AGG_APPROX_QUANTILE_SQL = """
WITH nn AS (
    -- the sketch sees only NON-NULL values: its n is the non-null count
    -- (a NULL-heavy fixture shifts every rank otherwise), while n_rows
    -- below counts ALL rows (Spark's count(lit(1)))
    SELECT l_returnflag, l_extendedprice AS p,
           ROW_NUMBER() OVER (PARTITION BY l_returnflag
                              ORDER BY l_extendedprice) AS rk,
           COUNT(*) OVER (PARTITION BY l_returnflag) AS n
    FROM lineitem WHERE l_extendedprice IS NOT NULL
), q AS (
    SELECT l_returnflag,
           MAX(CASE WHEN rk = CAST(ceil(0.5 * n) AS BIGINT) THEN p END)
               AS q50,
           MAX(CASE WHEN rk = CAST(ceil(0.9 * n) AS BIGINT) THEN p END)
               AS q90,
           MAX(CASE WHEN rk = CAST(ceil(0.99 * n) AS BIGINT) THEN p END)
               AS q99
    FROM nn GROUP BY l_returnflag
), c AS (
    SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM lineitem GROUP BY l_returnflag
)
SELECT c.l_returnflag, q.q50, q.q90, q.q99, c.n_rows
FROM c LEFT JOIN q ON c.l_returnflag IS NOT DISTINCT FROM q.l_returnflag
"""


def fn_struct_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-type round trip: build struct / map / array values, then
    extract scalars back out (dot access, ``element_at`` on both map and
    array). The oracle checks the flattened result — construction and
    extraction must compose to identity."""
    p = t(spark, sf_dir, "part")
    nested = p.select(
        "p_partkey",
        F.struct(
            F.col("p_brand").alias("brand"), F.col("p_size").alias("size")
        ).alias("ps"),
        F.create_map(F.lit("type"), F.col("p_type")).alias("pm"),
        F.array(F.col("p_size"), F.col("p_size") * F.lit(2)).alias("arr"),
    )
    return nested.select(
        "p_partkey",
        F.col("ps.brand").alias("brand_s"),
        F.col("ps.size").alias("size_s"),
        F.element_at("pm", F.lit("type")).alias("type_m"),
        F.element_at("arr", 2).alias("size_x2"),
        F.size("arr").alias("arr_len"),
    )


FN_STRUCT_MAP_SQL = """
SELECT p_partkey,
       p_brand AS brand_s,
       p_size AS size_s,
       p_type AS type_m,
       p_size * 2 AS size_x2,
       2 AS arr_len
FROM part
"""


def win_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-distribution windows: percent_rank + cume_dist per order
    priority over price. Both are ratios of two ints (one double division
    each) so they're bit-identical across engines; floor-quantized anyway
    per the float discipline."""
    o = t(spark, sf_dir, "orders")
    # asc_nulls_last: Spark's asc default is NULLS FIRST, DuckDB's is
    # NULLS LAST — a fixture regenerated with NULL prices would shift
    # every rank in one engine only (caught by the round-4 null-injected
    # parity sweep).
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.asc_nulls_last("o_totalprice")
    )
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        fquant(F.percent_rank().over(w), 6).alias("price_pr"),
        fquant(F.cume_dist().over(w), 6).alias("price_cd"),
    )


WIN_PERCENT_RANK_SQL = """
SELECT o_orderkey, o_orderpriority,
       floor(PERCENT_RANK() OVER
                 (PARTITION BY o_orderpriority ORDER BY o_totalprice)
             * 1000000.0) / 1000000.0 AS price_pr,
       floor(CUME_DIST() OVER
                 (PARTITION BY o_orderpriority ORDER BY o_totalprice)
             * 1000000.0) / 1000000.0 AS price_cd
FROM orders
"""


def agg_zscore_outlier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group outlier detection: events whose value deviates from the
    group mean by more than 2 sigma, counted per event_type.

    Mean/variance are derived from exact decimal SUM(x) / SUM(x*x) (order-
    independent), converted to double, then combined with a fixed IEEE
    expression shape mirrored verbatim in the oracle SQL — every double op
    is a single deterministic operation, so the outlier *comparison* is
    engine-independent too. The squared-deviation test avoids sqrt (also
    libm-dependent)."""
    ev = t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    stats = (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec("value")).cast("double").alias("s"),
            F.sum(dec("value") * dec("value")).cast("double").alias("ss"),
        )
        .withColumn("mean", F.col("s") / F.col("n"))
        .withColumn(
            "var",
            F.col("ss") / F.col("n") - F.col("mean") * F.col("mean"),
        )
    )
    flagged = ev.join(F.broadcast(stats), "event_type").withColumn(
        "is_outlier",
        (F.col("value") - F.col("mean")) * (F.col("value") - F.col("mean"))
        > F.lit(4.0) * F.col("var"),
    )
    return flagged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_values"),
        F.sum(F.col("is_outlier").cast("long")).alias("n_outliers"),
        fquant(F.first("mean"), 4).alias("mean_value"),
    )


AGG_ZSCORE_OUTLIER_SQL = """
WITH ev AS (
    SELECT event_type, value FROM events WHERE value IS NOT NULL
), stats AS (
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(CASE WHEN isfinite(value) THEN value END AS DECIMAL(18,4))) AS DOUBLE) AS s,
           CAST(SUM(CAST(CASE WHEN isfinite(value) THEN value END AS DECIMAL(18,4))
                    * CAST(CASE WHEN isfinite(value) THEN value END AS DECIMAL(18,4))) AS DOUBLE) AS ss
    FROM ev GROUP BY event_type
), stats2 AS (
    SELECT event_type, n, s / n AS mean,
           ss / n - (s / n) * (s / n) AS var
    FROM stats
)
SELECT e.event_type,
       COUNT(*) AS n_values,
       CAST(SUM(CASE WHEN (e.value - s.mean) * (e.value - s.mean)
                          > 4.0 * s.var
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       floor(MIN(s.mean) * 10000.0) / 10000.0 AS mean_value
FROM ev e JOIN stats2 s USING (event_type)
GROUP BY e.event_type
"""


QUERIES: dict[str, Query] = {
    "scan_orc": Query(
        scan_orc, SCAN_ORC_SQL, "ORC source roundtrip",
        build="side_effects",
    ),
    "agg_approx_quantile": Query(
        agg_approx_quantile, AGG_APPROX_QUANTILE_SQL,
        "GK-sketch quantiles pinned to the exact regime (hash-checked)",
    ),
    "fn_struct_map": Query(fn_struct_map, FN_STRUCT_MAP_SQL,
                           "struct/map/array construct + extract"),
    "win_percent_rank": Query(win_percent_rank, WIN_PERCENT_RANK_SQL,
                              "percent_rank / cume_dist"),
    "agg_zscore_outlier": Query(agg_zscore_outlier, AGG_ZSCORE_OUTLIER_SQL,
                                "per-group 2-sigma outlier counts"),
}
