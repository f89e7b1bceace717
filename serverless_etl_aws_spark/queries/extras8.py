"""Round-4 fifth wave: interval-overlap join (bin-bucketed, the
genomics/temporal-join formulation) and rolling z-score anomaly
detection (exact windowed sufficient statistics, IEEE-deterministic
sqrt).

Parity discipline per queries/_util.py; sqrt is safe cross-engine
because IEEE 754 requires correctly-rounded square root, unlike the
transcendentals (log/exp) which the engine deliberately avoids.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import Query
from ._util import (
    dec, dsum, fquant, fresh_dir, scratch_root, sql_vec_dim_ok, t,
    vec_dim_ok, vec_finite,
)

SCRATCH = scratch_root()

# Interval-overlap bin width (days). Chosen at the scale of the interval
# lengths (7/14 days) so each interval covers <= ~4 bins — the explode
# fan-out stays O(1) per row while bins keep join buckets small.
BIN_DAYS = 7

EPOCH = "1970-01-01"


def _day(col: F.Column) -> F.Column:
    return F.datediff(col, F.lit(EPOCH).cast("date"))


def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join: order activity windows [o_orderdate,
    +14d] × shipment windows [l_shipdate, +7d], emitting each
    overlapping pair once with its overlap length.

    Scale shape — the standard bin-bucketed formulation (used by
    genomic range joins and temporal databases): each interval explodes
    into the fixed-width bins it covers (O(1) per row at this width), the
    join runs as an EQUI-join on the bin, and a pair is emitted only in
    the bin that contains the overlap start — exact dedup without a
    DISTINCT shuffle. A naive theta-join (start <= end AND ...) is a
    broadcast-nested-loop over the whole fact table and is the plan this
    formulation exists to avoid; the oracle states exactly that
    theta-join declaratively."""
    orders = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 13 == 0)
        .select(
            "o_orderkey",
            _day(F.to_date("o_orderdate")).alias("a_start"),
            (_day(F.to_date("o_orderdate")) + 14).alias("a_end"),
        )
    )
    ship = (
        t(spark, sf_dir, "lineitem")
        .filter(F.col("l_partkey") % 11 == 0)
        .select(
            "l_orderkey",
            "l_linenumber",
            _day(F.to_date("l_shipdate")).alias("b_start"),
            (_day(F.to_date("l_shipdate")) + 7).alias("b_end"),
        )
    )
    a = orders.withColumn(
        "bin",
        F.explode(
            F.sequence(
                F.floor(F.col("a_start") / BIN_DAYS),
                F.floor(F.col("a_end") / BIN_DAYS),
            )
        ),
    )
    b = ship.withColumn(
        "bin",
        F.explode(
            F.sequence(
                F.floor(F.col("b_start") / BIN_DAYS),
                F.floor(F.col("b_end") / BIN_DAYS),
            )
        ),
    )
    ov_start = F.greatest("a_start", "b_start")
    ov_end = F.least("a_end", "b_end")
    return (
        a.join(b, "bin")
        .filter(
            (F.col("a_start") <= F.col("b_end"))
            & (F.col("b_start") <= F.col("a_end"))
            # emit only in the overlap-start bin => exactly-once without
            # a distinct
            & (F.col("bin") == F.floor(ov_start / BIN_DAYS))
        )
        .select(
            "o_orderkey",
            "l_orderkey",
            "l_linenumber",
            (ov_end - ov_start + 1).cast("int").alias("overlap_days"),
        )
    )


JOIN_INTERVAL_OVERLAP_SQL = """
WITH a AS (
  SELECT o_orderkey,
         date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
             AS a_start,
         date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) + 14
             AS a_end
  FROM orders WHERE o_orderkey % 13 = 0
), b AS (
  SELECT l_orderkey, l_linenumber,
         date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE))
             AS b_start,
         date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) + 7
             AS b_end
  FROM lineitem WHERE l_partkey % 11 = 0
)
SELECT a.o_orderkey, b.l_orderkey, b.l_linenumber,
       CAST(least(a_end, b_end) - greatest(a_start, b_start) + 1 AS INT)
           AS overlap_days
FROM a JOIN b ON a.a_start <= b.b_end AND b.b_start <= a.a_end
"""


def ts_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window anomaly score: per event type, each day's value is
    z-scored against the previous 7 days (inclusive) — the standard
    metric-monitoring primitive.

    Exactness: windowed Σv and Σv² accumulate as decimals (order-
    insensitive); mean/variance/z are then single IEEE double
    expressions, and sqrt is correctly-rounded by IEEE 754 in both
    engines — unlike log/exp, which this engine's keys deliberately
    avoid. One aggregation shuffle + one intra-partition window."""
    # ts IS NOT NULL: no timestamp = no day on the series axis (round 9)
    ev = t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    daily = ev.groupBy(
        F.col("event_type"), F.to_date("ts").alias("d")
    ).agg(dsum("value").alias("v"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(-6, Window.currentRow)
    )
    n = F.count(F.lit(1)).over(w).cast("double")
    s1 = F.sum(dec("v")).over(w).cast("double")
    s2 = F.sum(dec("v") * dec("v")).over(w).cast("double")
    mean = s1 / n
    # catastrophic cancellation can leave a tiny negative variance on a
    # constant window; clamp at 0 (DuckDB hard-errors on sqrt(<0),
    # Spark would yield NaN — both wrong)
    var = F.greatest((s2 - s1 * s1 / n) / n, F.lit(0.0))
    z = (F.col("v") - mean) / F.nullif(F.sqrt(var), F.lit(0.0))
    # Warm-up: a 2-point window gives z = ±1 EXACTLY (mathematically),
    # which sits on a floor-quantization boundary — the one place where
    # a last-ulp engine difference splits the floor (caught by the
    # sf0.1 parity probe). n >= 3 makes boundary-exact z measure-zero,
    # and is standard monitoring practice anyway.
    warm = F.count(F.lit(1)).over(w) >= 3
    return daily.select(
        "event_type",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "v",
        fquant(mean, 4).alias("rolling_mean"),
        F.when(warm, fquant(z, 4)).alias("zscore"),
        F.when(warm, F.abs(z) > 2.0).alias("is_anomaly"),
    )


TS_ROLLING_ZSCORE_SQL = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(ROUND(SUM(CAST(CASE WHEN isfinite(value) THEN value END AS DECIMAL(18,4))), 2) AS DOUBLE) AS v
  FROM events WHERE ts IS NOT NULL
  GROUP BY event_type, CAST(ts AS DATE)
), win AS (
  SELECT event_type, d, v,
         CAST(COUNT(*) OVER w AS DOUBLE) AS n,
         CAST(SUM(CAST(v AS DECIMAL(18,4))) OVER w AS DOUBLE) AS s1,
         CAST(SUM(CAST(v AS DECIMAL(18,4)) * CAST(v AS DECIMAL(18,4)))
              OVER w AS DOUBLE) AS s2
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY d
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
)
SELECT event_type,
       strftime(d, '%Y-%m-%d') AS day,
       v,
       floor(s1 / n * 10000.0) / 10000.0 AS rolling_mean,
       CASE WHEN n >= 3 THEN
         floor((v - s1 / n) / NULLIF(sqrt(greatest((s2 - s1 * s1 / n) / n, 0.0)), 0.0)
               * 10000.0) / 10000.0 END AS zscore,
       CASE WHEN n >= 3 THEN
         abs((v - s1 / n) / NULLIF(sqrt(greatest((s2 - s1 * s1 / n) / n, 0.0)), 0.0)) > 2.0
           END AS is_anomaly
FROM win
"""


def scan_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML source roundtrip (Spark 4 native XML, no external package):
    write an orders projection as <order> row elements, read it back with
    a DECLARED schema (inference on XML is two passes over the data —
    never at scale), and re-aggregate. The oracle recomputes from the
    base table, so any element-mapping or type-coercion defect in the
    roundtrip shows up as a hash mismatch."""
    out = fresh_dir(os.path.join(SCRATCH, "scan_xml"))
    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    (
        orders.write.mode("overwrite")
        .option("rootTag", "orders")
        .option("rowTag", "order")
        .format("xml")
        .save(out)
    )
    back = (
        spark.read.schema(
            "o_orderkey long, o_orderstatus string, o_totalprice double"
        )
        .option("rowTag", "order")
        .format("xml")
        .load(out)
    )
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice").alias("sum_price"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )


SCAN_XML_SQL = """
SELECT o_orderstatus,
       COUNT(*) AS n_orders,
       CAST(ROUND(SUM(CAST(CASE WHEN isfinite(o_totalprice) THEN o_totalprice END AS DECIMAL(18,4))), 2) AS DOUBLE)
           AS sum_price,
       MIN(o_orderkey) AS min_key,
       MAX(o_orderkey) AS max_key
FROM orders
GROUP BY o_orderstatus
"""


HN_K = 5
HN_N_PROBES = 5


def llm_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each probe
    vector, the top-K most-similar corpus vectors with a DIFFERENT label
    — the "looks similar, is not" pairs a retrieval/embedding trainer
    feeds as negatives.

    Scale shape shared with llm_knn_join (extras3.py): probes broadcast,
    one map-side JVM cosine pass over the corpus with the label-mismatch
    filter applied BEFORE any aggregation, then the two-stage partial
    top-k (operators/simsearch.py::two_stage_topk) so only k·P candidate
    structs per probe cross an exchange. NULL labels (drift sweeps) drop
    out of the mismatch predicate identically in both engines."""
    from ..operators.simsearch import cosine_expr, quant6, two_stage_topk

    # poisoned-vector + ragged-dim exclusion (float-specials contract
    # _util.vec_finite; round-12 ragged-dims contract _util.vec_dim_ok)
    raw = t(spark, sf_dir, "embeddings")
    emb = raw.filter(vec_dim_ok(raw) & vec_finite()).select(
        "vec_id",
        "label",
        F.expr("transform(embedding, x -> cast(x as double))").alias("v"),
    )
    probes = emb.filter(F.col("vec_id") < HN_N_PROBES).select(
        F.col("vec_id").alias("pid"),
        F.col("label").alias("plabel"),
        F.col("v").alias("pv"),
    )
    scored = (
        emb.filter(F.col("vec_id") >= HN_N_PROBES)
        .join(F.broadcast(probes))
        .filter(F.col("label") != F.col("plabel"))
        .select("pid", "vec_id", quant6(cosine_expr("v", "pv")).alias("cosine"))
        # zero-norm vectors score NULL; drop before the partial top-k
        .filter(F.col("cosine").isNotNull())
    )
    return two_stage_topk(scored, "pid", HN_K)


def _hn_sql() -> str:
    from ..operators.simsearch import SQL_COSINE

    cos = SQL_COSINE.replace("va", "c.emb").replace("vb", "p.emb")
    return f"""
WITH e AS (
    SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    WHERE (embedding IS NULL OR len(list_filter(embedding, x -> NOT isfinite(CAST(x AS DOUBLE)))) = 0)
      AND {sql_vec_dim_ok()}
), cand AS (
    SELECT p.vec_id AS pid, c.vec_id,
           floor(({cos}) * 1000000.0) / 1000000.0 AS cosine
    FROM e c CROSS JOIN e p
    WHERE p.vec_id < {HN_N_PROBES} AND c.vec_id >= {HN_N_PROBES}
      AND c.label <> p.label
), ranked AS (
    SELECT pid, vec_id, cosine,
           row_number() OVER (PARTITION BY pid
                              ORDER BY cosine DESC, vec_id) AS rn
    FROM cand WHERE cosine IS NOT NULL
)
SELECT pid, vec_id, cosine FROM ranked WHERE rn <= {HN_K}
"""


QUERIES: dict[str, Query] = {
    "scan_xml": Query(scan_xml, SCAN_XML_SQL,
                      "XML source roundtrip (Spark 4 native)",
                      build="side_effects"),
    "llm_hard_negatives": Query(
        llm_hard_negatives, _hn_sql(),
        "label-aware hard-negative mining (contrastive training pairs)",
        build="compute"),
    "join_interval_overlap": Query(
        join_interval_overlap, JOIN_INTERVAL_OVERLAP_SQL,
        "bin-bucketed interval-overlap join, exactly-once per pair"),
    "ts_rolling_zscore": Query(
        ts_rolling_zscore, TS_ROLLING_ZSCORE_SQL,
        "trailing-window z-score anomaly detection"),
}
