"""Round-6 seventh wave: peak-to-trough drawdown, exact higher-moment
shape statistics, Pareto concentration, and graph degree distribution.

``win_drawdown`` is the peak-to-current monitoring statistic (how far a
metric has fallen from its running peak) — same window-parallel family
as ``ts_cusum``'s drawdown identity, here applied to the raw level
series with a deterministic argmax pick. ``agg_skew_kurt`` extends the
exact-decimal-moment discipline (``agg_corr``) to third/fourth moments:
skewness and excess kurtosis are the standard distribution-shape
diagnostics a data-quality layer tracks. ``win_pareto`` answers "how
top-heavy is this metric?" — the minimal top-k share covering 80% of a
type's total value, with the 80% crossing decided by EXACT decimal
comparison (no float in the predicate). ``graph_degree_dist`` is the
degree histogram of the co-order part graph the rest of the graph
family (pagerank/LPA/triangles/BFS) runs on.

The reference delegates all analytics of this shape to its
warehouse/gold tier (reference README.md:108-118 declares it but ships
no implementation); these keys are engine-native equivalents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import Query
from ._util import dec, fquant, t

# ----------------------------------------------------------- win_drawdown

def win_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum peak-to-current drawdown per user over the (ts, event_id)
    ordered ``value`` series: ``dd_t = max_{j<=t} v_j - v_t``, reported
    at the row where it is largest (earliest such row on ties — the
    argmax is a row_number pick, not an engine-dependent ``max_by``).
    All path arithmetic is exact decimal: running max, subtraction, and
    the tie-break comparisons never touch a float; the two output
    doubles go through the exact scaled-BIGINT rendering (a direct
    decimal cast drifts by 1 ulp between engines — see ts_cusum).

    Scale: ONE shuffle on user_id; the running max and the argmax
    row_number are two Window passes over the same partitioning (the
    second adds an in-partition sort, never an exchange — plan-tested),
    O(1) state per row."""
    ev = t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    path = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    staged = ev.select(
        "user_id",
        "event_id",
        "ts",
        dec("value").alias("v"),
        F.max(dec("value")).over(
            path.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("peak"),
    ).withColumn("dd", F.col("peak") - F.col("v"))
    pick = Window.partitionBy("user_id").orderBy(
        F.col("dd").desc(), F.col("ts").asc(), F.col("event_id").asc()
    )
    return (
        staged.withColumn("rn", F.row_number().over(pick))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            ((F.col("dd") * 10000).cast("long").cast("double") / 10000.0)
            .alias("max_drawdown"),
            ((F.col("peak") * 10000).cast("long").cast("double") / 10000.0)
            .alias("peak_value"),
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("at_ts"),
        )
    )


WIN_DRAWDOWN_SQL = """
WITH path AS (
    SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS tsx,
           CAST(CASE WHEN isfinite(value) THEN value END AS DECIMAL(18,4)) AS v,
           MAX(CAST(CASE WHEN isfinite(value) THEN value END AS DECIMAL(18,4))) OVER (
               PARTITION BY user_id
               ORDER BY CAST(ts AS TIMESTAMP), event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS peak
    FROM events WHERE value IS NOT NULL
), dd AS (
    SELECT user_id, tsx, peak, peak - v AS dd,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY peak - v DESC, tsx, event_id) AS rn
    FROM path
)
SELECT user_id,
       CAST(CAST(dd * 10000 AS BIGINT) AS DOUBLE) / 10000.0
           AS max_drawdown,
       CAST(CAST(peak * 10000 AS BIGINT) AS DOUBLE) / 10000.0
           AS peak_value,
       strftime(tsx, '%Y-%m-%d %H:%M:%S') AS at_ts
FROM dd WHERE rn = 1
"""


# -------------------------------------------------------- agg_skew_kurt

def agg_skew_kurt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skewness and excess kurtosis of ``value`` per event type from
    EXACT decimal power sums — the distribution-shape diagnostics a
    data-quality layer tracks (is this metric drifting right-tailed?).
    Built-in ``skewness``/``kurtosis`` accumulate doubles in
    engine-specific order; the engine accumulates Σx, Σx², Σx³, Σx⁴ as
    decimals (order-free), then combines them in ONE mirrored IEEE
    expression. Decimal widths are chosen so no product can overflow
    precision 38: value fits DECIMAL(9,4) — the DECLARED exact-decimal
    domain is |value| < 10⁵, enforced LOUD by a named ``raise_error``
    guard below (round-10: widened from the old |value| < 3162 ceiling
    by lifting x² from DECIMAL(15,8) to DECIMAL(18,8); x² < 10¹⁰ at
    the new bound, exact). x³ = x²·x is (28,12) and x⁴ = x²·x² is
    (37,16); Spark's +10 sum-widening caps both sums at precision 38,
    so Σx⁴ holds 22 integer digits — at the domain extreme x⁴ ≈ 10²⁰,
    so the SUM overflows at ~100 all-at-max rows per group (at a more
    typical |value| ≈ 10⁴ it holds ~10⁶ rows), and ANSI mode surfaces
    that loud (never a silent wrap). The DuckDB oracle's x² is
    DECIMAL(19,8), already wide enough for the new domain.

    Scale: one map-side-combinable groupBy — the four power sums are
    ordinary decimal partial aggregates."""
    raw = F.col("value")
    # Loud domain guard: outside the DECIMAL(9,4) range the cast would
    # overflow with Spark's opaque NUMERIC_VALUE_OUT_OF_RANGE — raise a
    # NAMED error first so the failure states the contract. The bound
    # is on the POST-quantization value: a double in
    # [99999.99995, 100000) passes an |x| < 1e5 test but HALF_UP-rounds
    # to 100000.0000 in the (9,4) cast, which needs 6 integer digits.
    # Non-finite values are NOT a domain violation: they carry no value
    # on the measure axis, so the relation filter below excludes them
    # (engine ~isnan/~inf, oracle isfinite(value)) before this guard —
    # the raise is for FINITE out-of-range input only.
    guarded = F.when(F.abs(raw) < 99999.99995, raw).otherwise(
        F.raise_error(F.lit(
            "agg_skew_kurt: |value| >= 1e5 is outside the declared "
            "exact-decimal domain (see docstring)"
        ))
    )
    x = dec(guarded).cast("decimal(9,4)")
    x2 = (x * x).cast("decimal(18,8)")
    m = (
        t(spark, sf_dir, "events")
        .filter(
            F.col("value").isNotNull()
            & ~F.isnan("value")
            & (F.abs("value") != float("inf"))
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum(x).cast("double").alias("s1"),
            F.sum(x2).cast("double").alias("s2"),
            F.sum(x2 * x).cast("double").alias("s3"),
            F.sum(x2 * x2).cast("double").alias("s4"),
        )
    )
    n, s1, s2, s3, s4 = (F.col(c) for c in ("n", "s1", "s2", "s3", "s4"))
    mu = s1 / n
    m2 = s2 / n - mu * mu
    m3 = s3 / n - 3.0 * mu * (s2 / n) + 2.0 * mu * mu * mu
    m4 = (
        s4 / n
        - 4.0 * mu * (s3 / n)
        + 6.0 * mu * mu * (s2 / n)
        - 3.0 * mu * mu * mu * mu
    )
    # zero-variance guard (constant group): shape statistics are
    # undefined at m2 <= 0 — NULL, never a divide (Spark 4 ANSI throws
    # on /0) or a sqrt(-ulp) NaN. Same predicate tree on the oracle.
    return m.select(
        "event_type",
        n.cast("long").alias("n_rows"),
        fquant(F.when(m2 > 0.0, m3 / (m2 * F.sqrt(m2))), 6)
        .alias("skewness"),
        fquant(F.when(m2 > 0.0, m4 / (m2 * m2) - 3.0), 6)
        .alias("kurtosis_excess"),
    )


AGG_SKEW_KURT_SQL = """
WITH m AS (
    -- s1..s4 go decimal→VARCHAR→DOUBLE, not decimal→DOUBLE: DuckDB's
    -- direct high-scale decimal→double cast is NOT correctly rounded
    -- (1 ulp off on some scale-12/16 sums — measured), while Spark's
    -- BigDecimal→double is; strtod on the exact decimal string IS
    -- correctly rounded, so the round-trip makes both engines'
    -- doubles bit-identical. A 1-ulp skew here amplifies to ~1e16
    -- through m4/m2² on near-zero-variance groups (caught by the
    -- round-11 hostile-strings axis, which creates tiny groups).
    SELECT event_type,
           CAST(COUNT(*) AS DOUBLE) AS n,
           CAST(CAST(SUM(CAST(CASE WHEN isfinite(value) THEN value END AS DECIMAL(9,4))) AS VARCHAR) AS DOUBLE) AS s1,
           CAST(CAST(SUM(CAST(CAST(CASE WHEN isfinite(value) THEN value END AS DECIMAL(9,4))
                         * CAST(CASE WHEN isfinite(value) THEN value END AS DECIMAL(9,4))
                         AS DECIMAL(19,8))) AS VARCHAR) AS DOUBLE) AS s2,
           CAST(CAST(SUM(CAST(CAST(CASE WHEN isfinite(value) THEN value END AS DECIMAL(9,4))
                         * CAST(CASE WHEN isfinite(value) THEN value END AS DECIMAL(9,4))
                         AS DECIMAL(19,8))
                    * CAST(CASE WHEN isfinite(value) THEN value END AS DECIMAL(9,4))) AS VARCHAR) AS DOUBLE) AS s3,
           CAST(CAST(SUM(CAST(CAST(CASE WHEN isfinite(value) THEN value END AS DECIMAL(9,4))
                         * CAST(CASE WHEN isfinite(value) THEN value END AS DECIMAL(9,4))
                         AS DECIMAL(19,8))
                    * CAST(CAST(CASE WHEN isfinite(value) THEN value END AS DECIMAL(9,4))
                           * CAST(CASE WHEN isfinite(value) THEN value END AS DECIMAL(9,4))
                           AS DECIMAL(19,8))) AS VARCHAR) AS DOUBLE) AS s4
    FROM events WHERE value IS NOT NULL AND isfinite(value)
    GROUP BY event_type
)
SELECT event_type,
       CAST(n AS BIGINT) AS n_rows,
       -- the abs(…·1e6) < 9.2e18 conjunct mirrors fquant's
       -- quantization-overflow guard: Spark's long floor SATURATES at
       -- ±2⁶³ where DuckDB's double floor keeps the value (hit by the
       -- near-singular-variance kurtosis the hostile-strings axis
       -- creates); both sides NULL the unquantizable statistic
       CASE WHEN s2 / n - (s1 / n) * (s1 / n) > 0
             AND abs((s3 / n - 3.0 * (s1 / n) * (s2 / n)
                + 2.0 * (s1 / n) * (s1 / n) * (s1 / n))
               / ((s2 / n - (s1 / n) * (s1 / n))
                  * sqrt(s2 / n - (s1 / n) * (s1 / n)))
               * 1000000.0) < 9.2e18 THEN
         floor((s3 / n - 3.0 * (s1 / n) * (s2 / n)
                + 2.0 * (s1 / n) * (s1 / n) * (s1 / n))
               / ((s2 / n - (s1 / n) * (s1 / n))
                  * sqrt(s2 / n - (s1 / n) * (s1 / n)))
               * 1000000.0) / 1000000.0 END AS skewness,
       CASE WHEN s2 / n - (s1 / n) * (s1 / n) > 0
             AND abs(((s4 / n - 4.0 * (s1 / n) * (s3 / n)
                 + 6.0 * (s1 / n) * (s1 / n) * (s2 / n)
                 - 3.0 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n))
                / ((s2 / n - (s1 / n) * (s1 / n))
                   * (s2 / n - (s1 / n) * (s1 / n)))
                - 3.0)
               * 1000000.0) < 9.2e18 THEN
         floor(((s4 / n - 4.0 * (s1 / n) * (s3 / n)
                 + 6.0 * (s1 / n) * (s1 / n) * (s2 / n)
                 - 3.0 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n))
                / ((s2 / n - (s1 / n) * (s1 / n))
                   * (s2 / n - (s1 / n) * (s1 / n)))
                - 3.0)
               * 1000000.0) / 1000000.0 END AS kurtosis_excess
FROM m
"""


# ------------------------------------------------------------ win_pareto

#: Coverage target: the top-k crossing is decided by the EXACT decimal
#: comparison 5*cum >= 4*total  (= cum/total >= 0.8, float-free).
PARETO_NUM = 4
PARETO_DEN = 5


def win_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto concentration per event type: the minimal number of
    top-value events covering >= 80% of the type's total value — the
    "how top-heavy is this metric" diagnostic (classic 80/20 check).
    Events are ranked by (value desc, event_id) and the 80% crossing is
    decided by the exact decimal predicate ``5·cum >= 4·total`` — no
    float participates in the decision, so the reported k is a
    contract. The covered share is then rendered through the exact
    scaled-BIGINT division.

    Scale: one shuffle on event_type; running sum, rank and the
    partition total are three window expressions over the same
    partitioning; the crossing pick is ``min_by`` over the flagged
    rows (rank is unique per type, so the pick is unambiguous)."""
    ev = t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    part = Window.partitionBy("event_type")
    ordw = part.orderBy(F.col("value").desc(), F.col("event_id").asc())
    run = ordw.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    staged = ev.select(
        "event_type",
        F.row_number().over(ordw).alias("rk"),
        F.sum(dec("value")).over(run).alias("cum"),
        F.sum(dec("value")).over(part).alias("total"),
        F.count(F.lit(1)).over(part).alias("n"),
    ).filter(
        F.col("cum") * PARETO_DEN >= F.col("total") * PARETO_NUM
    )
    covered = F.min_by("cum", "rk")
    return staged.groupBy("event_type").agg(
        F.min("rk").cast("long").alias("k_events"),
        F.max("n").cast("long").alias("n_events"),
        fquant(
            F.min("rk").cast("double") / F.max("n").cast("double"), 6
        ).alias("top_frac"),
        fquant(
            (covered * 10000).cast("long").cast("double")
            / (F.max("total") * 10000).cast("long").cast("double"),
            6,
        ).alias("covered_share"),
    )


WIN_PARETO_SQL = f"""
WITH staged AS (
    SELECT event_type,
           ROW_NUMBER() OVER (PARTITION BY event_type
                              ORDER BY value DESC, event_id) AS rk,
           SUM(CAST(CASE WHEN isfinite(value) THEN value END AS DECIMAL(18,4))) OVER (
               PARTITION BY event_type
               ORDER BY value DESC, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS cum,
           SUM(CAST(CASE WHEN isfinite(value) THEN value END AS DECIMAL(18,4)))
               OVER (PARTITION BY event_type) AS total,
           COUNT(*) OVER (PARTITION BY event_type) AS n
    FROM events WHERE value IS NOT NULL
), flagged AS (
    SELECT * FROM staged WHERE cum * {PARETO_DEN} >= total * {PARETO_NUM}
)
SELECT event_type,
       CAST(MIN(rk) AS BIGINT) AS k_events,
       CAST(MAX(n) AS BIGINT) AS n_events,
       floor(CAST(MIN(rk) AS DOUBLE) / CAST(MAX(n) AS DOUBLE)
             * 1000000.0) / 1000000.0 AS top_frac,
       floor(CAST(CAST(arg_min(cum, rk) * 10000 AS BIGINT) AS DOUBLE)
             / CAST(CAST(MAX(total) * 10000 AS BIGINT) AS DOUBLE)
             * 1000000.0) / 1000000.0 AS covered_share
FROM flagged
GROUP BY event_type
"""


# ------------------------------------------------------ graph_degree_dist

def graph_degree_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the co-order part graph (parts are
    adjacent when some order contains both — the same graph the
    pagerank/LPA/triangles/BFS keys run on): per-node neighbor count,
    histogrammed. The heavy-tail shape of this histogram is what
    decides whether the other graph keys need skew handling, which
    makes it the family's capacity-planning diagnostic.

    Scale: the adjacency is the session-memoized shared relation
    (_util.co_order_part_adj — one lineitem self-join + distinct per
    session for the whole graph family; hot orders are AQE skew-split
    on its first build), then two map-side-combinable aggregates over
    node-sized relations."""
    from ._util import co_order_part_adj

    nbrs = co_order_part_adj(spark, sf_dir)
    deg = nbrs.groupBy("node").agg(F.count(F.lit(1)).alias("degree"))
    return deg.groupBy("degree").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts")
    ).select(F.col("degree").cast("long").alias("degree"), "n_parts")


GRAPH_DEGREE_DIST_SQL = """
WITH pairs AS (
    SELECT l_orderkey, l_partkey FROM lineitem
), nbrs AS (
    SELECT DISTINCT x.l_partkey AS node, y.l_partkey AS nbr
    FROM pairs x JOIN pairs y USING (l_orderkey)
    WHERE x.l_partkey <> y.l_partkey
), deg AS (
    SELECT node, COUNT(*) AS degree FROM nbrs GROUP BY node
)
SELECT CAST(degree AS BIGINT) AS degree,
       CAST(COUNT(*) AS BIGINT) AS n_parts
FROM deg GROUP BY degree
"""


QUERIES: dict[str, Query] = {
    "win_drawdown": Query(
        win_drawdown, WIN_DRAWDOWN_SQL,
        "max peak-to-current drawdown per user, exact decimal path",
    ),
    "agg_skew_kurt": Query(
        agg_skew_kurt, AGG_SKEW_KURT_SQL,
        "skewness + excess kurtosis from exact decimal power sums",
    ),
    "win_pareto": Query(
        win_pareto, WIN_PARETO_SQL,
        "top-k share covering 80% of value; float-free crossing",
    ),
    "graph_degree_dist": Query(
        graph_degree_dist, GRAPH_DEGREE_DIST_SQL,
        "degree histogram of the co-order part graph",
        build="compute",
    ),
}
