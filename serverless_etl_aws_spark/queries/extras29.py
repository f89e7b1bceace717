"""Round-7 twentieth wave: Cramér's V association, Kendall tau between
series, segment-level uplift, and an out-of-order delivery audit.

``agg_cramers_v`` turns ml_chi2's significance machinery into the
EFFECT-SIZE number analysts actually compare across tables (χ² grows
with N; V ∈ [0,1] doesn't). ``ml_kendall_tau`` is the third rank
correlation (Pearson→agg_corr, Spearman→ml_spearman): concordance
between the daily click and purchase volumes, exact to the last pair.
``ml_uplift_segments`` is ml_ab_test sliced by user segment — the
heterogeneous-treatment-effect readout (a flat topline can hide a +5%
segment canceling a −5% one). ``dq_out_of_order`` audits stream
discipline: events whose timestamp runs BACKWARD against their
event_id order — the late-arrival profile that sizes a streaming
watermark (stream_late_data enforces one; this key measures what it
should be).

The reference delegates all analytics of this shape to its
warehouse/gold tier (reference README.md:108-118 declares the tier but
ships no implementation); these keys are engine-native equivalents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import Query
from ._util import fquant, t
from .extras24 import AB_CONV_MIN

# -------------------------------------------------------------- agg_cramers_v


def agg_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V between customer market segment and order priority —
    does WHO buys predict HOW URGENTLY? χ² says whether the
    association is significant (it always is at warehouse N); V =
    √(χ²/(N·min(r−1, c−1))) ∈ [0,1] says whether it MATTERS — the
    normalized effect size comparable across any pair of categoricals.

    Determinism: the ml_chi2 stance verbatim — integer contingency
    counts, bit-identical double cells, each cell floor-quantized to a
    BIGINT (order-insensitive sum), then χ², N, r, c feed one √ (IEEE
    correctly-rounded). r and c are counted from the observed grid.

    Scale: orders⋈customer shuffles on the customer grain with the dim
    side broadcast; then ONE map-side-combinable collapse to the ≤5×5
    contingency grid; everything after runs on grid-sized relations."""
    orders = t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority"
    )
    cust = t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    cells = (
        orders.join(
            F.broadcast(cust),
            orders.o_custkey == cust.c_custkey,
        )
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("o"))
    )
    w_row = Window.partitionBy("c_mktsegment")
    w_col = Window.partitionBy("o_orderpriority")
    w_all = Window.partitionBy()
    e = (
        F.col("rt").cast("double")
        * F.col("ct").cast("double")
        / F.col("nn").cast("double")
    )
    cell = (F.col("o").cast("double") - e) * (
        F.col("o").cast("double") - e
    ) / e
    staged = cells.select(
        "o",
        F.sum("o").over(w_row).alias("rt"),
        F.sum("o").over(w_col).alias("ct"),
        F.sum("o").over(w_all).alias("nn"),
        F.size(F.collect_set("c_mktsegment").over(w_all)).alias("r"),
        F.size(F.collect_set("o_orderpriority").over(w_all)).alias("c"),
    ).select(
        "nn",
        "r",
        "c",
        F.floor(cell * F.lit(1e9)).cast("long").alias("q9"),
    )
    agg = staged.groupBy("nn", "r", "c").agg(
        F.sum("q9").alias("chi2_q9"),
    )
    chi2 = F.col("chi2_q9").cast("double") / F.lit(1e9)
    dof_min = F.least(F.col("r") - 1, F.col("c") - 1)
    return agg.select(
        F.col("nn").cast("long").alias("n"),
        F.col("r").cast("int").alias("n_rows_cat"),
        F.col("c").cast("int").alias("n_cols_cat"),
        fquant(chi2, 6).alias("chi2"),
        F.when(
            dof_min > 0,
            fquant(
                F.sqrt(
                    chi2
                    / (F.col("nn") * dof_min).cast("double")
                ),
                6,
            ),
        ).alias("cramers_v"),
    )


AGG_CRAMERS_V_SQL = """
WITH cells AS (
    SELECT c.c_mktsegment, o.o_orderpriority, COUNT(*) AS o
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1, 2
), tot AS (
    SELECT o,
           SUM(o) OVER (PARTITION BY c_mktsegment) AS rt,
           SUM(o) OVER (PARTITION BY o_orderpriority) AS ct,
           SUM(o) OVER () AS nn,
           COUNT(DISTINCT c_mktsegment) OVER () AS r,
           COUNT(DISTINCT o_orderpriority) OVER () AS c
    FROM cells
), q AS (
    SELECT nn, r, c,
           CAST(floor(
             (CAST(o AS DOUBLE)
              - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)
                / CAST(nn AS DOUBLE))
             * (CAST(o AS DOUBLE)
                - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)
                  / CAST(nn AS DOUBLE))
             / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)
                / CAST(nn AS DOUBLE))
             * 1e9) AS BIGINT) AS q9
    FROM tot
), agg AS (
    SELECT nn, r, c, SUM(q9) AS chi2_q9 FROM q GROUP BY 1, 2, 3
)
SELECT CAST(nn AS BIGINT) AS n,
       CAST(r AS INT) AS n_rows_cat,
       CAST(c AS INT) AS n_cols_cat,
       floor(CAST(chi2_q9 AS DOUBLE) / 1e9 * 1000000.0) / 1000000.0
         AS chi2,
       CASE WHEN least(r - 1, c - 1) > 0 THEN
         floor(sqrt(CAST(chi2_q9 AS DOUBLE) / 1e9
                    / CAST(nn * least(r - 1, c - 1) AS DOUBLE))
               * 1000000.0) / 1000000.0 END AS cramers_v
FROM agg
"""


# -------------------------------------------------------------- ml_kendall_tau


def ml_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall τ_a between the daily click volume and the daily
    purchase volume: do high-click days and high-purchase days move
    together, counted by exact pair concordance? The third rank
    correlation in the family (Pearson: linear co-movement of values;
    Spearman: monotone co-movement of ranks; Kendall: fraction of
    concordant pairs — the most interpretable and most robust).

    Determinism: daily volumes are exact integer counts; each pair's
    concordance is the SIGN of a product of integer differences
    (exact), so C, D and the tie count are exact integers and τ_a =
    (C − D)/(n(n−1)/2) is one division. Ties are counted and REPORTED,
    not fudged into τ_b's √ denominators.

    Scale: one corpus collapse to the days-sized (day, clicks,
    purchases) relation (lazily checkpointed — the theil_sen
    lineage-truncation pattern), then the O(D²) pair join on the
    calendar-bounded relation and a 1-row reduce."""
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_diff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("d"),
    ).agg(
        F.sum(
            F.when(F.col("event_type") == "click", 1).otherwise(0)
        ).alias("clicks"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("purchases"),
    ).localCheckpoint(eager=False)
    a, b = daily.alias("a"), daily.alias("b")
    prod = (F.col("a.clicks") - F.col("b.clicks")) * (
        F.col("a.purchases") - F.col("b.purchases")
    )
    pairs = a.join(b, F.col("a.d") < F.col("b.d")).select(
        F.signum(prod.cast("double")).cast("int").alias("sgn"),
    )
    out = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(F.when(F.col("sgn") == 1, 1).otherwise(0))
        .cast("long").alias("concordant"),
        F.sum(F.when(F.col("sgn") == -1, 1).otherwise(0))
        .cast("long").alias("discordant"),
        F.sum(F.when(F.col("sgn") == 0, 1).otherwise(0))
        .cast("long").alias("ties"),
    )
    return out.select(
        "n_pairs",
        "concordant",
        "discordant",
        "ties",
        F.when(
            F.col("n_pairs") > 0,
            fquant(
                (F.col("concordant") - F.col("discordant"))
                .cast("double")
                / F.col("n_pairs").cast("double"),
                6,
            ),
        ).alias("tau_a"),
    )


ML_KENDALL_TAU_SQL = """
WITH daily AS (
    SELECT date_diff('day', DATE '1970-01-01',
                     CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS d,
           SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
             AS clicks,
           SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
             AS purchases
    FROM events GROUP BY 1
), pairs AS (
    SELECT CASE
             WHEN (a.clicks - b.clicks) * (a.purchases - b.purchases)
                  > 0 THEN 1
             WHEN (a.clicks - b.clicks) * (a.purchases - b.purchases)
                  < 0 THEN -1
             ELSE 0 END AS sgn
    FROM daily a JOIN daily b ON a.d < b.d
), agg AS (
    SELECT COUNT(*) AS n_pairs,
           SUM(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS concordant,
           SUM(CASE WHEN sgn = -1 THEN 1 ELSE 0 END) AS discordant,
           SUM(CASE WHEN sgn = 0 THEN 1 ELSE 0 END) AS ties
    FROM pairs
)
SELECT CAST(n_pairs AS BIGINT) AS n_pairs,
       CAST(concordant AS BIGINT) AS concordant,
       CAST(discordant AS BIGINT) AS discordant,
       CAST(ties AS BIGINT) AS ties,
       CASE WHEN n_pairs > 0 THEN
         floor(CAST(concordant - discordant AS DOUBLE)
               / CAST(n_pairs AS DOUBLE)
               * 1000000.0) / 1000000.0 END AS tau_a
FROM agg
"""


# ---------------------------------------------------------- ml_uplift_segments

#: Segment count for the heterogeneity slice. Segments come from
#: user_id DIV 2 so they are INDEPENDENT of the arm bit (user_id % 2,
#: the ml_ab_test assignment) — slicing by a function of the arm would
#: fabricate uplift.
UPLIFT_SEGMENTS = 5


def ml_uplift_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heterogeneous treatment effect: ml_ab_test's two-arm conversion
    comparison, sliced by user segment ((user_id DIV 2) % 5 —
    independent of the arm bit by construction). The readout that
    catches a flat topline hiding a +5% segment canceling a −5% one —
    the first thing an experimentation review asks for after the
    global z.

    Determinism: per-(segment, arm) counts are exact integers off one
    per-user collapse; rates and uplift are the identical double trees
    (single divisions, one subtraction); degenerate arms yield NULL
    via the ml_ab_test guards.

    Scale: one map-side-combinable per-user shuffle, then a
    2×``UPLIFT_SEGMENTS``-row pivot aggregate."""
    ev = t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("value") >= AB_CONV_MIN),
                1,
            ).otherwise(0)
        ).alias("conv")
    )
    # pmod, never % (ARCHITECTURE.md bucketing convention): signed
    # modulo on negative user_ids would emit negative segment/arm labels
    # ({-4..4} x {-1,0} instead of {0..4} x {0,1}). Oracle mirrors with
    # the ((x % m) + m) % m identity; DIV truncation matches // there.
    seg = per_user.groupBy(
        F.pmod(F.expr("user_id DIV 2"), F.lit(UPLIFT_SEGMENTS))
        .cast("int")
        .alias("segment"),
        F.pmod(F.col("user_id"), F.lit(2)).cast("int").alias("arm"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("conv").alias("c"),
    )
    wide = seg.groupBy("segment").agg(
        F.sum(F.when(F.col("arm") == 0, F.col("n"))).alias("n_a"),
        F.sum(F.when(F.col("arm") == 0, F.col("c"))).alias("c_a"),
        F.sum(F.when(F.col("arm") == 1, F.col("n"))).alias("n_b"),
        F.sum(F.when(F.col("arm") == 1, F.col("c"))).alias("c_b"),
    )
    pa = F.col("c_a").cast("double") / F.col("n_a").cast("double")
    pb = F.col("c_b").cast("double") / F.col("n_b").cast("double")
    ok = F.col("n_a").isNotNull() & F.col("n_b").isNotNull()
    return wide.select(
        "segment",
        F.col("n_a").cast("long").alias("n_a"),
        F.col("c_a").cast("long").alias("conv_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.col("c_b").cast("long").alias("conv_b"),
        F.when(F.col("n_a").isNotNull(), fquant(pa, 6)).alias("rate_a"),
        F.when(F.col("n_b").isNotNull(), fquant(pb, 6)).alias("rate_b"),
        F.when(ok, fquant(pb - pa, 6)).alias("uplift"),
    )


ML_UPLIFT_SEGMENTS_SQL = f"""
WITH per_user AS (
    SELECT user_id,
           MAX(CASE WHEN event_type = 'purchase'
                     AND value >= {AB_CONV_MIN} THEN 1 ELSE 0 END)
             AS conv
    FROM events GROUP BY user_id
), seg AS (
    SELECT CAST((((user_id // 2) % {UPLIFT_SEGMENTS})
                 + {UPLIFT_SEGMENTS}) % {UPLIFT_SEGMENTS} AS INT)
             AS segment,
           CAST(((user_id % 2) + 2) % 2 AS INT) AS arm,
           COUNT(*) AS n, SUM(conv) AS c
    FROM per_user GROUP BY 1, 2
), wide AS (
    SELECT segment,
           SUM(CASE WHEN arm = 0 THEN n END) AS n_a,
           SUM(CASE WHEN arm = 0 THEN c END) AS c_a,
           SUM(CASE WHEN arm = 1 THEN n END) AS n_b,
           SUM(CASE WHEN arm = 1 THEN c END) AS c_b
    FROM seg GROUP BY 1
)
SELECT segment,
       CAST(n_a AS BIGINT) AS n_a,
       CAST(c_a AS BIGINT) AS conv_a,
       CAST(n_b AS BIGINT) AS n_b,
       CAST(c_b AS BIGINT) AS conv_b,
       CASE WHEN n_a IS NOT NULL THEN
         floor(CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE) * 1000000.0)
           / 1000000.0 END AS rate_a,
       CASE WHEN n_b IS NOT NULL THEN
         floor(CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE) * 1000000.0)
           / 1000000.0 END AS rate_b,
       CASE WHEN n_a IS NOT NULL AND n_b IS NOT NULL THEN
         floor((CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE)
                - CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE))
               * 1000000.0) / 1000000.0 END AS uplift
FROM wide
"""


# ------------------------------------------------------------- dq_out_of_order


def dq_out_of_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-order delivery audit: per event type, how many events
    carry a timestamp EARLIER than the running maximum of their user's
    stream in event_id order, and the worst backward jump in
    microseconds. This is the empirical late-arrival profile that
    sizes a streaming watermark — stream_late_data ENFORCES a
    watermark; this key measures what it should have been (max_late_us
    is the smallest allowed-lateness that would have dropped nothing).

    Determinism: epoch-microsecond integers and a running integer max
    over the (user, event_id) total order — pure exact arithmetic.

    Scale: ONE user_id window shuffle (running max is O(1) state per
    row), then a map-side-combinable per-type collapse."""
    ev = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    us = F.unix_micros("ts")
    staged = ev.select(
        "event_type",
        us.alias("us"),
        F.max(us).over(w).alias("run_max"),
    )
    late = F.col("run_max") - F.col("us")
    return staged.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(late > 0, 1).otherwise(0))
        .cast("long").alias("n_late"),
        F.max(late).cast("long").alias("max_late_us"),
    ).select(
        "event_type",
        "n",
        "n_late",
        "max_late_us",
        fquant(
            F.col("n_late").cast("double") / F.col("n").cast("double"),
            6,
        ).alias("late_share"),
    )


DQ_OUT_OF_ORDER_SQL = """
WITH staged AS (
    SELECT event_type,
           epoch_us(CAST(ts AS TIMESTAMP)) AS us,
           MAX(epoch_us(CAST(ts AS TIMESTAMP)))
             OVER (PARTITION BY user_id ORDER BY event_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS run_max
    FROM events
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN run_max - us > 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_late,
       CAST(MAX(run_max - us) AS BIGINT) AS max_late_us,
       floor(CAST(SUM(CASE WHEN run_max - us > 0 THEN 1 ELSE 0 END)
                  AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) * 1000000.0) / 1000000.0
         AS late_share
FROM staged GROUP BY event_type
"""


QUERIES: dict[str, Query] = {
    "agg_cramers_v": Query(
        agg_cramers_v, AGG_CRAMERS_V_SQL,
        "Cramér's V effect size: market segment × order priority",
    ),
    "ml_kendall_tau": Query(
        ml_kendall_tau, ML_KENDALL_TAU_SQL,
        "Kendall tau_a between daily click and purchase volumes",
        build="compute",
    ),
    "ml_uplift_segments": Query(
        ml_uplift_segments, ML_UPLIFT_SEGMENTS_SQL,
        "per-segment A/B uplift (heterogeneous treatment effect)",
    ),
    "dq_out_of_order": Query(
        dq_out_of_order, DQ_OUT_OF_ORDER_SQL,
        "out-of-order delivery audit: late share + watermark bound",
    ),
}
