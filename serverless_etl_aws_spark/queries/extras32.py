"""Round-7 twenty-third wave: Markov transitions, lagged
cross-correlation, expected calibration error, and completeness trend.

``ml_markov_chain`` estimates the user-journey transition matrix
P(next event type | current) — the sequence model behind session
simulation and next-action prediction (llm_bigram_lm's semantics
lifted from tokens to behavioral events). ``ts_cross_corr`` scans the
click→purchase lead-lag structure: at which offset do clicks best
predict purchases? (ts_autocorr is the self-correlation; this is the
cross one — the marketing-attribution readout.) ``ml_ece`` collapses
ml_calibration's reliability bins into the single Expected Calibration
Error number model reviews gate on. ``dq_completeness_trend`` asks the
question dq_profile's point-in-time null counts can't: is missingness
GROWING? — per-day null rates plus an exact Mann-Kendall S on the
cross-multiplied rate fractions (no float ever enters the trend).

The reference delegates all analytics of this shape to its
warehouse/gold tier (reference README.md:108-118 declares the tier but
ships no implementation); these keys are engine-native equivalents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import Query
from ._util import dec, fquant, t

# -------------------------------------------------------------- ml_markov_chain


def ml_markov_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of the user journey: for
    each consecutive event pair in a user's stream ((ts, event_id)
    total order), count (current type → next type) and estimate
    P(next | current). The behavioral bigram model — what a session
    simulator samples from and an anomaly detector scores against.

    Determinism: transitions are exact integer counts off one lag
    window; row-normalizing probabilities are one division each
    against the window-attached from-type total.

    Scale: ONE user_id window shuffle (lag is O(1) state), one
    map-side-combinable collapse onto the ≤5×5 transition grid, and a
    grid-sized window for the normalizer."""
    # ts IS NOT NULL: no timestamp = no position in the journey (round 9)
    ev = t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    pairs = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type", 1).over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    grid = pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    wfrom = Window.partitionBy("from_type")
    return grid.select(
        "from_type",
        "to_type",
        F.col("n").cast("long").alias("n"),
        fquant(
            F.col("n").cast("double")
            / F.sum("n").over(wfrom).cast("double"),
            6,
        ).alias("prob"),
    )


ML_MARKOV_CHAIN_SQL = """
WITH pairs AS (
    SELECT event_type AS from_type,
           LEAD(event_type, 1) OVER (PARTITION BY user_id
                                     ORDER BY ts ASC, event_id ASC)
             AS to_type
    FROM events WHERE ts IS NOT NULL
), grid AS (
    SELECT from_type, to_type, COUNT(*) AS n
    FROM pairs WHERE to_type IS NOT NULL
    GROUP BY 1, 2
)
SELECT from_type, to_type,
       CAST(n AS BIGINT) AS n,
       floor(CAST(n AS DOUBLE)
             / CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE)
             * 1000000.0) / 1000000.0 AS prob
FROM grid
"""


# ---------------------------------------------------------------- ts_cross_corr

CCF_MAX_LAG = 7


def ts_cross_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag scan between daily click and purchase volumes: Pearson
    correlation of (clicks_t, purchases_{t+lag}) for every lag in
    [−7, +7]. A positive peak at lag k > 0 means clicks LEAD purchases
    by k days — the attribution-window readout ts_autocorr (self) and
    ml_kendall_tau (lag 0 concordance) can't give.

    Determinism: all five moments per lag (n, Σx, Σy, Σxy, Σx², Σy²)
    are exact integers (daily counts; HUGEINT/DECIMAL(38) products);
    each correlation is the identical double tree — two √ of exact
    integers and one division — with zero-variance lags NULL.

    Scale: one corpus collapse to the days relation (lazily
    checkpointed), an explode by 15 lags (the offset-join trick — one
    equi-join on shifted day, never a theta join), and a 15-row
    aggregate."""
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_diff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("d"),
    ).agg(
        F.sum(
            F.when(F.col("event_type") == "click", 1).otherwise(0)
        ).alias("x"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("y"),
    ).localCheckpoint(eager=False)
    lags = F.sequence(
        F.lit(-CCF_MAX_LAG), F.lit(CCF_MAX_LAG)
    )
    probes = daily.select(
        "d", "x", F.explode(lags).alias("lag")
    ).select(
        "x", "lag", (F.col("d") + F.col("lag")).alias("dy")
    )
    joined = probes.join(
        daily.select(F.col("d").alias("dy"), F.col("y").alias("yv")),
        "dy",
    )
    per = joined.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("yv").alias("sy"),
        F.sum(F.col("x") * F.col("yv")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("yv") * F.col("yv")).alias("syy"),
    )
    d38 = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    num = d38("n") * d38("sxy") - d38("sx") * d38("sy")
    vx = d38("n") * d38("sxx") - d38("sx") * d38("sx")
    vy = d38("n") * d38("syy") - d38("sy") * d38("sy")
    corr = num.cast("double") / (
        F.sqrt(vx.cast("double")) * F.sqrt(vy.cast("double"))
    )
    return per.select(
        F.col("lag").cast("int").alias("lag"),
        F.col("n").cast("long").alias("n_days"),
        F.when((vx > 0) & (vy > 0), fquant(corr, 6)).alias("ccf"),
    )


TS_CROSS_CORR_SQL = f"""
WITH daily AS (
    SELECT date_diff('day', DATE '1970-01-01',
                     CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS d,
           SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS x,
           SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
             AS y
    FROM events GROUP BY 1
), probes AS (
    SELECT a.x, l.lag, a.d + l.lag AS dy
    FROM daily a
    CROSS JOIN (SELECT unnest(range(-{CCF_MAX_LAG}, {CCF_MAX_LAG + 1}))
                  AS lag) l
), joined AS (
    SELECT p.x, p.lag, b.y AS yv
    FROM probes p JOIN daily b ON b.d = p.dy
), per AS (
    SELECT lag, COUNT(*) AS n,
           SUM(x) AS sx, SUM(yv) AS sy,
           SUM(x * yv) AS sxy, SUM(x * x) AS sxx,
           SUM(yv * yv) AS syy
    FROM joined GROUP BY 1
)
SELECT CAST(lag AS INT) AS lag,
       CAST(n AS BIGINT) AS n_days,
       CASE WHEN CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx > 0
             AND CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy > 0
       THEN
         floor(CAST(CAST(n AS HUGEINT) * sxy
                    - CAST(sx AS HUGEINT) * sy AS DOUBLE)
               / (sqrt(CAST(CAST(n AS HUGEINT) * sxx
                            - CAST(sx AS HUGEINT) * sx AS DOUBLE))
                  * sqrt(CAST(CAST(n AS HUGEINT) * syy
                              - CAST(sy AS HUGEINT) * sy AS DOUBLE)))
               * 1000000.0) / 1000000.0 END AS ccf
FROM per
"""


# ----------------------------------------------------------------------- ml_ece

#: Reliability bin width on the raw score axis (the ml_calibration
#: convention) and the normalizer that maps scores into [0, 1]
#: confidences (fixture values span ~0..600).
ECE_BIN = 50
ECE_SCORE_MAX = 600.0


def ml_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected Calibration Error of ``value`` (normalized to [0,1])
    as a purchase-probability score: Σ_b (n_b/N)·|acc_b − conf_b| over
    the reliability bins — ml_calibration publishes the whole
    reliability diagram, this key collapses it to the ONE number a
    model-review checklist gates on.

    Determinism: per-bin accuracy and confidence are single divisions
    of exact integers (scores live on the 1e-4 grid ⇒ exact decimal
    sums); the per-bin gap |acc − conf| is floor-quantized to 1e6
    BEFORE the integer multiply by n_b, so the cross-bin sum is an
    exact BIGINT sum (order-independent) and ECE is one final
    division. Quantizing before the weighted sum biases each term down
    by < 1e-6 — documented contract, not drift.

    Scale: one map-side-combinable collapse onto ≤13 score bins; the
    windows and the final 1-row reduce run on the bin relation."""
    ev = t(spark, sf_dir, "events").filter(
        # finite values only: non-finite scores have no bucket/label
        # (Spark's ANSI floor silently fabricates bucket 0 from NaN)
        F.col("value").isNotNull()
        & ~F.isnan("value")
        & (F.abs("value") != float("inf"))
    )
    b = ev.select(
        (F.floor(F.col("value") / ECE_BIN)).cast("int").alias("bin"),
        (dec("value") * 10000).cast("long").alias("score_s"),
        (F.col("event_type") == "purchase").cast("long").alias("is_pos"),
    )
    per = b.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("is_pos").alias("pos"),
        F.sum("score_s").alias("score_sum"),
    )
    acc = F.col("pos").cast("double") / F.col("n").cast("double")
    conf = F.col("score_sum").cast("double") / (
        F.col("n").cast("double") * (10000.0 * ECE_SCORE_MAX)
    )
    gap_q = F.floor(F.abs(acc - conf) * F.lit(1e6)).cast("long")
    staged = per.select(
        "n",
        (gap_q * F.col("n")).alias("term"),
    )
    out = staged.agg(
        F.count(F.lit(1)).cast("long").alias("n_bins"),
        F.sum("n").alias("n_total"),
        F.sum("term").alias("term_sum"),
    )
    return out.select(
        "n_bins",
        F.col("n_total").cast("long").alias("n_total"),
        fquant(
            F.col("term_sum").cast("double")
            / (F.col("n_total").cast("double") * 1e6),
            6,
        ).alias("ece"),
    )


ML_ECE_SQL = f"""
WITH b AS (
    SELECT CAST(floor(value / {ECE_BIN}) AS INT) AS bin,
           CAST(CAST(CASE WHEN isfinite(value) THEN value END AS DECIMAL(18,4)) * 10000 AS BIGINT)
             AS score_s,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
             AS is_pos
    FROM events WHERE value IS NOT NULL AND isfinite(value)
), per AS (
    SELECT bin, COUNT(*) AS n, SUM(is_pos) AS pos,
           SUM(score_s) AS score_sum
    FROM b GROUP BY 1
), staged AS (
    SELECT n,
           CAST(floor(abs(CAST(pos AS DOUBLE) / CAST(n AS DOUBLE)
                          - CAST(score_sum AS DOUBLE)
                            / (CAST(n AS DOUBLE)
                               * (10000.0 * {ECE_SCORE_MAX})))
                      * 1e6) AS BIGINT) * n AS term
    FROM per
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_bins,
       CAST(SUM(n) AS BIGINT) AS n_total,
       floor(CAST(SUM(term) AS DOUBLE)
             / (CAST(SUM(n) AS DOUBLE) * 1e6)
             * 1000000.0) / 1000000.0 AS ece
FROM staged
"""


# ------------------------------------------------------- dq_completeness_trend


def dq_completeness_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Is missingness growing? Per day: row count and the null rates
    of the two nullable event columns (value, props), plus an exact
    Mann-Kendall S statistic on the daily value-null-rate series
    attached to every row (positive S = null rate trending UP — the
    alarm). dq_profile says how many nulls exist NOW; this key says
    where they're HEADING — the difference between a data-quality
    snapshot and a data-quality process.

    Determinism: rate comparisons inside S are cross-multiplied
    integer fractions (sign(nv_j·n_i − nv_i·n_j) — no float enters the
    trend); displayed rates are single divisions. The S scalar is a
    1-row broadcast attach (the scalar-attach pattern).

    Scale: one corpus collapse to per-day counts; the O(D²) pair scan
    for S runs on the calendar-bounded days relation."""
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_diff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("d"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(F.col("value").isNull(), 1).otherwise(0)
        ).alias("nv"),
        F.sum(
            F.when(F.col("props").isNull(), 1).otherwise(0)
        ).alias("np_"),
    ).localCheckpoint(eager=False)
    a, bb = daily.alias("a"), daily.alias("b")
    cross = (
        F.col("b.nv").cast("decimal(38,0)")
        * F.col("a.n").cast("decimal(38,0)")
        - F.col("a.nv").cast("decimal(38,0)")
        * F.col("b.n").cast("decimal(38,0)")
    )
    s = (
        a.join(bb, F.col("a.d") < F.col("b.d"))
        .select(F.signum(cross.cast("double")).cast("long").alias("sg"))
        .agg(F.sum("sg").alias("mk_s"))
    )
    return (
        daily.crossJoin(F.broadcast(s))
        .select(
            F.col("d").alias("epoch_day"),
            F.col("n").cast("long").alias("n"),
            fquant(
                F.col("nv").cast("double") / F.col("n").cast("double"), 6
            ).alias("null_value_rate"),
            fquant(
                F.col("np_").cast("double") / F.col("n").cast("double"),
                6,
            ).alias("null_props_rate"),
            F.col("mk_s").cast("long").alias("mk_s_value_nulls"),
        )
    )


DQ_COMPLETENESS_TREND_SQL = """
WITH daily AS MATERIALIZED (
    SELECT date_diff('day', DATE '1970-01-01',
                     CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS d,
           COUNT(*) AS n,
           SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS nv,
           SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS np_
    FROM events GROUP BY 1
), s AS (
    -- no COALESCE: a single-day corpus has ZERO pairs, and the trend
    -- statistic over an empty pair relation is undefined — SUM yields
    -- NULL on both engines (the engine side's F.sum does the same).
    -- NULL cells, never fabricated zeros.
    SELECT SUM(CASE
             WHEN CAST(b.nv AS HUGEINT) * a.n
                  - CAST(a.nv AS HUGEINT) * b.n > 0 THEN 1
             WHEN CAST(b.nv AS HUGEINT) * a.n
                  - CAST(a.nv AS HUGEINT) * b.n < 0 THEN -1
             ELSE 0 END) AS mk_s
    FROM daily a JOIN daily b ON a.d < b.d
)
SELECT d AS epoch_day,
       CAST(n AS BIGINT) AS n,
       floor(CAST(nv AS DOUBLE) / CAST(n AS DOUBLE) * 1000000.0)
         / 1000000.0 AS null_value_rate,
       floor(CAST(np_ AS DOUBLE) / CAST(n AS DOUBLE) * 1000000.0)
         / 1000000.0 AS null_props_rate,
       CAST(s.mk_s AS BIGINT) AS mk_s_value_nulls
FROM daily CROSS JOIN s
"""


QUERIES: dict[str, Query] = {
    "ml_markov_chain": Query(
        ml_markov_chain, ML_MARKOV_CHAIN_SQL,
        "first-order event-type transition matrix per user journey",
    ),
    "ts_cross_corr": Query(
        ts_cross_corr, TS_CROSS_CORR_SQL,
        "click->purchase lead-lag correlation scan (lags -7..7)",
        build="compute",
    ),
    "ml_ece": Query(
        ml_ece, ML_ECE_SQL,
        "expected calibration error over reliability bins",
    ),
    "dq_completeness_trend": Query(
        dq_completeness_trend, DQ_COMPLETENESS_TREND_SQL,
        "per-day null rates + exact Mann-Kendall missingness trend",
        build="compute",
    ),
}
