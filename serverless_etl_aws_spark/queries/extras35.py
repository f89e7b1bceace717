"""Round-7 twenty-sixth wave: churn label generation, calendar spine
fill, ABC classification, and a saturation audit.

``ml_churn_labels`` is the training-data-generation op behind every
churn model: features from the observation window, the label from a
DISJOINT later window — point-in-time correctness by construction (the
leakage bug this key makes impossible is the most common way churn
models lie). ``ts_gap_fill`` joins the daily series against a
generated calendar spine so silent zero-traffic days become explicit
rows — the difference between "no row" and "zero", which every
downstream average silently gets wrong otherwise. ``agg_abc_class`` is
the inventory classic: parts ranked by revenue into A (first 80%),
B (next 15%), C (tail) — agg_lorenz's curve operationalized into the
three buckets a planner acts on. ``dq_saturation`` counts values
pinned at the observed min/max — the clipped-sensor audit (a value
distribution with mass at its own extremes is usually a measurement
ceiling, not data).

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

# ---------------------------------------------------------------- ml_churn_labels

#: Days reserved at the END of the corpus for the label window. The
#: feature window is everything before it — the two windows are
#: disjoint by construction (point-in-time correctness).
CHURN_LABEL_DAYS = 7


def ml_churn_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free churn training set: per user, activity features
    computed ONLY from the observation window (corpus start → T−7
    days) and the churn label ONLY from the disjoint label window
    (last 7 days): churned = no activity there. The label-generation
    op every churn pipeline needs and most get wrong — features that
    peek past the cutoff make offline AUC a fiction; here the cutoff
    is an exact integer day bound shared by both windows.

    Users with no observation-window activity are EXCLUDED (nothing
    to featurize — they'd be label-only rows). Features: event count,
    active days, purchase count, exact total value (decimal→scaled
    BIGINT render), days since last activity at cutoff.

    Determinism: pure integer/decimal arithmetic — counts, epoch-day
    bounds, one exact division for the rate; the cutoff derives from a
    1-row max(day) aggregate broadcast onto the stream (the
    scalar-attach pattern — a global WINDOW over raw corpus rows would
    funnel 100 TB through one partition).

    Scale: ONE per-user collapse with every feature and the label as
    conditional aggregates over the same scan — no join between
    feature and label relations; the cutoff is the only second read
    and it projects a single column."""
    ev = t(spark, sf_dir, "events")
    day = F.date_diff(
        F.to_date("ts"), F.lit("1970-01-01").cast("date")
    ).cast("long")
    cut_row = ev.agg(
        (F.max(day) - (CHURN_LABEL_DAYS - 1)).alias("cut")
    )
    marked = ev.select(
        "user_id",
        day.alias("d"),
        "event_type",
        "value",
    ).crossJoin(F.broadcast(cut_row))
    obs = F.col("d") < F.col("cut")
    lab = ~obs
    per = marked.groupBy("user_id").agg(
        F.sum(F.when(obs, 1).otherwise(0)).alias("n_events"),
        F.countDistinct(F.when(obs, F.col("d"))).alias("active_days"),
        F.sum(
            F.when(obs & (F.col("event_type") == "purchase"), 1)
            .otherwise(0)
        ).alias("n_purchases"),
        F.sum(
            F.when(
                obs & F.col("value").isNotNull(),
                (dec("value") * 10000).cast("long"),
            ).otherwise(0)
        ).alias("value_s"),
        F.max(F.when(obs, F.col("d"))).alias("last_obs_day"),
        F.max("cut").alias("cut"),
        F.sum(F.when(lab, 1).otherwise(0)).alias("label_events"),
    ).filter(F.col("n_events") > 0)
    return per.select(
        "user_id",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("active_days").cast("long").alias("active_days"),
        F.col("n_purchases").cast("long").alias("n_purchases"),
        (F.col("value_s").cast("double") / 10000.0).alias("total_value"),
        (F.col("cut") - F.col("last_obs_day")).cast("long")
        .alias("recency_days"),
        (F.col("label_events") == 0).cast("int").alias("churned"),
    )


ML_CHURN_LABELS_SQL = f"""
WITH cut_row AS (
    SELECT MAX(date_diff('day', DATE '1970-01-01',
                         CAST(CAST(ts AS TIMESTAMP) AS DATE)))
             - ({CHURN_LABEL_DAYS} - 1) AS cut
    FROM events
), marked AS (
    SELECT user_id,
           date_diff('day', DATE '1970-01-01',
                     CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS d,
           event_type, value, cut
    FROM events CROSS JOIN cut_row
), per AS (
    SELECT user_id,
           SUM(CASE WHEN d < cut THEN 1 ELSE 0 END) AS n_events,
           COUNT(DISTINCT CASE WHEN d < cut THEN d END) AS active_days,
           SUM(CASE WHEN d < cut AND event_type = 'purchase'
                    THEN 1 ELSE 0 END) AS n_purchases,
           SUM(CASE WHEN d < cut AND value IS NOT NULL THEN
                 CAST(CAST(CASE WHEN isfinite(value) THEN value END AS DECIMAL(18,4)) * 10000 AS BIGINT)
               ELSE 0 END) AS value_s,
           MAX(CASE WHEN d < cut THEN d END) AS last_obs_day,
           MAX(cut) AS cut,
           SUM(CASE WHEN d >= cut THEN 1 ELSE 0 END) AS label_events
    FROM marked GROUP BY user_id
)
SELECT user_id,
       CAST(n_events AS BIGINT) AS n_events,
       CAST(active_days AS BIGINT) AS active_days,
       CAST(n_purchases AS BIGINT) AS n_purchases,
       CAST(value_s AS DOUBLE) / 10000.0 AS total_value,
       CAST(cut - last_obs_day AS BIGINT) AS recency_days,
       CAST(CASE WHEN label_events = 0 THEN 1 ELSE 0 END AS INT)
         AS churned
FROM per WHERE n_events > 0
"""


# -------------------------------------------------------------------- ts_gap_fill


def ts_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-spine fill of the daily event volume per type: every
    (type, day) cell of the corpus span gets a row — observed days
    carry their counts, silent days become EXPLICIT zeros with a gap
    flag. "No row" and "zero traffic" are different facts, and every
    average/trend downstream is wrong until they're distinguished;
    the spine join is how a warehouse makes the distinction durable
    (composing the generated-dimension idea behind dim_calendar).

    Determinism: the spine is sequence(min_day, max_day) — exact
    integers; counts are integers; no floats at all.

    Scale: one corpus collapse to observed (type, day) counts; the
    spine generates from the 1-row span aggregate (types × days rows —
    calendar-bounded, never corpus-sized); one left join spine ←
    observed on the tiny relations."""
    ev = t(spark, sf_dir, "events")
    day = F.date_diff(
        F.to_date("ts"), F.lit("1970-01-01").cast("date")
    ).cast("long")
    observed = ev.groupBy(
        "event_type", day.alias("d")
    ).agg(F.count(F.lit(1)).alias("volume")).localCheckpoint(
        eager=False
    )
    span = observed.agg(
        F.min("d").alias("lo"), F.max("d").alias("hi")
    )
    types = observed.select("event_type").distinct()
    spine = types.crossJoin(F.broadcast(span)).select(
        "event_type",
        F.explode(
            F.sequence(F.col("lo"), F.col("hi"))
        ).alias("d"),
    )
    return (
        spine.join(observed, ["event_type", "d"], "left")
        .select(
            "event_type",
            F.col("d").alias("epoch_day"),
            F.coalesce(F.col("volume"), F.lit(0))
            .cast("long")
            .alias("volume"),
            F.col("volume").isNull().cast("int").alias("is_gap"),
        )
    )


TS_GAP_FILL_SQL = """
WITH observed AS MATERIALIZED (
    SELECT event_type,
           date_diff('day', DATE '1970-01-01',
                     CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS d,
           COUNT(*) AS volume
    FROM events GROUP BY 1, 2
), span AS (
    SELECT MIN(d) AS lo, MAX(d) AS hi FROM observed
), spine AS (
    SELECT t.event_type, u.d
    FROM (SELECT DISTINCT event_type FROM observed) t
    CROSS JOIN span
    CROSS JOIN LATERAL (SELECT unnest(range(span.lo, span.hi + 1))
                          AS d) u
)
SELECT s.event_type,
       s.d AS epoch_day,
       CAST(COALESCE(o.volume, 0) AS BIGINT) AS volume,
       CAST(CASE WHEN o.volume IS NULL THEN 1 ELSE 0 END AS INT)
         AS is_gap
FROM spine s
LEFT JOIN observed o
  ON s.event_type = o.event_type AND s.d = o.d
"""


# ------------------------------------------------------------------ agg_abc_class

ABC_A_CUT = 0.80
ABC_B_CUT = 0.95


def agg_abc_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC inventory classification of parts by lineitem revenue:
    rank parts by revenue descending, class A = parts covering the
    first 80% of cumulative revenue, B = to 95%, C = the tail — the
    planner's bucketing of agg_lorenz's curve (A gets daily counts, C
    gets annual). One row per class with part counts and revenue
    share.

    Determinism: revenues are exact decimal sums with a (revenue,
    partkey) total order; class boundaries compare exact scaled-BIGINT
    cumulative revenue against scaled-integer thresholds
    (cum·100 ≤ 80·total — no 0.8 float anywhere).

    Scale: one map-side-combinable per-part collapse, one global
    ordered window (range-partitioned sort at cluster scale), then a
    3-row aggregate."""
    li = t(spark, sf_dir, "lineitem").filter(
        F.col("l_extendedprice").isNotNull()
    )
    per_part = li.groupBy("l_partkey").agg(
        F.sum(dec("l_extendedprice")).alias("rev")
    )
    worder = (
        Window.orderBy(F.col("rev").desc(), F.col("l_partkey").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum_s = (F.sum("rev").over(worder) * 10000).cast("long")
    tot_s = (F.sum("rev").over(wall) * 10000).cast("long")
    cls = (
        F.when(
            cum_s * 100 <= tot_s * F.lit(int(ABC_A_CUT * 100)), "A"
        )
        .when(cum_s * 100 <= tot_s * F.lit(int(ABC_B_CUT * 100)), "B")
        .otherwise("C")
    )
    staged = per_part.select(
        cls.alias("abc_class"),
        (F.col("rev") * 10000).cast("long").alias("rev_s"),
        "l_partkey",
    )
    per = staged.groupBy("abc_class").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.sum("rev_s").alias("rev_s"),
    )
    wall2 = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return per.select(
        "abc_class",
        "n_parts",
        (F.col("rev_s").cast("double") / 10000.0).alias("revenue"),
        fquant(
            F.col("rev_s").cast("double")
            / F.sum("rev_s").over(wall2).cast("double"),
            6,
        ).alias("revenue_share"),
    )


AGG_ABC_CLASS_SQL = f"""
WITH per_part AS (
    SELECT l_partkey,
           SUM(CAST(CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END AS DECIMAL(18,4))) AS rev
    FROM lineitem WHERE l_extendedprice IS NOT NULL
    GROUP BY 1
), ranked AS (
    SELECT l_partkey, rev,
           CAST(SUM(rev) OVER (ORDER BY rev DESC, l_partkey ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                * 10000 AS BIGINT) AS cum_s,
           CAST(SUM(rev) OVER () * 10000 AS BIGINT) AS tot_s
    FROM per_part
), staged AS (
    SELECT CASE
             WHEN cum_s * 100 <= tot_s * {int(ABC_A_CUT * 100)}
               THEN 'A'
             WHEN cum_s * 100 <= tot_s * {int(ABC_B_CUT * 100)}
               THEN 'B'
             ELSE 'C' END AS abc_class,
           CAST(rev * 10000 AS BIGINT) AS rev_s
    FROM ranked
), per AS (
    SELECT abc_class, COUNT(*) AS n_parts, SUM(rev_s) AS rev_s
    FROM staged GROUP BY 1
)
SELECT abc_class,
       CAST(n_parts AS BIGINT) AS n_parts,
       CAST(rev_s AS DOUBLE) / 10000.0 AS revenue,
       floor(CAST(rev_s AS DOUBLE) / CAST(SUM(rev_s) OVER () AS DOUBLE)
             * 1000000.0) / 1000000.0 AS revenue_share
FROM per
"""


# ------------------------------------------------------------------ dq_saturation


def dq_saturation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clipping audit per event type: how much probability mass sits
    EXACTLY at the type's observed minimum and maximum? A distribution
    with a spike at its own extreme is usually a measurement ceiling
    (sensor clip, API cap, storage truncation), not real data — and it
    silently corrupts every mean and variance downstream. Complements
    dq_iqr_outliers: that key finds values too FAR OUT, this finds
    values suspiciously piled AT THE EDGE.

    Determinism: values live on the exact decimal grid, so min/max
    equality is integer equality; shares are single divisions.

    Scale: ONE event_type exchange — the min/max extraction and the
    pile-up counts share the same window partitioning (the
    dq_iqr_outliers shape)."""
    ev = t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    v = (dec("value") * 10000).cast("long")
    wall = Window.partitionBy("event_type").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    staged = ev.select(
        "event_type",
        v.alias("v"),
        F.min(v).over(wall).alias("vmin"),
        F.max(v).over(wall).alias("vmax"),
    )
    per = staged.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.max("vmin").alias("vmin"),
        F.max("vmax").alias("vmax"),
        F.sum(
            F.when(F.col("v") == F.col("vmin"), 1).otherwise(0)
        ).cast("long").alias("n_at_min"),
        F.sum(
            F.when(F.col("v") == F.col("vmax"), 1).otherwise(0)
        ).cast("long").alias("n_at_max"),
    )
    return per.select(
        "event_type",
        "n",
        (F.col("vmin").cast("double") / 10000.0).alias("v_min"),
        (F.col("vmax").cast("double") / 10000.0).alias("v_max"),
        "n_at_min",
        "n_at_max",
        fquant(
            F.col("n_at_max").cast("double") / F.col("n").cast("double"),
            6,
        ).alias("max_pileup_share"),
    )


DQ_SATURATION_SQL = """
WITH staged AS (
    SELECT event_type,
           CAST(CAST(CASE WHEN isfinite(value) THEN value END AS DECIMAL(18,4)) * 10000 AS BIGINT) AS v,
           MIN(CAST(CAST(CASE WHEN isfinite(value) THEN value END AS DECIMAL(18,4)) * 10000 AS BIGINT))
             OVER (PARTITION BY event_type) AS vmin,
           MAX(CAST(CAST(CASE WHEN isfinite(value) THEN value END AS DECIMAL(18,4)) * 10000 AS BIGINT))
             OVER (PARTITION BY event_type) AS vmax
    FROM events WHERE value IS NOT NULL
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MAX(vmin) AS DOUBLE) / 10000.0 AS v_min,
       CAST(MAX(vmax) AS DOUBLE) / 10000.0 AS v_max,
       CAST(SUM(CASE WHEN v = vmin THEN 1 ELSE 0 END) AS BIGINT)
         AS n_at_min,
       CAST(SUM(CASE WHEN v = vmax THEN 1 ELSE 0 END) AS BIGINT)
         AS n_at_max,
       floor(CAST(SUM(CASE WHEN v = vmax THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) * 1000000.0) / 1000000.0
         AS max_pileup_share
FROM staged GROUP BY event_type
"""


QUERIES: dict[str, Query] = {
    "ml_churn_labels": Query(
        ml_churn_labels, ML_CHURN_LABELS_SQL,
        "leakage-free churn training set (disjoint feature/label windows)",
    ),
    "ts_gap_fill": Query(
        ts_gap_fill, TS_GAP_FILL_SQL,
        "calendar-spine fill: silent days become explicit zero rows",
        build="compute",
    ),
    "agg_abc_class": Query(
        agg_abc_class, AGG_ABC_CLASS_SQL,
        "ABC revenue classification of parts (integer-threshold bands)",
    ),
    "dq_saturation": Query(
        dq_saturation, DQ_SATURATION_SQL,
        "min/max pile-up (clipping) audit per event type",
    ),
}
