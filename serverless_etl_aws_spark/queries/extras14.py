"""Round-6 fourth wave: weighted deterministic sampling, exact grouped
mode, robust rolling median, and a day-of-week seasonal profile.

``sample_weighted`` extends the ``sample_hash`` discipline (reproducible
content-hash sampling, extras.py:295) from a fixed rate to a PER-ROW
acceptance probability — the length/quality-proportional subsampling a
training-data pipeline uses to hit a token budget without a shuffle or a
random-state dependency. ``agg_mode`` is the exact most-frequent-value
aggregate (engines expose it as ``mode()``; the engine states it as
count + deterministic top-1 so ties are pinned, not engine-dependent).
``win_rolling_median`` is the robust companion to ``ts_rolling_zscore``
(mean/stddev are dragged by the outliers they normalize; a windowed
median is not). ``ts_seasonal`` is the weekly-seasonality baseline
(day-of-week load profile) that gap/anomaly monitors compare against.

The reference delegates all analytics of this shape to its warehouse
layer (README.md:108-118 declares the gold/analyst tier but ships no
implementation); these keys are engine-native equivalents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import Query
from ._util import dec, fquant, t

# ------------------------------------------------------- sample_weighted

#: Acceptance-probability resolution: u ~ Uniform[0, 2^32) is decoded
#: from the first 8 md5 hex nibbles; a row is kept iff
#: u < floor(min(n_chars, CAP) * 2^32 / CAP) — ALL-INTEGER arithmetic on
#: both engines, so the decision is bit-reproducible across engines,
#: runs, retries, and repartitions (no ``rand()`` anywhere).
SAMPLE_W_CAP = 4000
SAMPLE_W_SCALE = 4294967296  # 2^32


def sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic WEIGHTED Bernoulli sampling: keep each document
    with probability proportional to its length (capped at
    ``SAMPLE_W_CAP`` chars — longer docs carry more tokens toward a
    training budget, the standard length-proportional corpus
    subsample). The coin is the document's own content hash, so the
    sample is a pure row-local filter: reproducible everywhere, no
    shuffle, no driver state, and at 100 TB it composes with any scan
    (predicate evaluates in the scan stage; nothing else moves).

    Null-text docs hash to a null coin and are dropped (both engines
    null-propagate through md5/substr identically)."""
    docs = t(spark, sf_dir, "documents")
    u = F.conv(
        F.substring(F.md5(F.concat(F.col("doc_id").cast("string"),
                                   F.lit(":"), F.col("text"))), 1, 8),
        16, 10,
    ).cast("long")
    thr = F.expr(
        f"least(n_chars, {SAMPLE_W_CAP}) * {SAMPLE_W_SCALE}L"
        f" div {SAMPLE_W_CAP}"
    )
    return (
        docs.withColumn("u32", u)
        .withColumn("keep_thr", thr)
        .filter(F.col("u32") < F.col("keep_thr"))
        .select("doc_id", "source", "n_chars", "u32", "keep_thr")
    )


SAMPLE_WEIGHTED_SQL = f"""
SELECT doc_id, source, n_chars,
       ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || text), 1, 8))
           ::BIGINT AS u32,
       least(n_chars, {SAMPLE_W_CAP}) * {SAMPLE_W_SCALE}
           // {SAMPLE_W_CAP} AS keep_thr
FROM documents
WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || text), 1, 8))
          ::BIGINT
      < least(n_chars, {SAMPLE_W_CAP}) * {SAMPLE_W_SCALE} // {SAMPLE_W_CAP}
"""


# -------------------------------------------------------------- agg_mode

def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact mode (most frequent event type) per day, with its count and
    floor-quantized share of the day's traffic. Engines' built-in
    ``mode()`` leaves ties implementation-defined; the engine states the
    aggregate as count + row_number with an explicit lexicographic
    tie-break, so the answer is a contract, not an accident.

    Scale: one map-side-combinable (day, type) count, then a top-1
    window over the tiny count relation (rows = days × types, not
    events) — the heavy shuffle is the count's, same as any groupBy."""
    ev = t(spark, sf_dir, "events").select(
        F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"),
        "event_type",
    )
    cnt = ev.groupBy("day", "event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    day_tot = Window.partitionBy("day")
    top = Window.partitionBy("day").orderBy(
        F.desc("c"), F.asc("event_type")
    )
    return (
        cnt.withColumn("day_total", F.sum("c").over(day_tot))
        .withColumn("rn", F.row_number().over(top))
        .filter(F.col("rn") == 1)
        .select(
            "day",
            F.col("event_type").alias("mode_type"),
            F.col("c").cast("long").alias("mode_count"),
            F.col("day_total").cast("long").alias("day_total"),
            fquant(
                F.col("c").cast("double") / F.col("day_total").cast("double"),
                6,
            ).alias("mode_share"),
        )
    )


AGG_MODE_SQL = """
WITH cnt AS (
    SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day, event_type,
           COUNT(*) AS c
    FROM events GROUP BY 1, 2
), ranked AS (
    SELECT day, event_type, c,
           SUM(c) OVER (PARTITION BY day) AS day_total,
           ROW_NUMBER() OVER (PARTITION BY day
                              ORDER BY c DESC, event_type) AS rn
    FROM cnt
)
SELECT day, event_type AS mode_type,
       CAST(c AS BIGINT) AS mode_count,
       CAST(day_total AS BIGINT) AS day_total,
       floor(CAST(c AS DOUBLE) / CAST(day_total AS DOUBLE) * 1000000.0)
           / 1000000.0 AS mode_share
FROM ranked WHERE rn = 1
"""


# ----------------------------------------------------- win_rolling_median

#: Trailing frame width (rows). The median is the LOWER median — the
#: element at rank ceil(n/2) of the sorted frame — a PICKED input value,
#: never an interpolation: engines interpolate even-count medians with
#: different IEEE expressions (a+(b-a)/2 vs (a+b)/2), which drifts;
#: picking cannot.
ROLLMED_FRAME = 25


def win_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling MEDIAN of ``value`` per event type over the trailing
    ``ROLLMED_FRAME`` events — the robust twin of ``ts_rolling_zscore``:
    a mean/stddev baseline chases the spikes it is supposed to flag,
    the windowed median does not. No built-in Spark window median
    exists; the engine collects the bounded frame, sorts it, and picks
    the lower-median element — O(frame log frame) per row with frame a
    compile-time constant, so the cost is linear in rows and the only
    shuffle is the window partition itself.

    (ts, event_id) ordering pins tie rows; null values are filtered up
    front so frame contents are identical across engines."""
    # ts IS NOT NULL: a row with no timestamp has no position on the
    # series axis (null-ts drift axis, round 9; Spark orders NULLS
    # FIRST, DuckDB NULLS LAST — excluded rather than pinned, since a
    # timeless row inside a trailing frame is meaningless)
    ev = t(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("ts").isNotNull()
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(-(ROLLMED_FRAME - 1), 0)
    )
    frame = F.sort_array(F.collect_list("value").over(w))
    return ev.select(
        "event_id",
        "event_type",
        "value",
        F.element_at(
            frame, ((F.size(frame) + 1) / 2).cast("int")
        ).alias("rolling_med"),
    )


WIN_ROLLING_MEDIAN_SQL = f"""
SELECT event_id, event_type, value,
       l[(len(l) + 1) // 2] AS rolling_med
FROM (
    SELECT event_id, event_type, value,
           list_sort(list(value) OVER (
               PARTITION BY event_type ORDER BY ts, event_id
               ROWS BETWEEN {ROLLMED_FRAME - 1} PRECEDING AND CURRENT ROW
           )) AS l
    FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
)
"""


# ------------------------------------------------------------ ts_seasonal

def ts_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly seasonal profile: per (event_type, ISO day-of-week) event
    count and mean value, plus the seasonal index — that slot's mean
    relative to the event type's overall mean (> 1 = a hot weekday).
    The baseline table monitors compare live traffic against
    (``ts_anomaly_mad`` finds point outliers; this finds the CYCLE they
    must be judged against).

    Float discipline: means come from exact decimal sums cast to double
    (one bit-identical division per engine), the index is one further
    IEEE division of those identical doubles, floor-quantized.

    Scale: the fact table is scanned and shuffled ONCE — the overall
    (per-type) moments are a re-aggregate of the 7-row-per-type slot
    moments, still in exact decimal so the reduction order cannot
    matter, and Catalyst reuses the slot aggregate's exchange for both
    branches (pinned in tests/test_plans.py). The rejoin is a broadcast
    of a #event-types-sized frame."""
    ev = t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    slot = ev.select(
        "event_type",
        F.expr("weekday(ts) + 1").alias("isodow"),
        "value",
    )
    prof = (
        slot.groupBy("event_type", "isodow")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec("value")).alias("svd"),
        )
        # materialize the types×7-row moment table once: it feeds BOTH
        # the overall re-aggregate and the rejoin — without this the
        # fact scan+shuffle executes twice (AQE's runtime exchange reuse
        # also dedupes it, but the property should be structural)
        .localCheckpoint(eager=False)
    )
    overall = prof.groupBy("event_type").agg(
        F.sum("n_events").cast("double").alias("n_all"),
        F.sum("svd").cast("double").alias("sv_all"),
    )
    mean_slot = (
        F.col("svd").cast("double") / F.col("n_events").cast("double")
    )
    mean_all = F.col("sv_all") / F.col("n_all")
    return (
        prof.join(F.broadcast(overall), "event_type")
        .select(
            "event_type",
            "isodow",
            F.col("n_events").cast("long").alias("n_events"),
            fquant(mean_slot, 6).alias("mean_value"),
            fquant(mean_slot / mean_all, 6).alias("seasonal_index"),
        )
    )


TS_SEASONAL_SQL = """
WITH slot AS (
    SELECT event_type, isodow(ts) AS isodow, value
    FROM events WHERE value IS NOT NULL
), prof AS (
    SELECT event_type, isodow,
           COUNT(*) AS n_events,
           SUM(CAST(CASE WHEN isfinite(value) THEN value END AS DECIMAL(18,4))) AS svd
    FROM slot GROUP BY event_type, isodow
), overall AS (
    SELECT event_type,
           CAST(SUM(n_events) AS DOUBLE) AS n_all,
           CAST(SUM(svd) AS DOUBLE) AS sv_all
    FROM prof GROUP BY event_type
)
SELECT p.event_type, p.isodow,
       CAST(p.n_events AS BIGINT) AS n_events,
       floor(CAST(p.svd AS DOUBLE) / CAST(p.n_events AS DOUBLE)
             * 1000000.0) / 1000000.0 AS mean_value,
       floor((CAST(p.svd AS DOUBLE) / CAST(p.n_events AS DOUBLE))
             / (o.sv_all / o.n_all) * 1000000.0) / 1000000.0
           AS seasonal_index
FROM prof p JOIN overall o USING (event_type)
"""


QUERIES: dict[str, Query] = {
    "sample_weighted": Query(
        sample_weighted, SAMPLE_WEIGHTED_SQL,
        "length-weighted deterministic Bernoulli sample (integer coin)",
    ),
    "agg_mode": Query(
        agg_mode, AGG_MODE_SQL,
        "exact per-day mode event type with pinned tie-break",
    ),
    "win_rolling_median": Query(
        win_rolling_median, WIN_ROLLING_MEDIAN_SQL,
        "robust trailing-25 rolling median per event type",
    ),
    "ts_seasonal": Query(
        ts_seasonal, TS_SEASONAL_SQL,
        "day-of-week seasonal profile + index from exact decimal moments",
        build="compute",
    ),
}
