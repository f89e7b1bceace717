"""Round-6 sixth wave: CUSUM drift detection, lag autocorrelation,
Naive-Bayes training counts, and collocation (phrase) mining.

``ts_cusum`` completes the monitoring family (``ts_anomaly_mad`` finds
point outliers, ``ts_seasonal`` the cycle, EWMA the smoother): CUSUM is
the standard sequential change detector, and its textbook recursion
``S_t = max(0, S_{t-1} + y_t)`` looks un-parallelizable — the engine
eliminates it with the drawdown identity (see the function docstring),
turning a sequential fold into two window passes. ``ts_autocorr`` is
the serial-dependence diagnostic (is yesterday's value informative?)
computed with the same exact-decimal-moment discipline as ``agg_corr``.
``ml_naive_bayes`` trains the classic counts-based text classifier —
pure integer counting, the one classical ML trainer that is EXACTLY
SQL-expressible end-to-end. ``llm_collocations`` is word2vec-style
phrase detection (Mikolov et al. 2013 §4): score adjacent-token pairs
by discounted lift and keep positively-associated phrases — the
standard pre-tokenization pass that turns "new_york" into one token.

The reference delegates all analytics of this shape to its
warehouse/gold tier (reference README.md:108-118 declares it but ships
no implementation); these keys are engine-native equivalents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import Query
from ._util import DEC, dec, fquant, t

# --------------------------------------------------------------- ts_cusum

#: CUSUM allowance (reference + slack): per-row increment is
#: ``value - CUSUM_K``. With per-type means ~50, K=75 keeps the
#: statistic near 0 in normal traffic and accumulates only on sustained
#: high-value runs.
CUSUM_K = "75.0000"
#: Decision threshold: alert when the accumulated exceedance tops H.
CUSUM_H = "300.0000"


def ts_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM drift detector per event type. The textbook form
    is the recursion ``S_t = max(0, S_{t-1} + (x_t - K))`` — sequential
    state, the shape engines can't parallelize. The engine applies the
    drawdown identity instead::

        S_t = P_t - min(0, min_{j<=t} P_j),   P_t = prefix_sum(x - K)

    (induction: both sides are 0 at t=0, and the RHS increments by
    ``x_t - K`` clamped at the running-min floor exactly when the LHS
    max clamps at 0) — so the whole detector is TWO stacked window
    expressions over ONE shuffle: a running sum and a running min of
    that sum. All arithmetic stays in exact decimal (prefix sums of
    decimals are order-independent and both engines subtract/compare
    them exactly), so the statistic and the alert flag are
    bit-reproducible — there is no float in the detector at all.

    Scale: one hash shuffle on event_type, O(1) state per row; at
    100 TB the partition key would be (series, coarse-time-bucket) with
    a carried-in offset, same plan shape. Null values are filtered up
    front (a null increment would poison the prefix sum)."""
    ev = t(spark, sf_dir, "events").filter(
        # ts IS NOT NULL: no timestamp = no series position (round 9)
        F.col("value").isNotNull()
        & ~F.isnan("value")
        & (F.abs("value") != float("inf"))
        & F.col("ts").isNotNull()
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # two stacked Window nodes (window exprs can't nest in one select);
    # same partitioning+ordering, so Catalyst plans ONE shuffle+sort
    staged = ev.select(
        "event_id",
        "event_type",
        "ts",
        F.sum(dec("value") - F.lit(CUSUM_K).cast(DEC)).over(w).alias("p"),
    )
    floor_p = F.least(F.lit("0").cast(DEC), F.min("p").over(w))
    cusum = F.col("p") - floor_p
    # decimal -> double via an exact scaled BIGINT: a direct decimal cast
    # diverges by 1 ulp between engines (Spark converts the BigDecimal in
    # one correctly-rounded step, DuckDB scales by 1e-4 in float), caught
    # by the null-drift sweep; integer/10000.0 is ONE identical IEEE
    # division on both sides
    cusum_scaled = (cusum * F.lit(10000)).cast("long")
    return staged.select(
        "event_id",
        "event_type",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        (cusum_scaled.cast("double") / F.lit(10000.0)).alias("cusum"),
        (cusum > F.lit(CUSUM_H).cast(DEC)).cast("int").alias("alert"),
    )


TS_CUSUM_SQL = f"""
WITH w AS (
    SELECT event_id, event_type, CAST(ts AS TIMESTAMP) AS tsx,
           SUM(CAST(CASE WHEN isfinite(value) THEN value END AS DECIMAL(18,4)) - CAST({CUSUM_K} AS DECIMAL(18,4)))
               OVER ord AS p
    FROM events WHERE value IS NOT NULL AND isfinite(value)
      AND ts IS NOT NULL
    WINDOW ord AS (PARTITION BY event_type
                   ORDER BY CAST(ts AS TIMESTAMP), event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), c AS (
    SELECT event_id, event_type, tsx,
           p - least(CAST(0 AS DECIMAL(18,4)), MIN(p) OVER ord2) AS cusum_d
    FROM w
    WINDOW ord2 AS (PARTITION BY event_type
                    ORDER BY tsx, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_id, event_type,
       strftime(tsx, '%Y-%m-%d %H:%M:%S') AS ts_s,
       CAST(CAST(cusum_d * 10000 AS BIGINT) AS DOUBLE) / 10000.0 AS cusum,
       CAST(cusum_d > CAST({CUSUM_H} AS DECIMAL(18,4)) AS INT) AS alert
FROM c
"""


# ------------------------------------------------------------ ts_autocorr

def ts_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of ``value`` per event type — the serial-
    dependence diagnostic that decides whether a forecasting baseline
    (EWMA, seasonal index) has any signal to work with. Pairs
    ``(x_t, x_{t-1})`` come from a lag window over the null-filtered,
    (ts, event_id)-ordered series (lag over the FILTERED sequence is
    the pinned semantics: the previous OBSERVED value, matching how
    every engine's pandas/R acf treats missing rows); the correlation
    itself is the exact-decimal-moment formulation of ``agg_corr`` —
    built-in ``corr`` accumulates doubles in engine-specific order,
    the moment sums are decimal-exact and order-free.

    Scale: the groupBy reuses the lag window's hashpartitioning (same
    key, pinned in tests/test_plans.py: ONE Exchange in the whole
    plan), and the moment sums are map-side-combinable partials."""
    ev = t(spark, sf_dir, "events").filter(
        # ts IS NOT NULL: no timestamp = no series position (round 9)
        F.col("value").isNotNull()
        & ~F.isnan("value")
        & (F.abs("value") != float("inf"))
        & F.col("ts").isNotNull()
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    pairs = (
        ev.select("event_type", "value", F.lag("value").over(w).alias("prev"))
        .filter(F.col("prev").isNotNull())
        .select("event_type", dec("value").alias("x"), dec("prev").alias("y"))
    )
    m = pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    # zero-variance guard (constant series): autocorrelation is
    # undefined — NULL, never a divide (Spark 4 ANSI throws on /0).
    ac = F.when((vx > 0.0) & (vy > 0.0), num / (F.sqrt(vx) * F.sqrt(vy)))
    return m.select(
        "event_type",
        F.col("n").cast("long").alias("n_pairs"),
        fquant(ac, 6).alias("autocorr_lag1"),
    )


# DECIMAL(19,4) on the DuckDB side for the same reason as agg_corr:
# width <=18 decimal multiplies take DuckDB's int64 fast path, which can
# overflow at runtime on x*y sums; 19 forces HUGEINT. Values identical.
TS_AUTOCORR_SQL = """
WITH pairs AS (
    SELECT event_type,
           CAST(CASE WHEN isfinite(value) THEN value END AS DECIMAL(19,4)) AS x,
           CAST(lag(value) OVER (PARTITION BY event_type
                                 ORDER BY CAST(ts AS TIMESTAMP), event_id)
                AS DECIMAL(19,4)) AS y
    FROM events WHERE value IS NOT NULL AND isfinite(value)
      AND ts IS NOT NULL
), m AS (
    SELECT event_type,
           CAST(COUNT(*) AS DOUBLE) AS n,
           CAST(SUM(x) AS DOUBLE) AS sx,
           CAST(SUM(y) AS DOUBLE) AS sy,
           CAST(SUM(x * y) AS DOUBLE) AS sxy,
           CAST(SUM(x * x) AS DOUBLE) AS sxx,
           CAST(SUM(y * y) AS DOUBLE) AS syy
    FROM pairs WHERE y IS NOT NULL
    GROUP BY event_type
)
SELECT event_type,
       CAST(n AS BIGINT) AS n_pairs,
       CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
            THEN floor((n * sxy - sx * sy)
                       / (sqrt(n * sxx - sx * sx)
                          * sqrt(n * syy - sy * sy))
                       * 1000000.0) / 1000000.0 END AS autocorr_lag1
FROM m
"""


# --------------------------------------------------------- ml_naive_bayes

#: Vocabulary support floor: terms with global count below this are
#: dropped from the model (rare-term noise; also bounds model rows).
NB_MIN_TERM_COUNT = 5


def ml_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive-Bayes trainer for language classification over
    ``documents`` — the one classical ML trainer that is EXACTLY
    SQL-expressible: the entire model is integer counts. Emits, per
    (lang, term) with global term count >= ``NB_MIN_TERM_COUNT``, the
    Laplace-smoothed class-conditional probability
    ``(c_tc + 1) / (n_c + V)`` plus the class prior — both pure
    integer-ratio doubles (correctly-rounded single divisions of exact
    integers, bit-identical on every engine; no ``log`` anywhere
    because libm ``ln`` differs in the last ulp across engines — a
    scorer can sum logs of these probs engine-locally).

    Scale: ONE corpus tokenization pass (checkpointed token relation
    feeds everything downstream), then every aggregate runs over the
    (lang, term) COUNT relation — vocab size V, class token totals n_c,
    and class priors are re-aggregates of counts, never of the corpus —
    and the rejoins broadcast #classes-sized frames. The count groupBy
    is map-side combinable; hot terms are exactly what AQE skew-split
    handles."""
    # ONE corpus pass: the checkpointed doc-level (lang, toks) relation
    # feeds both the token counts and the class priors — without it the
    # text column is read (and split) twice
    base = (
        t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull() & F.col("lang").isNotNull())
        .select(
            "lang",
            "doc_id",
            F.filter(F.split(F.col("text"), " "), lambda x: x != "").alias(
                "toks"
            ),
        )
        .localCheckpoint(eager=False)
    )
    toks = base.select("lang", F.explode("toks").alias("term"))
    # (lang, term) counts — the model's sufficient statistics
    ct = toks.groupBy("lang", "term").agg(
        F.count(F.lit(1)).alias("c_tc")
    ).localCheckpoint(eager=False)
    # vocabulary (with support floor) and class totals: re-aggregates of
    # the count relation, not the corpus
    gt = ct.groupBy("term").agg(F.sum("c_tc").alias("c_t")).filter(
        F.col("c_t") >= NB_MIN_TERM_COUNT
    )
    nc = ct.groupBy("lang").agg(F.sum("c_tc").alias("n_c"))
    vocab_v = gt.agg(F.count(F.lit(1)).alias("v"))
    # class priors from doc counts (over the checkpointed base, not a
    # second corpus scan)
    prior = base.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    n_all = prior.agg(F.sum("n_docs").alias("n_all"))
    return (
        ct.join(gt.select("term"), "term")
        .join(F.broadcast(nc), "lang")
        .crossJoin(F.broadcast(vocab_v))
        .join(F.broadcast(prior), "lang")
        .crossJoin(F.broadcast(n_all))
        .select(
            "lang",
            "term",
            F.col("c_tc").cast("long").alias("c_tc"),
            fquant(
                (F.col("c_tc") + F.lit(1)).cast("double")
                / (F.col("n_c") + F.col("v")).cast("double"),
                9,
            ).alias("p_term_given_lang"),
            fquant(
                F.col("n_docs").cast("double")
                / F.col("n_all").cast("double"),
                9,
            ).alias("p_lang"),
        )
    )


ML_NAIVE_BAYES_SQL = f"""
WITH base AS MATERIALIZED (
    SELECT lang, doc_id,
           list_filter(string_split(text, ' '), x -> x <> '') AS toks
    FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL
), toks AS (
    SELECT lang, doc_id, unnest(toks) AS term FROM base
), ct AS MATERIALIZED (
    SELECT lang, term, COUNT(*) AS c_tc FROM toks GROUP BY lang, term
), gt AS MATERIALIZED (
    SELECT term FROM ct GROUP BY term
    HAVING SUM(c_tc) >= {NB_MIN_TERM_COUNT}
), nc AS (
    SELECT lang, SUM(c_tc) AS n_c FROM ct GROUP BY lang
), vocab AS (SELECT COUNT(*) AS v FROM gt),
prior AS (
    SELECT lang, COUNT(*) AS n_docs FROM base GROUP BY lang
), na AS (SELECT SUM(n_docs) AS n_all FROM prior)
SELECT ct.lang, ct.term,
       CAST(ct.c_tc AS BIGINT) AS c_tc,
       floor(CAST(ct.c_tc + 1 AS DOUBLE) / CAST(nc.n_c + vocab.v AS DOUBLE)
             * 1000000000.0) / 1000000000.0 AS p_term_given_lang,
       floor(CAST(prior.n_docs AS DOUBLE) / CAST(na.n_all AS DOUBLE)
             * 1000000000.0) / 1000000000.0 AS p_lang
FROM ct
JOIN gt USING (term)
JOIN nc USING (lang)
CROSS JOIN vocab
JOIN prior USING (lang)
CROSS JOIN na
"""


# ------------------------------------------------------- llm_collocations

#: word2vec phrase-score discount: pairs seen fewer than ~delta times
#: score negative and drop out (kills rare-pair noise).
COLLOC_DELTA = 5
#: Support floor on the pair count itself.
COLLOC_MIN_PAIR = 5
#: Keep positively-associated pairs only (score > 1 ~ "co-occur more
#: than independence predicts, even after the discount").
COLLOC_MIN_SCORE = 1.0


def llm_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """word2vec-style collocation (phrase) mining (Mikolov et al. 2013
    §4): score each adjacent token pair by discounted lift
    ``(c_ab - delta) * N / (c_a * c_b)`` and keep supported,
    positively-associated pairs — the standard pre-tokenization pass
    that promotes "machine learning" to one vocabulary unit. The score
    is PMI's ratio without the log (libm ``ln`` drifts in the last ulp
    across engines; the ratio of exact integer counts, multiplied then
    divided as doubles, is correctly-rounded and bit-identical — same
    transcendental-free stance as ``llm_bigram_lm``).

    Scale: ONE tokenization pass materializes the per-doc token arrays;
    unigram and bigram counts are two map-side-combinable groupBys over
    explodes of that relation; the scoring joins shuffle pair counts
    against vocab-sized unigram counts (gram-hash shuffle, AQE
    skew-splittable) and the totals ride in as 1-row broadcasts."""
    docs = t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    arrs = docs.select(
        "doc_id",
        F.filter(F.split(F.col("text"), " "), lambda x: x != "").alias(
            "toks"
        ),
    ).localCheckpoint(eager=False)
    uni = (
        arrs.select(F.explode("toks").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c_term"))
    )
    n_tok = uni.agg(F.sum("c_term").alias("n_tokens"))
    # bigram key is the "a b" string (tokens are space-split, so they
    # contain no spaces — the join key decodes uniquely); counting grams
    # then splitting ONLY the surviving pairs keeps the heavy groupBy on
    # one flat string column
    pairs = (
        arrs.select(
            F.explode(
                F.expr(
                    "CASE WHEN size(toks) >= 2 THEN "
                    "transform(sequence(0, size(toks) - 2), "
                    "i -> concat_ws(' ', toks[i], toks[i + 1])) "
                    "ELSE cast(array() AS array<string>) END"
                )
            ).alias("gram")
        )
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= COLLOC_MIN_PAIR)
        .select(
            F.split(F.col("gram"), " ").getItem(0).alias("a"),
            F.split(F.col("gram"), " ").getItem(1).alias("b"),
            "c_ab",
        )
    )
    ua = uni.select(F.col("term").alias("a"), F.col("c_term").alias("c_a"))
    ub = uni.select(F.col("term").alias("b"), F.col("c_term").alias("c_b"))
    score = (
        (F.col("c_ab").cast("double") - F.lit(float(COLLOC_DELTA)))
        * F.col("n_tokens").cast("double")
        / (F.col("c_a").cast("double") * F.col("c_b").cast("double"))
    )
    return (
        pairs.join(ua, "a")
        .join(ub, "b")
        .crossJoin(F.broadcast(n_tok))
        .select(
            F.col("a").alias("term_a"),
            F.col("b").alias("term_b"),
            F.col("c_ab").cast("long").alias("pair_count"),
            F.col("c_a").cast("long").alias("count_a"),
            F.col("c_b").cast("long").alias("count_b"),
            fquant(score, 6).alias("phrase_score"),
        )
        .filter(F.col("phrase_score") > COLLOC_MIN_SCORE)
    )


LLM_COLLOCATIONS_SQL = f"""
WITH arrs AS MATERIALIZED (
    SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
    FROM documents WHERE text IS NOT NULL
), uni AS MATERIALIZED (
    SELECT unnest(toks) AS term FROM arrs
), uc AS MATERIALIZED (
    SELECT term, COUNT(*) AS c_term FROM uni GROUP BY term
), nt AS (SELECT SUM(c_term) AS n_tokens FROM uc),
bi AS (
    SELECT unnest([toks[i] || ' ' || toks[i + 1]
                   for i in range(1, len(toks))]) AS gram
    FROM arrs WHERE len(toks) >= 2
), pg AS (
    SELECT gram, COUNT(*) AS c_ab FROM bi GROUP BY gram
    HAVING COUNT(*) >= {COLLOC_MIN_PAIR}
), pc AS (
    SELECT string_split(gram, ' ')[1] AS a, string_split(gram, ' ')[2] AS b,
           c_ab
    FROM pg
)
SELECT pc.a AS term_a, pc.b AS term_b,
       CAST(pc.c_ab AS BIGINT) AS pair_count,
       CAST(ua.c_term AS BIGINT) AS count_a,
       CAST(ub.c_term AS BIGINT) AS count_b,
       floor((CAST(pc.c_ab AS DOUBLE) - {float(COLLOC_DELTA)})
             * CAST(nt.n_tokens AS DOUBLE)
             / (CAST(ua.c_term AS DOUBLE) * CAST(ub.c_term AS DOUBLE))
             * 1000000.0) / 1000000.0 AS phrase_score
FROM pc
JOIN uc ua ON pc.a = ua.term
JOIN uc ub ON pc.b = ub.term
CROSS JOIN nt
WHERE floor((CAST(pc.c_ab AS DOUBLE) - {float(COLLOC_DELTA)})
            * CAST(nt.n_tokens AS DOUBLE)
            / (CAST(ua.c_term AS DOUBLE) * CAST(ub.c_term AS DOUBLE))
            * 1000000.0) / 1000000.0 > {COLLOC_MIN_SCORE}
"""


QUERIES: dict[str, Query] = {
    "ts_cusum": Query(
        ts_cusum, TS_CUSUM_SQL,
        "CUSUM drift detector via the drawdown identity (no recursion)",
    ),
    "ts_autocorr": Query(
        ts_autocorr, TS_AUTOCORR_SQL,
        "lag-1 autocorrelation from exact decimal moments",
    ),
    "ml_naive_bayes": Query(
        ml_naive_bayes, ML_NAIVE_BAYES_SQL,
        "multinomial NB trainer: Laplace-smoothed integer-count model",
        build="compute",
    ),
    "llm_collocations": Query(
        llm_collocations, LLM_COLLOCATIONS_SQL,
        "word2vec phrase mining by discounted lift (transcendental-free)",
    ),
}
