"""Round-6 wave: dedup APPLICATION (cluster → canonical survivor),
correlated LATERAL join, per-series gap detection, and n-gram novelty
scoring.

``llm_dedup_apply`` closes the dedup story end-to-end: every detection
backend in the family emits pairs or clusters, but a training-data
pipeline ultimately needs the SURVIVING corpus — one canonical document
per duplicate group, everything else dropped. ``join_lateral`` covers
the correlated-lateral-subquery operator (reference-class engines and
warehouses expose it as LATERAL / CROSS APPLY); Catalyst decorrelates it
into a WindowGroupLimit + broadcast join rather than a nested loop,
which is the plan property the test pins. ``ts_gap_detect`` is the
gaps-and-islands monitor (sessionize's dual: find the SILENCES);
``llm_ngram_novelty`` scores each document by how much of its shingle
set is unique to it — the boilerplate/template signal dedup pipelines
threshold on before pair detection is even worth running.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import Query
from ._util import t
from .llm import _NGRAM_PAIRS_CTES

# ------------------------------------------------------ llm_dedup_apply


def llm_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply near-dup clustering to the corpus: keep ONE canonical
    document per connected dup component — the longest (max ``n_chars``,
    doc_id tie-break), the usual keep-the-most-complete-copy policy —
    and report what the dedup removed. Builds on the exact cluster
    assignment ``llm_dedup_cluster`` produces (same pair threshold,
    same component closure), so detect and apply cannot disagree.

    Scale: the survivor pick is one row_number window over the cluster
    assignment (shuffle on cluster_id, O(docs) rows) on top of the
    cluster plan's blocked pair join — no new corpus scan; the join back
    to ``documents`` for n_chars is doc_id-keyed and column-pruned to
    two columns."""
    from .llm import llm_dedup_cluster

    comp = llm_dedup_cluster(spark, sf_dir)  # doc_id, cluster_id, cluster_size
    sizes = t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    return (
        comp.join(sizes, "doc_id")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "doc_id",
            "cluster_id",
            "cluster_size",
            (F.col("cluster_size") - 1).cast("long").alias("n_removed"),
        )
    )


LLM_DEDUP_APPLY_SQL = f"""
WITH RECURSIVE {_NGRAM_PAIRS_CTES}, pairs AS (
    SELECT doc_a, doc_b FROM scored_pairs WHERE jaccard >= 0.8
), edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM pairs
    UNION ALL
    SELECT doc_b AS src, doc_a AS dst FROM pairs
), reach(src, dst) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
), comp AS (
    SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src
), sized AS (
    SELECT doc_id, cluster_id,
           COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
    FROM comp
), ranked AS (
    SELECT s.doc_id, s.cluster_id, s.cluster_size,
           ROW_NUMBER() OVER (PARTITION BY s.cluster_id
                              ORDER BY d.n_chars DESC, s.doc_id) AS rk
    FROM sized s JOIN documents d ON d.doc_id = s.doc_id
)
SELECT doc_id, cluster_id, cluster_size,
       CAST(cluster_size - 1 AS BIGINT) AS n_removed
FROM ranked WHERE rk = 1
"""


# --------------------------------------------------------- join_lateral

LATERAL_TOP_K = 2


def join_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery join: for every nation, the top-2
    customers by account balance (name tie-break) — the per-row
    parameterized-subquery operator (LATERAL / CROSS APPLY in warehouse
    dialects). Expressed as actual SQL LATERAL, NOT hand-rewritten to a
    window: the point of the key is that Catalyst DECORRELATES the
    per-nation ORDER BY ... LIMIT into a WindowGroupLimit (partial+final
    per-group top-k, no global sort) feeding one broadcast hash join —
    a nested-loop re-execution per outer row appears nowhere
    (tests/test_plans.py pins the plan). That decorrelation is exactly
    what makes the operator 100 TB-viable: cost is one shuffle of the
    inner side by the correlation key, independent of outer-row count."""
    t(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    t(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(
        f"""
        SELECT n.n_name, c.c_name, c.c_acctbal
        FROM nation n,
        LATERAL (
            SELECT c_name, c_acctbal FROM customer c
            WHERE c.c_nationkey = n.n_nationkey
            ORDER BY c_acctbal DESC, c_name
            LIMIT {LATERAL_TOP_K}
        ) c
        """
    )


JOIN_LATERAL_SQL = f"""
SELECT n.n_name, c.c_name, c.c_acctbal
FROM nation n,
LATERAL (
    SELECT c_name, c_acctbal FROM customer c
    WHERE c.c_nationkey = n.n_nationkey
    ORDER BY c_acctbal DESC, c_name
    LIMIT {LATERAL_TOP_K}
) c
"""


# -------------------------------------------------------- ts_gap_detect

#: A silence longer than this many microseconds is a reported gap.
GAP_THRESHOLD_US = 24 * 3600 * 1_000_000


def ts_gap_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user gap detection — the dual of ``win_sessionize``: report
    every silence longer than 24 h between consecutive events of the
    same user (monitoring's "sensor went dark" / retention's "user went
    dormant" primitive). One lag window per user (ts, event_id ordering
    pins ties), gap arithmetic in integer MICROSECONDS end-to-end —
    `unix_micros` here, `epoch_us` in the oracle — so no float rounding
    or timezone rendering can drift between engines.

    Scale: exactly one shuffle (window partition by user_id); output is
    O(gaps). The lag state is one row."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    us = F.unix_micros(F.col("ts"))
    prev = F.lag(us).over(w)
    return (
        ev.select(
            "user_id",
            prev.alias("gap_start_us"),
            us.alias("gap_end_us"),
        )
        .withColumn("gap_us", F.col("gap_end_us") - F.col("gap_start_us"))
        .filter(F.col("gap_us") > GAP_THRESHOLD_US)
    )


TS_GAP_DETECT_SQL = f"""
WITH seq AS (
    SELECT user_id,
           lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS gap_start_us,
           epoch_us(ts) AS gap_end_us
    FROM events
)
SELECT user_id, gap_start_us, gap_end_us,
       gap_end_us - gap_start_us AS gap_us
FROM seq
WHERE gap_end_us - gap_start_us > {GAP_THRESHOLD_US}
"""


# ---------------------------------------------------- llm_ngram_novelty


def llm_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document novelty score: the fraction of a document's distinct
    word trigrams that occur in NO other document (corpus df = 1).
    Low novelty = templated/boilerplate content — the cheap corpus-level
    signal pipelines threshold on before running pair-level dedup at
    all (a doc that is 90 % shared shingles is a dedup candidate; one
    that is 95 % unique is not worth pairing). Ratio floor-quantized to
    4 decimals (integer division into IEEE doubles — deterministic
    cross-engine, same discipline as the Jaccard scores).

    Scale: the df table is one map-side-combinable groupBy over the
    shingle explode; the score join shuffles on the gram hash — the
    identical shape (and skew profile) as the TF-IDF key, linear in
    corpus shingles. Short docs (< 3 tokens) have no shingles and are
    absent from the output in both engines."""
    from ..operators.text import trigrams

    docs = t(spark, sf_dir, "documents")
    grams = docs.select(
        "doc_id", F.explode(trigrams("text")).alias("gram")
    ).localCheckpoint(eager=False)  # feeds df counts AND the score join
    df_counts = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
    return (
        grams.join(df_counts, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum((F.col("df") == 1).cast("long")).alias("n_unique"),
            (
                F.floor(
                    F.sum((F.col("df") == 1).cast("long"))
                    * F.lit(10000.0)
                    / F.count(F.lit(1))
                )
                / 10000.0
            ).alias("novelty"),
        )
    )


LLM_NGRAM_NOVELTY_SQL = """
WITH d AS (
    SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), g AS (
    SELECT doc_id,
           list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                          for i in range(1, len(toks) - 1)]) AS grams
    FROM d WHERE len(toks) >= 3
), ex AS (
    SELECT doc_id, unnest(grams) AS gram FROM g
), dfc AS (
    SELECT gram, COUNT(*) AS df FROM ex GROUP BY gram
)
SELECT e.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_grams,
       CAST(COUNT(CASE WHEN dfc.df = 1 THEN 1 END) AS BIGINT) AS n_unique,
       floor(COUNT(CASE WHEN dfc.df = 1 THEN 1 END) * 10000.0
             / COUNT(*)) / 10000.0 AS novelty
FROM ex e JOIN dfc USING (gram)
GROUP BY e.doc_id
"""


# ------------------------------------------------------ llm_prefix_dedup

#: Blocking key width (chars) and hot-block cap. Docs shorter than the
#: key are not prefix-dedup candidates by contract (tiny docs are the
#: quality gate's job); blocks shared by more docs than the cap are
#: boilerplate openings and dropped before the pair join — the same
#: frequency-stop discipline as the ngram family's stop-shingle cap.
PREFIX_KEY_CHARS = 32
PREFIX_MAX_BLOCK_DF = 50


def llm_prefix_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-truncation duplicates — the crawl-pipeline dup class the
    shingle-Jaccard family underweights: a re-crawl or extraction bug
    that TRUNCATES a page yields doc A = strict prefix of doc B, whose
    Jaccard can sit far below any near-dup threshold when B is much
    longer. Detection: block on the first ``PREFIX_KEY_CHARS``
    characters (equal-prefix pairs necessarily share the block), drop
    hot blocks (common openings) by the frequency cap, then verify
    ``substr(b, 1, len(a)) = a`` with ``len(a) < len(b)`` inside each
    block. Exact duplicates are excluded (that is ``llm_fingerprint``'s
    contract — this key reports strict truncations only).

    Scale: one block groupBy (map-side combinable) for the cap, one
    equi-join on the 32-char block key with fan-out bounded by cap² per
    block, and the verify is an O(len) substring compare on candidate
    pairs only — never an all-pairs scan."""
    docs = (
        t(spark, sf_dir, "documents")
        .filter(
            F.col("text").isNotNull()
            & (F.length("text") >= PREFIX_KEY_CHARS)
        )
        .select(
            "doc_id", "text",
            F.length("text").alias("n"),
            F.substring("text", 1, PREFIX_KEY_CHARS).alias("block"),
        )
    )
    cold = (
        docs.groupBy("block")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= PREFIX_MAX_BLOCK_DF)
        .select("block")
    )
    kb = docs.join(F.broadcast(cold), "block")
    a = kb.select(
        F.col("block"), F.col("doc_id").alias("doc_a"),
        F.col("text").alias("ta"), F.col("n").alias("prefix_len"),
    )
    b = kb.select(
        F.col("block"), F.col("doc_id").alias("doc_b"),
        F.col("text").alias("tb"), F.col("n").alias("full_len"),
    )
    return (
        a.join(b, "block")
        .filter(
            (F.col("prefix_len") < F.col("full_len"))
            # substring with a column-valued length needs the expr form
            & (F.expr("substring(tb, 1, prefix_len)") == F.col("ta"))
        )
        .select(
            "doc_a", "doc_b",
            F.col("prefix_len").cast("long").alias("prefix_len"),
            F.col("full_len").cast("long").alias("full_len"),
        )
    )


LLM_PREFIX_DEDUP_SQL = f"""
WITH d AS (
    SELECT doc_id, text, length(text) AS n
    FROM documents
    WHERE text IS NOT NULL AND length(text) >= {PREFIX_KEY_CHARS}
), blk AS (
    SELECT doc_id, text, n,
           substr(text, 1, {PREFIX_KEY_CHARS}) AS block
    FROM d
), cold AS (
    SELECT block FROM blk GROUP BY block
    HAVING COUNT(*) <= {PREFIX_MAX_BLOCK_DF}
), kb AS (
    SELECT blk.* FROM blk JOIN cold USING (block)
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(a.n AS BIGINT) AS prefix_len,
       CAST(b.n AS BIGINT) AS full_len
FROM kb a JOIN kb b ON a.block = b.block AND a.n < b.n
WHERE substr(b.text, 1, CAST(a.n AS INT)) = a.text
"""


# ------------------------------------------------------------- agg_corr


def agg_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation + population covariance per group — computed
    from EXACT decimal moment sums (Σx, Σy, Σxy, Σx², Σy² accumulated
    as decimals, so summation order cannot matter), combined in one
    mirrored double expression. The built-in ``corr``/``covar_pop``
    aggregate in any engine accumulates doubles in engine-specific order
    — cross-engine drift by construction — so the engine takes the
    moments route: the same shape as the rolling-variance discipline
    (ARCHITECTURE.md "Float determinism"), and on a cluster the decimal
    moments are map-side-combinable partial aggregates exactly like any
    sum. Final values floor-quantized to 6 decimals."""
    from ._util import dec, fquant

    li = t(spark, sf_dir, "lineitem")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(dec("l_quantity")).cast("double").alias("sx"),
        F.sum(dec("l_extendedprice")).cast("double").alias("sy"),
        F.sum(dec("l_quantity") * dec("l_extendedprice"))
        .cast("double").alias("sxy"),
        F.sum(dec("l_quantity") * dec("l_quantity"))
        .cast("double").alias("sxx"),
        F.sum(dec("l_extendedprice") * dec("l_extendedprice"))
        .cast("double").alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    # zero-variance guard: a constant column makes r undefined — NULL,
    # never a divide (Spark 4 ANSI throws) or a NaN. The predicate is
    # the identical double expression on both engines.
    corr = F.when((vx > 0.0) & (vy > 0.0), num / (F.sqrt(vx) * F.sqrt(vy)))
    return m.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n_rows"),
        fquant(corr, 6).alias("corr_qty_price"),
        fquant(num / (F.col("n") * F.col("n")), 6).alias("covar_pop"),
    )


# DECIMAL(19,4) casts, deliberately one digit wider than the Spark
# side's DECIMAL(18,4): DuckDB multiplies <=18-wide decimals on an int64
# fast path that overflows at runtime on price*price (raw 1e9 * 1e9);
# width 19 forces the HUGEINT path. The values are identical either way
# (4 fractional digits, exact), so both engines sum the same exact
# products.
AGG_CORR_SQL = """
WITH m AS (
    SELECT l_returnflag,
           CAST(COUNT(*) AS DOUBLE) AS n,
           CAST(SUM(CAST(CASE WHEN isfinite(l_quantity) THEN l_quantity END AS DECIMAL(19,4))) AS DOUBLE) AS sx,
           CAST(SUM(CAST(CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END AS DECIMAL(19,4))) AS DOUBLE) AS sy,
           CAST(SUM(CAST(CASE WHEN isfinite(l_quantity) THEN l_quantity END AS DECIMAL(19,4))
                    * CAST(CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END AS DECIMAL(19,4))) AS DOUBLE)
               AS sxy,
           CAST(SUM(CAST(CASE WHEN isfinite(l_quantity) THEN l_quantity END AS DECIMAL(19,4))
                    * CAST(CASE WHEN isfinite(l_quantity) THEN l_quantity END AS DECIMAL(19,4))) AS DOUBLE) AS sxx,
           CAST(SUM(CAST(CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END AS DECIMAL(19,4))
                    * CAST(CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END AS DECIMAL(19,4))) AS DOUBLE)
               AS syy
    FROM lineitem
    GROUP BY l_returnflag
)
SELECT l_returnflag,
       CAST(n AS BIGINT) AS n_rows,
       CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
            THEN floor((n * sxy - sx * sy)
                       / (sqrt(n * sxx - sx * sx)
                          * sqrt(n * syy - sy * sy))
                       * 1000000.0) / 1000000.0 END AS corr_qty_price,
       floor((n * sxy - sx * sy) / (n * n) * 1000000.0) / 1000000.0
           AS covar_pop
FROM m
"""


# ------------------------------------------------------------ win_streak


def win_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-ACTIVE-DAY streak per user — the
    gaps-and-islands composition over the calendar axis (sessionize
    groups by intra-day time gaps; this groups by day adjacency, the
    retention/engagement metric). One distinct-days aggregate, one
    ordinal window (day_number − row_number = island id), one island
    aggregate, one top-1 per user — two shuffles total, all partitioned
    by user_id. Ties on length resolve to the earliest streak."""
    ev = t(spark, sf_dir, "events")
    days = (
        ev.select(
            "user_id", F.to_date("ts").alias("day")
        )
        .distinct()
        .withColumn("ord", F.datediff(F.col("day"), F.lit("1970-01-01")))
    )
    w = Window.partitionBy("user_id").orderBy("ord")
    islands = days.withColumn(
        "island", F.col("ord") - F.row_number().over(w)
    )
    streaks = islands.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).cast("long").alias("streak_days"),
        F.date_format(F.min("day"), "yyyy-MM-dd").alias("streak_start"),
    )
    top = Window.partitionBy("user_id").orderBy(
        F.desc("streak_days"), F.asc("streak_start")
    )
    return (
        streaks.withColumn("rn", F.row_number().over(top))
        .filter(F.col("rn") == 1)
        .select("user_id", "streak_days", "streak_start")
    )


WIN_STREAK_SQL = """
WITH days AS (
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
), isl AS (
    SELECT user_id, day,
           datediff('day', DATE '1970-01-01', day)
             - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day)
             AS island
    FROM days
), streaks AS (
    SELECT user_id, island,
           CAST(COUNT(*) AS BIGINT) AS streak_days,
           strftime(MIN(day), '%Y-%m-%d') AS streak_start
    FROM isl GROUP BY user_id, island
)
SELECT user_id, streak_days, streak_start
FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                 ORDER BY streak_days DESC, streak_start)
              AS rn
    FROM streaks
)
WHERE rn = 1
"""


# ---------------------------------------------------------- mm_scene_cut


def mm_scene_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-shaped scene-change detection over binary payloads:
    consecutive 64-byte frames compared by summed per-byte absolute
    delta, cut flagged above a fixed threshold (operators/multimodal.py
    ::scene_cut — Arrow-batched mapInPandas, integer sufficient
    statistics so the oracle recomputes the deltas exactly from the
    payload bytes via hex-nibble decode, the mm_audio_window
    discipline). A real build swaps the u8 delta for a decoded-frame
    perceptual metric through the same batch flow."""
    from ..operators import multimodal

    docs = t(spark, sf_dir, "documents")
    return multimodal.scene_cut(multimodal.synthesize_payloads(docs))


MM_SCENE_CUT_SQL = """
WITH h AS (
    SELECT doc_id, hex(encode(text)) AS hx,
           CAST(octet_length(encode(text)) // 64 AS INT) AS n_frames
    FROM documents WHERE text IS NOT NULL
), d AS (
    SELECT doc_id, CAST(u.j // 64 AS INT) AS frame_no,
           abs(
             (strpos('0123456789ABCDEF',
                     substr(hx, CAST(u.j * 2 + 1 AS INT), 1)) - 1) * 16
             + strpos('0123456789ABCDEF',
                      substr(hx, CAST(u.j * 2 + 2 AS INT), 1)) - 1
             - ((strpos('0123456789ABCDEF',
                        substr(hx, CAST((u.j + 64) * 2 + 1 AS INT), 1)) - 1)
                * 16
                + strpos('0123456789ABCDEF',
                         substr(hx, CAST((u.j + 64) * 2 + 2 AS INT), 1)) - 1)
           ) AS delta
    FROM h, UNNEST(range((n_frames - 1) * 64)) u(j)
    WHERE n_frames >= 2
)
SELECT doc_id, frame_no,
       CAST(SUM(delta) AS BIGINT) AS diff_sum,
       SUM(delta) > 640 AS is_cut
FROM d
GROUP BY doc_id, frame_no
"""


QUERIES: dict[str, Query] = {
    "llm_dedup_apply": Query(
        llm_dedup_apply, LLM_DEDUP_APPLY_SQL,
        "dedup application: one canonical survivor per dup cluster",
        build="compute",
    ),
    "join_lateral": Query(
        join_lateral, JOIN_LATERAL_SQL,
        "correlated LATERAL top-k subquery (decorrelated, no nested loop)",
    ),
    "ts_gap_detect": Query(
        ts_gap_detect, TS_GAP_DETECT_SQL,
        "per-user >24h silence gaps (gaps-and-islands dual of sessionize)",
    ),
    "llm_ngram_novelty": Query(
        llm_ngram_novelty, LLM_NGRAM_NOVELTY_SQL,
        "fraction of per-doc shingles unique in the corpus (df=1)",
    ),
    "llm_prefix_dedup": Query(
        llm_prefix_dedup, LLM_PREFIX_DEDUP_SQL,
        "prefix-truncation duplicates via 32-char block join + verify",
    ),
    "agg_corr": Query(
        agg_corr, AGG_CORR_SQL,
        "Pearson corr + covar_pop from exact decimal moment sums",
    ),
    "win_streak": Query(
        win_streak, WIN_STREAK_SQL,
        "longest consecutive-active-day streak per user (islands)",
    ),
    "mm_scene_cut": Query(
        mm_scene_cut, MM_SCENE_CUT_SQL,
        "frame-delta scene-change detection over binary payloads",
    ),
}


# -------------------------------------------------------- ts_anomaly_mad

#: Exact-regime sketch accuracy (same pinning as agg_approx_quantile) and
#: the classic 3×MAD outlier fence.
MAD_ACCURACY = 1_000_000
MAD_K = 3


def ts_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly detection per event type: median / MAD (median
    absolute deviation) and the count of values outside the 3×MAD fence
    — the outlier detector that, unlike z-scores, is not itself dragged
    by the outliers it hunts. Both medians come from the exact-regime GK
    sketch (εn < 1 → the element at rank ⌈0.5·n⌉, the
    agg_approx_quantile discipline), deviations are single IEEE ops on
    identical doubles, and the fence count is an exact long — every
    column hash-checkable with no float-order exposure.

    Scale: two grouped sketch aggregates (mergeable partials) and two
    broadcast joins of a #event-types-sized stats frame — the fact table
    shuffles only for its own groupBy passes; nothing is ever sorted
    globally."""
    ev = (
        t(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("event_type", F.col("value").alias("x"))
    )
    med = ev.groupBy("event_type").agg(
        F.percentile_approx("x", 0.5, MAD_ACCURACY).alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "dev", F.abs(F.col("x") - F.col("med"))
    )
    stats = dev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_vals"),
        F.max("med").alias("med"),
        F.percentile_approx("dev", 0.5, MAD_ACCURACY).alias("mad"),
    )
    return (
        dev.drop("med")  # stats carries it; keeping both is ambiguous
        .join(F.broadcast(stats), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("n_vals").alias("n_vals"),
            F.max("med").alias("med"),
            F.max("mad").alias("mad"),
            F.sum(
                (F.col("dev") > F.lit(MAD_K) * F.col("mad")).cast("long")
            ).alias("n_outliers"),
        )
    )


TS_ANOMALY_MAD_SQL = f"""
WITH v AS (
    SELECT event_type, value AS x FROM events WHERE value IS NOT NULL
), r1 AS (
    SELECT event_type, x,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY x) AS rk,
           COUNT(*) OVER (PARTITION BY event_type) AS n
    FROM v
), med AS (
    SELECT event_type,
           MAX(CASE WHEN rk = CAST(ceil(0.5 * n) AS BIGINT) THEN x END)
               AS med
    FROM r1 GROUP BY event_type
), dev AS (
    SELECT v.event_type, med.med, abs(v.x - med.med) AS dev
    FROM v JOIN med USING (event_type)
), r2 AS (
    SELECT event_type, med, dev,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY dev) AS rk,
           COUNT(*) OVER (PARTITION BY event_type) AS n
    FROM dev
), stats AS (
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_vals,
           MAX(med) AS med,
           MAX(CASE WHEN rk = CAST(ceil(0.5 * n) AS BIGINT) THEN dev END)
               AS mad
    FROM r2 GROUP BY event_type
)
SELECT d.event_type, s.n_vals, s.med, s.mad,
       CAST(COUNT(CASE WHEN d.dev > {MAD_K} * s.mad THEN 1 END) AS BIGINT)
           AS n_outliers
FROM dev d JOIN stats s USING (event_type)
GROUP BY d.event_type, s.n_vals, s.med, s.mad
"""

QUERIES["ts_anomaly_mad"] = Query(
    ts_anomaly_mad, TS_ANOMALY_MAD_SQL,
    "median/MAD robust outlier fence per event type (exact-regime sketch)",
)


# ------------------------------------------------------------- graph_bfs

BFS_MAX_HOPS = 10


def graph_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shortest hop counts (BFS) from the smallest part key over the
    co-order part graph (parts are adjacent when some order contains
    both) — the traversal member of the graph family (PageRank = scoring,
    LPA = communities, triangles = local structure, components =
    reachability classes; BFS = DISTANCE). The engine runs
    frontier-at-a-time rounds over the BIPARTITE (order, part)
    membership relation (operators/graph.py::bfs_hops_bipartite): per
    round, frontier → its orders → their members, minus visited — work
    is O(frontier membership), rounds = diameter, never O(V²) and
    never the Σ|order|² clique expansion. The oracle is a recursive CTE
    whose UNION-dedup keeps (node, hops) rows distinct and takes
    MIN(hops): exact shortest distances for every node within the hop
    bound, identical by construction (a co-order edge ⇔ a 2-step
    bipartite path, so clique-graph hops = bipartite hops / 2).

    The membership relation is the session-memoized shared basket-edge
    relation (_util.order_part_edges — ml_assoc_rules consumes the
    same one), already distinct/materialized, so this call adds no
    edge-build work after the family's first touch. The source is the
    MIN part key — one O(1)-bounded scalar collect, same justification
    as the BPE argmax."""
    from ..operators.graph import bfs_hops_bipartite
    from ._util import order_part_edges

    li = t(spark, sf_dir, "lineitem").select("l_partkey")
    # Optimization r14 (guide §1.2 "the distributed algorithm"): walk the
    # bipartite (order, part) membership relation (Σ|order| rows — the
    # session-memoized basket edges ml_assoc_rules shares) instead of the
    # clique-expanded co-order adjacency (Σ|order|² edges, 12.5M rows /
    # 200 MB re-scanned per frontier round at sf0.1). Hop counts are
    # IDENTICAL by construction (a co-order edge ⇔ a 2-step bipartite
    # path; see bfs_hops_bipartite) — pinned against bfs_hops over the
    # clique expansion in tests/test_operators.py.
    edges = order_part_edges(spark, sf_dir)
    source = li.agg(F.min("l_partkey")).collect()[0][0]  # O(1) scalar
    if source is None:
        # empty table: no source node, no walk (the oracle's recursive
        # seed is NULL-filtered for the same reason)
        return spark.createDataFrame([], "part bigint, hops int")
    res = bfs_hops_bipartite(
        edges, int(source), group_col="l_orderkey", node_col="l_partkey",
        max_hops=BFS_MAX_HOPS,
    )
    return res.select(
        F.col("node").alias("part"), F.col("hops").cast("int").alias("hops")
    )


GRAPH_BFS_SQL = f"""
WITH RECURSIVE e0 AS (
    SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
    FROM lineitem a
    JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
), e AS (
    SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0
), walk(node, hops) AS (
    SELECT (SELECT MIN(l_partkey) FROM lineitem), 0
    UNION
    SELECT e.dst, w.hops + 1
    FROM walk w JOIN e ON e.src = w.node
    WHERE w.hops < {BFS_MAX_HOPS}
)
SELECT node AS part, CAST(MIN(hops) AS INT) AS hops
FROM walk WHERE node IS NOT NULL GROUP BY node
"""

QUERIES["graph_bfs"] = Query(
    graph_bfs, GRAPH_BFS_SQL,
    "BFS shortest hops over the co-order part graph (frontier rounds)",
    build="compute",
)


# --------------------------------------------------------------- agg_gini


def agg_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day Gini impurity of the event-type distribution — the class-
    imbalance / label-purity signal data-mix monitoring thresholds on
    (a day whose traffic collapses into one event type goes to 0).
    Deliberately RATIONAL: Gini = 1 − Σ(cᵢ/n)² needs no logs (unlike
    entropy, whose ln is libm-dependent and banned from hash-checked
    keys) — the count moments Σcᵢ² and n² are exact integers, the final
    value is ONE double division both engines compute identically, then
    floor-quantized. Two map-side-combinable groupBys, no joins."""
    from ._util import fquant

    ev = t(spark, sf_dir, "events").select(
        F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"),
        "event_type",
    )
    cnt = ev.groupBy("day", "event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    # moment arithmetic is overflow-proof by type, not by assumption:
    # Σc² accumulates as DECIMAL(38,0) (exact far past any daily volume;
    # a long would wrap at ~3e9 events/day), and n² is formed as
    # double×double — the identical expression the oracle uses, so the
    # values stay bit-equal even past 2^53 where squares round
    ss = F.sum(
        F.col("c").cast("decimal(19,0)") * F.col("c").cast("decimal(19,0)")
    )
    return (
        cnt.groupBy("day")
        .agg(
            F.sum("c").cast("long").alias("n_events"),
            F.count(F.lit(1)).cast("long").alias("n_types"),
            ss.alias("ss"),
        )
        .select(
            "day",
            "n_events",
            "n_types",
            fquant(
                F.lit(1.0)
                - F.col("ss").cast("double")
                / (
                    F.col("n_events").cast("double")
                    * F.col("n_events").cast("double")
                ),
                6,
            ).alias("gini"),
        )
    )


AGG_GINI_SQL = """
WITH cnt AS (
    SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day, event_type,
           COUNT(*) AS c
    FROM events GROUP BY 1, 2
)
SELECT day,
       CAST(SUM(c) AS BIGINT) AS n_events,
       CAST(COUNT(*) AS BIGINT) AS n_types,
       floor((1.0 - CAST(SUM(c * c) AS DOUBLE)
                    / (CAST(SUM(c) AS DOUBLE) * CAST(SUM(c) AS DOUBLE)))
             * 1000000.0)
           / 1000000.0 AS gini
FROM cnt GROUP BY day
"""

QUERIES["agg_gini"] = Query(
    agg_gini, AGG_GINI_SQL,
    "per-day Gini impurity of the event-type mix (rational, no logs)",
)
