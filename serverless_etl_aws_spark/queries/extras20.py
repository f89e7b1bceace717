"""Round-7 eleventh wave: a decision-stump trainer, k-core graph
decomposition, vocabulary-growth curves, and a two-sample KS test.

``ml_stump`` extends the exact-trainer family (ml_kmeans / ml_linreg /
ml_naive_bayes) with the axis-aligned split learner every tree ensemble
is built from — trained by exact Gini gain over score buckets, no
sampling. ``graph_kcore`` is the density decomposition that tells a
curation pipeline which part of an entity graph is structurally robust
(spam/boilerplate clusters peel off early) — and the third consumer of
the session-shared co-order adjacency. ``llm_vocab_growth`` is the
Heaps-law saturation curve data-mixers read before adding more of a
source (vocabulary still growing ⇒ corpus still contributing novelty).
``agg_ks_test`` is the distribution-drift screen between two cohorts'
score distributions — the two-sample companion to dq_benford's
single-distribution audit, exact via integer prefix sums.

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

# ---------------------------------------------------------------- ml_stump

#: Positive class for the stump / KS keys (same label model as
#: ml_auc / ml_confusion in extras18/19).
POS_LABEL = "purchase"


def ml_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact decision-stump trainer: the best axis-aligned split
    ``value >= t`` for predicting ``event_type = 'purchase'``, chosen by
    minimum Gini impurity over every integer threshold — the weak
    learner every boosted/bagged tree ensemble composes, trained here
    with no sampling and no per-row driver work. Output: the winning
    threshold with both sides' counts, the split's weighted Gini, the
    parent impurity, and the gain.

    Determinism: side counts come from cumulative-from-top window sums
    over the integer score-bucket relation (exact), and every impurity
    is the IDENTICAL rational expression of those integers on both
    engines (squares stay under 2^53 up to ~9.5e7 rows/side); the
    argmin orders by that bit-identical double with the threshold as
    tiebreak. Degenerate splits (either side empty) are filtered before
    the argmin, so no division is ever undefined.

    Scale: one map-side-combinable groupBy onto ≤ max(value) buckets;
    windows, impurity arithmetic and the top-1 run on the bucket
    relation (TakeOrderedAndProject, never a global sort of data)."""
    ev = t(spark, sf_dir, "events").filter(
        # finite values only: a non-finite value has no score bucket
        # (Spark's ANSI floor silently fabricates bucket 0 from NaN)
        F.col("value").isNotNull()
        & ~F.isnan("value")
        & (F.abs("value") != float("inf"))
    )
    b = ev.select(
        F.floor("value").cast("long").alias("thr"),
        (F.col("event_type") == POS_LABEL).cast("long").alias("is_pos"),
    )
    per = b.groupBy("thr").agg(
        F.count(F.lit(1)).alias("n"), F.sum("is_pos").alias("pos")
    )
    above = Window.orderBy(F.desc("thr")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    full = Window.orderBy(F.desc("thr")).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cand = per.select(
        "thr",
        F.sum("n").over(above).alias("n_ge"),
        F.sum("pos").over(above).alias("pos_ge"),
        F.sum("n").over(full).alias("nn"),
        F.sum("pos").over(full).alias("pos_tot"),
    ).select(
        "thr", "n_ge", "pos_ge", "nn", "pos_tot",
        (F.col("nn") - F.col("n_ge")).alias("n_lt"),
        (F.col("pos_tot") - F.col("pos_ge")).alias("pos_lt"),
    ).filter((F.col("n_ge") > 0) & (F.col("n_lt") > 0))

    def gini(n, p):
        n_d = n.cast("double")
        p_d = p.cast("double")
        q_d = (n - p).cast("double")
        return F.lit(1.0) - (p_d * p_d + q_d * q_d) / (n_d * n_d)

    w_gini = (
        F.col("n_ge").cast("double") * gini(F.col("n_ge"), F.col("pos_ge"))
        + F.col("n_lt").cast("double") * gini(F.col("n_lt"), F.col("pos_lt"))
    ) / F.col("nn").cast("double")
    parent = gini(F.col("nn"), F.col("pos_tot"))
    scored = cand.select(
        "thr", "n_ge", "pos_ge", "n_lt", "pos_lt",
        w_gini.alias("wg"), parent.alias("pg"),
    )
    return (
        scored.orderBy(F.col("wg").asc(), F.col("thr").asc())
        .limit(1)
        .select(
            F.col("thr").alias("threshold"),
            F.col("n_ge").cast("long").alias("n_ge"),
            F.col("pos_ge").cast("long").alias("pos_ge"),
            F.col("n_lt").cast("long").alias("n_lt"),
            F.col("pos_lt").cast("long").alias("pos_lt"),
            fquant(F.col("wg"), 6).alias("split_gini"),
            fquant(F.col("pg"), 6).alias("parent_gini"),
            fquant(F.col("pg") - F.col("wg"), 6).alias("gain"),
        )
    )


ML_STUMP_SQL = f"""
WITH per AS (
    SELECT CAST(floor(value) AS BIGINT) AS thr,
           COUNT(*) AS n,
           SUM(CASE WHEN event_type = '{POS_LABEL}' THEN 1 ELSE 0 END) AS pos
    FROM events WHERE value IS NOT NULL AND isfinite(value)
    GROUP BY 1
), cand AS (
    SELECT thr,
           SUM(n) OVER (ORDER BY thr DESC ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW) AS n_ge,
           SUM(pos) OVER (ORDER BY thr DESC ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW) AS pos_ge,
           SUM(n) OVER () AS nn,
           SUM(pos) OVER () AS pos_tot
    FROM per
), sides AS (
    SELECT thr, n_ge, pos_ge, nn, pos_tot,
           nn - n_ge AS n_lt, pos_tot - pos_ge AS pos_lt
    FROM cand WHERE n_ge > 0 AND nn - n_ge > 0
), scored AS (
    SELECT thr, n_ge, pos_ge, n_lt, pos_lt,
           (CAST(n_ge AS DOUBLE) *
              (1.0 - (CAST(pos_ge AS DOUBLE) * CAST(pos_ge AS DOUBLE)
                      + CAST(n_ge - pos_ge AS DOUBLE)
                        * CAST(n_ge - pos_ge AS DOUBLE))
                     / (CAST(n_ge AS DOUBLE) * CAST(n_ge AS DOUBLE)))
            + CAST(n_lt AS DOUBLE) *
              (1.0 - (CAST(pos_lt AS DOUBLE) * CAST(pos_lt AS DOUBLE)
                      + CAST(n_lt - pos_lt AS DOUBLE)
                        * CAST(n_lt - pos_lt AS DOUBLE))
                     / (CAST(n_lt AS DOUBLE) * CAST(n_lt AS DOUBLE))))
           / CAST(nn AS DOUBLE) AS wg,
           1.0 - (CAST(pos_tot AS DOUBLE) * CAST(pos_tot AS DOUBLE)
                  + CAST(nn - pos_tot AS DOUBLE)
                    * CAST(nn - pos_tot AS DOUBLE))
                 / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)) AS pg
    FROM sides
)
SELECT thr AS threshold,
       CAST(n_ge AS BIGINT) AS n_ge,
       CAST(pos_ge AS BIGINT) AS pos_ge,
       CAST(n_lt AS BIGINT) AS n_lt,
       CAST(pos_lt AS BIGINT) AS pos_lt,
       floor(wg * 1000000.0) / 1000000.0 AS split_gini,
       floor(pg * 1000000.0) / 1000000.0 AS parent_gini,
       floor((pg - wg) * 1000000.0) / 1000000.0 AS gain
FROM scored
ORDER BY wg ASC, thr ASC
LIMIT 1
"""


# -------------------------------------------------------------- graph_kcore

#: Degree floor for the core and the fixed peeling-round count. Bounded
#: rounds make the operator deterministic and SQL-unrollable (true
#: k-core is this loop run to fixpoint; each extra round is one more
#: unrolled CTE — the same bounded-iteration contract as
#: graph_pagerank / ml_kmeans / llm_bpe_train).
KCORE_K = 3
KCORE_ROUNDS = 4


def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded k-core peeling of the co-order part graph: repeatedly
    drop nodes with degree < KCORE_K (KCORE_ROUNDS rounds — each round
    removes nodes whose degree collapsed when the previous round's
    victims left), then report each surviving node's residual degree.
    The density decomposition a curation pipeline uses to find the
    structurally robust subgraph.

    Scale: the adjacency is the session-shared materialized relation
    (_util.co_order_part_adj — graph_bfs and graph_degree_dist consume
    the same one); the peel itself is operators.graph.kcore_peel —
    per-round node-sized degree checkpoints whose drop count rides the
    checkpoint job as an observe() metric, with a fixpoint early-exit
    (a round that drops nothing makes every remaining round the
    identity, so the result is identical to the full KCORE_ROUNDS
    unroll the oracle SQL runs — pinned by the operator's
    early-exit-vs-full-unroll test)."""
    from ..operators.graph import kcore_peel
    from ._util import co_order_part_adj

    adj = co_order_part_adj(spark, sf_dir)
    return kcore_peel(adj, KCORE_K, KCORE_ROUNDS).select(
        F.col("node").alias("part"), F.col("d").cast("long").alias("degree")
    )


def _kcore_sql() -> str:
    rounds = []
    prev = "e0"
    for r in range(1, KCORE_ROUNDS + 1):
        rounds.append(
            f"k{r} AS MATERIALIZED (\n"
            f"    SELECT node FROM (SELECT x AS node FROM {prev}\n"
            f"    ) GROUP BY node HAVING COUNT(*) >= {KCORE_K}\n"
            f"), e{r} AS MATERIALIZED (\n"
            f"    SELECT x, y FROM {prev}\n"
            f"    WHERE x IN (SELECT node FROM k{r})\n"
            f"      AND y IN (SELECT node FROM k{r})\n"
            f")"
        )
        prev = f"e{r}"
    body = ",\n".join(rounds)
    return f"""
WITH e0 AS MATERIALIZED (
    SELECT DISTINCT a.l_partkey AS x, b.l_partkey AS y
    FROM lineitem a
    JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
),
{body}
SELECT x AS part, CAST(COUNT(*) AS BIGINT) AS degree
FROM {prev} GROUP BY x
"""


GRAPH_KCORE_SQL = _kcore_sql()


# --------------------------------------------------------- llm_vocab_growth

#: Vocabulary checkpoints every this many documents (doc_id order).
VOCAB_BUCKET = 50


def llm_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary-growth curve over word-TRIGRAM shingles:
    reading the corpus in doc_id order, how many distinct shingles have
    appeared by each ``VOCAB_BUCKET``-document checkpoint, and how many
    are new in that bucket. A flattening curve says the source has
    stopped contributing novelty — the saturation signal data-mixing
    weights (llm_mix_weights) act on. Shingles, not unigrams, are the
    unit: a natural corpus' unigram vocabulary saturates almost
    immediately (the fixture's ~50-word lexicon is the degenerate
    case), while the shingle space keeps growing for as long as the
    corpus genuinely adds novelty — the same unit llm_ngram_novelty
    scores documents by.

    Scale: shingles shuffle ONCE, as a map-side-combinable
    groupBy(gram) → MIN(doc_id) (first-occurrence relation is
    vocabulary-sized, not corpus-sized); the checkpoint histogram and
    the running total are a groupBy + window over the BUCKET relation
    (#docs / VOCAB_BUCKET rows). No explode output ever crosses a
    second shuffle."""
    from ..operators.text import trigrams

    docs = t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = docs.select(
        "doc_id", F.explode(trigrams("text")).alias("tok")
    )
    first = toks.groupBy("tok").agg(F.min("doc_id").alias("fd"))
    per = first.groupBy(
        (F.floor(F.col("fd") / VOCAB_BUCKET) * VOCAB_BUCKET)
        .cast("long")
        .alias("doc_bucket")
    ).agg(F.count(F.lit(1)).alias("new_tokens"))
    w = Window.orderBy("doc_bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return per.select(
        "doc_bucket",
        F.col("new_tokens").cast("long").alias("new_tokens"),
        F.sum("new_tokens").over(w).cast("long").alias("vocab_size"),
    )


LLM_VOCAB_GROWTH_SQL = f"""
WITH d AS (
    SELECT doc_id, string_split(text, ' ') AS toks
    FROM documents WHERE text IS NOT NULL
), tok AS (
    SELECT doc_id,
           unnest(list_distinct(
               [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                for i in range(1, len(toks) - 1)])) AS tok
    FROM d WHERE len(toks) >= 3
), first AS (
    SELECT tok, MIN(doc_id) AS fd FROM tok GROUP BY tok
), per AS (
    SELECT CAST(floor(fd / {VOCAB_BUCKET}) * {VOCAB_BUCKET} AS BIGINT)
             AS doc_bucket,
           COUNT(*) AS new_tokens
    FROM first GROUP BY 1
)
SELECT doc_bucket,
       CAST(new_tokens AS BIGINT) AS new_tokens,
       CAST(SUM(new_tokens) OVER (ORDER BY doc_bucket ROWS BETWEEN
            UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS vocab_size
FROM per
"""


# ------------------------------------------------------------- agg_ks_test


def agg_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov D statistic between the ``value``
    distributions of the positive cohort (purchase events) and everyone
    else — the drift screen run when a score's population may have
    shifted (dq_benford audits one distribution's shape; this compares
    two). Output: one row with both cohort sizes, the D statistic, and
    the value at which the CDF gap peaks.

    Determinism: CDFs are integer prefix sums over the integer
    score-bucket relation; each gap is |cp/P − cn/N| with P, N exact
    window totals — the identical double expression both engines
    evaluate on identical integers — and the argmax orders by that
    bit-identical double (bucket ascending as tiebreak). A missing
    cohort yields a NULL D (same degenerate-class guard as ml_auc).

    Scale: one map-side-combinable bucket groupBy; prefix sums, gap
    arithmetic and the top-1 all run on the bucket relation."""
    ev = t(spark, sf_dir, "events").filter(
        # finite values only: a non-finite value has no score bucket
        # (Spark's ANSI floor silently fabricates bucket 0 from NaN)
        F.col("value").isNotNull()
        & ~F.isnan("value")
        & (F.abs("value") != float("inf"))
    )
    b = ev.select(
        F.floor("value").cast("long").alias("bkt"),
        (F.col("event_type") == POS_LABEL).cast("long").alias("is_pos"),
    )
    per = b.groupBy("bkt").agg(
        F.count(F.lit(1)).alias("n"), F.sum("is_pos").alias("pos")
    )
    upto = Window.orderBy("bkt").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    full = Window.orderBy("bkt").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cp = F.sum("pos").over(upto)
    cn = F.sum("n").over(upto) - cp
    pp = F.sum("pos").over(full)
    nn = F.sum("n").over(full) - pp
    gap = F.abs(
        cp.cast("double") / pp.cast("double")
        - cn.cast("double") / nn.cast("double")
    )
    scored = per.select(
        "bkt",
        pp.alias("n_pos"),
        nn.alias("n_neg"),
        F.when((pp > 0) & (nn > 0), gap).alias("gap"),
    )
    return (
        scored.orderBy(F.col("gap").desc_nulls_last(), F.col("bkt").asc())
        .limit(1)
        .select(
            F.col("n_pos").cast("long").alias("n_pos"),
            F.col("n_neg").cast("long").alias("n_neg"),
            fquant(F.col("gap"), 6).alias("d_stat"),
            F.col("bkt").alias("at_value"),
        )
    )


AGG_KS_TEST_SQL = f"""
WITH per AS (
    SELECT CAST(floor(value) AS BIGINT) AS bkt,
           COUNT(*) AS n,
           SUM(CASE WHEN event_type = '{POS_LABEL}' THEN 1 ELSE 0 END) AS pos
    FROM events WHERE value IS NOT NULL AND isfinite(value)
    GROUP BY 1
), cum AS (
    SELECT bkt,
           SUM(pos) OVER (ORDER BY bkt ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW) AS cp,
           SUM(n) OVER (ORDER BY bkt ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW)
             - SUM(pos) OVER (ORDER BY bkt ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW) AS cn,
           SUM(pos) OVER () AS pp,
           SUM(n) OVER () - SUM(pos) OVER () AS nn
    FROM per
), scored AS (
    SELECT bkt, pp AS n_pos, nn AS n_neg,
           CASE WHEN pp > 0 AND nn > 0 THEN
             abs(CAST(cp AS DOUBLE) / CAST(pp AS DOUBLE)
                 - CAST(cn AS DOUBLE) / CAST(nn AS DOUBLE)) END AS gap
    FROM cum
)
SELECT CAST(n_pos AS BIGINT) AS n_pos,
       CAST(n_neg AS BIGINT) AS n_neg,
       floor(gap * 1000000.0) / 1000000.0 AS d_stat,
       bkt AS at_value
FROM scored
ORDER BY gap DESC NULLS LAST, bkt ASC
LIMIT 1
"""


QUERIES: dict[str, Query] = {
    "ml_stump": Query(
        ml_stump, ML_STUMP_SQL,
        "exact Gini-gain decision stump over integer score buckets",
    ),
    "graph_kcore": Query(
        graph_kcore, GRAPH_KCORE_SQL,
        "bounded k-core peeling of the co-order part graph",
        build="compute",
    ),
    "llm_vocab_growth": Query(
        llm_vocab_growth, LLM_VOCAB_GROWTH_SQL,
        "Heaps-law vocabulary saturation curve per doc checkpoint",
    ),
    "agg_ks_test": Query(
        agg_ks_test, AGG_KS_TEST_SQL,
        "two-sample Kolmogorov-Smirnov drift statistic (exact CDFs)",
    ),
}
