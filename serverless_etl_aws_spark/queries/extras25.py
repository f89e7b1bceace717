"""Round-7 sixteenth wave: CUSUM-argmax changepoint location, Spearman
rank correlation, resource-allocation link prediction, and the
F1-optimal operating point.

``ts_changepoint`` upgrades ts_cusum's drift *detector* into a drift
*locator*: the classic CUSUM changepoint estimate (the k maximizing
|n·P_k − k·T|) found with exact integer arithmetic — no float enters
the argmax. ``ml_spearman`` is the rank-correlation complement of
agg_corr's Pearson: monotone association computed entirely on integer
ranks, immune to the outliers that dominate product-moment sums.
``graph_resource_alloc`` is the link-prediction score on the shared
supply bipartite graph (SEVENTH consumer of the session-materialized
edge relations): like graph_jaccard's shared-neighbor pairs, but each
shared part is down-weighted by 1/degree so promiscuous hubs don't
dominate — the Zhou/Lü/Zhang resource-allocation index.
``ml_best_threshold`` closes the eval loop opened by ml_confusion: the
sweep says what every threshold does, this key PICKS one, with the
argmax over F1 done in exact scaled-integer division so cross-engine
ties are impossible by construction.

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

# ------------------------------------------------------------ ts_changepoint


def ts_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint estimate per user: the observation index k
    (in (ts, event_id) order) that maximizes |n·P_k − k·T|, where P_k
    is the prefix sum of value and T the series total — n·(P_k − k·T/n)
    is the mean-centered CUSUM scaled by n, and its arg-max is the
    classic single-changepoint location estimate (the point a
    level-shift most plausibly happened).

    Determinism: value lives on the fixture's 1e-4 grid, so the scaled
    BIGINT ``v = value·10⁴`` is exact; prefix sums, totals and the
    deviation ``|n·P_k − k·T|`` are exact integers (DECIMAL(38,0) /
    HUGEINT products — no float enters the argmax), and ties break on
    earliest k. The reported peak is ONE double division of exact
    integers, floor-quantized. k ranges over 1..n−1 (dev at k=n is
    identically 0), so single-observation users drop out — the warm-up
    guard, not an epsilon.

    Scale: ONE hash shuffle on user_id; the prefix/total/argmax windows
    all share that partitioning (Catalyst plans one exchange, stacked
    sorts). At 100 TB the series key would be (user, coarse-time-bucket)
    with carried-in offsets — the ts_cusum posture verbatim."""
    # ts IS NOT NULL: no timestamp = no series position (round 9)
    ev = t(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("ts").isNotNull()
    )
    wp = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("user_id").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    v = (dec("value") * 10000).cast("long")
    staged = ev.select(
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        F.row_number().over(wp).alias("k"),
        F.sum(v).over(wp).alias("p"),
        F.count(F.lit(1)).over(wall).alias("n"),
        F.sum(v).over(wall).alias("tot"),
    )
    dev = F.abs(
        F.col("n").cast("decimal(38,0)") * F.col("p").cast("decimal(38,0)")
        - F.col("k").cast("decimal(38,0)")
        * F.col("tot").cast("decimal(38,0)")
    )
    cand = staged.filter(F.col("k") < F.col("n")).select(
        "user_id",
        "ts_s",
        "k",
        "n",
        dev.alias("dev"),
    )
    wbest = Window.partitionBy("user_id").orderBy(
        F.col("dev").desc(), F.col("k").asc()
    )
    best = cand.select(
        "user_id", "ts_s", "k", "n", "dev",
        F.row_number().over(wbest).alias("rk"),
    ).filter(F.col("rk") == 1)
    return best.select(
        "user_id",
        F.col("n").cast("long").alias("n_obs"),
        F.col("k").cast("long").alias("cp_index"),
        F.col("ts_s").alias("cp_ts"),
        fquant(
            F.col("dev").cast("double")
            / (F.col("n") * 10000).cast("double"),
            6,
        ).alias("cusum_peak"),
    )


TS_CHANGEPOINT_SQL = """
WITH tot AS (
    SELECT user_id,
           strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS ts_s,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY ts ASC, event_id ASC) AS k,
           SUM(CAST(CAST(CASE WHEN isfinite(value) THEN value END AS DECIMAL(18,4)) * 10000 AS BIGINT))
             OVER (PARTITION BY user_id
                   ORDER BY ts ASC, event_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p,
           COUNT(*) OVER (PARTITION BY user_id) AS n,
           SUM(CAST(CAST(CASE WHEN isfinite(value) THEN value END AS DECIMAL(18,4)) * 10000 AS BIGINT))
             OVER (PARTITION BY user_id) AS tot
    FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
), cand AS (
    SELECT user_id, ts_s, k, n,
           abs(CAST(n AS HUGEINT) * CAST(p AS HUGEINT)
               - CAST(k AS HUGEINT) * CAST(tot AS HUGEINT)) AS dev
    FROM tot WHERE k < n
), best AS (
    SELECT user_id, ts_s, k, n, dev,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY dev DESC, k ASC) AS rk
    FROM cand
)
SELECT user_id,
       CAST(n AS BIGINT) AS n_obs,
       CAST(k AS BIGINT) AS cp_index,
       ts_s AS cp_ts,
       floor(CAST(dev AS DOUBLE) / CAST(n * 10000 AS DOUBLE)
             * 1000000.0) / 1000000.0 AS cusum_peak
FROM best WHERE rk = 1
"""


# ----------------------------------------------------------------- ml_spearman


def ml_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation per nation between a customer's
    account balance and their total order spend — does standing wealth
    predict purchasing, monotonically? The rank-based complement of
    agg_corr's Pearson: computed entirely on integer ranks, so one
    whale customer cannot dominate the product-moment sums.

    Determinism: both rankings use a deterministic TOTAL order
    (measure, then c_custkey — the ml_ndcg precedent), so ranks are
    exact integers, Σd² is an exact BIGINT, and ρ = 1 − 6Σd²/(n(n²−1))
    is one integer division plus one subtraction — bit-identical
    cross-engine. Null balances are filtered up front (Spark ASC is
    NULLS FIRST, DuckDB's is NULLS LAST — filtering beats remembering);
    customers with no orders count as spend 0 exactly (decimal
    coalesce). Nations with < 2 ranked customers yield NULL ρ.

    Scale: the orders fact collapses to per-customer spend in one
    map-side-combinable shuffle, joins the customer dim on the grain
    key, and both rank windows share ONE nation exchange. n³ stays in
    BIGINT through ~2·10⁶ customers per nation; the decimal-widening
    lever applies beyond."""
    cust = t(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    ).filter(F.col("c_acctbal").isNotNull())
    spend = (
        t(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(F.sum(dec("o_totalprice")).alias("spend"))
    )
    nat = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    joined = (
        cust.join(spend, "c_custkey", "left")
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .select(
            "c_custkey",
            F.col("n_name").alias("nation"),
            "c_acctbal",
            F.coalesce(F.col("spend"), F.lit(0).cast("decimal(18,4)"))
            .alias("spend"),
        )
    )
    wb = Window.partitionBy("nation").orderBy(
        F.col("c_acctbal").asc(), F.col("c_custkey").asc()
    )
    ws = Window.partitionBy("nation").orderBy(
        F.col("spend").asc(), F.col("c_custkey").asc()
    )
    ranked = joined.select(
        "nation",
        (F.row_number().over(wb) - F.row_number().over(ws)).alias("d"),
    )
    per = ranked.groupBy("nation").agg(
        F.count(F.lit(1)).alias("n_cust"),
        F.sum(F.col("d") * F.col("d")).alias("sum_d2"),
    )
    n = F.col("n_cust")
    rho = F.lit(1.0) - (
        (6 * F.col("sum_d2")).cast("double")
        / (n * (n * n - 1)).cast("double")
    )
    return per.select(
        "nation",
        n.cast("long").alias("n_cust"),
        F.col("sum_d2").cast("long").alias("sum_d2"),
        F.when(n >= 2, fquant(rho, 6)).alias("spearman_rho"),
    )


ML_SPEARMAN_SQL = """
WITH spend AS (
    SELECT o_custkey AS c_custkey,
           SUM(CAST(CASE WHEN isfinite(o_totalprice) THEN o_totalprice END AS DECIMAL(18,4))) AS spend
    FROM orders GROUP BY 1
), joined AS (
    SELECT c.c_custkey, n.n_name AS nation, c.c_acctbal,
           COALESCE(s.spend, CAST(0 AS DECIMAL(18,4))) AS spend
    FROM customer c
    LEFT JOIN spend s ON c.c_custkey = s.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE c.c_acctbal IS NOT NULL
), ranked AS (
    SELECT nation,
           ROW_NUMBER() OVER (PARTITION BY nation
                              ORDER BY c_acctbal ASC, c_custkey ASC)
           - ROW_NUMBER() OVER (PARTITION BY nation
                                ORDER BY spend ASC, c_custkey ASC) AS d
    FROM joined
), per AS (
    SELECT nation, COUNT(*) AS n_cust, SUM(d * d) AS sum_d2
    FROM ranked GROUP BY 1
)
SELECT nation,
       CAST(n_cust AS BIGINT) AS n_cust,
       CAST(sum_d2 AS BIGINT) AS sum_d2,
       CASE WHEN n_cust >= 2 THEN
         floor((1.0 - CAST(6 * sum_d2 AS DOUBLE)
                      / CAST(n_cust * (n_cust * n_cust - 1) AS DOUBLE))
               * 1000000.0) / 1000000.0 END AS spearman_rho
FROM per
"""


# --------------------------------------------------------- graph_resource_alloc

#: Fixed-point scale for the 1/degree terms: each shared part
#: contributes floor(10^12 / deg) as an exact BIGINT, so the
#: order-independent SUM never touches a float (the pagerank
#: integer-quantization pattern applied to link prediction).
RA_SCALE = 1_000_000_000_000

#: Candidates kept per source node. Link prediction is a candidate
#: GENERATOR — emitting every scoring pair is O(V²) output on a dense
#: co-neighborhood graph (measured: all 499,500 supplier pairs score at
#: sf0.1). The top-K contract bounds the sink to K·V rows, which is
#: what a recommender actually consumes. Explicit cap, not a silent one.
RA_TOP_K = 10


def graph_resource_alloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resource-allocation link-prediction index on the supply
    bipartite graph: for each supplier pair sharing ≥ 1 part,
    RA(a,b) = Σ_{p ∈ Γ(a)∩Γ(b)} 1/deg(p) — graph_jaccard's
    shared-neighbor pairs, but each shared part down-weighted by its
    supplier fan-out, so ubiquitous hub parts stop dominating the
    score (why RA beats common-neighbor counting as a link predictor).
    SEVENTH consumer of the session-materialized edge relations. Emits
    the top-``RA_TOP_K`` candidates per source supplier — the
    candidate-generation contract (all-pairs output is O(V²) on a
    dense co-neighborhood graph and feeds nothing downstream).

    Determinism: each term is floor(10¹²/deg) — ONE IEEE division of
    exact integers, floored — summed as exact BIGINTs
    (order-independent), then rendered by one final division; the
    top-K rank orders by the exact integer score with supp_b as the
    total-order tiebreak.

    Scale: part degrees are a part-sized relation broadcast onto the
    edge stream BEFORE the pair join, so the per-part self-join (cost
    Σ deg(p)², the graph_jaccard bound — hot parts get the ngram-dedup
    frequency-stop lever) carries its weights with it and the pair
    aggregate is one map-side-combinable shuffle. Nothing rescans the
    fact table: the edges are the shared checkpoint."""
    from ._util import supplier_part_edges

    edges = supplier_part_edges(spark, sf_dir)
    pdeg = edges.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("pdeg")
    )
    term = F.floor(
        F.lit(float(RA_SCALE)) / F.col("pdeg").cast("double")
    ).cast("long")
    weighted = edges.join(F.broadcast(pdeg), "l_partkey").select(
        "l_partkey",
        F.col("l_suppkey").alias("supp_a"),
        term.alias("term"),
    )
    pairs = (
        weighted.join(
            edges.select(
                F.col("l_partkey").alias("l_partkey"),
                F.col("l_suppkey").alias("supp_b"),
            ),
            "l_partkey",
        )
        .filter(F.col("supp_a") < F.col("supp_b"))
        .groupBy("supp_a", "supp_b")
        .agg(
            F.count(F.lit(1)).alias("common_parts"),
            F.sum("term").alias("ra_scaled"),
        )
    )
    wtop = Window.partitionBy("supp_a").orderBy(
        F.col("ra_scaled").desc(), F.col("supp_b").asc()
    )
    return (
        pairs.select(
            "supp_a", "supp_b", "common_parts", "ra_scaled",
            F.row_number().over(wtop).alias("rk"),
        )
        .filter(F.col("rk") <= RA_TOP_K)
        .select(
            "supp_a",
            "supp_b",
            F.col("rk").cast("int").alias("rk"),
            F.col("common_parts").cast("long").alias("common_parts"),
            F.col("ra_scaled").cast("long").alias("ra_scaled"),
            fquant(
                F.col("ra_scaled").cast("double") / float(RA_SCALE), 9
            ).alias("ra_index"),
        )
    )


GRAPH_RESOURCE_ALLOC_SQL = f"""
WITH edges AS MATERIALIZED (
    SELECT DISTINCT l_suppkey, l_partkey FROM lineitem
), pdeg AS (
    SELECT l_partkey,
           CAST(floor({float(RA_SCALE)} / CAST(COUNT(*) AS DOUBLE))
                AS BIGINT) AS term
    FROM edges GROUP BY 1
), pairs AS (
    SELECT a.l_suppkey AS supp_a, b.l_suppkey AS supp_b,
           COUNT(*) AS common_parts,
           SUM(d.term) AS ra_scaled
    FROM edges a
    JOIN edges b ON a.l_partkey = b.l_partkey
    JOIN pdeg d ON d.l_partkey = a.l_partkey
    WHERE a.l_suppkey < b.l_suppkey
    GROUP BY 1, 2
), topk AS (
    SELECT supp_a, supp_b, common_parts, ra_scaled,
           ROW_NUMBER() OVER (PARTITION BY supp_a
                              ORDER BY ra_scaled DESC, supp_b ASC) AS rk
    FROM pairs
)
SELECT supp_a, supp_b,
       CAST(rk AS INT) AS rk,
       CAST(common_parts AS BIGINT) AS common_parts,
       CAST(ra_scaled AS BIGINT) AS ra_scaled,
       floor(CAST(ra_scaled AS DOUBLE) / {float(RA_SCALE)}
             * 1000000000.0) / 1000000000.0 AS ra_index
FROM topk WHERE rk <= {RA_TOP_K}
"""


# ----------------------------------------------------------- ml_best_threshold

POS_LABEL = "purchase"

#: Fixed-point scale for the exact F1 argmax: f1_scaled =
#: (2TP·10¹²) DIV (2TP+FP+FN) is an exact integer on both engines
#: (both divisions floor on non-negative operands), so the winning
#: threshold is selected without a float ever entering the ORDER BY.
#: 2TP·10¹² stays in BIGINT through ~4.6M positives; the decimal
#: widening lever applies beyond.
F1_SCALE = 1_000_000_000_000


def ml_best_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The F1-optimal operating point of ``value`` as a purchase
    score: ml_confusion publishes the whole threshold sweep, this key
    PICKS the deployment threshold — argmax over thresholds of
    F1 = 2TP/(2TP+FP+FN), with the comparison done on the exact scaled
    integer (2TP·10¹²) DIV (2TP+FP+FN), ties broken toward the lower
    threshold (recall-favoring, deterministic).

    Scale: identical shape to ml_confusion — one map-side-combinable
    collapse onto integer score buckets (hundreds of rows), cumulative
    windows on the bucket relation, then a 1-row argmax; the global
    windows run on the bucket relation, never the corpus."""
    ev = t(spark, sf_dir, "events").filter(
        # finite values only: non-finite scores have no bucket/label
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
        F.count(F.lit(1)).alias("n"),
        F.sum("is_pos").alias("pos"),
    )
    above = Window.orderBy(F.desc("thr")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    full = Window.orderBy(F.desc("thr")).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    tp = F.sum("pos").over(above)
    fp = F.sum("n").over(above) - tp
    pos_tot = F.sum("pos").over(full)
    neg_tot = F.sum("n").over(full) - pos_tot
    fn = pos_tot - tp
    tn = neg_tot - fp
    staged = per.select(
        F.col("thr").alias("threshold"),
        tp.cast("long").alias("tp"),
        fp.cast("long").alias("fp"),
        fn.cast("long").alias("fn"),
        tn.cast("long").alias("tn"),
    )
    den = 2 * F.col("tp") + F.col("fp") + F.col("fn")
    f1_scaled = F.when(
        den > 0,
        F.expr(f"(2 * tp * {F1_SCALE}) DIV (2 * tp + fp + fn)"),
    ).otherwise(F.lit(-1))
    wbest = Window.orderBy(
        F.col("f1_scaled").desc(), F.col("threshold").asc()
    )
    best = staged.select(
        "threshold", "tp", "fp", "fn", "tn",
        f1_scaled.alias("f1_scaled"),
    ).select(
        "*", F.row_number().over(wbest).alias("rk")
    ).filter((F.col("rk") == 1) & (F.col("f1_scaled") >= 0))
    prec = F.when(
        (F.col("tp") + F.col("fp")) > 0,
        fquant(
            F.col("tp").cast("double")
            / (F.col("tp") + F.col("fp")).cast("double"),
            6,
        ),
    )
    rec = F.when(
        (F.col("tp") + F.col("fn")) > 0,
        fquant(
            F.col("tp").cast("double")
            / (F.col("tp") + F.col("fn")).cast("double"),
            6,
        ),
    )
    return best.select(
        "threshold", "tp", "fp", "fn", "tn",
        prec.alias("precision_"),
        rec.alias("recall_"),
        fquant(
            (2 * F.col("tp")).cast("double")
            / (2 * F.col("tp") + F.col("fp") + F.col("fn"))
            .cast("double"),
            6,
        ).alias("f1"),
    )


ML_BEST_THRESHOLD_SQL = f"""
WITH per AS (
    SELECT CAST(floor(value) AS BIGINT) AS thr,
           COUNT(*) AS n,
           SUM(CASE WHEN event_type = '{POS_LABEL}' THEN 1 ELSE 0 END)
             AS pos
    FROM events WHERE value IS NOT NULL AND isfinite(value)
    GROUP BY 1
), cum AS (
    SELECT thr AS threshold,
           SUM(pos) OVER (ORDER BY thr DESC ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW) AS tp,
           SUM(n) OVER (ORDER BY thr DESC ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW)
             - SUM(pos) OVER (ORDER BY thr DESC ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW) AS fp,
           SUM(pos) OVER () - SUM(pos) OVER (ORDER BY thr DESC ROWS
               BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fn,
           SUM(n) OVER () - SUM(pos) OVER ()
             - (SUM(n) OVER (ORDER BY thr DESC ROWS BETWEEN UNBOUNDED
                 PRECEDING AND CURRENT ROW)
                - SUM(pos) OVER (ORDER BY thr DESC ROWS BETWEEN
                    UNBOUNDED PRECEDING AND CURRENT ROW)) AS tn
    FROM per
), scored AS (
    SELECT threshold, tp, fp, fn, tn,
           CASE WHEN 2 * tp + fp + fn > 0 THEN
             (2 * tp * {F1_SCALE}) // (2 * tp + fp + fn)
           ELSE -1 END AS f1_scaled
    FROM cum
), best AS (
    SELECT threshold, tp, fp, fn, tn, f1_scaled,
           ROW_NUMBER() OVER (ORDER BY f1_scaled DESC, threshold ASC)
             AS rk
    FROM scored
)
SELECT CAST(threshold AS BIGINT) AS threshold,
       CAST(tp AS BIGINT) AS tp,
       CAST(fp AS BIGINT) AS fp,
       CAST(fn AS BIGINT) AS fn,
       CAST(tn AS BIGINT) AS tn,
       CASE WHEN tp + fp > 0 THEN
         floor(CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE)
               * 1000000.0) / 1000000.0 END AS precision_,
       CASE WHEN tp + fn > 0 THEN
         floor(CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE)
               * 1000000.0) / 1000000.0 END AS recall_,
       floor(CAST(2 * tp AS DOUBLE)
             / CAST(2 * tp + fp + fn AS DOUBLE)
             * 1000000.0) / 1000000.0 AS f1
FROM best WHERE rk = 1 AND f1_scaled >= 0
"""


QUERIES: dict[str, Query] = {
    "ts_changepoint": Query(
        ts_changepoint, TS_CHANGEPOINT_SQL,
        "CUSUM-argmax changepoint location per user (exact integers)",
    ),
    "ml_spearman": Query(
        ml_spearman, ML_SPEARMAN_SQL,
        "Spearman rank correlation per nation (integer ranks)",
    ),
    "graph_resource_alloc": Query(
        graph_resource_alloc, GRAPH_RESOURCE_ALLOC_SQL,
        "resource-allocation link prediction on the supply graph",
        build="compute",
    ),
    "ml_best_threshold": Query(
        ml_best_threshold, ML_BEST_THRESHOLD_SQL,
        "F1-optimal operating point via exact scaled-integer argmax",
    ),
}
