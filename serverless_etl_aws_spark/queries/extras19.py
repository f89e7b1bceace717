"""Round-7 tenth wave: model-eval + integrity analytics over the engine
tables — threshold-sweep confusion matrices, score calibration, a
chi-square independence audit, Mann-Kendall trend detection,
referential-integrity auditing, and connected components over the trade
graph.

These complete the eval/audit families started in earlier waves:
``ml_confusion``/``ml_calibration`` are the operating-point and
reliability companions to ``ml_auc`` (extras18 — AUC is
threshold-free; deployment needs a threshold and honest probabilities),
``ml_chi2`` is the categorical-drift test next to ``dq_benford``'s
digit audit, ``ts_trend_mk`` is the nonparametric trend sibling of
``ts_cusum``'s changepoint detection (no distributional assumptions, no
transcendentals), ``dq_referential`` is the cross-table audit
``dq_expectations`` (single-table) deliberately left out, and
``graph_components`` promotes the dedup-clustering operator
(operators/graph.py::connected_components, used inside
``llm_dedup_cluster``) to a first-class graph key with its own oracle.

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

# ------------------------------------------------------------ ml_confusion

#: The positive class for the binary eval keys (same label model as
#: ml_auc's one-vs-rest pivot, restricted to the business-relevant
#: class).
POS_LABEL = "purchase"


def ml_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-sweep confusion matrices for ``value`` as a score
    predicting ``event_type = 'purchase'``: one row per integer
    threshold b (predict positive when value ≥ b), with TP/FP/FN/TN and
    precision/recall/F1. This is the operating-point table a deployed
    filter is tuned from — AUC (ml_auc) ranks the model, this picks the
    threshold.

    Scale: one map-side-combinable groupBy onto integer score buckets
    (≤ max(value) rows — hundreds, not corpus-sized), then
    cumulative-from-top window sums over the BUCKET relation give every
    threshold's TP/FP simultaneously; totals ride the same window
    frame. All counts are exact integers; each derived metric is ONE
    double division of integer operands (bit-identical cross-engine),
    NULL-guarded for degenerate thresholds (no positives in data ⇒
    recall NULL — same guard discipline as ml_auc after ADVICE r6)."""
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
    prec = F.when(
        (tp + fp) > 0, fquant(tp.cast("double") / (tp + fp).cast("double"), 6)
    )
    rec = F.when(
        pos_tot > 0, fquant(tp.cast("double") / pos_tot.cast("double"), 6)
    )
    f1 = F.when(
        (2 * tp + fp + fn) > 0,
        fquant(
            (2 * tp).cast("double") / (2 * tp + fp + fn).cast("double"), 6
        ),
    )
    return per.select(
        F.col("thr").alias("threshold"),
        tp.cast("long").alias("tp"),
        fp.cast("long").alias("fp"),
        fn.cast("long").alias("fn"),
        tn.cast("long").alias("tn"),
        prec.alias("precision_"),
        rec.alias("recall_"),
        f1.alias("f1"),
    )


ML_CONFUSION_SQL = f"""
WITH per AS (
    SELECT CAST(floor(value) AS BIGINT) AS thr,
           COUNT(*) AS n,
           SUM(CASE WHEN event_type = '{POS_LABEL}' THEN 1 ELSE 0 END) AS pos
    FROM events WHERE value IS NOT NULL AND isfinite(value)
    GROUP BY 1
), cum AS (
    SELECT thr,
           SUM(pos) OVER (ORDER BY thr DESC ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW) AS tp,
           SUM(n) OVER (ORDER BY thr DESC ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW)
             - SUM(pos) OVER (ORDER BY thr DESC ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW) AS fp,
           SUM(pos) OVER () AS pos_tot,
           SUM(n) OVER () - SUM(pos) OVER () AS neg_tot
    FROM per
)
SELECT thr AS threshold,
       CAST(tp AS BIGINT) AS tp,
       CAST(fp AS BIGINT) AS fp,
       CAST(pos_tot - tp AS BIGINT) AS fn,
       CAST(neg_tot - fp AS BIGINT) AS tn,
       CASE WHEN tp + fp > 0 THEN
         floor(CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE)
               * 1000000.0) / 1000000.0 END AS precision_,
       CASE WHEN pos_tot > 0 THEN
         floor(CAST(tp AS DOUBLE) / CAST(pos_tot AS DOUBLE)
               * 1000000.0) / 1000000.0 END AS recall_,
       CASE WHEN 2 * tp + fp + (pos_tot - tp) > 0 THEN
         floor(CAST(2 * tp AS DOUBLE)
               / CAST(2 * tp + fp + (pos_tot - tp) AS DOUBLE)
               * 1000000.0) / 1000000.0 END AS f1
FROM cum
"""


# ---------------------------------------------------------- ml_calibration

#: Calibration bin width on the score axis (value spans ~0..600 in the
#: fixtures ⇒ ~a dozen bins; the bin count, not the corpus, bounds the
#: windowed relation).
CALIB_BIN = 50


def ml_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score-calibration (reliability) table: bucket ``value`` into
    fixed-width bins and compare each bin's empirical positive rate to
    the global base rate — the honesty check behind any thresholded use
    of a score (a score can rank well — high AUC — and still be badly
    calibrated). Output per bin: n, positives, decimal-exact mean score,
    positive rate, global base rate, and lift (bin rate / base rate).

    Scale: one map-side-combinable groupBy onto ≤ max(value)/CALIB_BIN
    bins; the base rate is a window over the BIN relation (integer sums
    — exact, order-insensitive), never a second corpus scan. Mean score
    follows the decimal discipline (_util.davg form); each rate/lift is
    one double division of exact operands, floor-quantized."""
    ev = t(spark, sf_dir, "events").filter(
        # finite values only: non-finite scores have no bucket/label
        # (Spark's ANSI floor silently fabricates bucket 0 from NaN)
        F.col("value").isNotNull()
        & ~F.isnan("value")
        & (F.abs("value") != float("inf"))
    )
    binned = ev.select(
        (F.floor(F.col("value") / CALIB_BIN) * CALIB_BIN)
        .cast("long")
        .alias("bin_lo"),
        (F.col("event_type") == POS_LABEL).cast("long").alias("is_pos"),
        "value",
    )
    per = binned.groupBy("bin_lo").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("is_pos").alias("pos"),
        F.sum(dec("value")).alias("sv"),
    )
    w = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    base = (
        F.sum("pos").over(w).cast("double")
        / F.sum("n").over(w).cast("double")
    )
    rate = F.col("pos").cast("double") / F.col("n").cast("double")
    return per.select(
        "bin_lo",
        F.col("n").cast("long").alias("n"),
        F.col("pos").cast("long").alias("pos"),
        fquant(F.col("sv").cast("double") / F.col("n"), 4).alias(
            "mean_score"
        ),
        fquant(rate, 6).alias("pos_rate"),
        fquant(base, 6).alias("base_rate"),
        F.when(F.sum("pos").over(w) > 0, fquant(rate / base, 6)).alias(
            "lift"
        ),
    )


ML_CALIBRATION_SQL = f"""
WITH per AS (
    SELECT CAST(floor(value / {CALIB_BIN}) * {CALIB_BIN} AS BIGINT)
             AS bin_lo,
           COUNT(*) AS n,
           SUM(CASE WHEN event_type = '{POS_LABEL}' THEN 1 ELSE 0 END)
             AS pos,
           SUM(CAST(CASE WHEN isfinite(value) THEN value END AS DECIMAL(18,4))) AS sv
    FROM events WHERE value IS NOT NULL AND isfinite(value)
    GROUP BY 1
)
SELECT bin_lo,
       CAST(n AS BIGINT) AS n,
       CAST(pos AS BIGINT) AS pos,
       floor(CAST(sv AS DOUBLE) / n * 10000.0) / 10000.0 AS mean_score,
       floor(CAST(pos AS DOUBLE) / CAST(n AS DOUBLE)
             * 1000000.0) / 1000000.0 AS pos_rate,
       floor(CAST(SUM(pos) OVER () AS DOUBLE)
             / CAST(SUM(n) OVER () AS DOUBLE)
             * 1000000.0) / 1000000.0 AS base_rate,
       CASE WHEN SUM(pos) OVER () > 0 THEN
         floor(CAST(pos AS DOUBLE) / CAST(n AS DOUBLE)
               / (CAST(SUM(pos) OVER () AS DOUBLE)
                  / CAST(SUM(n) OVER () AS DOUBLE))
               * 1000000.0) / 1000000.0 END AS lift
FROM per
"""


# --------------------------------------------------------------- ml_chi2


def ml_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence statistic of event_type × ISO weekday —
    the categorical-drift audit (is the event mix stable across the
    week, or did a weekday's traffic change composition?). Output per
    event type: its row count, its χ² contribution summed over the 7
    weekday cells, and the per-type dof (7−1).

    Determinism: observed counts and row/col totals are exact integers
    (windows over the ≤35-row contingency relation); each cell's
    E = O_row·O_col/N and (O−E)²/E are the IDENTICAL double expression
    tree on both engines (bit-equal), and the per-type sum of cells is
    made order-insensitive by quantizing each cell to an integer first
    (floor(cell·1e9) as BIGINT — the pagerank trick) before summing.
    Products rt·ct stay exact in double until ~9.5e7 rows (2^53 over the
    5×7 grid); past that, widen to decimal.

    Scale: one map-side-combinable 35-group count; everything after
    runs on the contingency relation."""
    ev = t(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type",
        (F.weekday("ts") + 1).cast("int").alias("isodow"),
    ).agg(F.count(F.lit(1)).alias("o"))
    w_row = Window.partitionBy("event_type")
    w_col = Window.partitionBy("isodow")
    w_all = Window.partitionBy()
    e = (
        F.col("rt").cast("double")
        * F.col("ct").cast("double")
        / F.col("nn").cast("double")
    )
    cell = (F.col("o").cast("double") - e) * (
        F.col("o").cast("double") - e
    ) / e
    withq = cells.select(
        "event_type",
        "o",
        F.sum("o").over(w_row).alias("rt"),
        F.sum("o").over(w_col).alias("ct"),
        F.sum("o").over(w_all).alias("nn"),
    ).select(
        "event_type",
        "o",
        "rt",
        F.floor(cell * F.lit(1e9)).cast("long").alias("q9"),
    )
    return withq.groupBy("event_type").agg(
        F.max("rt").cast("long").alias("n_rows"),
        fquant(F.sum("q9").cast("double") / F.lit(1e9), 6).alias(
            "chi2_part"
        ),
        F.lit(6).cast("int").alias("dof"),
    )


ML_CHI2_SQL = """
WITH cells AS (
    SELECT event_type,
           CAST(isodow(ts) AS INT) AS isodow,
           COUNT(*) AS o
    FROM events GROUP BY 1, 2
), tot AS (
    SELECT event_type, o,
           SUM(o) OVER (PARTITION BY event_type) AS rt,
           SUM(o) OVER (PARTITION BY isodow) AS ct,
           SUM(o) OVER () AS nn
    FROM cells
), q AS (
    SELECT event_type, rt,
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
)
SELECT event_type,
       CAST(MAX(rt) AS BIGINT) AS n_rows,
       floor(CAST(SUM(q9) AS DOUBLE) / 1e9 * 1000000.0) / 1000000.0
         AS chi2_part,
       CAST(6 AS INT) AS dof
FROM q GROUP BY event_type
"""


# ------------------------------------------------------------- ts_trend_mk


def ts_trend_mk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test per event type over the daily-count
    series — the nonparametric "is this metric drifting?" monitor
    (ts_cusum finds WHERE a shift happened; MK says WHETHER a monotone
    trend exists, with no distributional assumption and, here, no
    transcendental at all). Output per type: n_days, the exact integer
    S statistic (Σ sign(c_j − c_i) over day pairs i<j), 18·Var(S) with
    the standard tie correction (kept as an exact integer — callers
    divide by 18 and sqrt at the edge), and the trend direction.

    Scale: the corpus collapses to the (type, day, count) relation
    FIRST (one map-side-combinable shuffle; ~#types·#days rows) and is
    lazily materialized — THREE consumers (both pair-join sides and the
    tie histogram) would otherwise each duplicate the corpus scan
    subtree (measured 3× FileScan; the ml_naive_bayes lesson). The
    O(days²) pair join then runs per type on that tiny relation — at
    any corpus size the pair count is days², never rows². Everything is
    integer arithmetic: bit-exact cross-engine by construction."""
    ev = t(spark, sf_dir, "events")
    daily = (
        ev.groupBy("event_type", F.to_date("ts").alias("dd"))
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    a, b = daily.alias("a"), daily.alias("b")
    s = (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.dd") < F.col("b.dd")),
        )
        .groupBy(F.col("a.event_type").alias("event_type"))
        .agg(
            F.sum(
                F.signum(
                    (F.col("b.c") - F.col("a.c")).cast("double")
                ).cast("long")
            ).alias("s_stat")
        )
    )
    # tie correction: groups of equal counts within a type
    ties = (
        daily.groupBy("event_type", "c")
        .agg(F.count(F.lit(1)).alias("tt"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_levels"),
            F.sum(
                F.col("tt") * (F.col("tt") - 1) * (2 * F.col("tt") + 5)
            ).alias("tie_term"),
            F.sum("tt").alias("n_days"),
        )
    )
    nd = F.col("n_days")
    var18 = nd * (nd - 1) * (2 * nd + 5) - F.col("tie_term")
    # LEFT join from the tie histogram (which carries every type): a
    # single-day series has NO day pairs, so the S relation omits it —
    # an inner join would silently drop the type instead of reporting
    # the honest degenerate answer (S=0, Var=0, no_trend). Found by the
    # brute-force property sweep (tests/test_stats_property.py).
    s0 = F.coalesce(F.col("s_stat"), F.lit(0))
    return (
        ties.join(s, "event_type", "left")
        .select(
            "event_type",
            nd.cast("long").alias("n_days"),
            s0.cast("long").alias("s_stat"),
            var18.cast("long").alias("var18"),
            F.when(s0 > 0, F.lit("increasing"))
            .when(s0 < 0, F.lit("decreasing"))
            .otherwise(F.lit("no_trend"))
            .alias("trend"),
        )
    )


TS_TREND_MK_SQL = """
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS dd, COUNT(*) AS c
    FROM events GROUP BY 1, 2
), s AS (
    SELECT a.event_type,
           SUM(CAST(sign(CAST(b.c - a.c AS DOUBLE)) AS BIGINT)) AS s_stat
    FROM daily a
    JOIN daily b ON a.event_type = b.event_type AND a.dd < b.dd
    GROUP BY 1
), ties AS (
    SELECT event_type,
           SUM(tt * (tt - 1) * (2 * tt + 5)) AS tie_term,
           SUM(tt) AS n_days
    FROM (
        SELECT event_type, c, COUNT(*) AS tt
        FROM daily GROUP BY 1, 2
    ) GROUP BY 1
)
SELECT ties.event_type,
       CAST(n_days AS BIGINT) AS n_days,
       CAST(COALESCE(s_stat, 0) AS BIGINT) AS s_stat,
       CAST(n_days * (n_days - 1) * (2 * n_days + 5) - tie_term
            AS BIGINT) AS var18,
       CASE WHEN COALESCE(s_stat, 0) > 0 THEN 'increasing'
            WHEN COALESCE(s_stat, 0) < 0 THEN 'decreasing'
            ELSE 'no_trend' END AS trend
FROM ties LEFT JOIN s USING (event_type)
"""


# ---------------------------------------------------------- dq_referential

#: (edge label, child table, fk column, parent table, pk column). The
#: first three edges are the schema's real FK contracts (expected
#: orphan-free); the last audits events.user_id against the customer
#: key space, where orphans are EXPECTED (users ≠ customers) — a
#: non-degenerate row that keeps the key's output informative.
_FK_EDGES = (
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey",
     "orders", "o_orderkey"),
    ("orders.o_custkey->customer", "orders", "o_custkey",
     "customer", "c_custkey"),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey",
     "supplier", "s_suppkey"),
    ("events.user_id->customer", "events", "user_id",
     "customer", "c_custkey"),
)


def dq_referential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table referential-integrity audit: for each declared FK
    edge, the child row count, the number of DISTINCT orphan key values
    and the number of orphan ROWS (child rows whose FK has no parent).
    This is the between-tables companion to ``dq_expectations``
    (within-table) and ``dq_profile`` (per-column) — the audit every
    warehouse load gate runs before publishing.

    Scale: per edge, the child collapses to a (key, row-count) relation
    first (one map-side-combinable shuffle — key-sized, not row-sized),
    then LEFT-joins the parent's distinct key relation; orphan sums are
    conditional aggregates over the joined key relation. The parent key
    side is dimension-sized (broadcast-eligible); nothing row-sized
    crosses a second shuffle. Four edges union into a 4-row result."""
    parts = []
    for label, child, fk, parent, pk in _FK_EDGES:
        ck = (
            t(spark, sf_dir, child)
            .filter(F.col(fk).isNotNull())
            .groupBy(F.col(fk).alias("k"))
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        pkeys = (
            t(spark, sf_dir, parent)
            .select(F.col(pk).alias("pk"))
            .distinct()
        )
        joined = ck.join(
            F.broadcast(pkeys), ck.k == pkeys.pk, "left"
        )
        orphan = F.col("pk").isNull()
        parts.append(
            joined.agg(
                F.lit(label).alias("fk_edge"),
                F.sum("cnt").cast("long").alias("n_child_rows"),
                F.coalesce(
                    F.count(F.when(orphan, 1)), F.lit(0)
                ).cast("long").alias("n_orphan_keys"),
                F.coalesce(
                    F.sum(F.when(orphan, F.col("cnt"))), F.lit(0)
                ).cast("long").alias("n_orphan_rows"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _referential_sql() -> str:
    branches = []
    for label, child, fk, parent, pk in _FK_EDGES:
        branches.append(f"""
SELECT '{label}' AS fk_edge,
       CAST(SUM(cnt) AS BIGINT) AS n_child_rows,
       CAST(COALESCE(COUNT(CASE WHEN pk IS NULL THEN 1 END), 0)
            AS BIGINT) AS n_orphan_keys,
       CAST(COALESCE(SUM(CASE WHEN pk IS NULL THEN cnt END), 0)
            AS BIGINT) AS n_orphan_rows
FROM (
    SELECT {fk} AS k, COUNT(*) AS cnt FROM {child}
    WHERE {fk} IS NOT NULL GROUP BY 1
) c LEFT JOIN (
    SELECT DISTINCT {pk} AS pk FROM {parent}
) p ON c.k = p.pk""")
    return "\nUNION ALL\n".join(branches)


DQ_REFERENTIAL_SQL = _referential_sql()


# -------------------------------------------------------- graph_components

#: Keep a trade edge when its pair count reaches this fraction of the
#: maximum pair count (×2 to stay in integers: kept iff 2·cnt ≥ max).
#: Filtering fragments the dense trade graph so the component structure
#: is non-trivial at every scale factor.


def graph_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the strong-trade nation graph: nations
    are linked when their (customer-nation, supplier-nation) trade pair
    count reaches half the maximum pair count; every nation gets the
    smallest nation key reachable through such strong links (weakly
    traded nations come out as singletons). Promotes the dedup-cluster
    closure operator (operators/graph.py::connected_components — the
    same hash-to-min iteration behind ``llm_dedup_cluster``) to a
    first-class graph key with a transitive-closure oracle.

    Scale: the 100 TB fact table reduces to the weighted nation-pair
    edge list FIRST (one aggregation over the shared
    nation_trade_pairs reduction — dimensions broadcast); the max
    weight rides a window over the EDGE relation (no second scan), and
    the min-label iterations run on O(V+E) state with per-round
    materialization (honors the reliable-checkpoint opt-in). The
    oracle's recursive closure is exponential in edge count — fine for
    the 25-nation graph, which is exactly why the threshold operates on
    the nation-level reduction."""
    from ..operators.graph import connected_components
    from ._util import nation_trade_pairs

    nation = t(spark, sf_dir, "nation")
    pairs = (
        nation_trade_pairs(spark, sf_dir)
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .select(
            F.least("c_nationkey", "s_nationkey").alias("src"),
            F.greatest("c_nationkey", "s_nationkey").alias("dst"),
        )
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    kept = (
        pairs.withColumn("mx", F.max("cnt").over(w))
        .filter(2 * F.col("cnt") >= F.col("mx"))
        .select("src", "dst")
    )
    # a graph's node set is a SET: duplicate-pk nation rows (round-12
    # dupkey axis) must collapse to one node, or the min-label iteration
    # carries duplicate state and the name join below fans out 2x2
    nodes = nation.select(F.col("n_nationkey").alias("id")).distinct()
    comp = connected_components(nodes, kept)
    return (
        comp.join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            comp.id == F.col("n_nationkey"),
        )
        # per NAME, min component — the oracle's GROUP BY n_name
        # mirrored exactly, so a duplicated pk (same or perturbed name)
        # yields identical rows on both engines
        .groupBy("n_name")
        .agg(F.min("component").cast("long").alias("component"))
    )


GRAPH_COMPONENTS_SQL = """
WITH RECURSIVE pairs AS MATERIALIZED (
    SELECT least(c.c_nationkey, s.s_nationkey) AS src,
           greatest(c.c_nationkey, s.s_nationkey) AS dst,
           COUNT(*) AS cnt
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    WHERE c.c_nationkey <> s.s_nationkey
    GROUP BY 1, 2
), kept AS MATERIALIZED (
    SELECT src, dst FROM (
        SELECT src, dst, cnt, MAX(cnt) OVER () AS mx FROM pairs
    ) WHERE 2 * cnt >= mx
), sym AS MATERIALIZED (
    SELECT src, dst FROM kept UNION SELECT dst, src FROM kept
), walk(node, reach) AS (
    SELECT n_nationkey, n_nationkey FROM nation
    UNION
    SELECT w.node, s.dst FROM walk w JOIN sym s ON s.src = w.reach
)
SELECT n.n_name, CAST(MIN(w.reach) AS BIGINT) AS component
FROM walk w JOIN nation n ON n.n_nationkey = w.node
GROUP BY n.n_name
"""


QUERIES: dict[str, Query] = {
    "ml_confusion": Query(
        ml_confusion, ML_CONFUSION_SQL,
        "threshold-sweep confusion matrix + precision/recall/F1",
    ),
    "ml_calibration": Query(
        ml_calibration, ML_CALIBRATION_SQL,
        "score-calibration reliability table with base rate and lift",
    ),
    "ml_chi2": Query(
        ml_chi2, ML_CHI2_SQL,
        "chi-square independence audit of event_type x weekday",
    ),
    "ts_trend_mk": Query(
        ts_trend_mk, TS_TREND_MK_SQL,
        "Mann-Kendall trend statistic per event type (exact integers)",
        build="compute",
    ),
    "dq_referential": Query(
        dq_referential, DQ_REFERENTIAL_SQL,
        "cross-table referential-integrity orphan audit",
    ),
    "graph_components": Query(
        graph_components, GRAPH_COMPONENTS_SQL,
        "connected components of the strong-trade nation graph",
        build="compute",
    ),
}
