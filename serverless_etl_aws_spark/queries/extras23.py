"""Round-7 fourteenth wave: per-node clustering coefficients on the
shared part graph, a score-bucket lift/gains table, Holt linear
exponential smoothing, and a partition-freshness audit.

``graph_clustering_coeff`` is the FIFTH consumer of the session-shared
co-order adjacency and the classic local-density diagnostic; triangles
are enumerated once over a degree-oriented DAG (the compact-forward
formulation — wedge work is Σ d⁺(v)², the orientation that minimizes
it), never per-wedge-per-node. ``ml_lift`` extends the eval family with
the cumulative-gains table every targeting/curation campaign reads —
buckets play the ROC-histogram role so the corpus is collapsed before
any window runs. ``ts_holt`` adds the trend-aware smoother (level +
trend state) the flat-EWMA key cannot express, as one sequential
array-fold evaluated in identical order by both engines. ``dq_freshness``
is the staleness monitor per ingestion partition — the lag-behind-max
audit a 100 TB feed checks before publishing.

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

# --------------------------------------------------- graph_clustering_coeff


def graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per part node: C(v) = 2·T(v) /
    (d(v)·(d(v)−1)) on the co-order part graph — how close each node's
    neighborhood is to a clique, the density signal community detection
    and recommendation diversity checks start from.

    Triangles are counted ONCE via degree orientation: each undirected
    edge points from its (degree, key)-smaller endpoint to the larger,
    making the graph a DAG where every triangle x→y→z appears exactly
    once, anchored on its base edge (x, y) with z ∈ out(x) ∩ out(y).
    The intersection runs as an in-memory array_intersect per edge
    (the GraphFrames/array-adjacency pattern): per-node sorted
    out-neighbor arrays are node-sized and broadcast onto the edge
    relation, so NO wedge stream is ever materialized or shuffled — a
    wedge join would move Σ d⁺(v)² rows (~40M at sf0.1) through an
    exchange; this moves |E| rows through zero. Each triangle credits
    its three corners via one array_repeat+explode; everything stays
    integer until the single final division (exact → fquant 6).

    Scale: adjacency is the session-shared checkpoint (fifth consumer);
    out-lists are bounded by max degree. On a graph too large to
    broadcast the node relation, the same plan degrades to two
    equi-joins (AQE skew-splits hot nodes) — still never a wedge
    shuffle and never all-pairs."""
    from ..operators.graph import materialize
    from ._util import co_order_part_adj

    adj = co_order_part_adj(spark, sf_dir)
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).alias("d"))
    # degree orientation: keep (node, nbr) only when (d, key) ascends.
    # Materialized once — its two consumers (the out-list build and the
    # edge stream) would otherwise each replay the degree joins (the
    # duplicate-subtree class the graph family checkpoints against).
    oe = materialize(
        adj.join(F.broadcast(deg), "node")
        .withColumnRenamed("d", "da")
        .join(
            F.broadcast(
                deg.select(F.col("node").alias("nbr"), F.col("d").alias("db"))
            ),
            "nbr",
        )
        .filter(
            (F.col("da") < F.col("db"))
            | ((F.col("da") == F.col("db")) & (F.col("node") < F.col("nbr")))
        )
        .select(F.col("node").alias("a"), F.col("nbr").alias("b")),
        eager=False,
    )
    outl = oe.groupBy("a").agg(
        F.sort_array(F.collect_list("b")).alias("nbrs")
    )
    zs = F.array_intersect("nx", "ny")
    tri_e = (
        oe.join(
            F.broadcast(
                outl.select(F.col("a").alias("x2"), F.col("nbrs").alias("nx"))
            ),
            F.col("a") == F.col("x2"),
        )
        .join(
            F.broadcast(
                outl.select(F.col("a").alias("y2"), F.col("nbrs").alias("ny"))
            ),
            F.col("b") == F.col("y2"),
            "left",  # sinks have no out-list
        )
        .select(
            "a",
            "b",
            F.when(
                F.col("ny").isNotNull() & (F.size(zs) > 0), zs
            ).alias("zs"),
        )
        .filter(F.col("zs").isNotNull())
    )
    tcount = F.size("zs")
    corners = tri_e.select(
        F.explode(
            F.concat(
                F.array_repeat(F.col("a"), tcount),
                F.array_repeat(F.col("b"), tcount),
                F.col("zs"),
            )
        ).alias("node")
    )
    tcnt = corners.groupBy("node").agg(F.count(F.lit(1)).alias("tri"))
    t0 = F.coalesce(F.col("tri"), F.lit(0))
    d = F.col("d")
    return (
        deg.join(F.broadcast(tcnt), "node", "left")
        .select(
            "node",
            d.cast("long").alias("degree"),
            t0.cast("long").alias("n_triangles"),
            F.when(
                d >= 2,
                fquant(
                    (2 * t0).cast("double") / (d * (d - 1)).cast("double"),
                    6,
                ),
            ).alias("clustering"),
        )
    )


GRAPH_CLUSTERING_COEFF_SQL = """
WITH e0 AS MATERIALIZED (
    SELECT DISTINCT a.l_partkey AS node, b.l_partkey AS nbr
    FROM lineitem a
    JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
), deg AS MATERIALIZED (
    SELECT node, COUNT(*) AS d FROM e0 GROUP BY node
), oe AS MATERIALIZED (
    SELECT e0.node AS a, e0.nbr AS b
    FROM e0
    JOIN deg da ON da.node = e0.node
    JOIN deg db ON db.node = e0.nbr
    WHERE (da.d < db.d) OR (da.d = db.d AND e0.node < e0.nbr)
), tri AS MATERIALIZED (
    SELECT w1.a AS x, w1.b AS y, w2.b AS z
    FROM oe w1
    JOIN oe w2 ON w2.a = w1.b
    JOIN oe w3 ON w3.a = w1.a AND w3.b = w2.b
), tcnt AS (
    SELECT node, COUNT(*) AS tri FROM (
        SELECT x AS node FROM tri
        UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri
    ) GROUP BY node
)
SELECT deg.node,
       CAST(d AS BIGINT) AS degree,
       CAST(COALESCE(tri, 0) AS BIGINT) AS n_triangles,
       CASE WHEN d >= 2 THEN
         floor(CAST(2 * COALESCE(tri, 0) AS DOUBLE)
               / CAST(d * (d - 1) AS DOUBLE) * 1000000.0) / 1000000.0
       END AS clustering
FROM deg LEFT JOIN tcnt USING (node)
"""


# ----------------------------------------------------------------- ml_lift

LIFT_Q6 = 1000000.0


def ml_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative gains / lift table over integer score buckets, with
    purchases as the response: reading from the highest score bucket
    down, what fraction of all purchases has been captured
    (``capture``) and how much better than random is the targeted
    prefix (``lift`` = positive rate of the prefix over the base rate).
    The decision table every targeting campaign and curation-threshold
    choice reads; AUC summarizes the whole ordering, lift grades each
    cutoff.

    Buckets (floor of ``value``) play the ROC-histogram-bin role: the
    corpus collapses to ≤ max(value)+1 rows in ONE map-side-combinable
    shuffle and every cumulative window runs on that bounded relation.
    capture = cum_pos/total_pos and lift = (cum_pos·total_n)/
    (cum_n·total_pos) are single divisions of exact BIGINT products —
    nothing float until the last step (fquant 6); empty-class guard
    yields NULL when the corpus has no positives.

    Scale: one corpus scan, one bucket shuffle; windows on the bucket
    relation."""
    ev = t(spark, sf_dir, "events").filter(
        # finite values only: non-finite scores have no bucket/label
        # (Spark's ANSI floor silently fabricates bucket 0 from NaN)
        F.col("value").isNotNull()
        & ~F.isnan("value")
        & (F.abs("value") != float("inf"))
    )
    b = ev.groupBy(
        F.floor("value").cast("long").alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        # when/otherwise(0), not a boolean cast: a NULL event_type must
        # contribute 0 on BOTH engines even in a single-event bucket
        # (Spark SUM of all-NULL is NULL; the oracle's CASE sums 0)
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("npos"),
    )
    wcum = Window.orderBy(F.col("bucket").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum_n = F.sum("n").over(wcum)
    cum_pos = F.sum("npos").over(wcum)
    tot_n = F.sum("n").over(wall)
    tot_pos = F.sum("npos").over(wall)
    return b.select(
        "bucket",
        F.col("n").cast("long").alias("n"),
        F.col("npos").cast("long").alias("npos"),
        cum_n.cast("long").alias("cum_n"),
        cum_pos.cast("long").alias("cum_pos"),
        F.when(
            tot_pos > 0,
            fquant(cum_pos.cast("double") / tot_pos.cast("double"), 6),
        ).alias("capture"),
        F.when(
            tot_pos > 0,
            fquant(
                (cum_pos * tot_n).cast("double")
                / (cum_n * tot_pos).cast("double"),
                6,
            ),
        ).alias("lift"),
    )


ML_LIFT_SQL = """
WITH b AS (
    SELECT CAST(floor(value) AS BIGINT) AS bucket,
           COUNT(*) AS n,
           SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
             AS npos
    FROM events WHERE value IS NOT NULL AND isfinite(value)
    GROUP BY 1
), c AS (
    SELECT bucket, n, npos,
           SUM(n) OVER (ORDER BY bucket DESC
                        ROWS UNBOUNDED PRECEDING) AS cum_n,
           SUM(npos) OVER (ORDER BY bucket DESC
                           ROWS UNBOUNDED PRECEDING) AS cum_pos,
           SUM(n) OVER () AS tot_n,
           SUM(npos) OVER () AS tot_pos
    FROM b
)
SELECT bucket,
       CAST(n AS BIGINT) AS n,
       CAST(npos AS BIGINT) AS npos,
       CAST(cum_n AS BIGINT) AS cum_n,
       CAST(cum_pos AS BIGINT) AS cum_pos,
       CASE WHEN tot_pos > 0 THEN
         floor(CAST(cum_pos AS DOUBLE) / CAST(tot_pos AS DOUBLE)
               * 1000000.0) / 1000000.0 END AS capture,
       CASE WHEN tot_pos > 0 THEN
         floor(CAST(cum_pos * tot_n AS DOUBLE)
               / CAST(cum_n * tot_pos AS DOUBLE)
               * 1000000.0) / 1000000.0 END AS lift
FROM c
"""


# ----------------------------------------------------------------- ts_holt

#: Dyadic smoothing constants (exactly representable doubles).
HOLT_ALPHA = 0.5
HOLT_BETA = 0.25


def ts_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear (double) exponential smoothing per user: level AND
    trend state folded over the time-ordered value series, plus the
    one-step-ahead forecast — the trend-aware smoother ts_ewma's flat
    level cannot express (a steadily climbing series lags a plain EWMA
    forever; Holt's trend term closes the gap).

    Determinism: the recursion l' = α·x + (1−α)(l+b);
    b' = β(l'−l) + (1−β)·b is ONE sequential array-fold over the
    frame-ordered list, initialized at (l=x₁, b=0) and folded from x₂ —
    both engines evaluate the IDENTICAL expression tree in the
    IDENTICAL order on exactly-representable dyadic constants, so the
    doubles are bit-identical before the final floor-quantization.
    Users with fewer than 2 scored events yield NULLs (warm-up guard —
    a 1-point series has no defined trend).

    Scale: one window shuffle by user_id collapsing to a user-sized
    relation; per-user state is the bounded event list (the generator
    keeps events-per-user constant as the corpus grows — and a real
    deployment folds per partition-day). No Python, no joins."""
    # ts IS NOT NULL: no timestamp = no series position (round 9)
    ev = t(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("ts").isNotNull()
    )
    vals_w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    per = (
        ev.select(
            "user_id",
            F.collect_list(F.col("value")).over(
                vals_w.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ).alias("vals"),
            F.row_number().over(vals_w).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    a = F.lit(HOLT_ALPHA)
    ca = F.lit(1.0 - HOLT_ALPHA)  # exact: dyadic constants
    bt = F.lit(HOLT_BETA)
    cb = F.lit(1.0 - HOLT_BETA)
    # 2-element ARRAY accumulator [level, trend] on BOTH engines:
    # DuckDB 1.0's list_reduce mutates a STRUCT accumulator's fields
    # sequentially (field 2 sees field 1 already overwritten — verified
    # by probe), so the struct form silently computes a different
    # recursion there; list accumulators fold correctly on both.
    init = F.array(
        F.element_at("vals", 1).cast("double"), F.lit(0.0)
    )
    rest = F.slice(
        F.col("vals"), 2, F.greatest(F.size("vals") - 1, F.lit(0))
    )

    def _step(acc, x):
        lp, bp = F.element_at(acc, 1), F.element_at(acc, 2)
        lnew = a * x + ca * (lp + bp)
        return F.array(
            lnew,
            bt * ((a * x + ca * (lp + bp)) - lp) + cb * bp,
        )

    fold = F.aggregate(rest, init, _step)
    lv, tr = F.element_at(fold, 1), F.element_at(fold, 2)
    n = F.size("vals")
    return per.select(
        "user_id",
        n.cast("long").alias("n_points"),
        F.when(n >= 2, fquant(lv, 6)).alias("level"),
        F.when(n >= 2, fquant(tr, 6)).alias("trend"),
        F.when(n >= 2, fquant(lv + tr, 6)).alias("forecast_1"),
    )


TS_HOLT_SQL = f"""
WITH s AS (
    SELECT user_id,
           list(CAST(value AS DOUBLE)
                ORDER BY CAST(ts AS TIMESTAMP), event_id) AS vals
    FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
    GROUP BY user_id
), f AS (
    SELECT user_id, len(vals) AS n,
           list_reduce(
             list_prepend(
               [vals[1], CAST(0.0 AS DOUBLE)],
               list_transform(vals[2:],
                              x -> [x, CAST(0.0 AS DOUBLE)])
             ),
             (acc, e) -> [
               CAST({HOLT_ALPHA} AS DOUBLE) * e[1]
                 + CAST({1.0 - HOLT_ALPHA} AS DOUBLE)
                   * (acc[1] + acc[2]),
               CAST({HOLT_BETA} AS DOUBLE)
                 * ((CAST({HOLT_ALPHA} AS DOUBLE) * e[1]
                     + CAST({1.0 - HOLT_ALPHA} AS DOUBLE)
                       * (acc[1] + acc[2]))
                    - acc[1])
                 + CAST({1.0 - HOLT_BETA} AS DOUBLE) * acc[2]
             ]
           ) AS st
    FROM s
)
SELECT user_id,
       CAST(n AS BIGINT) AS n_points,
       CASE WHEN n >= 2 THEN
         floor((st[1]) * 1000000.0) / 1000000.0 END AS level,
       CASE WHEN n >= 2 THEN
         floor((st[2]) * 1000000.0) / 1000000.0 END AS trend,
       CASE WHEN n >= 2 THEN
         floor((st[1] + st[2]) * 1000000.0) / 1000000.0 END AS forecast_1
FROM f
"""


# ------------------------------------------------------------ dq_freshness

FRESH_MIN = 60
STALE_MIN = 1440


def dq_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-freshness audit per event type: minutes of lag behind
    the corpus watermark (the global max timestamp), a staleness tier,
    and the trailing-24h volume — the publish gate a 100 TB feed checks
    per partition before declaring a snapshot consumable (O3/O4's
    watermark made queryable).

    Determinism: every comparison and the lag itself run on integer
    epoch microseconds (Spark unix_micros ≡ DuckDB epoch_us); the tier
    is a CASE over the integer minutes. No floats anywhere.

    Scale: the watermark is a 1-row aggregate broadcast onto the
    corpus (the standard scalar-attach 1×N pattern — never a shuffle),
    then ONE map-side-combinable groupBy per type."""
    ev = t(spark, sf_dir, "events").select(
        "event_type", F.unix_micros(F.col("ts")).alias("us")
    )
    gmax = ev.agg(F.max("us").alias("gmax_us"))
    lag_min = (F.col("gmax_us") - F.col("max_us")) / F.lit(60000000)
    day_us = 86400000000
    agg = (
        ev.crossJoin(F.broadcast(gmax))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("us").alias("max_us"),
            F.sum(
                (F.col("us") > F.col("gmax_us") - day_us).cast("long")
            ).alias("n_last_24h"),
            F.max("gmax_us").alias("gmax_us"),
        )
    )
    lm = F.floor(lag_min).cast("long")
    return agg.select(
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("max_us").cast("long").alias("latest_us"),
        lm.alias("lag_minutes"),
        F.when(lm < FRESH_MIN, F.lit("fresh"))
        .when(lm < STALE_MIN, F.lit("stale"))
        .otherwise(F.lit("dead"))
        .alias("tier"),
        F.col("n_last_24h").cast("long").alias("n_last_24h"),
    )


DQ_FRESHNESS_SQL = f"""
WITH ev AS (
    SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events
), g AS (
    SELECT MAX(us) AS gmax_us FROM ev
), agg AS (
    SELECT event_type,
           COUNT(*) AS n_events,
           MAX(us) AS max_us,
           SUM(CASE WHEN us > gmax_us - {86400000000} THEN 1 ELSE 0 END)
             AS n_last_24h,
           MAX(gmax_us) AS gmax_us
    FROM ev, g GROUP BY event_type
)
SELECT event_type,
       CAST(n_events AS BIGINT) AS n_events,
       CAST(max_us AS BIGINT) AS latest_us,
       CAST(floor((gmax_us - max_us) / 60000000) AS BIGINT)
         AS lag_minutes,
       CASE WHEN floor((gmax_us - max_us) / 60000000) < {FRESH_MIN}
              THEN 'fresh'
            WHEN floor((gmax_us - max_us) / 60000000) < {STALE_MIN}
              THEN 'stale'
            ELSE 'dead' END AS tier,
       CAST(n_last_24h AS BIGINT) AS n_last_24h
FROM agg
"""


QUERIES: dict[str, Query] = {
    "graph_clustering_coeff": Query(
        graph_clustering_coeff, GRAPH_CLUSTERING_COEFF_SQL,
        "per-node clustering coefficient via degree-oriented triangles",
        build="compute",
    ),
    "ml_lift": Query(
        ml_lift, ML_LIFT_SQL,
        "cumulative gains / lift table over integer score buckets",
    ),
    "ts_holt": Query(
        ts_holt, TS_HOLT_SQL,
        "Holt linear smoothing: level+trend struct fold per user",
    ),
    "dq_freshness": Query(
        dq_freshness, DQ_FRESHNESS_SQL,
        "per-type staleness audit vs the corpus watermark",
    ),
}
