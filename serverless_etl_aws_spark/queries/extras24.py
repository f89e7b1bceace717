"""Round-7 fifteenth wave: set-based ranking metrics, partition
modularity on the shared part graph, a two-proportion A/B z-test, and
the Simpson diversity index.

``ml_pr_at_k`` completes the ranking-eval pair started by ml_ndcg —
precision/recall@K are the set-based metrics (did the top-K contain the
relevant items at all), NDCG the order-aware one. ``graph_modularity``
grades a PARTITION of the shared co-order graph (the brand grouping)
with Newman's Q — the quantity every community-detection pass optimizes,
here fully rational (exact integer moments, one final division).
``ml_ab_test`` is the experiment readout every event pipeline ships:
user-level conversion compared across a deterministic hash split with a
pooled two-proportion z statistic. ``agg_simpson`` is the diversity
index that needs NO logarithm (unlike Shannon entropy, which is not
cross-engine reproducible) — concentration of supplied part types per
nation as exact rational arithmetic.

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

# ---------------------------------------------------------------- ml_pr_at_k

PR_K = 10


def ml_pr_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user precision@10 and recall@10 of ``value`` as a ranking
    score with purchases as the relevant items — the set-based half of
    the ranking-eval pair (ml_ndcg grades WHERE in the top-K the hits
    land; P/R@K grades whether they land there at all, which is what
    retrieval dashboards report first).

    Determinism: the same total order as ml_ndcg (value DESC, event_id
    ASC — no ties); hits, n_pos and the@K denominator are exact
    integers; the two divisions are the only floats (fquant 6).
    Users with no purchase yield NULL recall (degenerate-class guard);
    precision divides by min(n_events, K) so short lists are graded
    against what was actually rankable.

    Scale: one window shuffle by user_id, one map-side-combinable
    per-user aggregate — identical shape to ml_ndcg, no join."""
    ev = t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = Window.partitionBy("user_id").orderBy(
        F.col("value").desc(), F.col("event_id").asc()
    )
    rel = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    ranked = ev.select(
        "user_id",
        rel.alias("rel"),
        F.row_number().over(w).alias("rn"),
    )
    per = ranked.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("rel").alias("n_pos"),
        F.sum(
            F.when((F.col("rn") <= PR_K) & (F.col("rel") == 1), 1)
            .otherwise(0)
        ).alias("hits"),
    )
    denom_p = F.least(F.col("n_events"), F.lit(PR_K))
    return per.select(
        "user_id",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("n_pos").cast("long").alias("n_pos"),
        F.col("hits").cast("long").alias("hits_at_k"),
        fquant(
            F.col("hits").cast("double") / denom_p.cast("double"), 6
        ).alias("precision_at_k"),
        F.when(
            F.col("n_pos") > 0,
            fquant(
                F.col("hits").cast("double")
                / F.col("n_pos").cast("double"),
                6,
            ),
        ).alias("recall_at_k"),
    )


ML_PR_AT_K_SQL = f"""
WITH ranked AS (
    SELECT user_id,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS rel,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY value DESC, event_id ASC) AS rn
    FROM events WHERE value IS NOT NULL
), per AS (
    SELECT user_id,
           COUNT(*) AS n_events,
           SUM(rel) AS n_pos,
           SUM(CASE WHEN rn <= {PR_K} AND rel = 1 THEN 1 ELSE 0 END)
             AS hits
    FROM ranked GROUP BY user_id
)
SELECT user_id,
       CAST(n_events AS BIGINT) AS n_events,
       CAST(n_pos AS BIGINT) AS n_pos,
       CAST(hits AS BIGINT) AS hits_at_k,
       floor(CAST(hits AS DOUBLE)
             / CAST(least(n_events, {PR_K}) AS DOUBLE)
             * 1000000.0) / 1000000.0 AS precision_at_k,
       CASE WHEN n_pos > 0 THEN
         floor(CAST(hits AS DOUBLE) / CAST(n_pos AS DOUBLE)
               * 1000000.0) / 1000000.0 END AS recall_at_k
FROM per
"""


# ---------------------------------------------------------- graph_modularity


def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the brand partition on the co-order part
    graph: per community c, Q_c = E_c/(2m) − (d_c/(2m))², where E_c is
    the directed within-community edge count, d_c the community degree
    sum and 2m the directed edge total. The quantity every
    community-detection pass optimizes — here grading a GIVEN partition
    (does brand structure explain co-purchase structure?), which is the
    audit a 100 TB graph tier runs after any clustering job.

    Fully rational: Q_c = (E_c·D − d_c²)/D² with D = 2m — exact
    BIGINT/DECIMAL moments into ONE double division per community
    (fquant 9; contributions are small). SIXTH consumer of the shared
    adjacency; the brand map is dimension-sized and broadcast twice
    (both endpoints); totals are windows over the 25-community
    relation, never a second corpus pass."""
    from ._util import co_order_part_adj

    adj = co_order_part_adj(spark, sf_dir)
    brand = t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("node"), F.col("p_brand").alias("bc")
    )
    lab = (
        adj.join(F.broadcast(brand), "node")
        .join(
            F.broadcast(
                brand.select(
                    F.col("node").alias("nbr"), F.col("bc").alias("bn")
                )
            ),
            "nbr",
        )
    )
    per = lab.groupBy(F.col("bc").alias("community")).agg(
        F.count(F.lit(1)).alias("deg_sum"),
        F.sum(
            F.when(F.col("bc") == F.col("bn"), 1).otherwise(0)
        ).alias("internal_dir"),
        F.countDistinct("node").alias("n_nodes"),
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    big_d = F.sum("deg_sum").over(wall)
    num = (
        F.col("internal_dir").cast("decimal(38,0)")
        * big_d.cast("decimal(38,0)")
        - F.col("deg_sum").cast("decimal(38,0)")
        * F.col("deg_sum").cast("decimal(38,0)")
    )
    den = big_d.cast("decimal(38,0)") * big_d.cast("decimal(38,0)")
    return per.select(
        "community",
        F.col("n_nodes").cast("long").alias("n_nodes"),
        F.col("internal_dir").cast("long").alias("internal_dir"),
        F.col("deg_sum").cast("long").alias("deg_sum"),
        fquant(
            num.cast("double") / den.cast("double"), 9
        ).alias("q_contrib"),
    )


GRAPH_MODULARITY_SQL = """
WITH e0 AS MATERIALIZED (
    SELECT DISTINCT a.l_partkey AS node, b.l_partkey AS nbr
    FROM lineitem a
    JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
), lab AS (
    SELECT pa.p_brand AS bc, pb.p_brand AS bn, e0.node
    FROM e0
    JOIN part pa ON pa.p_partkey = e0.node
    JOIN part pb ON pb.p_partkey = e0.nbr
), per AS (
    SELECT bc AS community,
           COUNT(*) AS deg_sum,
           SUM(CASE WHEN bc = bn THEN 1 ELSE 0 END) AS internal_dir,
           COUNT(DISTINCT node) AS n_nodes
    FROM lab GROUP BY bc
), tot AS (
    SELECT community, n_nodes, internal_dir, deg_sum,
           SUM(deg_sum) OVER () AS big_d
    FROM per
)
SELECT community,
       CAST(n_nodes AS BIGINT) AS n_nodes,
       CAST(internal_dir AS BIGINT) AS internal_dir,
       CAST(deg_sum AS BIGINT) AS deg_sum,
       floor(CAST(CAST(internal_dir AS HUGEINT) * big_d
                  - CAST(deg_sum AS HUGEINT) * CAST(deg_sum AS HUGEINT)
                  AS DOUBLE)
             / CAST(CAST(big_d AS HUGEINT) * CAST(big_d AS HUGEINT)
                    AS DOUBLE)
             * 1000000000.0) / 1000000000.0 AS q_contrib
FROM tot
"""


# --------------------------------------------------------------- ml_ab_test

AB_Z_CRIT = 1.96

#: Conversion = a purchase at or above this value. The plain
#: "any purchase" definition is DEGENERATE on every fixture scale
#: (100% of users convert, so the pooled SE is 0 and z is NULL
#: everywhere); the value threshold makes the statistic real at
#: sf >= 0.01 while the degenerate-pool guard still covers sf0.001.
#: Shared by ml_uplift_segments (extras29) and ml_diff_in_diff
#: (extras31) so the experiment family reads one conversion metric.
AB_CONV_MIN = 300.0


def ml_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test on user-level conversion across a
    deterministic A/B split (user_id parity — the hash-mod assignment
    every experimentation platform uses): did arm B convert at a
    different rate than arm A? The readout an event pipeline publishes
    per experiment; conversion = the user produced ≥1 purchase of
    value ≥ ``AB_CONV_MIN`` (the plain any-purchase definition is
    degenerate on these fixtures — everyone converts).

    Determinism: arm sizes and conversion counts are exact integers
    from one per-user collapse; p̂_a, p̂_b, the pooled rate and
    z = (p̂_a − p̂_b)/√(p̂(1−p̂)(1/n_a + 1/n_b)) are the IDENTICAL
    double expression tree on both engines (√ is IEEE
    correctly-rounded — the dq_spc precedent); the significance flag
    compares the unquantized |z| to the 1.96 literal, so both engines
    branch on bit-identical input. Degenerate pools (p̂ ∈ {0, 1} or an
    empty arm) yield NULL z, never NaN/Inf.

    Scale: one map-side-combinable per-user shuffle, then a 2-row
    aggregate — nothing else moves."""
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
    # pmod, never % (ARCHITECTURE.md bucketing convention): a signed
    # modulo on negative odd user_ids would emit a spurious arm=-1 group
    # (label set {-1,0} instead of {0,1}). Oracle mirror: ((x%2)+2)%2.
    arms = per_user.groupBy(
        F.pmod(F.col("user_id"), F.lit(2)).cast("int").alias("arm")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("conv").alias("c"),
    )
    wide = arms.agg(
        F.sum(F.when(F.col("arm") == 0, F.col("n"))).alias("n_a"),
        F.sum(F.when(F.col("arm") == 0, F.col("c"))).alias("c_a"),
        F.sum(F.when(F.col("arm") == 1, F.col("n"))).alias("n_b"),
        F.sum(F.when(F.col("arm") == 1, F.col("c"))).alias("c_b"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    ca = F.col("c_a").cast("double")
    cb = F.col("c_b").cast("double")
    pa = ca / na
    pb = cb / nb
    pool = (ca + cb) / (na + nb)
    se = F.sqrt(pool * (1.0 - pool) * (1.0 / na + 1.0 / nb))
    z = (pa - pb) / se
    ok = (
        F.col("n_a").isNotNull()
        & F.col("n_b").isNotNull()
        & (F.col("c_a") + F.col("c_b") > 0)
        & (F.col("c_a") + F.col("c_b") < F.col("n_a") + F.col("n_b"))
    )
    return wide.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("c_a").cast("long").alias("conv_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.col("c_b").cast("long").alias("conv_b"),
        fquant(pa, 6).alias("rate_a"),
        fquant(pb, 6).alias("rate_b"),
        F.when(ok, fquant(z, 6)).alias("z_score"),
        F.when(ok, F.abs(z) > AB_Z_CRIT).alias("significant"),
    )


ML_AB_TEST_SQL = f"""
WITH per_user AS (
    SELECT user_id,
           MAX(CASE WHEN event_type = 'purchase'
                     AND value >= {AB_CONV_MIN} THEN 1 ELSE 0 END)
             AS conv
    FROM events GROUP BY user_id
), arms AS (
    SELECT CAST(((user_id % 2) + 2) % 2 AS INT) AS arm,
           COUNT(*) AS n, SUM(conv) AS c
    FROM per_user GROUP BY 1
), wide AS (
    SELECT SUM(CASE WHEN arm = 0 THEN n END) AS n_a,
           SUM(CASE WHEN arm = 0 THEN c END) AS c_a,
           SUM(CASE WHEN arm = 1 THEN n END) AS n_b,
           SUM(CASE WHEN arm = 1 THEN c END) AS c_b
    FROM arms
)
SELECT CAST(n_a AS BIGINT) AS n_a,
       CAST(c_a AS BIGINT) AS conv_a,
       CAST(n_b AS BIGINT) AS n_b,
       CAST(c_b AS BIGINT) AS conv_b,
       floor(CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE) * 1000000.0)
         / 1000000.0 AS rate_a,
       floor(CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE) * 1000000.0)
         / 1000000.0 AS rate_b,
       CASE WHEN n_a IS NOT NULL AND n_b IS NOT NULL
              AND c_a + c_b > 0 AND c_a + c_b < n_a + n_b THEN
         floor((CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE)
                - CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE))
               / sqrt((CAST(c_a AS DOUBLE) + CAST(c_b AS DOUBLE))
                      / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
                      * (1.0 - (CAST(c_a AS DOUBLE)
                                + CAST(c_b AS DOUBLE))
                             / (CAST(n_a AS DOUBLE)
                                + CAST(n_b AS DOUBLE)))
                      * (1.0 / CAST(n_a AS DOUBLE)
                         + 1.0 / CAST(n_b AS DOUBLE)))
               * 1000000.0) / 1000000.0 END AS z_score,
       CASE WHEN n_a IS NOT NULL AND n_b IS NOT NULL
              AND c_a + c_b > 0 AND c_a + c_b < n_a + n_b THEN
         abs((CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE)
              - CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE))
             / sqrt((CAST(c_a AS DOUBLE) + CAST(c_b AS DOUBLE))
                    / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
                    * (1.0 - (CAST(c_a AS DOUBLE)
                              + CAST(c_b AS DOUBLE))
                           / (CAST(n_a AS DOUBLE)
                              + CAST(n_b AS DOUBLE)))
                    * (1.0 / CAST(n_a AS DOUBLE)
                       + 1.0 / CAST(n_b AS DOUBLE))))
           > {AB_Z_CRIT} END AS significant
FROM wide
"""


# -------------------------------------------------------------- agg_simpson


def agg_simpson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson diversity of supplied part types per supplier nation:
    D = 1 − Σ nᵢ(nᵢ−1) / (N(N−1)) — the probability two random items
    from the nation's supply are of DIFFERENT types. The concentration
    diagnostic that needs no logarithm: Shannon entropy's ln is not
    cross-engine reproducible, Simpson is exact rational arithmetic
    until one final division (the agg_gini/agg_hhi stance — this is
    the diversity-side complement of HHI's concentration).

    Scale: the fact scan aggregates to (nation, type) counts in ONE
    map-side-combinable shuffle with the two dimension joins broadcast;
    the index is a second tiny aggregate over that ≤ nations×types
    relation. NULL when a nation supplied < 2 items."""
    li = t(spark, sf_dir, "lineitem")
    supp = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    part = t(spark, sf_dir, "part").select("p_partkey", "p_type")
    tc = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("n_name", "p_type")
        .agg(F.count(F.lit(1)).alias("ni"))
    )
    per = tc.groupBy(F.col("n_name").alias("nation")).agg(
        F.sum("ni").alias("n_items"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum(F.col("ni") * (F.col("ni") - 1)).alias("pair_sum"),
    )
    n = F.col("n_items")
    return per.select(
        "nation",
        n.cast("long").alias("n_items"),
        F.col("n_types").cast("long").alias("n_types"),
        F.when(
            n >= 2,
            fquant(
                F.lit(1.0)
                - F.col("pair_sum").cast("double")
                / (n * (n - 1)).cast("double"),
                6,
            ),
        ).alias("simpson"),
    )


AGG_SIMPSON_SQL = """
WITH tc AS (
    SELECT n.n_name, p.p_type, COUNT(*) AS ni
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY 1, 2
), per AS (
    SELECT n_name AS nation,
           SUM(ni) AS n_items,
           COUNT(*) AS n_types,
           SUM(ni * (ni - 1)) AS pair_sum
    FROM tc GROUP BY 1
)
SELECT nation,
       CAST(n_items AS BIGINT) AS n_items,
       CAST(n_types AS BIGINT) AS n_types,
       CASE WHEN n_items >= 2 THEN
         floor((1.0 - CAST(pair_sum AS DOUBLE)
                      / CAST(n_items * (n_items - 1) AS DOUBLE))
               * 1000000.0) / 1000000.0 END AS simpson
FROM per
"""


QUERIES: dict[str, Query] = {
    "ml_pr_at_k": Query(
        ml_pr_at_k, ML_PR_AT_K_SQL,
        "per-user precision/recall@10 (set-based ranking eval)",
    ),
    "graph_modularity": Query(
        graph_modularity, GRAPH_MODULARITY_SQL,
        "Newman modularity of the brand partition (rational form)",
        build="compute",
    ),
    "ml_ab_test": Query(
        ml_ab_test, ML_AB_TEST_SQL,
        "two-proportion z-test on a deterministic A/B user split",
    ),
    "agg_simpson": Query(
        agg_simpson, AGG_SIMPSON_SQL,
        "Simpson diversity of supplied part types per nation",
    ),
}
