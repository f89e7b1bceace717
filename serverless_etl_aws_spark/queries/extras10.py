"""Round-4 seventh wave: weighted label propagation (community detection
with integer-exact iterations), two-snapshot table diff, and
multi-distinct aggregation (Expand-based plan).

Label propagation completes the iterative-exactness family
(graph_pagerank, ml_kmeans, llm_bpe_train): here the arithmetic is
integer-only (edge weights are lineitem counts), so cross-engine
equality needs no quantization at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import Query
from ._util import t

LPA_ITERS = 3


def _trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected weighted nation trade graph (the shared
    ``nation_trade_pairs`` fact-join reduction), emitted in both
    directions."""
    from ._util import nation_trade_pairs

    directed = (
        nation_trade_pairs(spark, sf_dir)
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .groupBy(
            F.col("c_nationkey").alias("src"),
            F.col("s_nationkey").alias("dst"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    rev = directed.select(
        F.col("dst").alias("src"), F.col("src").alias("dst"), "w"
    )
    return (
        directed.unionByName(rev)
        .groupBy("src", "dst")
        .agg(F.sum("w").alias("w"))
    )


def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous weighted label propagation, 3 iterations: each node
    adopts the label with the max total incident edge weight among its
    neighbors' current labels, smallest label on ties — the cheap
    community-detection signal (host clusters, trading blocs) corpus
    curation uses for stratification.

    Integer-exact by construction: weights are lineitem counts, label
    choice is an integer argmax with a total tie-break — NO floats
    anywhere, so cross-engine equality is unconditional (a stronger
    guarantee than pagerank's quantized doubles). Iterations run on the
    localCheckpointed O(V+E) edge list, one shuffle per round; isolated
    nodes keep their label via the left join."""
    nation = t(spark, sf_dir, "nation")
    edges = _trade_edges(spark, sf_dir).localCheckpoint(eager=False)
    labels = nation.select(
        F.col("n_nationkey").alias("node"),
        F.col("n_nationkey").alias("label"),
    )
    for _ in range(LPA_ITERS):
        contrib = (
            edges.join(labels, edges.src == labels.node)
            .groupBy("dst", "label")
            .agg(F.sum("w").alias("lw"))
        )
        # argmax by (lw DESC, label ASC): max of struct(lw, -label)
        best = (
            contrib.groupBy("dst")
            .agg(
                F.max(
                    F.struct(
                        F.col("lw"),
                        (-F.col("label")).alias("neg"),
                    )
                ).alias("m")
            )
            .select(F.col("dst").alias("node"), (-F.col("m.neg")).alias("nl"))
        )
        labels = (
            labels.join(best, "node", "left")
            .select(
                "node",
                F.coalesce("nl", "label").alias("label"),
            )
        )
    return (
        labels.join(
            F.broadcast(nation),
            labels.node == F.col("n_nationkey"),
        )
        .select(F.col("node").alias("nationkey"), "n_name",
                F.col("label").cast("int").alias("community"))
    )


def _lpa_iter_sql(i: int) -> str:
    p = i - 1
    return f"""
c{i} AS (
  SELECT e.dst, l.label, SUM(e.w) AS lw
  FROM edges e JOIN l{p} l ON e.src = l.node
  GROUP BY e.dst, l.label
), b{i} AS (
  SELECT dst AS node, label AS nl,
         ROW_NUMBER() OVER (PARTITION BY dst
                            ORDER BY lw DESC, label ASC) AS rn
  FROM c{i}
), l{i} AS (
  SELECT l.node, COALESCE(b.nl, l.label) AS label
  FROM l{p} l LEFT JOIN (SELECT node, nl FROM b{i} WHERE rn = 1) b
    ON l.node = b.node
)"""


GRAPH_LPA_SQL = (
    """
WITH directed AS MATERIALIZED (
  SELECT c.c_nationkey AS src, s.s_nationkey AS dst, COUNT(*) AS w
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  WHERE c.c_nationkey <> s.s_nationkey
  GROUP BY c.c_nationkey, s.s_nationkey
), edges AS MATERIALIZED (
  SELECT src, dst, SUM(w) AS w FROM (
    SELECT src, dst, w FROM directed
    UNION ALL
    SELECT dst AS src, src AS dst, w FROM directed
  ) GROUP BY src, dst
), l0 AS (
  SELECT n_nationkey AS node, n_nationkey AS label FROM nation
)"""
    + "".join("," + _lpa_iter_sql(i) for i in range(1, LPA_ITERS + 1))
    + f"""
SELECT l.node AS nationkey, n.n_name, CAST(l.label AS INT) AS community
FROM l{LPA_ITERS} l JOIN nation n ON l.node = n.n_nationkey
"""
)


# ----------------------------------------------------- dim_snapshot_diff

def dim_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-snapshot table diff — the change-audit a warehouse runs
    between loads: full outer join on the business key, classify rows as
    added / deleted / changed (unchanged rows are dropped, which keeps
    the output O(changes), the property that matters when snapshots are
    100 TB and the delta is small). Snapshots are derived
    deterministically from the customer table so both engines diff the
    same inputs."""
    cust = t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    snap_a = cust.filter(F.col("c_custkey") % 29 != 0)
    snap_b = cust.filter(F.col("c_custkey") % 31 != 0).select(
        "c_custkey",
        "c_name",
        F.when(
            F.col("c_custkey") % 7 == 0, F.col("c_acctbal") + 100.0
        ).otherwise(F.col("c_acctbal")).alias("c_acctbal"),
    )
    a = snap_a.select(
        F.col("c_custkey").alias("k"),
        F.col("c_name").alias("name_a"),
        F.col("c_acctbal").alias("bal_a"),
    )
    b = snap_b.select(
        F.col("c_custkey").alias("k"),
        F.col("c_name").alias("name_b"),
        F.col("c_acctbal").alias("bal_b"),
    )
    j = a.join(b, "k", "full_outer")
    status = (
        F.when(F.col("name_a").isNull(), F.lit("added"))
        .when(F.col("name_b").isNull(), F.lit("deleted"))
        .when(
            (F.col("bal_a") != F.col("bal_b"))
            | (F.col("name_a") != F.col("name_b")),
            F.lit("changed"),
        )
    )
    return (
        j.withColumn("status", status)
        .filter(F.col("status").isNotNull())
        .select(
            F.col("k").alias("c_custkey"),
            "status",
            F.coalesce("name_b", "name_a").alias("c_name"),
            "bal_a",
            "bal_b",
        )
    )


DIM_SNAPSHOT_DIFF_SQL = """
WITH a AS (
  SELECT c_custkey AS k, c_name AS name_a, c_acctbal AS bal_a
  FROM customer WHERE c_custkey % 29 <> 0
), b AS (
  SELECT c_custkey AS k, c_name AS name_b,
         CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100.0
              ELSE c_acctbal END AS bal_b
  FROM customer WHERE c_custkey % 31 <> 0
), j AS (
  SELECT COALESCE(a.k, b.k) AS k, name_a, bal_a, name_b, bal_b,
         CASE WHEN name_a IS NULL THEN 'added'
              WHEN name_b IS NULL THEN 'deleted'
              WHEN bal_a <> bal_b OR name_a <> name_b THEN 'changed'
         END AS status
  FROM a FULL OUTER JOIN b ON a.k = b.k
)
SELECT k AS c_custkey, status,
       COALESCE(name_b, name_a) AS c_name, bal_a, bal_b
FROM j WHERE status IS NOT NULL
"""


# ---------------------------------------------------- agg_multi_distinct

def agg_multi_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Several DISTINCT aggregates with different arguments in ONE query
    — Catalyst compiles this via Expand (one row per distinct-group per
    input row) so all distincts resolve in a single aggregation pipeline
    instead of N self-joined scans."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_suppkey").alias("n_supp"),
            F.countDistinct("l_partkey").alias("n_part"),
            F.countDistinct("l_suppkey", "l_partkey").alias("n_supp_part"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy("l_returnflag")
    )


AGG_MULTI_DISTINCT_SQL = """
SELECT l_returnflag,
       COUNT(DISTINCT l_suppkey) AS n_supp,
       COUNT(DISTINCT l_partkey) AS n_part,
       COUNT(DISTINCT CASE WHEN l_suppkey IS NOT NULL
                            AND l_partkey IS NOT NULL
                           THEN (l_suppkey, l_partkey) END) AS n_supp_part,
       COUNT(*) AS n_rows
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def fn_date_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar arithmetic beyond fn_date's basics: month-end-clamping
    add_months (both engines clamp Jan 31 + 1mo to Feb end), last_day,
    quarter, ISO weekday (Spark's 1=Sunday dayofweek is normalized to
    ISO 1=Monday to match DuckDB's isodow), and ISO week-of-year
    (year-boundary weeks 52/53/1 agree because both implement ISO
    8601)."""
    orders = t(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    return orders.select(
        "o_orderkey",
        F.date_format(F.add_months(d, 3), "yyyy-MM-dd").alias("plus_3mo"),
        F.date_format(F.last_day(d), "yyyy-MM-dd").alias("month_end"),
        F.quarter(d).cast("int").alias("q"),
        (((F.dayofweek(d) + 5) % 7) + 1).cast("int").alias("iso_dow"),
        F.weekofyear(d).cast("int").alias("iso_week"),
    )


FN_DATE_ARITH_SQL = """
SELECT o_orderkey,
       strftime(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH, '%Y-%m-%d')
           AS plus_3mo,
       strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d')
           AS month_end,
       CAST(quarter(CAST(o_orderdate AS DATE)) AS INT) AS q,
       CAST(isodow(CAST(o_orderdate AS DATE)) AS INT) AS iso_dow,
       CAST(weekofyear(CAST(o_orderdate AS DATE)) AS INT) AS iso_week
FROM orders
"""


QUERIES: dict[str, Query] = {
    "fn_date_arith": Query(
        fn_date_arith, FN_DATE_ARITH_SQL,
        "add_months/last_day/quarter/ISO dow/ISO week"),
    "graph_label_propagation": Query(
        graph_label_propagation, GRAPH_LPA_SQL,
        "weighted label propagation, integer-exact 3 iterations",
        build="compute"),
    "dim_snapshot_diff": Query(
        dim_snapshot_diff, DIM_SNAPSHOT_DIFF_SQL,
        "two-snapshot diff: added/deleted/changed, O(changes) output"),
    "agg_multi_distinct": Query(
        agg_multi_distinct, AGG_MULTI_DISTINCT_SQL,
        "multiple DISTINCT aggregates in one Expand-based pass"),
}
