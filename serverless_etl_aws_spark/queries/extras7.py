"""Round-4 fourth wave: multiset set-ops, bitwise functions, conditional
aggregates, triangle counting on the trade graph, exact distributed OLS,
winnowing document fingerprints (Schleimer et al., SIGMOD 2003), linear
time-series interpolation, and the text-line source.

Parity discipline follows _util.py: exact decimal partial sums, final
arithmetic on bit-identical doubles, floor quantization. Reference parity:
the reference delegates all query work to Spark inside Glue
(/root/reference/src/glue_scripts/bronze_to_silver.py:30-47); these keys
extend the engine surface beyond the reference's declared milestones.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import Query
from ._util import dec, dsum, fquant, fresh_dir, scratch_root, t

SCRATCH = scratch_root()


# ------------------------------------------------------------- set ops ALL

def _multisets(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Two overlapping lineitem projections with genuine duplicates —
    (suppkey, linestatus) repeats across lines, so ALL semantics differ
    observably from DISTINCT semantics."""
    li = t(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_returnflag") == "R").select(
        "l_suppkey", "l_linestatus"
    )
    b = li.filter(F.col("l_quantity") > 25).select("l_suppkey", "l_linestatus")
    return a, b


def set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL (multiset): each row kept min(count_a, count_b) times.

    Scale: compiles to a single hash aggregation per side plus one
    shuffle on the row value — no sort, no join explosion; identical
    shuffle shape to set_intersect but with count bookkeeping."""
    a, b = _multisets(spark, sf_dir)
    return a.intersectAll(b)


SET_INTERSECT_ALL_SQL = """
SELECT l_suppkey, l_linestatus FROM lineitem WHERE l_returnflag = 'R'
INTERSECT ALL
SELECT l_suppkey, l_linestatus FROM lineitem WHERE l_quantity > 25
"""


def set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL (multiset difference): row kept count_a - count_b times.
    Operands are the larger-minus-smaller orientation so the multiset
    difference is non-empty (the reverse orientation is dominated and
    would vacuously return 0 rows)."""
    a, b = _multisets(spark, sf_dir)
    return b.exceptAll(a)


SET_EXCEPT_ALL_SQL = """
SELECT l_suppkey, l_linestatus FROM lineitem WHERE l_quantity > 25
EXCEPT ALL
SELECT l_suppkey, l_linestatus FROM lineitem WHERE l_returnflag = 'R'
"""


# ------------------------------------------------------------- fn_bitwise

def fn_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise AND/OR/XOR, shifts, popcount — feature-hash and bitmask
    plumbing (SimHash bands, bloom partitioning) exercised as first-class
    scalar functions. Pure codegen'd JVM expressions; the modulo filter
    keeps a constant fraction of rows at any scale factor."""
    li = t(spark, sf_dir, "lineitem")
    x = F.col("l_orderkey")
    y = F.col("l_partkey")
    return (
        li.filter((x % 97 == 0) & (F.col("l_linenumber") == 1))
        .select(
            "l_orderkey",
            "l_partkey",
            x.bitwiseAND(y).alias("band"),
            x.bitwiseOR(y).alias("bor"),
            x.bitwiseXOR(y).alias("bxor"),
            F.shiftleft(y.bitwiseAND(F.lit(255)), 2).cast("bigint").alias("shl"),
            F.shiftright(x, 3).cast("bigint").alias("shr"),
            F.bit_count(x).cast("int").alias("popcount"),
        )
    )


FN_BITWISE_SQL = """
SELECT l_orderkey, l_partkey,
       l_orderkey & l_partkey AS band,
       l_orderkey | l_partkey AS bor,
       xor(l_orderkey, l_partkey) AS bxor,
       CAST((l_partkey & 255) << 2 AS BIGINT) AS shl,
       CAST(l_orderkey >> 3 AS BIGINT) AS shr,
       CAST(bit_count(l_orderkey) AS INT) AS popcount
FROM lineitem
WHERE l_orderkey % 97 = 0 AND l_linenumber = 1
"""


# ------------------------------------------------------- agg_conditional

def agg_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional/argument aggregates: count_if, bool_and/bool_or,
    max_by/min_by over a unique ordering key (o_orderkey — ties
    impossible, so arg-extrema are deterministic in both engines)."""
    orders = t(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.count_if(F.col("o_totalprice") > 150000.0).alias("n_high"),
            F.bool_and(F.col("o_totalprice") > 0.0).alias("all_positive"),
            F.bool_or(F.col("o_orderstatus") == "F").alias("any_finished"),
            F.max_by("o_custkey", "o_orderkey").alias("latest_cust"),
            F.min_by("o_custkey", "o_orderkey").alias("earliest_cust"),
        )
        .orderBy("o_orderpriority")
    )


AGG_CONDITIONAL_SQL = """
SELECT o_orderpriority,
       CAST(count_if(o_totalprice > 150000.0) AS BIGINT) AS n_high,
       bool_and(o_totalprice > 0.0) AS all_positive,
       bool_or(o_orderstatus = 'F') AS any_finished,
       arg_max(o_custkey, o_orderkey) AS latest_cust,
       arg_min(o_custkey, o_orderkey) AS earliest_cust
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# ------------------------------------------------------ graph_triangles

def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle enumeration on the nation trade graph (same edge build as
    graph_pagerank: customer's nation ↔ supplier's nation, undirected).

    Scale shape: the 100 TB fact join is reduced to a distinct edge list
    FIRST (one shuffle), then the triangle join runs on O(E) canonical
    edges with a < b < c ordering — the standard compact-forward
    formulation that enumerates each triangle exactly once. The edge
    list is localCheckpointed so the 4-way fact join runs once, not
    three times."""
    from ._util import nation_trade_pairs

    pairs = (
        nation_trade_pairs(spark, sf_dir)
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .select(
            F.least("c_nationkey", "s_nationkey").alias("a"),
            F.greatest("c_nationkey", "s_nationkey").alias("b"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    e1 = pairs.select(F.col("a").alias("na"), F.col("b").alias("nb"))
    e2 = pairs.select(F.col("a").alias("nb2"), F.col("b").alias("nc"))
    e3 = pairs.select(F.col("a").alias("na3"), F.col("b").alias("nc3"))
    return (
        e1.join(e2, F.col("nb") == F.col("nb2"))
        .join(
            e3,
            (F.col("na") == F.col("na3")) & (F.col("nc") == F.col("nc3")),
        )
        .select("na", "nb", "nc")
    )


GRAPH_TRIANGLES_SQL = """
WITH e0 AS MATERIALIZED (
  SELECT DISTINCT least(c.c_nationkey, s.s_nationkey) AS a,
         greatest(c.c_nationkey, s.s_nationkey) AS b
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  WHERE c.c_nationkey <> s.s_nationkey
)
SELECT e1.a AS na, e1.b AS nb, e2.b AS nc
FROM e0 e1
JOIN e0 e2 ON e2.a = e1.b
JOIN e0 e3 ON e3.a = e1.a AND e3.b = e2.b
"""


# ----------------------------------------------------------- ml_linreg

def ml_linreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority simple OLS (o_totalprice ~ items-per-order) from
    mergeable sufficient statistics — the distributed-exact formulation:
    n, Σx, Σy, Σx², Σxy accumulate as exact decimals/bigints (order-
    insensitive), then slope/intercept are computed in one deterministic
    IEEE double expression per group. Built-in regr_slope is avoided on
    purpose: it accumulates doubles in partition order and is not
    cross-engine reproducible. One fact-side aggregation shuffle
    (per-order counts) + one tiny per-group reduce."""
    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("x")
    )
    base = orders.join(
        per_order, orders.o_orderkey == per_order.l_orderkey, "left"
    ).select(
        "o_orderpriority",
        F.coalesce("x", F.lit(0)).cast("decimal(10,0)").alias("x"),
        dec("o_totalprice").alias("y"),
    )
    g = base.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("x")).cast("double").alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope_raw = num / F.nullif(den, F.lit(0.0))
    return g.select(
        "o_orderpriority",
        F.col("n").cast("bigint").alias("n_orders"),
        fquant(slope_raw, 6).alias("slope"),
        fquant((F.col("sy") - slope_raw * F.col("sx")) / F.col("n"), 4).alias(
            "intercept"
        ),
    ).orderBy("o_orderpriority")


ML_LINREG_SQL = """
WITH per_order AS (
  SELECT l_orderkey, COUNT(*) AS x FROM lineitem GROUP BY l_orderkey
), base AS (
  SELECT o.o_orderpriority,
         CAST(COALESCE(p.x, 0) AS DECIMAL(10,0)) AS x,
         CAST(CASE WHEN isfinite(o.o_totalprice) THEN o.o_totalprice END AS DECIMAL(18,4)) AS y
  FROM orders o LEFT JOIN per_order p ON o.o_orderkey = p.l_orderkey
), g AS (
  SELECT o_orderpriority,
         CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(x) AS DOUBLE) AS sx,
         CAST(SUM(y) AS DOUBLE) AS sy,
         CAST(SUM(x * x) AS DOUBLE) AS sxx,
         CAST(SUM(y * x) AS DOUBLE) AS sxy
  FROM base GROUP BY o_orderpriority
)
SELECT o_orderpriority,
       CAST(n AS BIGINT) AS n_orders,
       floor((n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0.0)
             * 1000000.0) / 1000000.0 AS slope,
       floor((sy - (n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0.0) * sx)
             / n * 10000.0) / 10000.0 AS intercept
FROM g
ORDER BY o_orderpriority
"""


# ------------------------------------------------- llm_winnow_fingerprint

WINNOW_K = 4  # tokens per k-gram
WINNOW_W = 4  # k-grams per winnowing window


def llm_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD 2003):
    hash every K-token shingle, slide a W-wide window over the hash
    sequence, keep each window's minimum — the guaranteed-coverage local
    fingerprint set used for plagiarism/near-dup detection. Output is the
    distinct selected-hash set per document.

    Determinism: selection keeps the min VALUE per window (not a
    tie-position rule), so the selected SET is identical regardless of
    which position a tied minimum occupies. Hashes are md5-prefix strings
    — lexicographic min agrees across engines on ASCII hex. Scale: one
    narrow map pass (explode + window over intra-doc positions, partition
    = doc_id, no cross-doc shuffle beyond the doc_id partitioning)."""
    docs = t(spark, sf_dir, "documents")
    toks = docs.filter(F.col("text").isNotNull()).select(
        "doc_id", F.split("text", " ").alias("tk")
    ).filter(F.size("tk") >= WINNOW_K)
    grams = toks.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.size("tk") - (WINNOW_K - 1)),
                lambda i: F.substring(
                    F.md5(
                        F.concat_ws(
                            " ",
                            F.element_at("tk", i),
                            F.element_at("tk", i + 1),
                            F.element_at("tk", i + 2),
                            F.element_at("tk", i + 3),
                        )
                    ),
                    1,
                    12,
                ),
            )
        ).alias("pos", "h"),
    )
    w_cnt = Window.partitionBy("doc_id")
    w_win = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, WINNOW_W - 1)
    )
    return (
        grams.withColumn("n", F.count(F.lit(1)).over(w_cnt))
        .withColumn("wmin", F.min("h").over(w_win))
        # only full windows: with 0-based pos over n grams, a window
        # starting at pos spans [pos, pos + W - 1] and fits iff
        # pos <= n - W
        .filter(F.col("pos") <= F.col("n") - WINNOW_W)
        .select("doc_id", F.col("wmin").alias("fp"))
        .distinct()
    )


LLM_WINNOW_SQL = f"""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS tk
  FROM documents WHERE text IS NOT NULL AND len(string_split(text, ' ')) >= {WINNOW_K}
), g AS (
  SELECT doc_id, i.i AS pos,
         substr(md5(tk[i.i] || ' ' || tk[i.i+1] || ' ' || tk[i.i+2]
                    || ' ' || tk[i.i+3]), 1, 12) AS h,
         len(tk) - {WINNOW_K - 1} AS n
  FROM d CROSS JOIN LATERAL (
    SELECT unnest(generate_series(1, len(tk) - {WINNOW_K - 1})) AS i
  ) i
)
SELECT DISTINCT doc_id,
       min(h) OVER (PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING) AS fp
FROM g
QUALIFY pos <= n - {WINNOW_W - 1}
"""


# --------------------------------------------------------- ts_interpolate

def ts_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation of missing days on the calendar spine —
    ts_resample's sibling for signals where forward-fill is wrong
    (sensor/metric gap repair). Missing day value = linear blend of
    nearest non-null neighbors; edges back/forward-fill.

    Same scale shape as ts_resample: one (event_type, day) aggregation
    shuffle, broadcast spine join, then intra-partition windows — the
    neighbor scan never re-shuffles."""
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("event_type"), F.to_date("ts").alias("d")
    ).agg(dsum("value").alias("v"))
    bounds = ev.agg(
        F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
    )
    spine = (
        ev.select("event_type").distinct()
        .crossJoin(F.broadcast(bounds))
        .select("event_type", F.explode(F.sequence("d0", "d1")).alias("d"))
    )
    joined = spine.join(F.broadcast(daily), ["event_type", "d"], "left").select(
        "event_type",
        "d",
        F.datediff(F.col("d"), F.lit("1970-01-01").cast("date")).alias("dn"),
        "v",
    )
    w_prev = (
        Window.partitionBy("event_type")
        .orderBy("dn")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_next = (
        Window.partitionBy("event_type")
        .orderBy("dn")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_dn = F.when(F.col("v").isNotNull(), F.col("dn"))
    pv = F.last("v", ignorenulls=True).over(w_prev)
    nv = F.first("v", ignorenulls=True).over(w_next)
    pdn = F.last(obs_dn, ignorenulls=True).over(w_prev)
    ndn = F.first(obs_dn, ignorenulls=True).over(w_next)
    interp = pv + (nv - pv) * (
        (F.col("dn") - pdn).cast("double") / (ndn - pdn).cast("double")
    )
    filled = F.when(F.col("v").isNotNull(), F.col("v")).otherwise(
        F.coalesce(interp, pv, nv)
    )
    return joined.select(
        "event_type",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.col("v").isNotNull().alias("observed"),
        fquant(filled, 6).alias("value_interp"),
    )


TS_INTERPOLATE_SQL = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(ROUND(SUM(CAST(CASE WHEN isfinite(value) THEN value END AS DECIMAL(18,4))), 2) AS DOUBLE) AS v
  FROM events GROUP BY event_type, CAST(ts AS DATE)
), bounds AS (
  SELECT MIN(CAST(ts AS DATE)) AS d0, MAX(CAST(ts AS DATE)) AS d1 FROM events
), spine AS (
  SELECT et.event_type, CAST(s.g AS DATE) AS d
  FROM (SELECT DISTINCT event_type FROM events) et
  CROSS JOIN bounds b
  CROSS JOIN LATERAL (SELECT unnest(generate_series(b.d0, b.d1,
                                    INTERVAL 1 DAY)) AS g) s
), joined AS (
  SELECT sp.event_type, sp.d,
         date_diff('day', DATE '1970-01-01', sp.d) AS dn,
         daily.v
  FROM spine sp LEFT JOIN daily ON daily.event_type = sp.event_type
                               AND daily.d = sp.d
), nbr AS (
  SELECT event_type, d, dn, v,
         last_value(v IGNORE NULLS) OVER wp AS pv,
         first_value(v IGNORE NULLS) OVER wn AS nv,
         last_value(CASE WHEN v IS NOT NULL THEN dn END IGNORE NULLS)
             OVER wp AS pdn,
         first_value(CASE WHEN v IS NOT NULL THEN dn END IGNORE NULLS)
             OVER wn AS ndn
  FROM joined
  WINDOW wp AS (PARTITION BY event_type ORDER BY dn
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wn AS (PARTITION BY event_type ORDER BY dn
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT event_type,
       strftime(d, '%Y-%m-%d') AS day,
       v IS NOT NULL AS observed,
       floor(CASE WHEN v IS NOT NULL THEN v
                  ELSE COALESCE(
                    pv + (nv - pv) * (CAST(dn - pdn AS DOUBLE)
                                      / CAST(ndn - pdn AS DOUBLE)),
                    pv, nv)
             END * 1000000.0) / 1000000.0 AS value_interp
FROM nbr
"""


# ------------------------------------------------------------- scan_text

def scan_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-line source roundtrip: write customer names as raw text lines
    (`spark.write.text`), read them back with the text source, and
    re-aggregate — the whole-line ingestion path raw web-corpus shards
    arrive through before any schema exists. NULL lines are excluded on
    write (the text sink cannot represent NULL), and so are values
    containing line separators — a name with an embedded newline would
    silently round-trip as two records; the oracle mirrors both
    filters."""
    out = fresh_dir(os.path.join(SCRATCH, "scan_text"))
    cust = t(spark, sf_dir, "customer")
    cust.filter(
        F.col("c_name").isNotNull()
        & ~F.col("c_name").contains("\n")
        & ~F.col("c_name").contains("\r")
    ).select(
        F.col("c_name").alias("value")
    ).write.mode("overwrite").text(out)
    back = spark.read.text(out)
    return back.agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.count_distinct("value").alias("n_distinct"),
        F.min("value").alias("first_name"),
        F.max("value").alias("last_name"),
        F.sum(F.length("value")).alias("total_chars"),
    )


SCAN_TEXT_SQL = """
SELECT COUNT(*) AS n_lines,
       COUNT(DISTINCT c_name) AS n_distinct,
       MIN(c_name) AS first_name,
       MAX(c_name) AS last_name,
       CAST(SUM(length(c_name)) AS BIGINT) AS total_chars
FROM customer
WHERE c_name IS NOT NULL
  AND position(chr(10) IN c_name) = 0
  AND position(chr(13) IN c_name) = 0
"""


QUERIES: dict[str, Query] = {
    "set_intersect_all": Query(
        set_intersect_all, SET_INTERSECT_ALL_SQL,
        "multiset INTERSECT ALL"),
    "set_except_all": Query(
        set_except_all, SET_EXCEPT_ALL_SQL, "multiset EXCEPT ALL"),
    "fn_bitwise": Query(fn_bitwise, FN_BITWISE_SQL,
                        "bitwise and/or/xor, shifts, popcount"),
    "agg_conditional": Query(
        agg_conditional, AGG_CONDITIONAL_SQL,
        "count_if / bool_and / bool_or / max_by / min_by"),
    "graph_triangles": Query(
        graph_triangles, GRAPH_TRIANGLES_SQL,
        "triangle enumeration on the nation trade graph", build="compute"),
    "ml_linreg": Query(
        ml_linreg, ML_LINREG_SQL,
        "exact distributed OLS from mergeable sufficient statistics"),
    "llm_winnow_fingerprint": Query(
        llm_winnow_fingerprint, LLM_WINNOW_SQL,
        "winnowing local fingerprints (SIGMOD 2003)"),
    "ts_interpolate": Query(
        ts_interpolate, TS_INTERPOLATE_SQL,
        "calendar-spine linear interpolation"),
    "scan_text": Query(scan_text, SCAN_TEXT_SQL,
                       "text-line source roundtrip", build="side_effects"),
}
