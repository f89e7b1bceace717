"""Round-7 seventeenth wave: Theil-Sen robust slope, market-basket
association rules, Wilson score intervals, and a primary-key
uniqueness audit.

``ts_theil_sen`` is the slope companion of ts_trend_mk: Mann-Kendall
says WHETHER a monotone trend exists, Theil-Sen says HOW STEEP — the
median of all pairwise slopes, immune to the outlier days that wreck
an OLS fit. ``ml_assoc_rules`` is classic market-basket mining
(support / confidence / lift over order baskets) — the third shared
edge relation (order-part membership) joins the graph family's
materialized-state roster. ``ml_wilson_ci`` puts the interval around
every rate the engine reports (the Wald interval ml_ab_test implies is
famously wrong near 0/1; Wilson is the production default).
``dq_uniqueness`` is the audit every warehouse runs before trusting a
join key: per declared key, row count vs key count, duplicated keys,
and worst multiplicity.

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

# ------------------------------------------------------------- ts_theil_sen


def ts_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen trend slope per event type over the daily-total
    series: the MEDIAN of all C(D,2) pairwise slopes
    (v_j − v_i)/(d_j − d_i) — the robust slope estimator that pairs
    with ts_trend_mk's S statistic (Mann-Kendall detects the trend,
    Theil-Sen sizes it; together they are the nonparametric answer to
    OLS). Lower median on even pair counts, deterministically.

    Determinism: daily totals are exact scaled BIGINTs (value lives on
    the fixture's 1e-4 grid), day indices are exact epoch-day integers,
    so every slope is ONE IEEE division of exact integers —
    bit-identical cross-engine — and the median is selected by exact
    integer rank with (d_i, d_j) as the total-order tiebreak, not
    computed by averaging. Types with < 2 observed days drop out (no
    pairs — the warm-up guard).

    Scale: the corpus collapses to (type, day) totals in ONE
    map-side-combinable shuffle; the O(D²) pair join runs on the
    days-sized relation (D is calendar-bounded — 30 days here, 365/yr
    in production; D², not N², is the contract) and the rank window
    shares the type partitioning."""
    ev = t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    daily = ev.groupBy(
        "event_type",
        F.to_date("ts").alias("day"),
    ).agg(
        F.sum((dec("value") * 10000).cast("long")).alias("v"),
    ).select(
        "event_type",
        F.date_diff(F.col("day"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("d"),
        "v",
    ).localCheckpoint(eager=False)
    # lazy checkpoint: the self-join references daily twice, and without
    # lineage truncation Catalyst duplicates the whole corpus scan+agg
    # subtree into both sides (measured: 2x FileScan)
    a, b = daily.alias("a"), daily.alias("b")
    pairs = (
        a.join(b, "event_type")
        .filter(F.col("a.d") < F.col("b.d"))
        .select(
            "event_type",
            F.col("a.d").alias("da"),
            F.col("b.d").alias("db"),
            (
                (F.col("b.v") - F.col("a.v")).cast("double")
                / ((F.col("b.d") - F.col("a.d")) * 10000).cast("double")
            ).alias("slope"),
        )
    )
    wrank = Window.partitionBy("event_type").orderBy(
        F.col("slope").asc(), F.col("da").asc(), F.col("db").asc()
    )
    wall = Window.partitionBy("event_type").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = pairs.select(
        "event_type",
        "slope",
        F.row_number().over(wrank).alias("rn"),
        F.count(F.lit(1)).over(wall).alias("m"),
    )
    # lower median: integer (m+1) DIV 2 floors identically on both
    # engines for the non-negative m here
    med = ranked.filter(F.col("rn") == F.expr("(m + 1) DIV 2"))
    return med.select(
        "event_type",
        F.col("m").cast("long").alias("n_pairs"),
        fquant(F.col("slope"), 6).alias("theil_slope"),
    )


TS_THEIL_SEN_SQL = """
WITH daily AS (
    SELECT event_type,
           date_diff('day', DATE '1970-01-01',
                     CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS d,
           SUM(CAST(CAST(CASE WHEN isfinite(value) THEN value END AS DECIMAL(18,4)) * 10000 AS BIGINT)) AS v
    FROM events WHERE value IS NOT NULL
    GROUP BY 1, 2
), pairs AS (
    SELECT a.event_type,
           a.d AS da, b.d AS db,
           CAST(b.v - a.v AS DOUBLE)
             / CAST((b.d - a.d) * 10000 AS DOUBLE) AS slope
    FROM daily a
    JOIN daily b ON a.event_type = b.event_type AND a.d < b.d
), ranked AS (
    SELECT event_type, slope,
           ROW_NUMBER() OVER (PARTITION BY event_type
                              ORDER BY slope ASC, da ASC, db ASC) AS rn,
           COUNT(*) OVER (PARTITION BY event_type) AS m
    FROM pairs
)
SELECT event_type,
       CAST(m AS BIGINT) AS n_pairs,
       floor(slope * 1000000.0) / 1000000.0 AS theil_slope
FROM ranked WHERE rn = (m + 1) // 2
"""


# ------------------------------------------------------------ ml_assoc_rules

#: Minimum pair support (orders containing both parts) for a rule to be
#: scored, and the size of the emitted rule book. The support filter
#: prunes the rule space; the top-K (by exact scaled-integer lift)
#: bounds the sink — both explicit contract knobs, not silent caps.
AR_MIN_SUP = 2
AR_TOP_K = 100

#: Fixed-point scale for the exact lift argsort: lift_scaled =
#: (supp_ab·N·10⁶) DIV (supp_a·supp_b) is an exact BIGINT on both
#: engines (both divisions floor on non-negative operands). Stays in
#: BIGINT through ~1.5M baskets; the decimal widening lever beyond.
AR_LIFT_SCALE = 1_000_000


def ml_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over order baskets: for each
    part pair (a < b) co-purchased in ≥ ``AR_MIN_SUP`` orders, the
    support, both directed confidences, and the lift
    N·supp(ab)/(supp(a)·supp(b)) — the classic retail co-purchase
    mining the co-order graph family has been circling (the adjacency
    keys say WHO is connected; rules say HOW PREDICTIVE the
    connection is). Emits the top-``AR_TOP_K`` rules by lift.

    Determinism: supports are exact integers off the distinct
    basket-membership relation; the top-K orders by the exact scaled
    integer (supp_ab·N·10⁶) DIV (supp_a·supp_b) with the pair as the
    total-order tiebreak — no float enters the ORDER BY; the rendered
    confidences/lift are single divisions of exact integers.

    Scale: built on the THIRD session-materialized shared relation
    (order-part membership, _util.order_part_edges). The pair join is
    per-order (cost Σ basket², baskets are small by the order model —
    the hot-basket frequency-stop lever applies if one explodes); item
    supports broadcast; the basket count N is a 1-row broadcast
    scalar-attach; the final top-K is a distributed
    TakeOrderedAndProject, never a single-partition sort of the rule
    space."""
    from ._util import order_part_edges

    op = order_part_edges(spark, sf_dir)
    n_baskets = op.select(
        F.countDistinct("l_orderkey").alias("n_baskets")
    )
    supp = op.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("supp_item")
    )
    a, b = op.alias("a"), op.alias("b")
    pair_supp = (
        a.join(b, F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).alias("supp_ab"))
        .filter(F.col("supp_ab") >= AR_MIN_SUP)
    )
    sa = F.broadcast(supp.select(
        F.col("l_partkey").alias("part_a"),
        F.col("supp_item").alias("supp_a"),
    ))
    sb = F.broadcast(supp.select(
        F.col("l_partkey").alias("part_b"),
        F.col("supp_item").alias("supp_b"),
    ))
    scored = (
        pair_supp.join(sa, "part_a")
        .join(sb, "part_b")
        .crossJoin(F.broadcast(n_baskets))
        .select(
            "part_a",
            "part_b",
            F.col("supp_ab").cast("long").alias("supp_ab"),
            F.col("supp_a").cast("long").alias("supp_a"),
            F.col("supp_b").cast("long").alias("supp_b"),
            F.expr(
                f"(supp_ab * n_baskets * {AR_LIFT_SCALE})"
                " DIV (supp_a * supp_b)"
            ).alias("lift_scaled"),
        )
    )
    top = scored.orderBy(
        F.col("lift_scaled").desc(),
        F.col("supp_ab").desc(),
        F.col("part_a").asc(),
        F.col("part_b").asc(),
    ).limit(AR_TOP_K)
    return top.select(
        "part_a",
        "part_b",
        "supp_ab",
        "supp_a",
        "supp_b",
        fquant(
            F.col("supp_ab").cast("double")
            / F.col("supp_a").cast("double"),
            6,
        ).alias("conf_a_to_b"),
        fquant(
            F.col("supp_ab").cast("double")
            / F.col("supp_b").cast("double"),
            6,
        ).alias("conf_b_to_a"),
        (
            F.col("lift_scaled").cast("double")
            / float(AR_LIFT_SCALE)
        ).alias("lift"),
    )


ML_ASSOC_RULES_SQL = f"""
WITH op AS MATERIALIZED (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), n AS (
    SELECT COUNT(DISTINCT l_orderkey) AS n_baskets FROM op
), supp AS (
    SELECT l_partkey, COUNT(*) AS supp_item FROM op GROUP BY 1
), pair_supp AS (
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
           COUNT(*) AS supp_ab
    FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
    WHERE a.l_partkey < b.l_partkey
    GROUP BY 1, 2
    HAVING COUNT(*) >= {AR_MIN_SUP}
), scored AS (
    SELECT p.part_a, p.part_b,
           CAST(p.supp_ab AS BIGINT) AS supp_ab,
           CAST(sa.supp_item AS BIGINT) AS supp_a,
           CAST(sb.supp_item AS BIGINT) AS supp_b,
           (p.supp_ab * n.n_baskets * {AR_LIFT_SCALE})
             // (sa.supp_item * sb.supp_item) AS lift_scaled
    FROM pair_supp p
    JOIN supp sa ON sa.l_partkey = p.part_a
    JOIN supp sb ON sb.l_partkey = p.part_b
    CROSS JOIN n
)
SELECT part_a, part_b, supp_ab, supp_a, supp_b,
       floor(CAST(supp_ab AS DOUBLE) / CAST(supp_a AS DOUBLE)
             * 1000000.0) / 1000000.0 AS conf_a_to_b,
       floor(CAST(supp_ab AS DOUBLE) / CAST(supp_b AS DOUBLE)
             * 1000000.0) / 1000000.0 AS conf_b_to_a,
       CAST(lift_scaled AS DOUBLE) / {float(AR_LIFT_SCALE)} AS lift
FROM scored
ORDER BY lift_scaled DESC, supp_ab DESC, part_a ASC, part_b ASC
LIMIT {AR_TOP_K}
"""


# -------------------------------------------------------------- ml_wilson_ci

#: Success criterion for the per-type engagement rate: value at or
#: above this literal. Pinned so the rate is reproducible; NULL values
#: count as failures (the row happened, the engagement didn't).
WILSON_THRESHOLD = 100.0

WILSON_Z = 1.96


def ml_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson score interval (95%) around the per-event-type
    high-engagement rate (value ≥ 100): the interval every rate the
    engine publishes should carry — the naive Wald interval
    p̂ ± z·√(p̂(1−p̂)/n) collapses to width 0 at p̂ ∈ {0,1} and
    undercovers small n; Wilson is the production default
    (recommendation engines, A/B dashboards). Complements ml_ab_test:
    the z-test compares two arms, this bounds each rate on its own.

    Determinism: n and s are exact integers; center and half-width are
    the IDENTICAL double expression tree on both engines (the oracle
    CASTs the z literals to DOUBLE before multiplying — DuckDB would
    otherwise fold 1.96·1.96 in DECIMAL to exactly 3.8416, one ulp off
    the IEEE product; √ is correctly-rounded on both). At the p̂ ∈
    {0, 1} boundaries the bound that mathematically collapses onto
    0 / 1 is PINNED to that constant: the float expression lands within
    ±1 ulp of the boundary and the 1e-6 floor would otherwise split
    0.0 vs −0.000001 across engines (found by the round-9
    constant-fixture sweep).

    Scale: ONE map-side-combinable shuffle to (type, n, s); the
    interval math runs on the types-sized relation."""
    ev = t(spark, sf_dir, "events")
    flag = F.when(
        F.col("value").isNotNull()
        & (F.col("value") >= WILSON_THRESHOLD),
        1,
    ).otherwise(0)
    per = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(flag).alias("s"),
    )
    n = F.col("n").cast("double")
    s = F.col("s").cast("double")
    z = F.lit(WILSON_Z)
    z2 = z * z
    phat = s / n
    denom = F.lit(1.0) + z2 / n
    center = (phat + z2 / (F.lit(2.0) * n)) / denom
    half = (z / denom) * F.sqrt(
        phat * (F.lit(1.0) - phat) / n
        + z2 / (F.lit(4.0) * n * n)
    )
    lo = F.when(F.col("s") == 0, F.lit(0.0)).otherwise(center - half)
    hi = F.when(F.col("s") == F.col("n"), F.lit(1.0)).otherwise(
        center + half
    )
    return per.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.col("s").cast("long").alias("successes"),
        fquant(phat, 6).alias("rate"),
        fquant(lo, 6).alias("wilson_lo"),
        fquant(hi, 6).alias("wilson_hi"),
    )


#: z enters the oracle as CAST(.. AS DOUBLE) so z² is the IEEE double
#: product on BOTH engines — a bare 1.96*1.96 folds in DECIMAL on
#: DuckDB (exactly 3.8416, one ulp off). The p̂ ∈ {0,1} boundary bound
#: is pinned (CASE) for the same reason as the Spark side.
ML_WILSON_CI_SQL = f"""
WITH per AS (
    SELECT event_type,
           COUNT(*) AS n,
           SUM(CASE WHEN value IS NOT NULL
                     AND value >= {WILSON_THRESHOLD}
                    THEN 1 ELSE 0 END) AS s
    FROM events GROUP BY 1
)
SELECT event_type,
       CAST(n AS BIGINT) AS n,
       CAST(s AS BIGINT) AS successes,
       floor(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) * 1000000.0)
         / 1000000.0 AS rate,
       floor(CASE WHEN s = 0 THEN CAST(0.0 AS DOUBLE) ELSE
             ((CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
               + (CAST({WILSON_Z} AS DOUBLE) * CAST({WILSON_Z} AS DOUBLE))
                 / (2.0 * CAST(n AS DOUBLE)))
              / (1.0 + (CAST({WILSON_Z} AS DOUBLE)
                        * CAST({WILSON_Z} AS DOUBLE))
                       / CAST(n AS DOUBLE))
              - (CAST({WILSON_Z} AS DOUBLE)
                 / (1.0 + (CAST({WILSON_Z} AS DOUBLE)
                           * CAST({WILSON_Z} AS DOUBLE))
                          / CAST(n AS DOUBLE)))
                * sqrt(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
                       * (1.0 - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                       / CAST(n AS DOUBLE)
                       + (CAST({WILSON_Z} AS DOUBLE)
                          * CAST({WILSON_Z} AS DOUBLE))
                         / (4.0 * CAST(n AS DOUBLE)
                                * CAST(n AS DOUBLE)))) END
             * 1000000.0) / 1000000.0 AS wilson_lo,
       floor(CASE WHEN s = n THEN CAST(1.0 AS DOUBLE) ELSE
             ((CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
               + (CAST({WILSON_Z} AS DOUBLE) * CAST({WILSON_Z} AS DOUBLE))
                 / (2.0 * CAST(n AS DOUBLE)))
              / (1.0 + (CAST({WILSON_Z} AS DOUBLE)
                        * CAST({WILSON_Z} AS DOUBLE))
                       / CAST(n AS DOUBLE))
              + (CAST({WILSON_Z} AS DOUBLE)
                 / (1.0 + (CAST({WILSON_Z} AS DOUBLE)
                           * CAST({WILSON_Z} AS DOUBLE))
                          / CAST(n AS DOUBLE)))
                * sqrt(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
                       * (1.0 - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                       / CAST(n AS DOUBLE)
                       + (CAST({WILSON_Z} AS DOUBLE)
                          * CAST({WILSON_Z} AS DOUBLE))
                         / (4.0 * CAST(n AS DOUBLE)
                                * CAST(n AS DOUBLE)))) END
             * 1000000.0) / 1000000.0 AS wilson_hi
FROM per
"""


# ------------------------------------------------------------- dq_uniqueness

#: (table, output label, key expression) triples audited for key
#: uniqueness. The lineitem key is composite — audited via the pair,
#: not a concatenation (string concat invites separator collisions).
UNIQ_SPECS = (
    ("orders", "orders.o_orderkey"),
    ("customer", "customer.c_custkey"),
    ("part", "part.p_partkey"),
    ("supplier", "supplier.s_suppkey"),
    ("events", "events.event_id"),
    ("documents", "documents.doc_id"),
)


def _uniq_one(df: DataFrame, label: str, *keys: str) -> DataFrame:
    per_key = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("cnt"))
    return per_key.agg(
        F.sum("cnt").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum(F.when(F.col("cnt") > 1, 1).otherwise(0))
        .cast("long")
        .alias("dup_keys"),
        F.max("cnt").cast("long").alias("max_multiplicity"),
    ).select(
        F.lit(label).alias("key_name"),
        "n_rows",
        "n_keys",
        "dup_keys",
        "max_multiplicity",
    )


def dq_uniqueness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Primary-key uniqueness audit across every declared key in the
    catalog: rows vs distinct keys, how many keys repeat, and the worst
    multiplicity — the check every warehouse runs before trusting a
    join key (a silently duplicated key turns every downstream join
    into a row multiplier; dq_referential audits the EDGES of the
    schema, this audits the NODES). lineitem's composite
    (l_orderkey, l_linenumber) is audited as the pair.

    Determinism: pure exact-integer counting — nothing to quantize.

    Scale: one map-side-combinable groupBy per table on its own key
    (each collapses to per-key counts before the tiny final
    aggregate); the per-table 1-row results union. No joins — each
    table is audited independently, so a 100 TB fact costs exactly one
    count-shuffle on its key."""
    parts = [
        _uniq_one(
            t(spark, sf_dir, tbl).select(col.split(".")[1]),
            col,
            col.split(".")[1],
        )
        for tbl, col in UNIQ_SPECS
    ]
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber"
    )
    parts.append(
        _uniq_one(
            li, "lineitem.(l_orderkey,l_linenumber)",
            "l_orderkey", "l_linenumber",
        )
    )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


_UNIQ_ONE_SQL = """
    SELECT '{label}' AS key_name,
           CAST(SUM(cnt) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS dup_keys,
           CAST(MAX(cnt) AS BIGINT) AS max_multiplicity
    FROM (SELECT {key}, COUNT(*) AS cnt FROM {table} GROUP BY {key})
"""

DQ_UNIQUENESS_SQL = "\nUNION ALL\n".join(
    [
        _UNIQ_ONE_SQL.format(
            label=lbl, key=lbl.split(".")[1], table=tbl
        )
        for tbl, lbl in UNIQ_SPECS
    ]
    + [
        _UNIQ_ONE_SQL.format(
            label="lineitem.(l_orderkey,l_linenumber)",
            key="l_orderkey, l_linenumber",
            table="lineitem",
        )
    ]
)


QUERIES: dict[str, Query] = {
    "ts_theil_sen": Query(
        ts_theil_sen, TS_THEIL_SEN_SQL,
        "Theil-Sen robust trend slope per event type (exact-rank median)",
        build="compute",
    ),
    "ml_assoc_rules": Query(
        ml_assoc_rules, ML_ASSOC_RULES_SQL,
        "market-basket association rules: support/confidence/lift top-K",
        build="compute",
    ),
    "ml_wilson_ci": Query(
        ml_wilson_ci, ML_WILSON_CI_SQL,
        "Wilson 95% score interval per event-type engagement rate",
    ),
    "dq_uniqueness": Query(
        dq_uniqueness, DQ_UNIQUENESS_SQL,
        "primary-key uniqueness audit across the catalog",
    ),
}
