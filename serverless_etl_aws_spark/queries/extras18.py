"""Round-6 ninth wave: product/eval analytics over the engine tables —
cohort retention, exact rank-based ROC AUC, a single-scan column
profiler, and neighborhood (Jaccard) similarity on the supply graph.

These are the analytics a training-data/ETL platform runs continuously:
``win_retention`` is the activation/retention triangle every event
pipeline feeds, ``ml_auc`` is the model-eval primitive (Mann-Whitney U
form, exact — no sampling, no sklearn), ``dq_profile`` is the
data-quality companion to ``dq_expectations``/``dq_benford`` (per-column
null/distinct/extrema profile in ONE fact scan), and ``graph_jaccard``
is item-item collaborative similarity (shared-neighbor Jaccard), the
set-overlap sibling of ``llm_dedup_ngram``'s posting-list pattern.

The reference delegates all analytics of this shape to its
warehouse/gold tier (reference README.md:108-118 declares the tier but
ships no implementation); these keys are engine-native equivalents.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import Query
from ._util import fin, fquant, t

# ---------------------------------------------------------- win_retention


def win_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users are cohorted by their first
    active day; each (cohort_day, day_offset) cell counts the cohort
    members active ``offset`` days after joining, plus the retention
    share against the cohort's own size (offset 0 is the cohort size by
    construction — every user is active on their first day).

    Scale: the corpus collapses to the (user, day) distinct relation
    first (one shuffle, map-side combinable); the cohort window and the
    cell aggregation run over that relation — users × active-days, NOT
    events — and the final share is a window over the cells relation
    (cohorts × horizon rows). The retention horizon bounds per-user
    state, so no operator ever holds unbounded history."""
    ev = t(spark, sf_dir, "events")
    user_days = ev.select(
        "user_id", F.to_date("ts").alias("d")
    ).distinct()
    cohorted = user_days.withColumn(
        "cohort", F.min("d").over(Window.partitionBy("user_id"))
    )
    cells = cohorted.groupBy(
        F.date_format("cohort", "yyyy-MM-dd").alias("cohort_day"),
        F.datediff("d", "cohort").cast("int").alias("day_offset"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_active"))
    # cohort_size rides in as a window over the cells relation — a join
    # back to an offset-0 aggregate would re-shuffle; the window reuses
    # the cells' cohort_day partitioning
    size = F.max(
        F.when(F.col("day_offset") == 0, F.col("n_active"))
    ).over(Window.partitionBy("cohort_day"))
    return cells.select(
        "cohort_day",
        "day_offset",
        "n_active",
        size.cast("long").alias("cohort_size"),
        fquant(
            F.col("n_active").cast("double") / size.cast("double"), 6
        ).alias("retention"),
    )


WIN_RETENTION_SQL = """
WITH ud AS (
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
), cohorted AS (
    SELECT d, MIN(d) OVER (PARTITION BY user_id) AS cohort FROM ud
), cells AS (
    SELECT strftime(cohort, '%Y-%m-%d') AS cohort_day,
           CAST(datediff('day', cohort, d) AS INT) AS day_offset,
           CAST(COUNT(*) AS BIGINT) AS n_active
    FROM cohorted GROUP BY 1, 2
)
SELECT cohort_day, day_offset, n_active,
       CAST(MAX(CASE WHEN day_offset = 0 THEN n_active END)
            OVER (PARTITION BY cohort_day) AS BIGINT) AS cohort_size,
       floor(CAST(n_active AS DOUBLE)
             / CAST(MAX(CASE WHEN day_offset = 0 THEN n_active END)
                    OVER (PARTITION BY cohort_day) AS DOUBLE)
             * 1000000.0) / 1000000.0 AS retention
FROM cells
"""


# ----------------------------------------------------------------- ml_auc

#: The five event types, pinned so the one-vs-rest pivot is a
#: compile-time projection (no second pass to discover labels).
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

#: Score-bucket granularity: scores enter the AUC as
#: ``floor(value * 100)`` — the AUC of the centi-bucketed classifier,
#: computed EXACTLY. Bucketing is what bounds the ordered state (the
#: prefix-sum window runs over the bucket relation, not the corpus);
#: 100 TB posture: the bucket count is the knob, same role as a ROC
#: histogram's bin count.
AUC_BUCKET_FACTOR = 100


def ml_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-vs-rest ROC AUC of ``value`` as a score for each event type,
    in the exact Mann-Whitney U form: with per-bucket positive count p,
    negative count q, and running negative count below the bucket B⁻,
    ``2U = Σ p·(2B⁻ + q)`` (ties count half — hence the doubled form,
    which keeps every term an INTEGER). AUC = 2U / (2·npos·nneg), one
    double division of exact decimal operands, so the value is
    bit-identical across engines — no libm, no float accumulation.

    Scale: one map-side-combinable groupBy on the score bucket, one
    ordered prefix-sum window over the BUCKET relation (bounded by
    ``AUC_BUCKET_FACTOR`` × score range, not by rows — the
    single-partition exchange moves buckets only), one global aggregate,
    and a 5-row unpivot. The U accumulator is DECIMAL(38,0): counts
    beyond 2⁵³ would silently lose integer exactness in a double."""
    ev = t(spark, sf_dir, "events").filter(
        # finite values only: non-finite scores have no bucket/label
        # (Spark's ANSI floor silently fabricates bucket 0 from NaN)
        F.col("value").isNotNull()
        & ~F.isnan("value")
        & (F.abs("value") != float("inf"))
    )
    b = ev.select(
        F.floor(F.col("value") * AUC_BUCKET_FACTOR).alias("bkt"),
        "event_type",
    )
    per = b.groupBy("bkt").agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.count(F.when(F.col("event_type") == ty, 1)).alias(f"c_{ty}")
            for ty in EVENT_TYPES
        ],
    )
    below = Window.orderBy("bkt").rowsBetween(
        Window.unboundedPreceding, -1
    )
    run_n = F.coalesce(F.sum("n").over(below), F.lit(0))
    terms = per
    for ty in EVENT_TYPES:
        run_t = F.coalesce(F.sum(f"c_{ty}").over(below), F.lit(0))
        neg_below2 = (run_n - run_t) * 2
        ties = F.col("n") - F.col(f"c_{ty}")
        terms = terms.withColumn(
            f"u2_{ty}",
            F.col(f"c_{ty}").cast("decimal(19,0)")
            * (neg_below2 + ties).cast("decimal(19,0)"),
        )
    tot = terms.agg(
        F.sum("n").alias("n_total"),
        *[F.sum(f"c_{ty}").alias(f"p_{ty}") for ty in EVENT_TYPES],
        *[F.sum(f"u2_{ty}").alias(f"u_{ty}") for ty in EVENT_TYPES],
    )
    stack = F.expr(
        "stack({n}, {args}) AS (event_type, npos, u2)".format(
            n=len(EVENT_TYPES),
            args=", ".join(
                f"'{ty}', p_{ty}, u_{ty}" for ty in EVENT_TYPES
            ),
        )
    )
    npos = F.col("npos").cast("double")
    nneg = (F.col("n_total") - F.col("npos")).cast("double")
    # Degenerate classes (no positives or no negatives) make the
    # denominator 0; Spark's floor-of-NaN/Inf differs from DuckDB's, so
    # gate the division — an absent/universal label yields NULL AUC
    # identically on both engines instead of breaking parity.
    auc = F.when(
        (npos > 0) & (nneg > 0),
        fquant(F.col("u2").cast("double") / (2.0 * npos * nneg), 6),
    )
    # Label-set drift guard: EVENT_TYPES is pinned at compile time, so a
    # new label in the data would silently count as a negative for every
    # class on BOTH engines and the parity gate could not see it.
    # Surface the out-of-vocabulary row count in every output row —
    # drift shows as n_other > 0, and tests/test_extras_waves.py pins it
    # to 0 against the fixture.
    n_other = F.col("n_total")
    for ty in EVENT_TYPES:
        n_other = n_other - F.col(f"p_{ty}")
    return (
        tot.select("n_total", n_other.cast("long").alias("n_other"), stack)
        .select(
            "event_type",
            F.col("npos").cast("long").alias("npos"),
            (F.col("n_total") - F.col("npos")).cast("long").alias("nneg"),
            auc.alias("auc"),
            "n_other",
        )
    )


def _auc_sql() -> str:
    per_cols = ",\n           ".join(
        f"COUNT(*) FILTER (WHERE event_type = '{ty}') AS c_{ty}"
        for ty in EVENT_TYPES
    )
    term_cols = ",\n           ".join(
        f"CAST(c_{ty} AS DECIMAL(19,0)) * CAST((run_n - run_{ty}) * 2"
        f" + (n - c_{ty}) AS DECIMAL(19,0)) AS u2_{ty}"
        for ty in EVENT_TYPES
    )
    run_cols = ",\n           ".join(
        f"COALESCE(SUM(c_{ty}) OVER (ORDER BY bkt ROWS BETWEEN UNBOUNDED"
        f" PRECEDING AND 1 PRECEDING), 0) AS run_{ty}"
        for ty in EVENT_TYPES
    )
    tot_cols = ", ".join(
        f"SUM(c_{ty}) AS p_{ty}, SUM(u2_{ty}) AS u_{ty}"
        for ty in EVENT_TYPES
    )
    other = " - ".join(["n_total", *(f"p_{ty}" for ty in EVENT_TYPES)])
    branches = "\nUNION ALL\n".join(
        f"SELECT '{ty}' AS event_type,"
        f" CAST(p_{ty} AS BIGINT) AS npos,"
        f" CAST(n_total - p_{ty} AS BIGINT) AS nneg,"
        f" CASE WHEN p_{ty} > 0 AND n_total - p_{ty} > 0 THEN"
        f" floor(CAST(u_{ty} AS DOUBLE) / (2.0 * CAST(p_{ty} AS DOUBLE)"
        f" * CAST(n_total - p_{ty} AS DOUBLE)) * 1000000.0) / 1000000.0"
        f" END AS auc,"
        f" CAST({other} AS BIGINT) AS n_other FROM tot"
        for ty in EVENT_TYPES
    )
    return f"""
WITH per AS (
    SELECT CAST(floor(value * {AUC_BUCKET_FACTOR}) AS BIGINT) AS bkt,
           COUNT(*) AS n,
           {per_cols}
    FROM events WHERE value IS NOT NULL AND isfinite(value)
    GROUP BY 1
), runs AS (
    SELECT *,
           COALESCE(SUM(n) OVER (ORDER BY bkt ROWS BETWEEN UNBOUNDED
               PRECEDING AND 1 PRECEDING), 0) AS run_n,
           {run_cols}
    FROM per
), terms AS (
    SELECT *,
           {term_cols}
    FROM runs
), tot AS (
    SELECT SUM(n) AS n_total, {tot_cols} FROM terms
)
{branches}
"""


ML_AUC_SQL = _auc_sql()


# -------------------------------------------------------------- dq_profile

#: (column, renderer) pairs for the orders profile. The renderer pins a
#: cross-engine-deterministic STRING form per type: integers verbatim,
#: doubles through the exact DECIMAL(18,4) rendering (both engines print
#: all four scale digits), timestamps through an explicit
#: second-resolution format (both engines truncate sub-second).
_PROFILE_COLS = (
    ("o_orderkey", "bigint"),
    ("o_custkey", "bigint"),
    ("o_orderstatus", "string"),
    ("o_totalprice", "double"),
    ("o_orderdate", "timestamp"),
    ("o_orderpriority", "string"),
)


def _render(col: Column, kind: str) -> Column:
    if kind == "double":
        # Floor-quantize BEFORE the decimal render (the fquant mirror):
        # casting a raw double to DECIMAL(18,4) ROUNDS it, and Spark
        # (BigDecimal.valueOf on the shortest decimal repr) and DuckDB
        # (rounding the binary value) disagree at 5th-decimal half
        # boundaries. A floor-quantized double sits ~1e-12 off the
        # 4-decimal grid, never at a half boundary, so the subsequent
        # cast is exact on both engines while keeping the fixed
        # "x.xxxx" string form.
        return (
            fquant(col, 4).cast("decimal(18,4)").cast("string")
        )
    if kind == "timestamp":
        return F.date_format(col, "yyyy-MM-dd HH:mm:ss")
    return col.cast("string")


def dq_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column data profile of ``orders``: row count, null count,
    EXACT distinct count, and min/max rendered to a per-type
    deterministic string — the schema-wide health report a pipeline
    publishes with every load (the approximate sibling is
    ``agg_approx_distinct``; the assertion form is ``dq_expectations``).

    Scale: TWO single-row passes joined 1×1 (the maintenance_analyze
    split): the exact NDVs ride Spark's Expand-based multi-DISTINCT
    plan alone, while counts and min/max take a separate plain
    whole-stage-codegen pass — folding the STRING min/max into the
    Expand aggregate reads once but drops them out of codegen, and the
    interpreted fallback over the 6× expanded rows dwarfs the extra
    scan (measured on maintenance_analyze: 10 s vs 2.9 s at sf0.1; this
    key re-measured 4.5× → 2.0× at 10× data after the split). Exact NDV
    is the audit path; at 100 TB the default profile flips to HLL
    (``agg_approx_distinct`` / ``agg_sketch_merge``)."""
    orders = t(spark, sf_dir, "orders")
    ndv_row = orders.agg(
        *[
            F.countDistinct(c).alias(f"nd_{c}")
            for c, _ in _PROFILE_COLS
        ]
    )
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c, kind in _PROFILE_COLS:
        aggs.append(F.count(c).alias(f"nn_{c}"))
        # double min/max profile the FINITE domain: a NaN/±Inf outlier
        # has no decimal rendering (Spark NULLs the cast, DuckDB throws)
        # — the oracle mirrors with MIN/MAX over isfinite(c).
        src = fin(c) if kind == "double" else F.col(c)
        aggs.append(_render(F.min(src), kind).alias(f"mn_{c}"))
        aggs.append(_render(F.max(src), kind).alias(f"mx_{c}"))
    one = orders.agg(*aggs).crossJoin(ndv_row)  # 1×1
    stack = F.expr(
        "stack({n}, {args}) AS (column_name, n_nonnull, n_distinct,"
        " min_value, max_value)".format(
            n=len(_PROFILE_COLS),
            args=", ".join(
                f"'{c}', nn_{c}, nd_{c}, mn_{c}, mx_{c}"
                for c, _ in _PROFILE_COLS
            ),
        )
    )
    return one.select("n_rows", stack).select(
        "column_name",
        F.col("n_rows").cast("long").alias("n_rows"),
        (F.col("n_rows") - F.col("n_nonnull")).cast("long").alias("n_null"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
        "min_value",
        "max_value",
    )


def _profile_sql() -> str:
    branches = []
    for c, kind in _PROFILE_COLS:
        if kind == "double":
            fc = f"CASE WHEN isfinite({c}) THEN {c} END"
            mn = (
                f"CAST(CAST(floor(MIN({fc}) * 10000.0) / 10000.0"
                f" AS DECIMAL(18,4)) AS VARCHAR)"
            )
            mx = (
                f"CAST(CAST(floor(MAX({fc}) * 10000.0) / 10000.0"
                f" AS DECIMAL(18,4)) AS VARCHAR)"
            )
        elif kind == "timestamp":
            mn = f"strftime(MIN({c}), '%Y-%m-%d %H:%M:%S')"
            mx = f"strftime(MAX({c}), '%Y-%m-%d %H:%M:%S')"
        else:
            mn = f"CAST(MIN({c}) AS VARCHAR)"
            mx = f"CAST(MAX({c}) AS VARCHAR)"
        branches.append(
            f"SELECT '{c}' AS column_name,"
            f" CAST(COUNT(*) AS BIGINT) AS n_rows,"
            f" CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS n_null,"
            f" CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,"
            f" {mn} AS min_value, {mx} AS max_value FROM orders"
        )
    return "\nUNION ALL\n".join(branches)


DQ_PROFILE_SQL = _profile_sql()


# ------------------------------------------------------------ graph_jaccard


def graph_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier-supplier neighborhood similarity on the supply bipartite
    graph: suppliers are neighbors of the parts they ship, and each
    supplier pair sharing at least one part gets the Jaccard of their
    part sets — |A∩B| / (|A| + |B| − |A∩B|), exact integers into one
    double division. This is item-item collaborative similarity, and the
    same posting-list self-join that powers ``llm_dedup_ngram``
    (operators/dedup.py:54) — there the postings are trigrams, here
    parts.

    Scale: the fact table collapses to DISTINCT (supplier, part) edges
    first and is materialized via the session-memoized shared relation
    (_util.supplier_part_edges) — edges feed FOUR consumers (both
    pair-join sides and both degree lookups), and without the
    materialization Catalyst duplicates the subtree into four full fact
    scans (measured: 4× FileScan at plan time). The pair join
    is per-part (cost Σ deg(part)², bounded because part fan-out is
    capped by the sourcing model — the hot-key frequency-stop lever
    from the ngram dedup applies verbatim if a part's supplier list
    explodes); degrees are a node-sized relation and broadcast to the
    pair stream."""
    from ._util import supplier_part_edges

    edges = supplier_part_edges(spark, sf_dir)
    deg = edges.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).alias("deg")
    )
    a = edges.alias("a")
    bb = edges.alias("b")
    common = (
        a.join(bb, F.col("a.l_partkey") == F.col("b.l_partkey"))
        .filter(F.col("a.l_suppkey") < F.col("b.l_suppkey"))
        .groupBy(
            F.col("a.l_suppkey").alias("supp_a"),
            F.col("b.l_suppkey").alias("supp_b"),
        )
        .agg(F.count(F.lit(1)).alias("common_parts"))
    )
    da = F.broadcast(deg.select(
        F.col("l_suppkey").alias("supp_a"), F.col("deg").alias("deg_a")
    ))
    db = F.broadcast(deg.select(
        F.col("l_suppkey").alias("supp_b"), F.col("deg").alias("deg_b")
    ))
    union = F.col("deg_a") + F.col("deg_b") - F.col("common_parts")
    return (
        common.join(da, "supp_a").join(db, "supp_b")
        .select(
            "supp_a",
            "supp_b",
            "common_parts",
            "deg_a",
            "deg_b",
            fquant(
                F.col("common_parts").cast("double")
                / union.cast("double"),
                6,
            ).alias("jaccard"),
        )
    )


GRAPH_JACCARD_SQL = """
WITH edges AS (
    SELECT DISTINCT l_suppkey, l_partkey FROM lineitem
), deg AS (
    SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS deg
    FROM edges GROUP BY 1
), pairs AS (
    SELECT a.l_suppkey AS supp_a, b.l_suppkey AS supp_b,
           CAST(COUNT(*) AS BIGINT) AS common_parts
    FROM edges a JOIN edges b ON a.l_partkey = b.l_partkey
    WHERE a.l_suppkey < b.l_suppkey
    GROUP BY 1, 2
)
SELECT supp_a, supp_b, common_parts,
       da.deg AS deg_a, db.deg AS deg_b,
       floor(CAST(common_parts AS DOUBLE)
             / CAST(da.deg + db.deg - common_parts AS DOUBLE)
             * 1000000.0) / 1000000.0 AS jaccard
FROM pairs
JOIN deg da ON pairs.supp_a = da.l_suppkey
JOIN deg db ON pairs.supp_b = db.l_suppkey
"""


QUERIES: dict[str, Query] = {
    "win_retention": Query(
        win_retention, WIN_RETENTION_SQL,
        "cohort retention triangle over the (user, day) relation",
    ),
    "ml_auc": Query(
        ml_auc, ML_AUC_SQL,
        "exact Mann-Whitney ROC AUC, one-vs-rest per event type",
    ),
    "dq_profile": Query(
        dq_profile, DQ_PROFILE_SQL,
        "single-scan per-column profile: nulls, exact distinct, extrema",
    ),
    "graph_jaccard": Query(
        graph_jaccard, GRAPH_JACCARD_SQL,
        "shared-part Jaccard similarity between suppliers",
        build="compute",
    ),
}
