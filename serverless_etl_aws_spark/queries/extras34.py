"""Round-7 twenty-fifth wave: JSON schema profiling, price-volume-mix
decomposition, distribution-free median CIs, and label centroid
separation.

``dq_json_schema`` profiles the semi-structured ``props`` column the
way a warehouse on-boards any JSON feed: which keys exist, how often,
and what numeric range they span — fn_json EXTRACTS a known key; this
key DISCOVERS them. ``agg_mix_rate_decomp`` is the FP&A bridge: how
much of each nation's revenue change between the corpus halves came
from MORE ORDERS (volume) vs BIGGER ORDERS (rate) vs both (cross) —
the exact Laspeyres decomposition, term by term.  ``agg_median_ci``
puts the distribution-free 95% interval around the exact median (the
binomial rank bound — no normality assumption, no bootstrap
randomness). ``ml_label_centroids`` asks whether the embedding space
SEPARATES its labels: pairwise cosine between label centroids — the
first diagnostic after training an encoder, and the quality gate in
front of the ANN family.

The reference delegates all analytics of this shape to its
warehouse/gold tier (reference README.md:108-118 declares the tier but
ships no implementation); these keys are engine-native equivalents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import Query
from ._util import dec, fquant, sql_vec_dim_ok, t, vec_dim_ok, vec_finite

# ----------------------------------------------------------------- dq_json_schema


def dq_json_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema discovery over the semi-structured ``props`` JSON column:
    per discovered key — presence count, coverage of non-null JSON
    rows, how many of its values parse as integers, and the integer
    min/max. The on-boarding audit for any JSON feed (fn_json extracts
    a key you already know; this discovers what's there and whether
    its type is stable).

    Determinism: key discovery (json_object_keys ↔ json_keys) and
    try-cast integer parses are exact on both engines; coverage is one
    division of integers.

    Scale: one explode of the per-row key list (bounded by JSON width,
    not corpus size), one map-side-combinable per-key collapse; the
    non-null row total is a window over the keys-sized relation."""
    ev = t(spark, sf_dir, "events").filter(F.col("props").isNotNull())
    # from_json to map + explode yields (key, value) pairs natively —
    # get_json_object can't take a per-row path (literal-only).
    # Malformed-JSON hardening (round-11 probe): rows whose props don't
    # parse contribute to n_json_rows but no keys (from_json → NULL map
    # ↔ oracle json_valid guard); DUPLICATE keys make the value
    # ambiguous (Spark's map keeps the LAST occurrence, DuckDB's
    # json_extract_string the FIRST) so such rows keep key presence but
    # their values are excluded from the type stats on both engines;
    # the integer parse is gated on an integral regex because DuckDB's
    # TRY_CAST ROUNDS '3.5' to 4 where Spark's try_cast nulls it.
    parsed = ev.select(
        F.from_json(F.col("props"), "map<string,string>").alias("m"),
        F.json_object_keys(F.col("props")).alias("jk"),
    ).filter(F.col("m").isNotNull())
    kv = parsed.select(
        (F.size("jk") != F.size(F.map_keys("m"))).alias("hasdup"),
        F.explode("m").alias("k", "val"),
    )
    ival = F.when(
        ~F.col("hasdup")
        & F.col("val").rlike(r"\A-?[0-9]{1,18}\z"),
        F.col("val").cast("long"),
    )
    per = kv.select("k", ival.alias("iv")).groupBy("k").agg(
        F.count(F.lit(1)).alias("present"),
        F.sum(
            F.when(F.col("iv").isNotNull(), 1).otherwise(0)
        ).alias("n_int"),
        F.min("iv").alias("int_min"),
        F.max("iv").alias("int_max"),
    )
    n_rows = ev.agg(F.count(F.lit(1)).alias("n_json_rows"))
    return per.crossJoin(F.broadcast(n_rows)).select(
        F.col("k").alias("json_key"),
        F.col("present").cast("long").alias("present"),
        F.col("n_json_rows").cast("long").alias("n_json_rows"),
        fquant(
            F.col("present").cast("double")
            / F.col("n_json_rows").cast("double"),
            6,
        ).alias("coverage"),
        F.col("n_int").cast("long").alias("n_int_values"),
        F.col("int_min").cast("long").alias("int_min"),
        F.col("int_max").cast("long").alias("int_max"),
    )


DQ_JSON_SCHEMA_SQL = """
WITH ev AS (
    SELECT props FROM events WHERE props IS NOT NULL
), keys_ AS (
    SELECT unnest(list_distinct(json_keys(props))) AS k, props,
           len(json_keys(props)) != len(list_distinct(json_keys(props)))
             AS hasdup
    FROM ev WHERE json_valid(props)
), vals AS (
    SELECT k,
           TRY_CAST(CASE WHEN NOT hasdup AND regexp_full_match(
                           json_extract_string(props, '$.' || k),
                           '-?[0-9]{1,18}')
                    THEN json_extract_string(props, '$.' || k) END
                    AS BIGINT) AS iv
    FROM keys_
), per AS (
    SELECT k,
           COUNT(*) AS present,
           SUM(CASE WHEN iv IS NOT NULL THEN 1 ELSE 0 END) AS n_int,
           MIN(iv) AS int_min,
           MAX(iv) AS int_max
    FROM vals GROUP BY 1
), n AS (
    SELECT COUNT(*) AS n_json_rows FROM ev
)
SELECT k AS json_key,
       CAST(present AS BIGINT) AS present,
       CAST(n.n_json_rows AS BIGINT) AS n_json_rows,
       floor(CAST(present AS DOUBLE) / CAST(n.n_json_rows AS DOUBLE)
             * 1000000.0) / 1000000.0 AS coverage,
       CAST(n_int AS BIGINT) AS n_int_values,
       CAST(int_min AS BIGINT) AS int_min,
       CAST(int_max AS BIGINT) AS int_max
FROM per CROSS JOIN n
"""


# ------------------------------------------------------------ agg_mix_rate_decomp


def agg_mix_rate_decomp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price-volume-mix bridge per customer nation between the corpus
    halves: ΔRevenue decomposes EXACTLY as
    (Δn)·r₁ (volume effect) + n₁·(Δr) (rate effect) + (Δn)·(Δr)
    (cross) — the FP&A waterfall behind every "why did revenue move"
    review. agg_share_shift says WHO moved; this says WHY.

    Determinism: order counts are integers; average order values are
    single divisions of exact decimal sums; each effect term is one
    further multiplication on those identical doubles, floor-quantized
    independently (the identity is exact in ℝ; the three RENDERED
    terms are contract outputs, not re-summed).

    Scale: orders⋈customer with the dims broadcast, one
    map-side-combinable (nation, half) collapse, grid-sized pivot."""
    orders = t(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice",
        F.date_diff(
            F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date")
        ).cast("long").alias("d"),
    )
    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    mid = F.expr("(min(d) OVER () + max(d) OVER () + 1) DIV 2")
    marked = orders.select(
        "o_custkey",
        dec("o_totalprice").alias("rev"),
        (F.col("d") >= mid).cast("int").alias("half"),
    )
    per = (
        marked.join(F.broadcast(cust), marked.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum(F.when(F.col("half") == 0, 1).otherwise(0))
            .alias("n1"),
            F.sum(F.when(F.col("half") == 1, 1).otherwise(0))
            .alias("n2"),
            F.sum(
                F.when(F.col("half") == 0, F.col("rev"))
                .otherwise(F.lit(0).cast("decimal(18,4)"))
            ).alias("rev1"),
            F.sum(
                F.when(F.col("half") == 1, F.col("rev"))
                .otherwise(F.lit(0).cast("decimal(18,4)"))
            ).alias("rev2"),
        )
    )
    r1s = (F.col("rev1") * 10000).cast("long")
    r2s = (F.col("rev2") * 10000).cast("long")
    rate1 = r1s.cast("double") / (F.col("n1") * 10000).cast("double")
    rate2 = r2s.cast("double") / (F.col("n2") * 10000).cast("double")
    dn = (F.col("n2") - F.col("n1")).cast("double")
    both = (F.col("n1") > 0) & (F.col("n2") > 0)
    return per.select(
        "nation",
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
        (r1s.cast("double") / 10000.0).alias("rev_h1"),
        (r2s.cast("double") / 10000.0).alias("rev_h2"),
        F.when(both, fquant(dn * rate1, 4)).alias("volume_effect"),
        F.when(
            both,
            fquant(F.col("n1").cast("double") * (rate2 - rate1), 4),
        ).alias("rate_effect"),
        F.when(both, fquant(dn * (rate2 - rate1), 4)).alias(
            "cross_effect"
        ),
    )


AGG_MIX_RATE_DECOMP_SQL = """
WITH orders_d AS (
    SELECT o_custkey,
           CAST(CASE WHEN isfinite(o_totalprice) THEN o_totalprice END AS DECIMAL(18,4)) AS rev,
           date_diff('day', DATE '1970-01-01',
                     CAST(CAST(o_orderdate AS TIMESTAMP) AS DATE)) AS d
    FROM orders
), marked AS (
    SELECT o_custkey, rev,
           CAST(d >= (MIN(d) OVER () + MAX(d) OVER () + 1) // 2
                AS INT) AS half
    FROM orders_d
), per AS (
    SELECT n.n_name AS nation,
           SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS n1,
           SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS n2,
           SUM(CASE WHEN half = 0 THEN rev
                    ELSE CAST(0 AS DECIMAL(18,4)) END) AS rev1,
           SUM(CASE WHEN half = 1 THEN rev
                    ELSE CAST(0 AS DECIMAL(18,4)) END) AS rev2
    FROM marked m
    JOIN customer c ON m.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY 1
)
SELECT nation,
       CAST(n1 AS BIGINT) AS n1,
       CAST(n2 AS BIGINT) AS n2,
       CAST(CAST(rev1 * 10000 AS BIGINT) AS DOUBLE) / 10000.0
         AS rev_h1,
       CAST(CAST(rev2 * 10000 AS BIGINT) AS DOUBLE) / 10000.0
         AS rev_h2,
       CASE WHEN n1 > 0 AND n2 > 0 THEN
         CAST(floor(CAST(n2 - n1 AS DOUBLE)
               * (CAST(CAST(rev1 * 10000 AS BIGINT) AS DOUBLE)
                  / CAST(n1 * 10000 AS DOUBLE))
               * 10000.0) AS BIGINT) / 10000.0 END AS volume_effect,
       CASE WHEN n1 > 0 AND n2 > 0 THEN
         CAST(floor(CAST(n1 AS DOUBLE)
               * (CAST(CAST(rev2 * 10000 AS BIGINT) AS DOUBLE)
                    / CAST(n2 * 10000 AS DOUBLE)
                  - CAST(CAST(rev1 * 10000 AS BIGINT) AS DOUBLE)
                    / CAST(n1 * 10000 AS DOUBLE))
               * 10000.0) AS BIGINT) / 10000.0 END AS rate_effect,
       CASE WHEN n1 > 0 AND n2 > 0 THEN
         CAST(floor(CAST(n2 - n1 AS DOUBLE)
               * (CAST(CAST(rev2 * 10000 AS BIGINT) AS DOUBLE)
                    / CAST(n2 * 10000 AS DOUBLE)
                  - CAST(CAST(rev1 * 10000 AS BIGINT) AS DOUBLE)
                    / CAST(n1 * 10000 AS DOUBLE))
               * 10000.0) AS BIGINT) / 10000.0 END AS cross_effect
FROM per
"""


# ---------------------------------------------------------------- agg_median_ci

MEDIAN_CI_Z = 1.96


def agg_median_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median of ``value`` per event type with the
    DISTRIBUTION-FREE 95% confidence interval: the classic binomial
    rank bound — the CI endpoints are the order statistics at ranks
    ⌊(n − z√n)/2⌋ and ⌈(n + z√n)/2 + 1⌉ (clamped to [1, n]) — no
    normality assumption, no bootstrap randomness, valid for ANY
    continuous distribution. The interval agg_percentile's point
    estimates should always have carried.

    Determinism: medians/endpoints are SELECTED (exact rank window,
    value+event_id total order), never interpolated; the rank formulas
    are floor/ceil of the identical √n double on both engines.

    Scale: ONE event_type window shuffle; selection and the final
    collapse share the partitioning (the dq_iqr_outliers shape)."""
    ev = t(spark, sf_dir, "events").filter(
        # finite values only: a non-finite value has no rank on the
        # exact decimal grid (dec() NULLs it, and NULL ordering
        # diverges NULLS FIRST/LAST between engines) — oracle isfinite
        F.col("value").isNotNull()
        & ~F.isnan("value")
        & (F.abs("value") != float("inf"))
    )
    v = (dec("value") * 10000).cast("long")
    wrank = Window.partitionBy("event_type").orderBy(
        F.col("v").asc(), F.col("event_id").asc()
    )
    wall = Window.partitionBy("event_type").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = ev.select(
        "event_type", "event_id", v.alias("v")
    ).select(
        "event_type",
        "v",
        F.row_number().over(wrank).alias("rn"),
        F.count(F.lit(1)).over(wall).alias("n"),
    )
    nd = F.col("n").cast("double")
    z = F.lit(MEDIAN_CI_Z)
    med_rank = F.expr("(n + 1) DIV 2")
    lo_rank = F.greatest(
        F.lit(1).cast("long"),
        F.floor((nd - z * F.sqrt(nd)) / F.lit(2.0)).cast("long"),
    )
    hi_rank = F.least(
        F.col("n"),
        F.ceil((nd + z * F.sqrt(nd)) / F.lit(2.0) + F.lit(1.0))
        .cast("long"),
    )
    per = ranked.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n"),
        F.max(F.when(F.col("rn") == med_rank, F.col("v"))).alias("ms"),
        F.max(F.when(F.col("rn") == lo_rank, F.col("v"))).alias("ls"),
        F.max(F.when(F.col("rn") == hi_rank, F.col("v"))).alias("hs"),
    )
    return per.select(
        "event_type",
        "n",
        (F.col("ms").cast("double") / 10000.0).alias("median"),
        (F.col("ls").cast("double") / 10000.0).alias("ci_lo"),
        (F.col("hs").cast("double") / 10000.0).alias("ci_hi"),
    )


AGG_MEDIAN_CI_SQL = f"""
WITH ranked AS (
    SELECT event_type,
           CAST(CAST(CASE WHEN isfinite(value) THEN value END AS DECIMAL(18,4)) * 10000 AS BIGINT) AS v,
           ROW_NUMBER() OVER (PARTITION BY event_type
                              ORDER BY CAST(CAST(CASE WHEN isfinite(value) THEN value END AS DECIMAL(18,4))
                                            * 10000 AS BIGINT) ASC,
                                       event_id ASC) AS rn,
           COUNT(*) OVER (PARTITION BY event_type) AS n
    FROM events WHERE value IS NOT NULL AND isfinite(value)
), per AS (
    SELECT event_type,
           MAX(n) AS n,
           MAX(CASE WHEN rn = (n + 1) // 2 THEN v END) AS ms,
           MAX(CASE WHEN rn = greatest(1, CAST(floor(
                 (CAST(n AS DOUBLE)
                  - {MEDIAN_CI_Z} * sqrt(CAST(n AS DOUBLE))) / 2.0)
                 AS BIGINT)) THEN v END) AS ls,
           MAX(CASE WHEN rn = least(n, CAST(ceil(
                 (CAST(n AS DOUBLE)
                  + {MEDIAN_CI_Z} * sqrt(CAST(n AS DOUBLE))) / 2.0
                 + 1.0) AS BIGINT)) THEN v END) AS hs
    FROM ranked GROUP BY event_type
)
SELECT event_type,
       CAST(n AS BIGINT) AS n,
       CAST(ms AS DOUBLE) / 10000.0 AS median,
       CAST(ls AS DOUBLE) / 10000.0 AS ci_lo,
       CAST(hs AS DOUBLE) / 10000.0 AS ci_hi
FROM per
"""


# ------------------------------------------------------------ ml_label_centroids

#: Per-element quantization for centroid sums: each embedding element
#: contributes floor(x·10⁹) to its (label, dim) accumulator, so the
#: centroid numerators are exact BIGINT sums.
CENTROID_SCALE = 1_000_000_000


def ml_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-separation audit of the embedding space: cosine
    similarity between every pair of label centroids. High cosine
    between two labels means the encoder cannot tell them apart — the
    first diagnostic after training, and the quality gate in front of
    the ANN/knn family (a space whose centroids collapse is not worth
    indexing). Complements dq_embedding_audit (that key checks the
    vectors; this checks the GEOMETRY).

    Determinism: per-(label, dim) sums quantize each element to a
    BIGINT before summing (order-independent); centroid means are one
    division each; the pair dot/norms fold the 64-dim arrays in array
    order via sort_array-ed collect (both engines fold sequentially in
    list order), and the final cosine is one division.

    Scale: one posexplode (64× rows), one (label, dim) collapse, one
    label collapse to 64-element arrays, then a labels²-sized pair
    join — every relation after the first shuffle is label-bounded."""
    # poisoned-vector + ragged-dim exclusion (float-specials contract
    # _util.vec_finite; round-12 ragged-dims contract _util.vec_dim_ok)
    raw = t(spark, sf_dir, "embeddings")
    emb = raw.filter(vec_dim_ok(raw) & vec_finite()).select(
        "label",
        F.expr(
            "transform(embedding, x -> cast(x as double))"
        ).alias("v"),
    )
    dims = emb.select(
        "label", F.posexplode("v").alias("dim", "x")
    ).select(
        "label",
        "dim",
        F.floor(F.col("x") * CENTROID_SCALE).cast("long").alias("xq"),
    )
    per_dim = dims.groupBy("label", "dim").agg(
        F.sum("xq").alias("sq"),
        F.count(F.lit(1)).alias("nv"),
    )
    cent = per_dim.select(
        "label",
        "dim",
        (
            F.col("sq").cast("double")
            / (F.col("nv") * CENTROID_SCALE).cast("double")
        ).alias("m"),
    ).groupBy("label").agg(
        F.expr(
            "transform(sort_array(collect_list(struct(dim, m))),"
            " s -> s.m)"
        ).alias("cv"),
    ).localCheckpoint(eager=False)
    # lazy checkpoint: the pair self-join references the labels-sized
    # centroid relation twice; without lineage truncation Catalyst
    # duplicates the whole explode+collapse subtree (measured: 2x scan)
    a, b = cent.alias("a"), cent.alias("b")
    dot = F.expr(
        "aggregate(zip_with(a.cv, b.cv, (x, y) -> x * y),"
        " cast(0 as double), (acc, e) -> acc + e)"
    )
    na = F.expr(
        "aggregate(a.cv, cast(0 as double), (acc, e) -> acc + e * e)"
    )
    nb = F.expr(
        "aggregate(b.cv, cast(0 as double), (acc, e) -> acc + e * e)"
    )
    pairs = (
        a.join(b, F.col("a.label") < F.col("b.label"))
        .select(
            F.col("a.label").alias("label_a"),
            F.col("b.label").alias("label_b"),
            F.when(
                (na > 0) & (nb > 0),
                fquant(dot / (F.sqrt(na) * F.sqrt(nb)), 6),
            ).alias("centroid_cosine"),
        )
    )
    return pairs


ML_LABEL_CENTROIDS_SQL = f"""
WITH dims AS (
    SELECT label, u.i - 1 AS dim,
           CAST(floor(CAST(embedding[u.i] AS DOUBLE)
                      * {CENTROID_SCALE}) AS BIGINT) AS xq
    FROM embeddings,
         LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i) u
    WHERE (embedding IS NULL OR len(list_filter(embedding, x -> NOT isfinite(CAST(x AS DOUBLE)))) = 0)
      AND {sql_vec_dim_ok()}
), per_dim AS (
    SELECT label, dim, SUM(xq) AS sq, COUNT(*) AS nv
    FROM dims GROUP BY 1, 2
), cent AS (
    SELECT label,
           list(CAST(sq AS DOUBLE)
                / CAST(nv * {CENTROID_SCALE} AS DOUBLE)
                ORDER BY dim) AS cv
    FROM per_dim GROUP BY 1
)
SELECT a.label AS label_a, b.label AS label_b,
       CASE WHEN list_reduce(list_transform(a.cv, x -> x * x),
                             (acc, e) -> acc + e) > 0
             AND list_reduce(list_transform(b.cv, x -> x * x),
                             (acc, e) -> acc + e) > 0 THEN
         floor(list_reduce(list_transform(range(1, len(a.cv) + 1),
                 i -> a.cv[i] * b.cv[i]), (acc, e) -> acc + e)
               / (sqrt(list_reduce(list_transform(a.cv, x -> x * x),
                                   (acc, e) -> acc + e))
                  * sqrt(list_reduce(list_transform(b.cv, x -> x * x),
                                     (acc, e) -> acc + e)))
               * 1000000.0) / 1000000.0 END AS centroid_cosine
FROM cent a JOIN cent b ON a.label < b.label
"""


QUERIES: dict[str, Query] = {
    "dq_json_schema": Query(
        dq_json_schema, DQ_JSON_SCHEMA_SQL,
        "JSON key discovery + coverage + integer range over props",
    ),
    "agg_mix_rate_decomp": Query(
        agg_mix_rate_decomp, AGG_MIX_RATE_DECOMP_SQL,
        "price-volume-mix revenue bridge per nation between halves",
    ),
    "agg_median_ci": Query(
        agg_median_ci, AGG_MEDIAN_CI_SQL,
        "exact median + distribution-free 95% CI per event type",
    ),
    "ml_label_centroids": Query(
        ml_label_centroids, ML_LABEL_CENTROIDS_SQL,
        "pairwise cosine between embedding label centroids",
        build="compute",
    ),
}
