"""Round-7 twenty-first wave: Lorenz concentration deciles, an
embedding-quality audit, DAU/WAU/cumulative actives, and burstiness.

``agg_lorenz`` is the concentration CURVE behind agg_gini/agg_hhi's
single numbers — revenue share by exact customer decile, the chart a
revenue team reads "top 10% drives X%" off. ``dq_embedding_audit`` is
the embeddings table's first data-quality key (the ANN family consumes
vectors; nothing previously CHECKED them): dimension drift, zero and
non-finite vectors, and norm statistics — the audit that catches a
broken encoder before it poisons a 100 TB similarity index.
``ts_active_users`` is the DAU/WAU/cumulative-actives panel — the
explode-by-offset trick turns the sliding 7-day distinct (which naive
SQL makes a range self-join) into one linear pass. ``ts_burstiness``
asks whether daily traffic is Poisson-like or bursty via the Fano
factor and Goh-Barabási burstiness — both exactly rational in integer
daily counts.

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

# ----------------------------------------------------------------- agg_lorenz

LORENZ_BUCKETS = 10


def agg_lorenz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz concentration deciles of customer revenue: customers are
    ranked by total order spend (ascending, c_custkey tiebreak — a
    total order, so deciles are EXACT rank buckets, not ntile's
    engine-defined remainder spread), and each decile reports its
    spend share and the cumulative share — the curve whose area is
    agg_gini and whose top bucket is win_pareto's headline.

    Determinism: decile = ((rank−1)·10) DIV n — exact integers; spend
    sums are exact decimals; shares render via exact scaled BIGINTs
    (the decimal→double 1-ulp guard) with one division each.

    Scale: one map-side-combinable per-customer collapse, one global
    rank window (at 100 TB: range-partitioned sort, same plan), then a
    10-row aggregate; cumulative share is a window over 10 rows."""
    spend = (
        t(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(F.sum(dec("o_totalprice")).alias("spend"))
    )
    wrank = Window.orderBy(
        F.col("spend").asc(), F.col("custkey").asc()
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = spend.select(
        "spend",
        F.row_number().over(wrank).alias("rk"),
        F.count(F.lit(1)).over(wall).alias("n"),
    )
    per = ranked.groupBy(
        F.expr(f"((rk - 1) * {LORENZ_BUCKETS}) DIV n")
        .cast("int")
        .alias("decile"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_cust"),
        F.sum("spend").alias("spend"),
    )
    wcum = Window.orderBy(F.col("decile").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wtot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    spend_s = (F.col("spend") * 10000).cast("long")
    cum_s = (F.sum("spend").over(wcum) * 10000).cast("long")
    tot_s = (F.sum("spend").over(wtot) * 10000).cast("long")
    return per.select(
        "decile",
        "n_cust",
        (spend_s.cast("double") / 10000.0).alias("spend"),
        fquant(
            spend_s.cast("double") / tot_s.cast("double"), 6
        ).alias("share"),
        fquant(
            cum_s.cast("double") / tot_s.cast("double"), 6
        ).alias("cum_share"),
    )


AGG_LORENZ_SQL = f"""
WITH spend AS (
    SELECT o_custkey AS custkey,
           SUM(CAST(CASE WHEN isfinite(o_totalprice) THEN o_totalprice END AS DECIMAL(18,4))) AS spend
    FROM orders GROUP BY 1
), ranked AS (
    SELECT spend,
           ROW_NUMBER() OVER (ORDER BY spend ASC, custkey ASC) AS rk,
           COUNT(*) OVER () AS n
    FROM spend
), per AS (
    SELECT CAST(((rk - 1) * {LORENZ_BUCKETS}) // n AS INT) AS decile,
           COUNT(*) AS n_cust,
           SUM(spend) AS spend
    FROM ranked GROUP BY 1
)
SELECT decile,
       CAST(n_cust AS BIGINT) AS n_cust,
       CAST(CAST(spend * 10000 AS BIGINT) AS DOUBLE) / 10000.0
         AS spend,
       floor(CAST(CAST(spend * 10000 AS BIGINT) AS DOUBLE)
             / CAST(CAST(SUM(spend) OVER () * 10000 AS BIGINT)
                    AS DOUBLE)
             * 1000000.0) / 1000000.0 AS share,
       floor(CAST(CAST(SUM(spend) OVER (ORDER BY decile ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       * 10000 AS BIGINT) AS DOUBLE)
             / CAST(CAST(SUM(spend) OVER () * 10000 AS BIGINT)
                    AS DOUBLE)
             * 1000000.0) / 1000000.0 AS cum_share
FROM per
"""


# --------------------------------------------------------- dq_embedding_audit

#: Expected vector width; anything else is dimension drift. Norm
#: squares quantize at 1e12 per element (exact BIGINT sums), norms at
#: 1e6 per vector (exact BIGINT means).
EMB_DIM = 64


def dq_embedding_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-quality audit of the embeddings table, per label:
    dimension drift (len ≠ 64), zero vectors, non-finite elements, and
    norm statistics — the check that catches a broken encoder (NaNs,
    collapsed vectors, wrong width) BEFORE the ANN family
    (llm_sim_search*/knn) builds a 100 TB index on garbage.

    Determinism: each element's square is cast-to-double and
    quantized to a BIGINT (floor(x²·10¹²)) INSIDE the array fold, so
    the per-vector norm² is an exact integer sum in array order; the
    per-vector norm is one IEEE √, quantized to 1e6 before the
    cross-row mean (order-independent integer sum). Min/max norms
    compare bit-identical doubles.

    Scale: one Arrow-free JVM pass (higher-order array functions in
    codegen), one map-side-combinable per-label collapse."""
    emb = t(spark, sf_dir, "embeddings").select(
        "label",
        F.expr(
            "transform(embedding, x -> cast(x as double))"
        ).alias("v"),
    )
    # The audit REPORTS poisoned vectors (n_nonfinite) instead of
    # excluding them, so the norm must be computable in their presence:
    # it sums the FINITE components only (an Inf² would overflow the
    # scaled-integer sum loudly; NaN would poison it silently). Oracle
    # mirrors with list_filter(isfinite) + COALESCE(…, 0) for the
    # all-poisoned vector whose filtered list is empty (Spark's fold
    # seed is 0).
    norm2_s = F.expr(
        "aggregate(filter(v, x -> not (isnan(x) or "
        "abs(x) = cast('Infinity' as double))), cast(0 as bigint), "
        "(acc, x) -> acc + cast(floor(x * x * 1e12) as bigint))"
    )
    n_nonfinite = F.expr(
        "size(filter(v, x -> isnan(x) or abs(x) = cast('Infinity' as double)))"
    )
    # A NULL embedding is a MISSING vector (round-13 file-layout axis:
    # an all-NULL-column part file is a realistic broken-writer shape):
    # it has no dim, no norm, no components — it is COUNTED (n_null_vec,
    # the audit reports, it never drops) but contributes nothing to the
    # dim/zero/nonfinite/norm statistics. All per-vector expressions
    # above yield NULL on a NULL v, so the aggregates below skip those
    # rows natively; only the mean's denominator needs the non-null
    # count, guarded for the all-NULL label.
    staged = emb.select(
        "label",
        F.col("v").isNull().alias("is_null_vec"),
        F.size("v").alias("dim"),
        norm2_s.alias("norm2_s"),
        n_nonfinite.alias("n_nonfinite"),
    ).select(
        "label",
        "is_null_vec",
        "dim",
        "n_nonfinite",
        F.floor(
            F.sqrt(F.col("norm2_s").cast("double") / F.lit(1e12))
            * F.lit(1e6)
        ).cast("long").alias("norm_q6"),
    )
    n_normed = F.count("norm_q6")
    return staged.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.sum(
            F.when(F.col("is_null_vec"), 1).otherwise(0)
        ).cast("long").alias("n_null_vec"),
        F.sum(
            F.when(F.col("dim") != EMB_DIM, 1).otherwise(0)
        ).cast("long").alias("n_dim_drift"),
        F.sum(
            F.when(F.col("norm_q6") == 0, 1).otherwise(0)
        ).cast("long").alias("n_zero_vec"),
        F.sum("n_nonfinite").cast("long").alias("n_nonfinite"),
        F.when(
            n_normed > 0,
            fquant(
                F.sum("norm_q6").cast("double")
                / (n_normed * 1000000).cast("double"),
                6,
            ),
        ).alias("mean_norm"),
        (F.min("norm_q6").cast("double") / 1e6).alias("min_norm"),
        (F.max("norm_q6").cast("double") / 1e6).alias("max_norm"),
    )


DQ_EMBEDDING_AUDIT_SQL = f"""
WITH staged AS (
    SELECT label,
           embedding IS NULL AS is_null_vec,
           len(embedding) AS dim,
           -- COALESCE only for a NON-NULL all-poisoned vector (its
           -- filtered list is empty; Spark's fold seed is 0). A NULL
           -- embedding has NO norm — it must stay NULL, not 0 (the
           -- round-13 file-layout axis caught the conflation: an
           -- all-NULL-column part file read as a batch of zero-norm
           -- vectors and dragged min_norm to 0).
           CASE WHEN embedding IS NULL THEN NULL
                ELSE COALESCE(list_sum(list_transform(
                  list_filter(embedding,
                              x -> isfinite(CAST(x AS DOUBLE))),
                  x -> CAST(floor(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                                  * 1e12) AS BIGINT))), 0)
           END AS norm2_s,
           len(list_filter(embedding,
             x -> isnan(CAST(x AS DOUBLE))
                  OR isinf(CAST(x AS DOUBLE)))) AS n_nonfinite
    FROM embeddings
), q AS (
    SELECT label, is_null_vec, dim, n_nonfinite,
           CAST(floor(sqrt(CAST(norm2_s AS DOUBLE) / 1e12) * 1e6)
                AS BIGINT) AS norm_q6
    FROM staged
)
SELECT label,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(SUM(CASE WHEN is_null_vec THEN 1 ELSE 0 END) AS BIGINT)
         AS n_null_vec,
       CAST(SUM(CASE WHEN dim <> {EMB_DIM} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_dim_drift,
       CAST(SUM(CASE WHEN norm_q6 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_zero_vec,
       CAST(SUM(n_nonfinite) AS BIGINT) AS n_nonfinite,
       CASE WHEN COUNT(norm_q6) > 0 THEN
         floor(CAST(SUM(norm_q6) AS DOUBLE)
               / CAST(COUNT(norm_q6) * 1000000 AS DOUBLE)
               * 1000000.0) / 1000000.0
       END AS mean_norm,
       CAST(MIN(norm_q6) AS DOUBLE) / 1e6 AS min_norm,
       CAST(MAX(norm_q6) AS DOUBLE) / 1e6 AS max_norm
FROM q GROUP BY label
"""


# -------------------------------------------------------------- ts_active_users

WAU_WINDOW = 7


def ts_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The actives panel: per observed day, DAU (distinct users),
    trailing-7-day WAU, new users, and cumulative unique users. The
    WAU avoids the naive range self-join: each (user, day) activity
    explodes to the ≤7 window-end days it supports, then ONE distinct
    count per end-day — linear in activity, the standard log-scale
    trick for sliding distincts.

    Determinism: pure exact integer counting on epoch-day integers.

    Scale: the corpus collapses to the distinct (user, day) relation
    once (lazily checkpointed — three consumers would otherwise
    triplicate the scan); the explode multiplies it by ≤7; cumulative
    actives come from the first-day histogram cumulated over the
    days-sized relation. At 100 TB the user-day relation is the
    materialized activity table every growth stack maintains."""
    ev = t(spark, sf_dir, "events")
    ud = ev.select(
        "user_id",
        F.date_diff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("d"),
    ).distinct().localCheckpoint(eager=False)
    dau = ud.groupBy("d").agg(
        F.countDistinct("user_id").alias("dau")
    )
    span = ud.agg(F.max("d").alias("max_d"))
    wau = (
        ud.select(
            "user_id",
            F.explode(
                F.sequence(F.col("d"), F.col("d") + (WAU_WINDOW - 1))
            ).alias("wend"),
        )
        .crossJoin(F.broadcast(span))
        .filter(F.col("wend") <= F.col("max_d"))
        .groupBy("wend")
        .agg(F.countDistinct("user_id").alias("wau"))
    )
    first = ud.groupBy("user_id").agg(F.min("d").alias("fd"))
    hist = first.groupBy("fd").agg(
        F.count(F.lit(1)).alias("new_users")
    )
    wcum = Window.orderBy(F.col("d").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    panel = (
        dau.join(
            F.broadcast(wau.select(F.col("wend").alias("d"), "wau")),
            "d",
        )
        .join(
            F.broadcast(hist.select(F.col("fd").alias("d"), "new_users")),
            "d",
            "left",
        )
        .select(
            "d",
            "dau",
            "wau",
            F.coalesce(F.col("new_users"), F.lit(0))
            .cast("long")
            .alias("new_users"),
        )
    )
    return panel.select(
        F.col("d").alias("epoch_day"),
        F.col("dau").cast("long").alias("dau"),
        F.col("wau").cast("long").alias("wau"),
        "new_users",
        F.sum("new_users").over(wcum).cast("long").alias("cum_users"),
    )


TS_ACTIVE_USERS_SQL = f"""
WITH ud AS MATERIALIZED (
    SELECT DISTINCT user_id,
           date_diff('day', DATE '1970-01-01',
                     CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS d
    FROM events
), dau AS (
    SELECT d, COUNT(DISTINCT user_id) AS dau FROM ud GROUP BY 1
), span AS (
    SELECT MAX(d) AS max_d FROM ud
), wau AS (
    SELECT wend, COUNT(DISTINCT user_id) AS wau
    FROM (
        SELECT u.user_id,
               u.d + k.k AS wend
        FROM ud u
        CROSS JOIN (SELECT unnest(range({WAU_WINDOW})) AS k) k
    ) x CROSS JOIN span
    WHERE x.wend <= span.max_d
    GROUP BY wend
), hist AS (
    SELECT fd, COUNT(*) AS new_users
    FROM (SELECT user_id, MIN(d) AS fd FROM ud GROUP BY 1)
    GROUP BY 1
)
SELECT dau.d AS epoch_day,
       CAST(dau.dau AS BIGINT) AS dau,
       CAST(w.wau AS BIGINT) AS wau,
       CAST(COALESCE(h.new_users, 0) AS BIGINT) AS new_users,
       CAST(SUM(COALESCE(h.new_users, 0))
              OVER (ORDER BY dau.d ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cum_users
FROM dau
JOIN wau w ON w.wend = dau.d
LEFT JOIN hist h ON h.fd = dau.d
"""


# -------------------------------------------------------------- ts_burstiness


def ts_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Is daily traffic Poisson or bursty? Per event type, the Fano
    factor σ²/μ of daily counts (1 under Poisson, >1 overdispersed)
    and a burstiness index in VARIANCE form, (σ²−μ)/(σ²+μ), chosen
    over Goh-Barabási's (σ−μ)/(σ+μ) precisely because it stays
    RATIONAL: with integer daily counts, D·Σc² − C² and D·C are exact
    integers, so Fano = (DΣc² − C²)/(DC) and B = (DΣc² − C² −
    DC)/(DΣc² − C² + DC) are each ONE division of exact integers — no
    √ anywhere. The
    overdispersion complement of ts_autocorr (memory) and ts_seasonal
    (cycle): bursty-but-uncorrelated traffic breaks capacity plans
    that both of those pass.

    Scale: one corpus collapse to (type, day) counts, one per-type
    aggregate on the days-sized relation."""
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.date_diff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("d"),
    ).agg(F.count(F.lit(1)).alias("c"))
    per = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("dd"),
        F.sum("c").alias("ct"),
        F.sum(F.col("c") * F.col("c")).alias("c2"),
    )
    var_num = (
        F.col("dd").cast("decimal(38,0)") * F.col("c2").cast("decimal(38,0)")
        - F.col("ct").cast("decimal(38,0)") * F.col("ct").cast("decimal(38,0)")
    )
    dc = F.col("dd").cast("decimal(38,0)") * F.col("ct").cast("decimal(38,0)")
    return per.select(
        "event_type",
        F.col("dd").cast("long").alias("n_days"),
        F.col("ct").cast("long").alias("total"),
        F.when(
            F.col("ct") > 0,
            fquant(var_num.cast("double") / dc.cast("double"), 6),
        ).alias("fano"),
        F.when(
            (F.col("ct") > 0) & ((var_num + dc) > 0),
            fquant(
                (var_num - dc).cast("double")
                / (var_num + dc).cast("double"),
                6,
            ),
        ).alias("burstiness"),
    )


TS_BURSTINESS_SQL = """
WITH daily AS (
    SELECT event_type,
           date_diff('day', DATE '1970-01-01',
                     CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS d,
           COUNT(*) AS c
    FROM events GROUP BY 1, 2
), per AS (
    SELECT event_type,
           COUNT(*) AS dd,
           SUM(c) AS ct,
           SUM(c * c) AS c2
    FROM daily GROUP BY 1
)
SELECT event_type,
       CAST(dd AS BIGINT) AS n_days,
       CAST(ct AS BIGINT) AS total,
       CASE WHEN ct > 0 THEN
         floor(CAST(CAST(dd AS HUGEINT) * c2 - CAST(ct AS HUGEINT) * ct
                    AS DOUBLE)
               / CAST(CAST(dd AS HUGEINT) * ct AS DOUBLE)
               * 1000000.0) / 1000000.0 END AS fano,
       CASE WHEN ct > 0
             AND CAST(dd AS HUGEINT) * c2 - CAST(ct AS HUGEINT) * ct
                 + CAST(dd AS HUGEINT) * ct > 0 THEN
         floor(CAST(CAST(dd AS HUGEINT) * c2 - CAST(ct AS HUGEINT) * ct
                    - CAST(dd AS HUGEINT) * ct AS DOUBLE)
               / CAST(CAST(dd AS HUGEINT) * c2 - CAST(ct AS HUGEINT) * ct
                      + CAST(dd AS HUGEINT) * ct AS DOUBLE)
               * 1000000.0) / 1000000.0 END AS burstiness
FROM per
"""


QUERIES: dict[str, Query] = {
    "agg_lorenz": Query(
        agg_lorenz, AGG_LORENZ_SQL,
        "Lorenz revenue-concentration deciles (exact rank buckets)",
    ),
    "dq_embedding_audit": Query(
        dq_embedding_audit, DQ_EMBEDDING_AUDIT_SQL,
        "embedding-quality audit per label: dims, zeros, norms",
    ),
    "ts_active_users": Query(
        ts_active_users, TS_ACTIVE_USERS_SQL,
        "DAU / trailing-7d WAU / new / cumulative actives per day",
        build="compute",
    ),
    "ts_burstiness": Query(
        ts_burstiness, TS_BURSTINESS_SQL,
        "Fano factor + rational burstiness of daily counts per type",
    ),
}
