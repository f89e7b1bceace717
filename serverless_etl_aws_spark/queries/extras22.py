"""Round-7 thirteenth wave: degree assortativity on the shared part
graph, statistical-process-control limits on daily volumes, NDCG ranking
quality, and a perceptual average-hash over multimodal payloads.

``graph_assortativity`` is the network-mixing diagnostic (do well-
connected parts co-occur with well-connected parts?) and the FOURTH
consumer of the session-shared co-order adjacency — by symmetry of the
edge relation the Pearson form collapses to a fully rational statistic
(no sqrt, no libm). ``dq_spc`` is the Shewhart control chart every
ingestion volume monitor runs (3σ limits from exact moments).
``ml_ndcg`` extends the eval family to RANKING quality — the metric
retrieval/curation pipelines grade ordered results by — with the log2
discounts injected as compile-time integer literals so no transcendental
ever runs in either engine. ``mm_phash`` completes the multimodal
family's dedup story: average-hash signatures whose byte-domain stub is
exactly replayable by the hex-nibble oracle (the mm_audio_window
discipline).

The reference delegates all analytics of this shape to its
warehouse/gold tier (reference README.md:108-118 declares the tier but
ships no implementation); these keys are engine-native equivalents.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import Query
from ._util import fquant, t

# ------------------------------------------------------ graph_assortativity


def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the co-order part graph: the Pearson
    correlation of endpoint degrees across edges. Positive ⇒ hubs link
    to hubs (assortative); negative ⇒ hubs link to leaves — the
    structural signal that decides whether hot-key skew defenses are
    needed on the OTHER graph keys (a disassortative hub touches
    everything).

    Because the shared adjacency is SYMMETRIC, the x and y marginals
    over directed edges are identical, so r = (nΣxy − (Σx)²) /
    (nΣx² − (Σx)²) — fully rational: exact DECIMAL(38,0) sums into ONE
    double division, no sqrt, no libm, bit-identical cross-engine.

    Scale: degrees are a node-sized aggregate of the session-shared
    materialized relation (_util.co_order_part_adj — fourth consumer);
    the edge⋈degree joins broadcast the node-sized degree relation; the
    moment sums are one map-side-combinable aggregate over edges."""
    from ._util import co_order_part_adj

    adj = co_order_part_adj(spark, sf_dir)
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).alias("d"))
    x = F.col("dx").cast("decimal(38,0)")
    y = F.col("dy").cast("decimal(38,0)")
    edges = (
        adj.join(F.broadcast(deg), "node")
        .withColumnRenamed("d", "dx")
        .join(
            F.broadcast(
                deg.select(
                    F.col("node").alias("nbr"), F.col("d").alias("dy")
                )
            ),
            "nbr",
        )
    )
    mom = edges.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    return mom.select(
        F.col("n").cast("long").alias("n_directed_edges"),
        F.when(den > 0, fquant(num / den, 6)).alias("assortativity"),
    )


GRAPH_ASSORTATIVITY_SQL = """
WITH e0 AS MATERIALIZED (
    SELECT DISTINCT a.l_partkey AS node, b.l_partkey AS nbr
    FROM lineitem a
    JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
), deg AS MATERIALIZED (
    SELECT node, COUNT(*) AS d FROM e0 GROUP BY node
), mom AS (
    SELECT CAST(COUNT(*) AS HUGEINT) AS n,
           SUM(CAST(dx.d AS HUGEINT)) AS sx,
           SUM(CAST(dx.d AS HUGEINT) * CAST(dy.d AS HUGEINT)) AS sxy,
           SUM(CAST(dx.d AS HUGEINT) * CAST(dx.d AS HUGEINT)) AS sxx
    FROM e0
    JOIN deg dx ON dx.node = e0.node
    JOIN deg dy ON dy.node = e0.nbr
)
SELECT CAST(n AS BIGINT) AS n_directed_edges,
       CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) > 0 THEN
         floor(CAST(n * sxy - sx * sx AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE)
               * 1000000.0) / 1000000.0 END AS assortativity
FROM mom
"""


# ------------------------------------------------------------------ dq_spc


def dq_spc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shewhart control chart on daily event volumes per type: 3σ
    limits from the series' own exact moments, each day flagged when
    its count leaves the band — the ingestion-volume monitor every
    pipeline dashboard renders (ts_cusum finds WHERE the level shifted;
    SPC flags individual out-of-control days against stable limits).

    Determinism: daily counts and both moment sums are exact integers
    (windows over the days-sized relation); mean, variance, σ and the
    limits are the IDENTICAL double expression tree on both engines
    (sqrt is IEEE correctly-rounded, so identical operands ⇒ identical
    σ — the ts_rolling_zscore precedent), and the flag compares exact
    integer counts against those bit-identical limits.

    Scale: one map-side-combinable (type, day) count; windows run on
    the ≤ #types·#days relation."""
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"),
    ).agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("event_type")
    n = F.count(F.lit(1)).over(w).cast("double")
    sc = F.sum("c").over(w).cast("double")
    scc = F.sum(F.col("c") * F.col("c")).over(w).cast("double")
    mean = sc / n
    sigma = F.sqrt((n * scc - sc * sc) / (n * n))
    ucl = mean + 3.0 * sigma
    lcl = mean - 3.0 * sigma
    return daily.select(
        "event_type",
        "day",
        F.col("c").cast("long").alias("n_events"),
        fquant(mean, 4).alias("center"),
        fquant(ucl, 4).alias("ucl"),
        fquant(lcl, 4).alias("lcl"),
        (
            (F.col("c").cast("double") > ucl)
            | (F.col("c").cast("double") < lcl)
        ).alias("out_of_control"),
    )


DQ_SPC_SQL = """
WITH daily AS (
    SELECT event_type, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
           COUNT(*) AS c
    FROM events GROUP BY 1, 2
), m AS (
    SELECT event_type, day, c,
           CAST(COUNT(*) OVER (PARTITION BY event_type) AS DOUBLE) AS n,
           CAST(SUM(c) OVER (PARTITION BY event_type) AS DOUBLE) AS sc,
           CAST(SUM(c * c) OVER (PARTITION BY event_type) AS DOUBLE)
             AS scc
    FROM daily
)
SELECT event_type, day,
       CAST(c AS BIGINT) AS n_events,
       floor(sc / n * 10000.0) / 10000.0 AS center,
       floor((sc / n + 3.0 * sqrt((n * scc - sc * sc) / (n * n)))
             * 10000.0) / 10000.0 AS ucl,
       floor((sc / n - 3.0 * sqrt((n * scc - sc * sc) / (n * n)))
             * 10000.0) / 10000.0 AS lcl,
       (CAST(c AS DOUBLE) > sc / n
            + 3.0 * sqrt((n * scc - sc * sc) / (n * n)))
       OR (CAST(c AS DOUBLE) < sc / n
            - 3.0 * sqrt((n * scc - sc * sc) / (n * n)))
         AS out_of_control
FROM m
"""


# ----------------------------------------------------------------- ml_ndcg

#: NDCG cutoff and the 1e9-quantized log2 discounts, computed ONCE in
#: Python and injected as integer literals — no transcendental ever
#: runs inside either engine (the dq_benford/BENFORD_P stance).
NDCG_K = 10
NDCG_WQ9 = tuple(
    math.floor(1e9 / math.log2(i + 1)) for i in range(1, NDCG_K + 1)
)


def ml_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user NDCG@10 of ``value`` as a ranking score with purchases
    as the relevant items — the ranking-quality member of the eval
    family (AUC grades the global ordering; NDCG grades each user's
    top-of-list, which is what retrieval and feed pipelines ship).

    Determinism: events rank per user by (value DESC, event_id ASC) —
    total order, no ties. DCG and ideal DCG are INTEGER sums of the
    pre-quantized discount literals (relevant hit at rank i contributes
    ``NDCG_WQ9[i-1]``; the ideal list takes the first min(n_pos, 10)
    discounts), so the only float is the final dcg/idcg division.
    Users with no purchase yield NULL (degenerate-class guard).

    Scale: one window shuffle by user_id (rank + running relevance
    count), one map-side-combinable per-user aggregate. The discount
    array is a compile-time literal — nothing joins, nothing
    broadcasts."""
    ev = t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = Window.partitionBy("user_id").orderBy(
        F.col("value").desc(), F.col("event_id").asc()
    )
    rel = (F.col("event_type") == "purchase").cast("int")
    ranked = ev.select(
        "user_id",
        rel.alias("rel"),
        F.row_number().over(w).alias("rn"),
    )
    wq = F.array(*[F.lit(q) for q in NDCG_WQ9])
    gain = F.when(
        (F.col("rn") <= NDCG_K) & (F.col("rel") == 1),
        F.element_at(wq, F.col("rn")),
    ).otherwise(F.lit(0))
    per = ranked.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("rel").alias("n_pos"),
        F.sum(gain).alias("dcg_q"),
    )
    # ideal DCG: first min(n_pos, K) discounts — a prefix-sum lookup of
    # the same literal array
    prefix = [0]
    for q in NDCG_WQ9:
        prefix.append(prefix[-1] + q)
    pre = F.array(*[F.lit(p) for p in prefix])
    idcg_q = F.element_at(
        pre, F.least(F.col("n_pos"), F.lit(NDCG_K)).cast("int") + 1
    )
    return per.select(
        "user_id",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("n_pos").cast("long").alias("n_pos"),
        F.when(
            F.col("n_pos") > 0,
            fquant(
                F.col("dcg_q").cast("double") / idcg_q.cast("double"), 6
            ),
        ).alias("ndcg"),
    )


def _ndcg_sql() -> str:
    wq_cases = " ".join(
        f"WHEN {i + 1} THEN {q}" for i, q in enumerate(NDCG_WQ9)
    )
    prefix = [0]
    for q in NDCG_WQ9:
        prefix.append(prefix[-1] + q)
    pre_cases = " ".join(
        f"WHEN {i} THEN {p}" for i, p in enumerate(prefix)
    )
    return f"""
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
           SUM(CASE WHEN rn <= {NDCG_K} AND rel = 1
                    THEN CASE rn {wq_cases} ELSE 0 END
                    ELSE 0 END) AS dcg_q
    FROM ranked GROUP BY user_id
)
SELECT user_id,
       CAST(n_events AS BIGINT) AS n_events,
       CAST(n_pos AS BIGINT) AS n_pos,
       CASE WHEN n_pos > 0 THEN
         floor(CAST(dcg_q AS DOUBLE)
               / CAST(CASE least(n_pos, {NDCG_K}) {pre_cases} END
                      AS DOUBLE)
               * 1000000.0) / 1000000.0 END AS ndcg
FROM per
"""


ML_NDCG_SQL = _ndcg_sql()


# ---------------------------------------------------------------- mm_phash

PHASH_WIDTH = 64


def mm_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual average-hash signatures over the multimodal payloads
    plus exact-duplicate grouping: each payload's first 64 body bytes
    are thresholded against their integer mean into a 64-bit aHash
    (operators/multimodal.py::phash64 — a real build decodes, resizes
    to 8×8 luma and thresholds through the same Arrow batch flow), and
    every signature carries its corpus-wide collision count — identical
    hashes are the image-dedup candidates, the visual sibling of
    llm_fingerprint's md5 grouping.

    Scale: mapInPandas is one Arrow pass, O(width) per payload; the
    collision count is a window over the signature column (one
    map-side-combinable shuffle on a 64-bit key). The oracle replays
    the hash bit-for-bit from hex nibbles — integer compares only."""
    from ..operators import multimodal

    docs = t(spark, sf_dir, "documents")
    sigs = multimodal.phash64(
        multimodal.synthesize_payloads(docs), width=PHASH_WIDTH
    )
    w = Window.partitionBy("phash")
    return sigs.select(
        "doc_id",
        "n_bytes",
        "mean_b",
        "phash",
        F.count(F.lit(1)).over(w).cast("long").alias("n_same_hash"),
    )


MM_PHASH_SQL = f"""
WITH h AS (
    SELECT doc_id, hex(encode(text)) AS hx,
           least(octet_length(encode(text)), {PHASH_WIDTH}) AS nb
    FROM documents WHERE text IS NOT NULL
), b AS (
    SELECT doc_id, nb, CAST(i AS INT) AS i,
           (strpos('0123456789ABCDEF',
                   substr(hx, CAST(i * 2 + 1 AS INT), 1)) - 1) * 16
           + strpos('0123456789ABCDEF',
                    substr(hx, CAST(i * 2 + 2 AS INT), 1)) - 1 AS v
    FROM h, UNNEST(range(nb)) u(i)
), m AS (
    SELECT doc_id, nb, CAST(SUM(v) AS BIGINT) // nb AS mean_b
    FROM b GROUP BY doc_id, nb
), sig AS (
    SELECT b.doc_id, m.nb, m.mean_b,
           SUM(CASE WHEN b.v > m.mean_b
                    THEN CAST(1 AS HUGEINT) << b.i
                    ELSE CAST(0 AS HUGEINT) END) AS s
    FROM b JOIN m USING (doc_id)
    GROUP BY b.doc_id, m.nb, m.mean_b
), wrapped AS (
    SELECT doc_id, CAST(nb AS INT) AS n_bytes,
           CAST(mean_b AS INT) AS mean_b,
           CAST(CASE WHEN s >= CAST(1 AS HUGEINT) << 63
                     THEN s - (CAST(1 AS HUGEINT) << 64)
                     ELSE s END AS BIGINT) AS phash
    FROM sig
    UNION ALL
    -- empty-body payloads (text encodes to 0 bytes): the engine emits
    -- an all-zero row; the byte explode above yields nothing for them
    SELECT doc_id, 0, 0, CAST(0 AS BIGINT) FROM h WHERE nb = 0
)
SELECT doc_id, n_bytes, mean_b, phash,
       CAST(COUNT(*) OVER (PARTITION BY phash) AS BIGINT) AS n_same_hash
FROM wrapped
"""


QUERIES: dict[str, Query] = {
    "graph_assortativity": Query(
        graph_assortativity, GRAPH_ASSORTATIVITY_SQL,
        "degree assortativity of the co-order part graph (rational form)",
        build="compute",
    ),
    "dq_spc": Query(
        dq_spc, DQ_SPC_SQL,
        "Shewhart 3-sigma control chart on daily event volumes",
    ),
    "ml_ndcg": Query(
        ml_ndcg, ML_NDCG_SQL,
        "per-user NDCG@10 with compile-time integer log2 discounts",
    ),
    "mm_phash": Query(
        mm_phash, MM_PHASH_SQL,
        "average-hash payload signatures + collision dedup counts",
    ),
}
