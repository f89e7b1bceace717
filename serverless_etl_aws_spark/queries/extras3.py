"""Third extension wave — lakehouse maintenance + training-data pipeline
breadth: batch k-NN join (two-stage partial top-k), small-file compaction,
declarative data-quality audit, and snapshot-incremental corpus dedup.

All float outputs follow the engine's cross-engine discipline
(``queries/_util.py``): exact decimal sums and floor-quantization — never
``ROUND(double)``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import content_stamp, table_path
from ..operators.simsearch import SQL_COSINE, cosine_expr, quant6
from ..operators.text import SQL_FINGERPRINT, fingerprint
from . import Query
from ._util import (
    dsum, fresh_dir, hadoop_dir_bytes, scratch_root, sql_dsum,
    sql_vec_dim_ok, t, vec_dim_ok, vec_finite,
)

SCRATCH = scratch_root()


# ------------------------------------------------------------- k-NN join

KNN_K = 5
KNN_N_PROBES = 5


def llm_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch k-NN join: top-``KNN_K`` cosine neighbors for EVERY probe in a
    probe set (vec_id < 5), not just one — the shape dataset-distillation
    and retrieval-augmentation pipelines actually run (N queries × corpus).

    Scale design: the probe set is broadcast (tiny side), scoring is one
    map-side pass over the corpus (corpus never shuffles whole), and top-k
    is TWO-STAGE — a per-(probe, input-partition) partial top-k via
    ``array_sort + slice`` over grouped structs (state ≤ partition rows,
    output ≤ k per group), then a merge of the ≤ k·P partials per probe.
    The full corpus×probes cross product never crosses an exchange; only
    k·P candidate structs per probe do. A single window rank over
    (probe_id) would shuffle all corpus×probes scored rows instead.

    Float discipline: cosines are quant6-floored from bit-identical JVM
    expressions, vec_id tie-break — same contract the hash-green
    ``llm_sim_search`` key uses.
    """
    # poisoned-vector + ragged-dim exclusion (float-specials contract
    # _util.vec_finite; round-12 ragged-dims contract _util.vec_dim_ok)
    raw = t(spark, sf_dir, "embeddings")
    emb = raw.filter(vec_dim_ok(raw) & vec_finite()).select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x as double))").alias("v"),
    )
    probes = (
        emb.filter(F.col("vec_id") < KNN_N_PROBES)
        .select(F.col("vec_id").alias("pid"), F.col("v").alias("pv"))
    )
    scored = (
        emb.filter(F.col("vec_id") >= KNN_N_PROBES)
        .join(F.broadcast(probes))
        .select(
            "pid",
            "vec_id",
            quant6(cosine_expr("v", "pv")).alias("cosine"),
        )
        # zero-norm vectors score NULL; drop before the partial top-k
        # (a NULL-first struct sort would otherwise rank them best)
        .filter(F.col("cosine").isNotNull())
    )
    from ..operators.simsearch import two_stage_topk

    return two_stage_topk(scored, "pid", KNN_K)


LLM_KNN_JOIN_SQL = f"""
WITH e AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    WHERE (embedding IS NULL OR len(list_filter(embedding, x -> NOT isfinite(CAST(x AS DOUBLE)))) = 0)
      AND {sql_vec_dim_ok()}
), cand AS (
    SELECT p.vec_id AS pid, c.vec_id,
           floor(({SQL_COSINE.replace('va', 'c.emb').replace('vb', 'p.emb')})
                 * 1000000.0) / 1000000.0 AS cosine
    FROM e c CROSS JOIN e p
    WHERE p.vec_id < {KNN_N_PROBES} AND c.vec_id >= {KNN_N_PROBES}
), ranked AS (
    SELECT pid, vec_id, cosine,
           row_number() OVER (PARTITION BY pid
                              ORDER BY cosine DESC, vec_id) AS rn
    FROM cand WHERE cosine IS NOT NULL
)
SELECT pid, vec_id, cosine FROM ranked WHERE rn <= {KNN_K}
"""


# ------------------------------------------------------- compaction job


def maintenance_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the lakehouse maintenance job every
    ingest-heavy table needs (a 1000-executor stream writing per-batch
    files degrades scans until someone rewrites them). The job: read the
    fragmented table, bin-pack to ``ceil(bytes / target_file_size)``
    output files via ``coalesce`` (NO shuffle — coalesce merges partitions
    in place; ``repartition`` would pay a full exchange for nothing), and
    rewrite. Content must be bit-preserved, which is exactly what the
    oracle checks: the returned aggregate over the COMPACTED files must
    hash-match the same aggregate over the original table. File-count
    reduction itself is asserted in tests/test_operators.py.
    """
    import shutil

    base = os.path.join(SCRATCH, "maintenance_compact")
    out_dir = os.path.join(base, "compacted")
    if os.path.exists(out_dir):  # the errorifexists write wants it ABSENT
        shutil.rmtree(out_dir)
    li = t(spark, sf_dir, "lineitem")
    # Simulate an ingest-fragmented table: 64 small files. Staged ONCE
    # per process per FIXTURE CONTENT — the fragmented table is this
    # key's INPUT (the thing a fleet of stream writers produced), not
    # the compaction under measurement, and rebuilding it every run
    # only re-times the fixture writer. The staging dir name carries a
    # digest of the source fixture's catalog.content_stamp, the key of
    # every fixture memo, so a different sf_dir (or a regenerated
    # fixture) in the same process stages its own copy; the _SUCCESS
    # gate keeps a half-written staging from a killed run from being
    # read as input.
    stamp = content_stamp(table_path(sf_dir, "lineitem"))
    if stamp is None:  # unstatable source: stage fresh, never share
        import uuid

        ckey = uuid.uuid4().hex
    else:
        # Stable digest, NOT builtin hash(): str hashing is salted per
        # process (PYTHONHASHSEED), which made the "same content" key
        # differ every run — each process staged a fresh 64-file copy
        # and stale ones accumulated unboundedly (ADVICE r14).
        import hashlib

        ckey = hashlib.sha256(repr(stamp).encode()).hexdigest()[:16]
    frag_dir = os.path.join(base, f"fragmented_{ckey}")
    if not os.path.exists(os.path.join(frag_dir, "_SUCCESS")):
        # Prune staging copies whose key no longer matches the current
        # source (regenerated fixture, or pre-fix salted-hash leftovers)
        # before writing the fresh one.
        if os.path.isdir(base):
            for d in os.listdir(base):
                if d.startswith("fragmented_") and d != f"fragmented_{ckey}":
                    shutil.rmtree(os.path.join(base, d), ignore_errors=True)
        fresh_dir(frag_dir)
        li.repartition(64).write.mode("overwrite").parquet(frag_dir)
    maintenance_compact.last_frag_dir = frag_dir  # deterministic test hook

    frag = spark.read.parquet(frag_dir)
    # Sized through the Hadoop FileSystem API (object-store-portable:
    # the same call answers for file:/s3a:/hdfs: paths).
    bytes_total = hadoop_dir_bytes(spark, frag_dir)
    target = 64 * 1024 * 1024  # 64 MB files; ~128 MB is typical at scale
    n_out = max(1, -(-bytes_total // target))
    frag.coalesce(int(n_out)).write.mode("errorifexists").parquet(out_dir)

    back = spark.read.parquet(out_dir)
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("line_count"),
        dsum("l_quantity").alias("sum_qty"),
        dsum("l_extendedprice").alias("sum_price"),
    )


MAINTENANCE_COMPACT_SQL = f"""
SELECT l_returnflag,
       COUNT(*) AS line_count,
       {sql_dsum('l_quantity')} AS sum_qty,
       {sql_dsum('l_extendedprice')} AS sum_price
FROM lineitem
GROUP BY l_returnflag
"""


# --------------------------------------------------- data-quality audit


def dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality audit (Deequ-style expectations): one row
    per rule with its violation count. All per-table rules evaluate in a
    SINGLE conditional-aggregation pass over that table (``sum(case
    when)`` — map-side combinable, one scan regardless of rule count),
    then unpivot via ``stack``. The uniqueness rule needs a distinct and
    runs as its own aggregate. This is the audit layer the reference's
    clean_taxi step implies but never formalizes (reference:
    src/glue_scripts/bronze_to_silver.py drops nulls silently).
    """
    li = t(spark, sf_dir, "lineitem")
    ev = t(spark, sf_dir, "events")

    def viol(cond) -> F.Column:
        return F.sum(F.when(cond, 1).otherwise(0)).cast("long")

    li_counts = li.agg(
        viol(~F.col("l_quantity").between(1, 50)).alias("qty_range"),
        viol(~F.col("l_discount").between(0.0, 0.10)).alias("disc_range"),
        viol(F.col("l_shipdate").isNull()).alias("shipdate_null"),
        viol(
            F.col("l_extendedprice") <= F.lit(0.0)
        ).alias("price_nonpositive"),
        (
            F.count(F.lit(1))
            - F.countDistinct(F.struct("l_orderkey", "l_linenumber"))
        ).cast("long").alias("line_key_dup"),
    )
    ev_counts = ev.agg(
        viol(F.col("ts").isNull()).alias("ts_null"),
        viol(F.col("user_id").isNull()).alias("user_null"),
        viol(
            F.col("value").isNotNull() & (F.col("value") < 0.0)
        ).alias("value_negative"),
    )
    li_rules = li_counts.select(
        F.expr(
            "stack(5,"
            " 'lineitem.qty_range', qty_range,"
            " 'lineitem.disc_range', disc_range,"
            " 'lineitem.shipdate_null', shipdate_null,"
            " 'lineitem.price_nonpositive', price_nonpositive,"
            " 'lineitem.line_key_dup', line_key_dup)"
            " AS (rule, violations)"
        )
    )
    ev_rules = ev_counts.select(
        F.expr(
            "stack(3,"
            " 'events.ts_null', ts_null,"
            " 'events.user_null', user_null,"
            " 'events.value_negative', value_negative)"
            " AS (rule, violations)"
        )
    )
    return li_rules.unionByName(ev_rules)


# Every aggregate is CAST to BIGINT: DuckDB's SUM over integers returns
# HUGEINT (int128), which pandas materializes as float — "0.0" vs
# Spark's long "0" — a pure dtype artifact that would hash-mismatch.
DQ_EXPECTATIONS_SQL = """
SELECT 'lineitem.qty_range' AS rule,
       CAST(SUM(CASE WHEN l_quantity NOT BETWEEN 1 AND 50 THEN 1 ELSE 0 END)
            AS BIGINT) AS violations FROM lineitem
UNION ALL
SELECT 'lineitem.disc_range',
       CAST(SUM(CASE WHEN l_discount NOT BETWEEN 0.0 AND 0.10
                     THEN 1 ELSE 0 END) AS BIGINT)
       FROM lineitem
UNION ALL
SELECT 'lineitem.shipdate_null',
       CAST(SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       FROM lineitem
UNION ALL
SELECT 'lineitem.price_nonpositive',
       CAST(SUM(CASE WHEN l_extendedprice <= 0.0 THEN 1 ELSE 0 END) AS BIGINT)
       FROM lineitem
UNION ALL
SELECT 'lineitem.line_key_dup',
       CAST(COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT)
       FROM lineitem
UNION ALL
SELECT 'events.ts_null',
       CAST(SUM(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM events
UNION ALL
SELECT 'events.user_null',
       CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       FROM events
UNION ALL
SELECT 'events.value_negative',
       CAST(SUM(CASE WHEN value IS NOT NULL AND value < 0.0
                     THEN 1 ELSE 0 END) AS BIGINT)
       FROM events
"""


# ------------------------------------------- snapshot-incremental dedup


def llm_cross_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot dedup — the INCREMENTAL shape of corpus dedup: new
    documents (here ``doc_id % 4 == 0``) are checked against the previous
    snapshot (the other 75%) by exact content fingerprint, and only the
    duplicated new docs are reported with their snapshot-match count. At
    100 TB this is a fingerprint equi-join where only the (hash, id)
    projection shuffles — never document text — and the snapshot side is
    a pre-computed fingerprint table maintained by ingest, not recomputed
    (recomputed here because the fixture has no state dir).
    """
    docs = t(spark, sf_dir, "documents")
    fp = docs.select("doc_id", fingerprint("text").alias("fp"))
    new = fp.filter(F.col("doc_id") % 4 == 0)
    snapshot = fp.filter(F.col("doc_id") % 4 != 0).select(
        F.col("fp"), F.col("doc_id").alias("snap_id")
    )
    return (
        new.join(snapshot, "fp")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("snapshot_matches"))
    )


LLM_CROSS_DEDUP_SQL = f"""
WITH fp AS (
    SELECT doc_id, {SQL_FINGERPRINT} AS fp FROM documents
)
SELECT n.doc_id, COUNT(*) AS snapshot_matches
FROM (SELECT * FROM fp WHERE doc_id % 4 = 0) n
JOIN (SELECT * FROM fp WHERE doc_id % 4 <> 0) s ON n.fp = s.fp
GROUP BY n.doc_id
"""


QUERIES: dict[str, Query] = {
    "llm_knn_join": Query(
        llm_knn_join, LLM_KNN_JOIN_SQL,
        "batch k-NN join, two-stage partial top-k",
        build="compute",
    ),
    "maintenance_compact": Query(
        maintenance_compact, MAINTENANCE_COMPACT_SQL,
        "small-file compaction with content-preservation oracle",
        build="side_effects",
    ),
    "dq_expectations": Query(
        dq_expectations, DQ_EXPECTATIONS_SQL,
        "declarative data-quality audit (one pass per table)",
    ),
    "llm_cross_dedup": Query(
        llm_cross_dedup, LLM_CROSS_DEDUP_SQL,
        "snapshot-incremental fingerprint dedup",
    ),
}


# ------------------------------------------------- batch sessionization


def win_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization — the gaps-and-islands window composition
    (lag → boundary flag → running sum → group), produced to EXACTLY the
    same output contract as the streaming ``stream_session`` key and
    checked against the SAME oracle SQL: explicit proof the engine's batch
    and streaming session semantics agree (Spark session_window's
    end = last event + gap).

    Scale: two window passes and one aggregate, all partitioned by
    ``user_id`` — one shuffle total (the window partitions carry through
    to the groupBy under AQE)."""
    from pyspark.sql.window import Window

    # ts IS NOT NULL: a row with no timestamp belongs to no session
    # (round 9; shared with stream_session's oracle)
    ev = (
        t(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select("user_id", "ts")
    )
    w = Window.partitionBy("user_id").orderBy("ts")
    gap_min = 30
    # Compare gaps at MICROSECOND precision: the oracle's
    # `> INTERVAL 30 minutes` is exact on timestamp(us) values, while
    # `ts.cast('long')` truncates to whole seconds — a true gap in
    # (1800s, 1801s) would truncate to exactly 1800 and split sessions
    # differently from the oracle on unlucky fixture data.
    gap_us = gap_min * 60 * 1_000_000
    flagged = ev.withColumn(
        "new_session",
        (
            F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w)
            > gap_us
        ).cast("int"),
    ).withColumn(
        "new_session",
        F.coalesce(F.col("new_session"), F.lit(1)),
    )
    sid = flagged.withColumn(
        "sid",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return (
        sid.groupBy("user_id", "sid")
        .agg(
            F.min("ts").alias("start_ts"),
            F.max("ts").alias("end_ts"),
            F.count(F.lit(1)).alias("event_count"),
        )
        .select(
            F.date_format("start_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "session_start"
            ),
            F.date_format(
                F.col("end_ts") + F.expr(f"INTERVAL {gap_min} MINUTES"),
                "yyyy-MM-dd HH:mm:ss.SSSSSS",
            ).alias("session_end"),
            "user_id",
            "event_count",
        )
    )


# Same oracle as the streaming key — that equality IS the point.
from .streaming_ops import STREAM_SESSION_SQL as WIN_SESSIONIZE_SQL  # noqa: E402


# ------------------------------------------------------ conversion funnel


def agg_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel: how many users did view → click →
    purchase IN THAT ORDER (each later stage strictly after the user's
    first event of the previous stage). The product-analytics op every
    event warehouse runs.

    Scale: one aggregate per stage, each keyed on ``user_id`` with the
    previous stage's first-times joined back (shuffle on user_id, AQE-
    coalesced; stage tables shrink monotonically). No collect, no window
    over the whole event stream."""
    ev = t(spark, sf_dir, "events").select("user_id", "event_type", "ts")

    def first_after(prev: DataFrame, etype: str) -> DataFrame:
        joined = ev.filter(F.col("event_type") == etype).join(
            prev.select("user_id", F.col("t").alias("prev_t")), "user_id"
        )
        return (
            joined.filter(F.col("ts") > F.col("prev_t"))
            .groupBy("user_id")
            .agg(F.min("ts").alias("t"))
        )

    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t"))
    )
    c = first_after(v, "click")
    p = first_after(c, "purchase")
    return (
        v.agg(F.count(F.lit(1)).cast("long").alias("users"))
        .select(F.lit("1_view").alias("stage"), "users")
        .unionByName(
            c.agg(F.count(F.lit(1)).cast("long").alias("users")).select(
                F.lit("2_view_click").alias("stage"), "users"
            )
        )
        .unionByName(
            p.agg(F.count(F.lit(1)).cast("long").alias("users")).select(
                F.lit("3_view_click_purchase").alias("stage"), "users"
            )
        )
    )


AGG_FUNNEL_SQL = """
WITH v AS (
    SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS t
    FROM events WHERE event_type = 'view' GROUP BY user_id
), c AS (
    SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS t
    FROM events e JOIN v ON e.user_id = v.user_id
    WHERE e.event_type = 'click' AND CAST(e.ts AS TIMESTAMP) > v.t
    GROUP BY e.user_id
), p AS (
    SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS t
    FROM events e JOIN c ON e.user_id = c.user_id
    WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) > c.t
    GROUP BY e.user_id
)
SELECT '1_view' AS stage, CAST(COUNT(*) AS BIGINT) AS users FROM v
UNION ALL
SELECT '2_view_click', CAST(COUNT(*) AS BIGINT) FROM c
UNION ALL
SELECT '3_view_click_purchase', CAST(COUNT(*) AS BIGINT) FROM p
"""


QUERIES.update(
    {
        "win_sessionize": Query(
            win_sessionize, WIN_SESSIONIZE_SQL,
            "batch gaps-and-islands sessionization (same oracle as stream_session)",
        ),
        "agg_funnel": Query(
            agg_funnel, AGG_FUNNEL_SQL,
            "ordered conversion funnel (view>click>purchase)",
        ),
    }
)


# ---------------------------------------------- statistical LM quality


def llm_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical language-model quality score — the classic
    perplexity-style quality filter of training-data pipelines, kept
    transcendental-free so it hash-matches across engines: score a doc by
    the MEAN CORPUS PROBABILITY of its bigrams (p = corpus_count/total —
    pure integer division into IEEE doubles; `ln()` differs in the last
    ulp between libm implementations, so no logs). Repetitive/templated
    docs score high, rare-garbage docs score low — same ordering signal
    as negative perplexity.

    Scale: bigram counting is one map-side-combinable groupBy; the
    doc-bigram ⋈ corpus-count equi-join shuffles on the gram hash (the
    standard LM-training shuffle; skewed hot grams are exactly what AQE
    skew-join splits). The mean uses the engine's decimal-sum discipline
    (sum order differs between engines; decimal accumulation is exact).
    """
    docs = t(spark, sf_dir, "documents")
    bigrams = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(array(split(text, ' ')), toks -> "
                "CASE WHEN size(toks) >= 2 THEN "
                "transform(sequence(0, size(toks) - 2), "
                "i -> concat_ws(' ', toks[i], toks[i + 1])) "
                "ELSE cast(array() AS array<string>) END)[0]"
            )
        ).alias("gram"),
        # Materialized once: the relation feeds the corpus count AND the
        # score join's probe side — without this the split+explode over
        # the whole corpus executes twice (measured 1.7× end-to-end at
        # sf0.1, same shared-scan pattern as the ngram shingle table).
    ).localCheckpoint(eager=False)
    counts = bigrams.groupBy("gram").agg(
        F.count(F.lit(1)).alias("gram_n")
    )
    # total bigram count derived from the (much smaller) gram counts —
    # Σ gram_n ≡ |bigrams| exactly, saving a third full pass
    total = counts.agg(F.sum("gram_n").alias("total_n"))
    scored = (
        bigrams.join(counts, "gram")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            (F.col("gram_n").cast("double") / F.col("total_n")).alias("p"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        (
            F.floor(
                F.sum(F.col("p").cast("decimal(28,18)")).cast("double")
                / F.count(F.lit(1))
                * 1000000000.0
            )
            / 1000000000.0
        ).alias("avg_p"),
    )


LLM_BIGRAM_LM_SQL = """
WITH bigrams AS (
    SELECT doc_id, unnest(grams) AS gram
    FROM (
        SELECT doc_id,
               [array_to_string(toks[i:i+1], ' ')
                for i in range(1, len(toks))] AS grams
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        WHERE len(toks) >= 2
    )
), counts AS (
    SELECT gram, COUNT(*) AS gram_n FROM bigrams GROUP BY gram
), total AS (
    SELECT COUNT(*) AS total_n FROM bigrams
)
SELECT b.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       floor(CAST(SUM(CAST(CAST(c.gram_n AS DOUBLE) / t.total_n
                           AS DECIMAL(28,18))) AS DOUBLE)
             / COUNT(*) * 1000000000.0) / 1000000000.0 AS avg_p
FROM bigrams b JOIN counts c ON b.gram = c.gram CROSS JOIN total t
GROUP BY b.doc_id
"""


QUERIES.update(
    {
        "llm_bigram_lm": Query(
            llm_bigram_lm, LLM_BIGRAM_LM_SQL,
            "bigram statistical-LM quality score (transcendental-free)",
        ),
    }
)
