"""Round-4 sixth wave: higher-order array functions, time-interval RANGE
window frames, and T5-style span corruption (pretraining-objective data
prep).

Parity discipline per queries/_util.py. The higher-order fold uses
Spark's sequential-left-fold ``aggregate``, whose evaluation order
matches DuckDB's ``list_sum(list_transform(...))`` — the same contract
operators/simsearch.py::SQL_COSINE relies on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import content_stamp, table_path
from . import Query
from ._util import vec_finite, t


# --------------------------------------------------------- fn_higher_order

def fn_higher_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions over the embedding column: transform,
    filter, exists, forall, sequential-fold aggregate, zip_with — the
    lambda-expression surface that keeps array work JVM-side (codegen'd)
    instead of exploding rows or crossing into Python."""
    # poisoned-vector exclusion (float-specials contract, _util.vec_finite)
    emb = t(spark, sf_dir, "embeddings").filter(vec_finite()).select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x as double))").alias("v"),
    )
    return emb.select(
        "vec_id",
        F.expr("size(filter(v, x -> x > 0D))").cast("int").alias("n_pos"),
        F.expr("exists(v, x -> abs(x) > 0.2D)").alias("has_big"),
        F.expr("forall(v, x -> abs(x) < 1.0D)").alias("all_small"),
        F.floor(
            F.expr("aggregate(v, 0D, (acc, x) -> acc + x * x)") * 1e6
        ).alias("sumsq_q6"),
        F.floor(
            F.expr(
                "aggregate(zip_with(v, reverse(v), (x, y) -> x * y),"
                " 0D, (acc, x) -> acc + x)"
            )
            * 1e6
        ).alias("palindot_q6"),
    )


# The oracle mirrors Spark's THREE-VALUED exists/forall/aggregate
# semantics explicitly (ADVICE r4): a NULL array → NULL; a NULL element
# with no decisive match → NULL for exists (no TRUE seen) and forall (no
# FALSE seen), and poisons the fold aggregates. A bare
# len(list_filter(...)) > 0 emulation would answer FALSE/TRUE instead of
# NULL the moment a fixture regeneration null-drifts embedding elements.
# list_sum([]) is NULL in DuckDB but Spark's fold starts at 0D, hence the
# COALESCE on the empty-array path.
FN_HIGHER_ORDER_SQL = """
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    WHERE (embedding IS NULL OR len(list_filter(embedding, x -> NOT isfinite(CAST(x AS DOUBLE)))) = 0)
), flags AS (
  SELECT vec_id, v,
         v IS NULL AS vnull,
         COALESCE(len(list_filter(v, x -> x IS NULL)) > 0, FALSE)
           AS has_null_elem
  FROM e
)
SELECT vec_id,
       CAST(len(list_filter(v, x -> x > 0)) AS INT) AS n_pos,
       CASE WHEN vnull THEN NULL
            WHEN len(list_filter(v, x -> abs(x) > 0.2)) > 0 THEN TRUE
            WHEN has_null_elem THEN NULL
            ELSE FALSE END AS has_big,
       CASE WHEN vnull THEN NULL
            WHEN len(list_filter(v, x -> NOT abs(x) < 1.0)) > 0 THEN FALSE
            WHEN has_null_elem THEN NULL
            ELSE TRUE END AS all_small,
       CAST(CASE WHEN vnull OR has_null_elem THEN NULL
            ELSE floor(COALESCE(list_sum(list_transform(v, x -> x * x)), 0)
                       * 1e6) END
            AS BIGINT) AS sumsq_q6,
       CAST(CASE WHEN vnull OR has_null_elem THEN NULL
            ELSE floor(COALESCE(list_sum(list_transform(range(1, len(v) + 1),
                       i -> v[i] * v[len(v) - i + 1])), 0) * 1e6) END
            AS BIGINT) AS palindot_q6
FROM flags
"""


# ---------------------------------------------------- win_frame_range_time

def win_frame_range_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-interval RANGE frame: per order priority, the exact
    decimal sum and count of orders whose o_orderdate falls in the
    trailing 7 days of each row — value-based time frames, not row
    counts (peers with the same date share one frame in both engines).

    Declared in SQL because the DataFrame API's rangeBetween is numeric-
    only; Spark SQL and DuckDB both speak RANGE BETWEEN INTERVAL."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("orders_wfrt")
    return spark.sql("""
        SELECT o_orderkey, o_orderpriority,
               CAST(o_orderdate AS DATE) AS od,
               CAST(SUM(CAST(CASE WHEN o_totalprice - (o_totalprice) = 0 THEN o_totalprice END AS DECIMAL(18,4))) OVER w
                    AS DOUBLE) AS trailing_sum,
               CAST(COUNT(*) OVER w AS BIGINT) AS trailing_n
        FROM orders_wfrt
        WINDOW w AS (PARTITION BY o_orderpriority
                     ORDER BY CAST(o_orderdate AS DATE)
                     RANGE BETWEEN INTERVAL 7 DAYS PRECEDING
                           AND CURRENT ROW)
    """).withColumn("od", F.date_format("od", "yyyy-MM-dd"))


WIN_FRAME_RANGE_TIME_SQL = """
SELECT o_orderkey, o_orderpriority,
       strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS od,
       CAST(SUM(CAST(CASE WHEN o_totalprice - (o_totalprice) = 0 THEN o_totalprice END AS DECIMAL(18,4))) OVER w AS DOUBLE)
           AS trailing_sum,
       CAST(COUNT(*) OVER w AS BIGINT) AS trailing_n
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority
             ORDER BY CAST(o_orderdate AS DATE)
             RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW)
"""


# ---------------------------------------------------- llm_span_corruption

SPAN_PERIOD = 10  # every 10 tokens...
SPAN_LEN = 3  # ...the last 3 become one masked span


def llm_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span corruption: deterministic spans (the last SPAN_LEN
    tokens of every SPAN_PERIOD-token block) are replaced by one
    <extra_id_N> sentinel in the corrupted text; the targets string
    carries sentinel-prefixed original spans — the (input, target) pair a
    denoising pretrain objective consumes.

    Deterministic by construction (position arithmetic, no RNG — the
    fixture can't move under it). One explode + one grouped re-assembly
    per side, order pinned by token position."""
    docs = t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("pos", "tok"),
    )
    in_span = (F.col("pos") % SPAN_PERIOD) >= (SPAN_PERIOD - SPAN_LEN)
    span_start = (F.col("pos") % SPAN_PERIOD) == (SPAN_PERIOD - SPAN_LEN)
    span_id = F.floor(F.col("pos") / SPAN_PERIOD).cast("int")
    sentinel = F.concat(F.lit("<extra_id_"), span_id, F.lit(">"))
    corrupted_tok = F.when(span_start, sentinel).when(
        in_span, F.lit(None)
    ).otherwise(F.col("tok"))
    target_tok = F.when(
        span_start, F.concat(sentinel, F.lit(" "), F.col("tok"))
    ).when(in_span, F.col("tok"))
    parts = toks.select(
        "doc_id",
        "pos",
        corrupted_tok.alias("ctok"),
        target_tok.alias("ttok"),
    )
    assemble = lambda col: F.array_join(  # noqa: E731
        F.expr(
            f"transform(array_sort(collect_list(struct(pos, {col}))),"
            f" s -> s.{col})"
        ),
        " ",
    )
    return parts.groupBy("doc_id").agg(
        assemble("ctok").alias("corrupted"),
        assemble("ttok").alias("targets"),
    )


LLM_SPAN_CORRUPTION_SQL = f"""
WITH toks AS (
  SELECT doc_id, i.i - 1 AS pos, tk[i.i] AS tok
  FROM (SELECT doc_id, string_split(text, ' ') AS tk
        FROM documents WHERE text IS NOT NULL) d
  CROSS JOIN LATERAL (SELECT unnest(generate_series(1, len(tk))) AS i) i
), parts AS (
  SELECT doc_id, pos,
         CASE WHEN pos % {SPAN_PERIOD} = {SPAN_PERIOD - SPAN_LEN}
              THEN '<extra_id_' || CAST(pos // {SPAN_PERIOD} AS INT) || '>'
              WHEN pos % {SPAN_PERIOD} >= {SPAN_PERIOD - SPAN_LEN}
              THEN NULL
              ELSE tok END AS ctok,
         CASE WHEN pos % {SPAN_PERIOD} = {SPAN_PERIOD - SPAN_LEN}
              THEN '<extra_id_' || CAST(pos // {SPAN_PERIOD} AS INT) || '> '
                   || tok
              WHEN pos % {SPAN_PERIOD} >= {SPAN_PERIOD - SPAN_LEN}
              THEN tok END AS ttok
  FROM toks
)
SELECT doc_id,
       COALESCE(string_agg(ctok, ' ' ORDER BY pos), '') AS corrupted,
       COALESCE(string_agg(ttok, ' ' ORDER BY pos), '') AS targets
FROM parts
GROUP BY doc_id
"""


QUERIES: dict[str, Query] = {
    "fn_higher_order": Query(
        fn_higher_order, FN_HIGHER_ORDER_SQL,
        "transform/filter/exists/forall/aggregate/zip_with lambdas"),
    "win_frame_range_time": Query(
        win_frame_range_time, WIN_FRAME_RANGE_TIME_SQL,
        "calendar-interval RANGE window frame"),
    "llm_span_corruption": Query(
        llm_span_corruption, LLM_SPAN_CORRUPTION_SQL,
        "T5-style deterministic span corruption (input/target pairs)"),
}


# -------------------------------------------------------- llm_bpe_train

BPE_ITERS = 3


def llm_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE merge training, 3 exact iterations: count adjacent
    token pairs, pick the most frequent (deterministic (count DESC, a, b)
    tie-break), apply leftmost-greedy non-overlapping merges, repeat —
    the tokenizer-training loop, run on the cluster instead of a single
    machine (the same exact-iteration recipe as ml_kmeans: the oracle
    unrolls identical iterations as SQL CTEs).

    Leftmost-greedy marking is window-parallel, not sequential: overlaps
    are only possible when a == b (runs of the same symbol), and within a
    run of consecutive pair-hits the merges land at even offsets — so
    islands of consecutive hits + an even-offset test reproduce the
    sequential scan exactly. Per iteration: one doc-partition window
    pass, one (a,b) count shuffle, one bounded O(1) driver collect (the
    argmax pair — same justification as the IVF training sample), and a
    localCheckpoint to truncate lineage. Output: per-iteration learned
    pair, its (overlap-counted) frequency, applied merge count, and
    corpus tokens remaining."""
    rows, _seq = _bpe_run(spark, sf_dir)
    return spark.createDataFrame(
        rows,
        "it int, pair_a string, pair_b string, pair_count long,"
        " merges long, tokens_after long",
    )


# Session-level result cache for the shared merge engine (VERDICT r5 #6):
# llm_bpe_train and llm_bpe_encode deliberately share _bpe_run so train
# and apply can never drift — but without a cache each key re-runs the
# full 3-iteration train. Caching the RESULT per (session, documents
# content stamp, iters) keeps the single-implementation guarantee (one
# engine, memoized) while letting encode reuse train's materialized
# sequence: the returned DataFrames sit on localCheckpoints, so after
# their first action the lineage is truncated and replays are cheap.
# Keyed by applicationId so a restarted session can never see another
# JVM's checkpointed RDDs, and on catalog.content_stamp so a rewritten
# corpus retrains (no stamp, no memo).
_BPE_CACHE: dict[tuple, tuple] = {}


def _bpe_run(spark: SparkSession, sf_dir: str):
    """Shared BPE merge engine: BPE_ITERS exact iterations, returning
    (per-iteration stats rows, final encoded sequence DF). llm_bpe_train
    reports the former; llm_bpe_encode aggregates the latter — train and
    apply share one implementation, so the learned merges and the encoded
    corpus can never drift apart. Memoized per session+corpus (see
    _BPE_CACHE above)."""
    stamp = content_stamp(table_path(sf_dir, "documents"))
    cache_key = (spark.sparkContext.applicationId, stamp, BPE_ITERS)
    hit = _BPE_CACHE.get(cache_key)
    if hit is not None:
        return hit
    docs = t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    seq = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    ).localCheckpoint(eager=False)

    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    w_run = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    rows = []
    # each applied merge removes exactly one token, so the per-iteration
    # corpus size is prev - merges — no count() action on the rebuilt
    # sequence needed (the oracle still COUNTs its rebuilt CTE, so a
    # rebuild defect would still hash-mismatch)
    n_tokens = seq.count()
    for it in range(1, BPE_ITERS + 1):
        paired = seq.withColumn("nxt", F.lead("tok").over(w_doc))
        top = (
            paired.filter(F.col("nxt").isNotNull())
            .groupBy("tok", "nxt")
            .agg(F.count(F.lit(1)).alias("c"))
            .orderBy(F.desc("c"), "tok", "nxt")
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b, c = top[0]["tok"], top[0]["nxt"], top[0]["c"]
        ip = (F.col("tok") == F.lit(a)) & (F.col("nxt") == F.lit(b))
        marked = (
            paired.withColumn("ip", ip)
            .withColumn(
                "grp",
                F.col("pos")
                - F.sum(F.col("ip").cast("int")).over(w_run),
            )
        )
        w_isl = Window.partitionBy("doc_id", "grp").orderBy("pos").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        marked = marked.withColumn(
            "ms",
            F.col("ip")
            & (((F.sum(F.col("ip").cast("int")).over(w_isl)) - 1) % 2 == 0),
        ).localCheckpoint(eager=False)
        n_merges = marked.agg(
            F.sum(F.col("ms").cast("long")).alias("m")
        ).collect()[0]["m"] or 0
        rebuilt = (
            marked.withColumn(
                "pm", F.lag("ms").over(w_doc)
            )
            .filter(~F.coalesce(F.col("pm"), F.lit(False)))
            .select(
                "doc_id",
                (F.row_number().over(w_doc) - 1).alias("pos"),
                F.when(
                    F.col("ms"), F.concat("tok", F.lit(" "), "nxt")
                ).otherwise(F.col("tok")).alias("tok"),
            )
            .localCheckpoint(eager=False)
        )
        n_tokens -= int(n_merges)
        rows.append((it, a, b, int(c), int(n_merges), int(n_tokens)))
        seq = rebuilt

    if stamp is not None:
        _BPE_CACHE[cache_key] = (rows, seq)
    return rows, seq


def _bpe_iter_sql(i: int) -> str:
    """One unrolled BPE iteration over sequence CTE s{i-1} → s{i}:
    pair counts → deterministic argmax → island/even-offset greedy
    marking → rebuild. Mirrors llm_bpe_train's loop body exactly."""
    p = i - 1
    return f"""
w{i} AS MATERIALIZED (
  SELECT doc_id, pos, tok,
         lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
  FROM s{p}
), t{i} AS MATERIALIZED (
  SELECT tok AS a, nxt AS b, COUNT(*) AS c
  FROM w{i} WHERE nxt IS NOT NULL
  GROUP BY tok, nxt
  ORDER BY c DESC, a, b
  LIMIT 1
), m{i} AS (
  SELECT w.doc_id, w.pos, w.tok, w.nxt, t.a, t.b, t.c,
         (w.tok = t.a AND w.nxt = t.b) AS ip
  FROM w{i} w CROSS JOIN t{i} t
), g{i} AS (
  SELECT *,
         pos - SUM(CASE WHEN ip THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS UNBOUNDED PRECEDING) AS grp
  FROM m{i}
), k{i} AS MATERIALIZED (
  SELECT *,
         ip AND ((SUM(CASE WHEN ip THEN 1 ELSE 0 END)
                      OVER (PARTITION BY doc_id, grp ORDER BY pos
                            ROWS UNBOUNDED PRECEDING) - 1) % 2 = 0) AS ms
  FROM g{i}
), l{i} AS (
  SELECT *, lag(ms) OVER (PARTITION BY doc_id ORDER BY pos) AS pm
  FROM k{i}
), s{i} AS MATERIALIZED (
  SELECT doc_id,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) - 1 AS pos,
         CASE WHEN ms THEN tok || ' ' || nxt ELSE tok END AS tok
  FROM l{i} WHERE NOT COALESCE(pm, FALSE)
  -- degenerate-corpus fallback: an empty pair vocabulary (t{i} has no
  -- row) empties the rebuild chain via the CROSS JOIN, but the Spark
  -- loop BREAKs and keeps the previous sequence — carry s{p} forward
  UNION ALL
  SELECT doc_id, pos, tok FROM s{p}
  WHERE NOT EXISTS (SELECT 1 FROM t{i})
), r{i} AS (
  SELECT {i} AS it,
         (SELECT a FROM t{i}) AS pair_a,
         (SELECT b FROM t{i}) AS pair_b,
         (SELECT CAST(c AS BIGINT) FROM t{i}) AS pair_count,
         (SELECT CAST(COUNT(CASE WHEN ms THEN 1 END) AS BIGINT)
          FROM k{i}) AS merges,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM s{i}) AS tokens_after
)"""


LLM_BPE_TRAIN_SQL = (
    """
WITH s0 AS (
  SELECT doc_id, i.i - 1 AS pos, tk[i.i] AS tok
  FROM (SELECT doc_id, string_split(text, ' ') AS tk
        FROM documents WHERE text IS NOT NULL) d
  CROSS JOIN LATERAL (SELECT unnest(generate_series(1, len(tk))) AS i) i
)"""
    + "".join("," + _bpe_iter_sql(i) for i in range(1, BPE_ITERS + 1))
    # pair_a IS NULL marks an iteration whose pair vocabulary was empty
    # (t{i} returned no row) — the Spark loop BREAKs there, so the
    # oracle must drop those rows too or a degenerate corpus (all docs
    # single-token) emits 3 oracle rows vs Spark's fewer
    + """
SELECT * FROM r1 WHERE pair_a IS NOT NULL
UNION ALL SELECT * FROM r2 WHERE pair_a IS NOT NULL
UNION ALL SELECT * FROM r3 WHERE pair_a IS NOT NULL
"""
)


QUERIES["llm_bpe_train"] = Query(
    llm_bpe_train, LLM_BPE_TRAIN_SQL,
    "3 exact distributed BPE merge iterations (unrolled SQL oracle)",
    build="compute")


def llm_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLICATION — the other half of the BPE story: encode
    the corpus with the learned merges and report, per document, the
    final token count, how many tokens are merge products, and an
    order-sensitive md5 of the encoded sequence (so a mis-ordered or
    mis-merged rebuild cannot hash-match even with correct counts).

    Shares the merge engine with llm_bpe_train (_bpe_run) — in a real
    pipeline train and apply MUST agree on leftmost-greedy semantics,
    and sharing the implementation makes divergence impossible. The
    oracle replays the identical unrolled iterations (the train
    oracle's CTE chain) and aggregates its final sequence.

    Scale: the encode output is one groupBy over the final sequence —
    O(tokens) rows into a per-doc aggregate, all JVM."""
    _rows, seq = _bpe_run(spark, sf_dir)
    return seq.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.col("tok").contains(" ").cast("long")).alias("n_merged"),
        F.md5(
            F.concat_ws(
                "|",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s["tok"],
                ),
            )
        ).alias("seq_md5"),
    )


LLM_BPE_ENCODE_SQL = (
    """
WITH s0 AS (
  SELECT doc_id, i.i - 1 AS pos, tk[i.i] AS tok
  FROM (SELECT doc_id, string_split(text, ' ') AS tk
        FROM documents WHERE text IS NOT NULL) d
  CROSS JOIN LATERAL (SELECT unnest(generate_series(1, len(tk))) AS i) i
)"""
    + "".join("," + _bpe_iter_sql(i) for i in range(1, BPE_ITERS + 1))
    + f"""
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(COUNT(CASE WHEN contains(tok, ' ') THEN 1 END) AS BIGINT)
         AS n_merged,
       md5(string_agg(tok, '|' ORDER BY pos)) AS seq_md5
FROM s{BPE_ITERS}
GROUP BY doc_id
"""
)

QUERIES["llm_bpe_encode"] = Query(
    llm_bpe_encode, LLM_BPE_ENCODE_SQL,
    "apply learned BPE merges: per-doc encoded-sequence stats + hash",
    build="compute")
