"""Round-4 graph/ML/warehouse batch: deterministic weighted PageRank,
product-quantization ANN, type-2 SCD history, URL parsing, dynamic
partition pruning, distributed KMeans, BPE pair counting, and codec/regex
function coverage. The PageRank/KMeans exactness recipes (integer-
quantized order-insensitive sums + unrolled SQL oracles) are documented
in operators/graph.py and operators/ml.py."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import Query
from ._util import (
    dsum, fquant, fresh_dir, scratch_root, spread, sql_vec_dim_ok, t,
    vec_dim_ok, vec_finite,
)

SCRATCH = scratch_root()

PR_ITERS = 3
PR_DAMPING = 0.85


def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the nation-level trade graph (customer's nation →
    supplier's nation, weighted by lineitem count) — the host/domain
    authority signal a web-corpus curation pipeline computes before
    deciding sampling weights per source.

    The edge build is the interesting part at scale: a 3-way fact join
    (customer⋈orders⋈lineitem⋈supplier) reduced to a tiny weighted edge
    list BEFORE any iteration touches it — the iterations then run on
    O(V+E) state, never on the 100 TB fact table. Cross-engine exactness
    comes from operators/graph.py's integer-quantized contribution sums
    (see its docstring); the oracle unrolls the same three iterations as
    SQL CTEs."""
    from ..operators.graph import pagerank
    from ._util import nation_trade_pairs

    nation = t(spark, sf_dir, "nation")
    edges = (
        nation_trade_pairs(spark, sf_dir)
        .groupBy(
            F.col("c_nationkey").alias("src"),
            F.col("s_nationkey").alias("dst"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
    )
    nodes = nation.select(F.col("n_nationkey").alias("node"))
    ranks = pagerank(nodes, edges, iters=PR_ITERS, damping=PR_DAMPING)
    return (
        ranks.join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            ranks.node == F.col("n_nationkey"),
        )
        .select(
            F.col("node").alias("nationkey"),
            "n_name",
            fquant(F.col("pr"), 8).alias("pagerank"),
        )
    )


def _pr_iter_sql(i: int) -> str:
    """One unrolled PageRank iteration: integer-quantized contribution
    sum (exact, order-insensitive) + damped update — the SQL mirror of
    operators/graph.py::pagerank's loop body."""
    return f"""
c{i} AS (
  SELECT e.dst,
         SUM(CAST(floor(p.pr * (e.w / o.wout) * 1e14) AS BIGINT)) AS s
  FROM edges e
  JOIN p{i - 1} p ON p.node = e.src
  JOIN outw o ON o.src = e.src
  GROUP BY e.dst
), p{i} AS (
  SELECT n.node,
         -- the damped base is interpolated as the PRE-EVALUATED Python
         -- double ((1.0-0.85) = 0.15000000000000002 in IEEE), forced to
         -- DOUBLE with the e0 suffix: writing (1.0 - 0.85) here would
         -- evaluate in DuckDB's exact DECIMAL (0.15 exactly -> a
         -- different double), breaking bit-identity with the Spark side
         {(1.0 - PR_DAMPING)!r}e0 / nn.n
           + {PR_DAMPING} * (CAST(COALESCE(c.s, 0) AS DOUBLE) / 1e14) AS pr
  FROM nodes n
  LEFT JOIN c{i} c ON c.dst = n.node
  CROSS JOIN nn
)"""


GRAPH_PAGERANK_SQL = f"""
WITH edges AS (
  SELECT c_nationkey AS src, s_nationkey AS dst,
         CAST(COUNT(*) AS DOUBLE) AS w
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  GROUP BY 1, 2
), nodes AS (
  SELECT n_nationkey AS node FROM nation
), nn AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes
), outw AS (
  SELECT src, SUM(w) AS wout FROM edges GROUP BY src
), p0 AS (
  SELECT node, 1.0 / nn.n AS pr FROM nodes CROSS JOIN nn
),{",".join(_pr_iter_sql(i) for i in range(1, PR_ITERS + 1))}
SELECT p.node AS nationkey, n.n_name,
       floor(p.pr * 100000000.0) / 100000000.0 AS pagerank
FROM p{PR_ITERS} p JOIN nation n ON n.n_nationkey = p.node
"""


def llm_sim_search_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization approximate top-10 (rows-only: PQ scores are
    lossy by construction — recall vs. brute force is measured in
    tests/test_operators.py). 16 subspaces × 64 centroids compress a
    64-dim float corpus 16:1; asymmetric-distance scoring + exact
    re-ranking of the top 80 candidates measures recall@10 = 1.0 at
    sf0.1 (near-uniform random embeddings are PQ's worst case — the
    coarser 8×16 codebook only reached 0.2 there, so the registry pins
    the measured configuration). Same persisted-index contract as IVF:
    codebooks are trained once per corpus fingerprint and cached."""
    from ..operators.simsearch import corpus_cache_key, pq_topk

    from .llm import _min_vec_id

    # ragged-dim + poisoned-vector exclusion (round-12 contract,
    # _util.vec_dim_ok; round-11 contract, _util.vec_finite — ADVICE r12:
    # a NaN/Inf vector of modal dim would otherwise reach the np
    # codebook trainer and poison the ADC codebooks, unlike every
    # sibling similarity key which already filters both)
    raw = t(spark, sf_dir, "embeddings")
    emb = raw.filter(vec_dim_ok(raw) & vec_finite())
    return pq_topk(
        emb, probe_vec_id=_min_vec_id(emb), k=10,
        m=16, ksub=64, refine=8,
        corpus_key=corpus_cache_key(
            os.path.join(sf_dir, "embeddings.parquet"), label="pq"
        ),
    )


QUERIES: dict[str, Query] = {
    "graph_pagerank": Query(
        graph_pagerank, GRAPH_PAGERANK_SQL,
        "deterministic weighted PageRank, 3 unrolled iterations",
        build="compute",
    ),
    "llm_sim_search_pq": Query(
        llm_sim_search_pq, None, "PQ ANN with ADC scoring + exact re-rank",
        build="compute",
    ),
}


def dim_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing dimension build: turn the events change log
    into per-user version history — each change opens a version row with
    ``[valid_from, valid_to)`` and the open-ended row is flagged current.
    The gold-dimension shape every warehouse maintains next to its facts
    (the reference's declared-but-unbuilt gold layer stops at additive
    rollups; this is the non-additive half).

    Scale: one shuffle on the dimension key, then pure window functions
    — lead() for the closing timestamp, row_number() for the version
    ordinal. No self-join (the textbook anti-pattern for SCD2 at scale).
    The ordering includes event_id so same-timestamp changes version
    deterministically."""
    from pyspark.sql.window import Window

    ev = t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    # asc_nulls_last matches DuckDB's default ordering should a future
    # fixture carry null ts (Spark's asc default is NULLS FIRST).
    w = Window.partitionBy("user_id").orderBy(
        F.asc_nulls_last("ts"), F.asc_nulls_last("event_id")
    )
    return ev.select(
        "user_id",
        F.row_number().over(w).alias("version"),
        F.col("value").alias("attr_value"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
        F.date_format(F.lead("ts").over(w), "yyyy-MM-dd HH:mm:ss").alias(
            "valid_to"
        ),
        F.lead("ts").over(w).isNull().alias("is_current"),
    )


DIM_SCD2_SQL = """
SELECT user_id,
       row_number() OVER w AS version,
       value AS attr_value,
       strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS valid_from,
       strftime(lead(ts) OVER w, '%Y-%m-%d %H:%M:%S') AS valid_to,
       lead(ts) OVER w IS NULL AS is_current
FROM events
WHERE event_type = 'purchase'
WINDOW w AS (PARTITION BY user_id
             -- CAST pins version ordering to the µs the Spark stream
             -- sees: raw TIMESTAMP_NS ordering could rank two µs-equal
             -- changes by their ns remainder instead of event_id
             ORDER BY CAST(ts AS TIMESTAMP), event_id)
"""


def fn_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL component extraction with the JVM ``parse_url`` built-in
    (host / path / one query parameter) — provenance-tracking metadata
    every web-corpus pipeline normalizes before host-level dedup or
    authority scoring (graph_pagerank). One codegen'd map pass; the
    oracle recomputes the same components with regexes, so the two
    parsers must agree byte-for-byte."""
    docs = t(spark, sf_dir, "documents")
    # Sanitize the generator-controlled fields to a VALID hostname
    # label BEFORE building the URL: java.net.URI (behind parse_url)
    # returns a NULL host for authorities containing '_', NULLs every
    # component on a space/non-ASCII char, and ALSO rejects labels that
    # start or end with '-' or are empty (hostile-strings axis: a
    # sanitized "'apos" → '-apos' or 'trailing ' → 'trailing-' NULLed
    # the host where the oracle's regex extracted it). Three mirrored
    # steps: charset-replace, trim edge hyphens, empty → 'src'.
    def safe(c):
        replaced = F.regexp_replace(c, r"[^A-Za-z0-9]", "-")
        trimmed = F.regexp_replace(replaced, r"^-+|-+$", "")
        return F.when(trimmed == "", F.lit("src")).otherwise(trimmed)

    url = F.concat(
        F.lit("https://"), safe(F.col("source")),
        F.lit(".example.com/docs/"),
        F.col("doc_id").cast("string"), F.lit("?ref="),
        safe(F.col("lang")),
    )
    return docs.select(
        "doc_id",
        url.alias("url"),
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY"), F.lit("ref")).alias("ref_param"),
    )


FN_URL_SQL = """
WITH u AS (
  SELECT doc_id,
         'https://'
           || CASE WHEN regexp_replace(
                     regexp_replace(source, '[^A-Za-z0-9]', '-', 'g'),
                     '^-+|-+$', '', 'g') = '' THEN 'src'
                   ELSE regexp_replace(
                     regexp_replace(source, '[^A-Za-z0-9]', '-', 'g'),
                     '^-+|-+$', '', 'g') END
           || '.example.com/docs/' || CAST(doc_id AS VARCHAR)
           || '?ref='
           || CASE WHEN regexp_replace(
                     regexp_replace(lang, '[^A-Za-z0-9]', '-', 'g'),
                     '^-+|-+$', '', 'g') = '' THEN 'src'
                   ELSE regexp_replace(
                     regexp_replace(lang, '[^A-Za-z0-9]', '-', 'g'),
                     '^-+|-+$', '', 'g') END
           AS url
  FROM documents
)
SELECT doc_id, url,
       regexp_extract(url, '^https?://([^/]+)', 1) AS host,
       regexp_extract(url, '^https?://[^/]+(/[^?]*)', 1) AS path,
       regexp_extract(url, 'ref=([^&]*)', 1) AS ref_param
FROM u
"""


QUERIES.update(
    {
        "dim_scd2": Query(
            dim_scd2, DIM_SCD2_SQL, "type-2 SCD history via windows, no self-join"
        ),
        "fn_url": Query(fn_url, FN_URL_SQL, "parse_url host/path/query extraction"),
    }
)


def join_dpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: a partitioned fact table joined to a
    dimension whose selective filter is only knowable at RUNTIME (the
    category is computed on dim rows, so no static predicate exists on
    the fact's partition column) — Catalyst injects a
    ``dynamicpruningexpression`` into the fact scan's PartitionFilters,
    reusing the broadcast dim as the filter. THE mechanism that makes a
    dim-filtered fact query read 2 of N partitions instead of 100 TB;
    tests/test_plans.py asserts the pruning subquery is really in the
    scan. The stage-out writes events partitioned by event_type to give
    the scan real partition directories to prune."""
    ev = t(spark, sf_dir, "events")
    base = fresh_dir(os.path.join(SCRATCH, "join_dpp"))
    ev.write.partitionBy("event_type").parquet(base, mode="overwrite")
    # schema-pinned read-back: an empty corpus stages no partition dirs
    # and must read as an empty fact table, not a schema-inference error
    fact = spark.read.schema(ev.schema).parquet(base)

    dim = (
        ev.select("event_type").distinct()
        .withColumn(
            "category",
            F.when(
                F.col("event_type").isin("purchase", "click"), "engagement"
            ).otherwise("passive"),
        )
    )
    return (
        fact.join(
            F.broadcast(dim.filter(F.col("category") == "engagement")),
            "event_type",
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            dsum("value").alias("sum_value"),
        )
    )


JOIN_DPP_SQL = """
SELECT event_type,
       COUNT(*) AS event_count,
       CAST(ROUND(SUM(CAST(CASE WHEN isfinite(value) THEN value END AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_value
FROM events
WHERE event_type IN ('purchase', 'click')
GROUP BY event_type
"""


QUERIES.update(
    {
        "join_dpp": Query(
            join_dpp, JOIN_DPP_SQL,
            "runtime partition pruning via broadcast dim reuse",
            build="side_effects",
        ),
    }
)


KM_K = 8
KM_ITERS = 2


def ml_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed KMeans on the embeddings table — the iterative
    ML-training loop (assign → update) as Catalyst plans, hash-checked
    against a fully-unrolled SQL oracle (operators/ml.py documents the
    exactness contract: fold distances, lowest-cid tie-break,
    integer-quantized centroid sums). k=8, 2 Lloyd iterations, init =
    the k lowest vec_ids; output is every vector's final assignment —
    the corpus-bucketing primitive SemDeDup-style pipelines run before
    per-bucket dedup."""
    from ..operators.ml import kmeans_assign

    # poisoned-vector + ragged-dim exclusion (float-specials contract
    # _util.vec_finite; round-12 ragged-dims contract _util.vec_dim_ok)
    raw = t(spark, sf_dir, "embeddings")
    emb = raw.filter(vec_dim_ok(raw) & vec_finite()).selectExpr(
        "vec_id", "CAST(embedding AS array<double>) AS v"
    )
    return kmeans_assign(emb, k=KM_K, iters=KM_ITERS)


def _km_assign_sql(i: int, cents: str, final: bool = False) -> str:
    # range derived from len(e.v), not the KM_DIM constant — a fixture
    # regenerated at another dimension must not silently truncate the
    # fold (the SQL_COSINE lesson in operators/simsearch.py).
    d2 = (
        "list_sum(list_transform(range(1, len(e.v) + 1),"
        " i -> (e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i])))"
    )
    cols = (
        "vec_id, cid, floor(d2 * 1000000.0) / 1000000.0 AS d2_q"
        if final
        else "vec_id, cid, v"
    )
    return f"""
a{i} AS (
  SELECT {cols} FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
    FROM (
      SELECT e.vec_id, c.cid, e.v, {d2} AS d2
      FROM e CROSS JOIN {cents} c
    )
  ) WHERE rn = 1
)"""


def _km_update_sql(i: int) -> str:
    return f"""
m{i} AS (
  SELECT a.cid, t.i AS pos,
         SUM(CAST(floor(a.v[t.i] * 1e9) AS BIGINT)) AS s,
         COUNT(*) AS n
  FROM a{i} a CROSS JOIN LATERAL unnest(range(1, len(a.v) + 1)) AS t(i)
  GROUP BY 1, 2
), c{i} AS (
  SELECT cid, list((CAST(s AS DOUBLE) / 1e9) / n ORDER BY pos) AS cv
  FROM m{i}
  GROUP BY cid
)"""


ML_KMEANS_SQL = f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    WHERE (embedding IS NULL OR len(list_filter(embedding, x -> NOT isfinite(CAST(x AS DOUBLE)))) = 0)
      AND {sql_vec_dim_ok()}
), c0 AS (
  SELECT CAST(vec_id AS INT) AS cid, v AS cv FROM e WHERE vec_id < {KM_K}
),{_km_assign_sql(1, "c0")},{_km_update_sql(1)},{_km_assign_sql(2, "c1")},{_km_update_sql(2)},{_km_assign_sql(3, "c2", final=True)}
SELECT vec_id, cid, d2_q FROM a3
"""


QUERIES.update(
    {
        "ml_kmeans": Query(
            ml_kmeans, ML_KMEANS_SQL,
            "distributed KMeans, exact cross-engine Lloyd iterations",
            build="compute",
        ),
    }
)


BPE_TOP = 20


def llm_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First BPE merge round over the corpus: frequency of every ADJACENT
    token pair — the counting primitive a tokenizer-training pipeline
    (BPE/WordPiece) iterates at corpus scale. One lateral position
    explode (zero-shuffle, rows × avg_len fan-out like llm_doc_chunk)
    into one partial-aggregated count shuffle of O(vocab²-observed)
    groups; top-k via TakeOrderedAndProject with a total order (count
    desc, pair asc) so the cut is deterministic across engines."""
    # spread: the split + position explode fan-out is per-row compute
    # that would otherwise run on the single row-group's one scan task
    # (guide §2.5).
    docs = spread(t(spark, sf_dir, "documents"), sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    pairs = (
        # The size >= 2 guard is load-bearing: Spark's sequence(1, 0)
        # DESCENDS ([1, 0]) for a single-token doc, and element_at(_, 0)
        # errors — whereas DuckDB's range(1, 1) is just empty. Filtering
        # first gives both engines the drop-the-row semantics.
        docs.filter(F.size(toks) >= 2)
        .select(
            toks.alias("toks"),
            F.explode(F.sequence(F.lit(1), F.size(toks) - 1)).alias("i"),
        )
        .select(
            F.concat(
                F.element_at("toks", F.col("i")),
                F.lit(" "),
                F.element_at("toks", F.col("i") + 1),
            ).alias("pair")
        )
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("pair"))
        .limit(BPE_TOP)
    )


LLM_BPE_PAIRS_SQL = f"""
SELECT tokens[t.i] || ' ' || tokens[t.i + 1] AS pair,
       COUNT(*) AS n
FROM (SELECT string_split(text, ' ') AS tokens FROM documents) d
CROSS JOIN LATERAL unnest(range(1, len(tokens))) AS t(i)
GROUP BY 1
ORDER BY n DESC, pair
LIMIT {BPE_TOP}
"""


QUERIES.update(
    {
        "llm_bpe_pairs": Query(
            llm_bpe_pairs, LLM_BPE_PAIRS_SQL,
            "BPE merge-candidate counting (adjacent token pairs, top-20)",
        ),
    }
)


def fn_binary_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary codec round-trips (base64 / hex / md5-of-utf8) — the
    encode/decode surface an ingestion layer needs for opaque payload
    columns. All JVM expressions, one codegen'd map pass; the oracle
    must agree byte-for-byte on every encoding."""
    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") % 50 == 0)
    head = F.substring("text", 1, 24)
    return docs.select(
        "doc_id",
        F.base64(head.cast("binary")).alias("b64"),
        F.lower(F.hex(head.cast("binary"))).alias("hx"),
        F.length(F.unbase64(F.base64(head.cast("binary")))).alias(
            "roundtrip_len"
        ),
    )


FN_BINARY_CODEC_SQL = """
SELECT doc_id,
       to_base64(encode(substring(text, 1, 24))) AS b64,
       lower(hex(encode(substring(text, 1, 24)))) AS hx,
       octet_length(from_base64(to_base64(encode(substring(text, 1, 24)))))
         AS roundtrip_len
FROM documents
WHERE doc_id % 50 = 0
"""


def fn_regexp_extract_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """regexp_extract_all over the events JSON props — every digit run,
    joined to one string so the oracle compares scalars (array renderings
    differ between pandas and DuckDB, values must not). JVM regex vs RE2:
    the pattern sticks to shared semantics (character classes, +)."""
    ev = t(spark, sf_dir, "events").filter(F.col("event_id") % 100 == 0)
    return ev.select(
        "event_id",
        F.array_join(
            F.regexp_extract_all("props", F.lit(r"(\d+)"), 1), ","
        ).alias("digit_runs"),
        F.size(F.regexp_extract_all("props", F.lit(r"(\d+)"), 1)).alias(
            "n_runs"
        ),
    )


FN_REGEXP_EXTRACT_ALL_SQL = r"""
SELECT event_id,
       array_to_string(regexp_extract_all(props, '(\d+)', 1), ',')
         AS digit_runs,
       len(regexp_extract_all(props, '(\d+)', 1)) AS n_runs
FROM events
WHERE event_id % 100 = 0
"""


QUERIES.update(
    {
        "fn_binary_codec": Query(
            fn_binary_codec, FN_BINARY_CODEC_SQL, "base64/hex codec round-trips"
        ),
        "fn_regexp_extract_all": Query(
            fn_regexp_extract_all, FN_REGEXP_EXTRACT_ALL_SQL,
            "regexp_extract_all digit runs, array-joined for parity",
        ),
    }
)


def llm_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end curation pass as ONE declarative plan — quality
    gate → exact dedup (canonical = lowest doc_id per fingerprint) →
    language rebalancing → train/val/test split — i.e. the composition a
    real corpus run executes, here as a single Catalyst plan so the
    optimizer sees (and fuses) the whole thing: the quality filter and
    fingerprint computation ride the same scan, the dedup is one
    window over the fingerprint, and the split/rebalance are map-side
    expressions on the survivors. Output: per (lang, split) survivor
    counts plus summed chars — the corpus card a curation run publishes.

    At 100 TB the single-plan shape matters: a step-per-job pipeline
    (filter job → dedup job → split job) re-reads the corpus three
    times; this reads it once."""
    from pyspark.sql.window import Window

    docs = t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    quality_ok = (
        F.col("text").isNotNull()
        & (F.size(toks) >= 16)
        & (F.col("n_chars") >= 64)
    )
    fp = F.md5("text")
    w = Window.partitionBy("fp").orderBy("doc_id")
    hash2 = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    survivors = (
        docs.filter(quality_ok)
        .withColumn("fp", fp)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)  # canonical doc per exact-dup group
        # per-language rebalance: downsample dominant 'en' to ~25%
        .filter(
            F.when(F.col("lang") == "en", hash2 < F.lit("40")).otherwise(
                F.lit(True)
            )
        )
        .withColumn(
            "split",
            F.when(hash2 < F.lit("0d"), "val")
            .when(hash2 < F.lit("1a"), "test")
            .otherwise("train"),
        )
    )
    return survivors.groupBy("lang", "split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


LLM_CURATION_PIPELINE_SQL = """
WITH survivors AS (
  SELECT doc_id, lang, n_chars,
         substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS h2
  FROM (
    SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
    FROM (
      SELECT doc_id, lang, n_chars, md5(text) AS fp
      FROM documents
      WHERE text IS NOT NULL
        AND len(string_split(text, ' ')) >= 16
        AND n_chars >= 64
    )
  )
  WHERE rn = 1
), rebalanced AS (
  SELECT *,
         CASE WHEN h2 < '0d' THEN 'val'
              WHEN h2 < '1a' THEN 'test'
              ELSE 'train' END AS split
  FROM survivors
  WHERE CASE WHEN lang = 'en' THEN h2 < '40' ELSE TRUE END
)
SELECT lang, split, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM rebalanced
GROUP BY 1, 2
"""


QUERIES.update(
    {
        "llm_curation_pipeline": Query(
            llm_curation_pipeline, LLM_CURATION_PIPELINE_SQL,
            "quality gate -> exact dedup -> rebalance -> split, one plan",
        ),
    }
)


MIX_CAP = 5.0


def llm_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mixture reweighting: compute the per-language sampling
    weight that moves the token distribution toward uniform across
    languages (the data-mixing step before training — upweight
    under-represented slices, downweight dominant ones), with the
    upsampling factor capped at MIX_CAP so rare slices are not repeated
    into memorization.

    weight_lang = min(cap, target_share / actual_share) where
    actual_share = lang_tokens / total_tokens and target_share = 1/K.
    One aggregation pass over the corpus; every ratio is a division of
    exact integer token counts (whitespace tokens), so the doubles are
    bit-identical across engines and the floor-quantized weights hash-
    match. Output also carries the effective post-weight share, the
    number the mixing loop iterates on."""
    docs = t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = F.size(F.split(F.col("text"), " ")).cast("long")
    per_lang = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(toks).alias("lang_tokens"),
    )
    totals = per_lang.agg(
        F.sum("lang_tokens").alias("total_tokens"),
        F.count(F.lit(1)).cast("double").alias("k_langs"),
    )
    j = per_lang.crossJoin(F.broadcast(totals))
    actual = F.col("lang_tokens").cast("double") / F.col("total_tokens").cast("double")
    target = F.lit(1.0) / F.col("k_langs")
    weight = F.least(F.lit(MIX_CAP), target / actual)
    eff = actual * weight
    return j.select(
        "lang",
        "n_docs",
        "lang_tokens",
        fquant(weight, 6).alias("mix_weight"),
        fquant(eff, 6).alias("effective_share"),
    )


LLM_MIX_WEIGHTS_SQL = f"""
WITH per_lang AS (
  SELECT lang, COUNT(*) AS n_docs,
         SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) AS lang_tokens
  FROM documents
  WHERE text IS NOT NULL
  GROUP BY lang
), totals AS (
  SELECT CAST(SUM(lang_tokens) AS BIGINT) AS total_tokens,
         CAST(COUNT(*) AS DOUBLE) AS k_langs
  FROM per_lang
)
SELECT p.lang, p.n_docs, CAST(p.lang_tokens AS BIGINT) AS lang_tokens,
       floor(least({MIX_CAP},
                   (1.0 / t.k_langs)
                   / (CAST(p.lang_tokens AS DOUBLE)
                      / CAST(t.total_tokens AS DOUBLE))) * 1000000.0)
         / 1000000.0 AS mix_weight,
       floor((CAST(p.lang_tokens AS DOUBLE) / CAST(t.total_tokens AS DOUBLE))
             * least({MIX_CAP},
                     (1.0 / t.k_langs)
                     / (CAST(p.lang_tokens AS DOUBLE)
                        / CAST(t.total_tokens AS DOUBLE))) * 1000000.0)
         / 1000000.0 AS effective_share
FROM per_lang p CROSS JOIN totals t
"""


QUERIES.update(
    {
        "llm_mix_weights": Query(
            llm_mix_weights, LLM_MIX_WEIGHTS_SQL,
            "capped uniform-target language mixture reweighting",
        ),
    }
)
