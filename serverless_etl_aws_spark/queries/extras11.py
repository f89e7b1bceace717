"""Round-5 wave: corpus boilerplate removal (cross-doc segment dedup, the
C4/CCNet preprocessing step), ANALYZE-style column statistics, two-phase
heavy hitters (Misra-Gries sketch candidates → exact verify), and
trailing-window EWMA smoothing.

Each follows the repo's contract: Spark-first plan + DuckDB oracle SQL
with byte-identical rendering (decimal discipline / floor quantization /
sequential-fold IEEE determinism per queries/_util.py).
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import Query
from ._util import fquant, t

# ------------------------------------------------- llm_paragraph_dedup

PARA_W = 8          # tokens per segment ("paragraph" granularity)
PARA_MIN_DOCS = 2   # segment is boilerplate if it appears in >= this many docs


def llm_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate removal — the C4/CCNet preprocessing
    step: segment every document (non-overlapping PARA_W-token windows),
    find segments whose hash occurs in ≥ PARA_MIN_DOCS distinct docs,
    strip ALL their occurrences, and reassemble each document in original
    segment order. Complements the doc-level dedup family: it removes
    repeated headers/footers/navigation INSIDE otherwise-unique docs.

    Scale shape: one explode to O(tokens/W) segment rows, one partial-agg
    groupBy on the 128-bit segment hash (map-side combinable), an
    anti-join of segments against the boilerplate hash list (AQE picks
    broadcast while the list is small; at 100 TB the list grows with true
    boilerplate volume and falls back to a shuffle join on the hash —
    both sides already partition by it), and one per-doc reassembly
    shuffle. Text bytes cross the shuffle once (segment rows); the
    boilerplate decision itself moves only hashes.
    """
    docs = t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = F.split(F.col("text"), " ")
    base = docs.select(
        "doc_id",
        toks.alias("toks"),
        F.ceil(F.size(toks) / F.lit(float(PARA_W))).cast("bigint")
        .alias("n_segs"),
    )
    # Materialized ONCE: the segment relation feeds the boilerplate
    # groupBy (build side), the anti-join probe side, AND the per-doc
    # totals — without the checkpoint the corpus split+explode executes
    # three times (the shared-scan discipline measured on the ngram
    # shingle table and llm_bigram_lm).
    segs = base.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(0), F.col("n_segs").cast("int") - 1)
        ).alias("seg_no"),
        "toks",
    ).select(
        "doc_id",
        "seg_no",
        F.concat_ws(
            " ", F.slice(F.col("toks"), F.col("seg_no") * PARA_W + 1, PARA_W)
        ).alias("seg"),
    ).withColumn("h", F.md5("seg")).localCheckpoint(eager=False)
    # per-doc totals derived from segs (every non-null-text doc has >= 1
    # segment), so the documents table is scanned exactly once
    totals = segs.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_segs")
    )
    boiler = (
        segs.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= PARA_MIN_DOCS)
        .select("h")
    )
    kept = segs.join(boiler, "h", "left_anti")
    reassembled = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("seg_no", "seg"))),
                lambda s: s["seg"],
            ),
        ).alias("clean_text"),
    )
    return (
        totals.join(reassembled, "doc_id", "left")
        .select(
            "doc_id",
            "n_segs",
            F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
            (F.col("n_segs") - F.coalesce(F.col("n_kept"), F.lit(0)))
            .alias("n_dropped"),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        )
    )


LLM_PARAGRAPH_DEDUP_SQL = f"""
WITH base AS MATERIALIZED (
  SELECT doc_id, string_split(text, ' ') AS toks,
         CAST(ceil(len(string_split(text, ' ')) / {PARA_W}.0) AS BIGINT)
           AS n_segs
  FROM documents WHERE text IS NOT NULL
), segs AS MATERIALIZED (
  SELECT doc_id, i AS seg_no,
         array_to_string(
           list_slice(toks, i * {PARA_W} + 1, i * {PARA_W} + {PARA_W}), ' '
         ) AS seg
  FROM base, UNNEST(range(n_segs)) u(i)
), rep AS (
  SELECT md5(seg) AS h FROM segs
  GROUP BY md5(seg)
  HAVING COUNT(DISTINCT doc_id) >= {PARA_MIN_DOCS}
), kept AS (
  SELECT * FROM segs WHERE md5(seg) NOT IN (SELECT h FROM rep)
), agg AS (
  SELECT doc_id, COUNT(*) AS n_kept,
         string_agg(seg, ' ' ORDER BY seg_no) AS clean_text
  FROM kept GROUP BY doc_id
)
SELECT b.doc_id, b.n_segs,
       COALESCE(a.n_kept, 0) AS n_kept,
       b.n_segs - COALESCE(a.n_kept, 0) AS n_dropped,
       COALESCE(a.clean_text, '') AS clean_text
FROM base b LEFT JOIN agg a USING (doc_id)
"""


# ------------------------------------------------- maintenance_analyze

ANALYZE_NUM_COLS = ("l_quantity", "l_extendedprice", "l_partkey")
ANALYZE_STR_COLS = ("l_returnflag", "l_linestatus")


def maintenance_analyze(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style column statistics — the lakehouse maintenance pass
    every optimizer feeds on (CBO row counts, NDVs, ranges; partition
    layout decisions). One aggregation job over the fact table computes
    count / nulls / exact NDV / min / max for a column set, then the
    single stats row is unpivoted into the catalog's long form.

    Scale shape: TWO single-row passes joined 1×1 — the NDVs ride
    Spark's Expand-based multi-DISTINCT plan (one scan, rows ×
    n_distinct_cols expanded, partial-aggregated map-side — same plan
    family as agg_multi_distinct), while counts/min/max take a separate
    plain whole-stage-codegen pass. Folding the min/max into the Expand
    aggregate reads once but drops the STRING min/max out of codegen
    (measured 10 s vs 2.9 s at sf0.1 — the interpreted fallback over the
    6× expanded rows dwarfs the extra scan), so the split is the faster
    plan at every scale. NDV is exact here because the oracle must
    match; a production catalog at 100 TB would flip to HLL sketches
    (agg_approx_distinct / agg_sketch_merge show that path).
    """
    li = t(spark, sf_dir, "lineitem")
    ndv_row = li.agg(
        *[
            F.countDistinct(c).alias(f"ndv_{c}")
            for c in (*ANALYZE_NUM_COLS, *ANALYZE_STR_COLS)
        ]
    )
    base_aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in (*ANALYZE_NUM_COLS, *ANALYZE_STR_COLS):
        base_aggs.append(F.count(c).alias(f"nn_{c}"))
    for c in ANALYZE_NUM_COLS:
        base_aggs.append(F.min(c).cast("double").alias(f"min_{c}"))
        base_aggs.append(F.max(c).cast("double").alias(f"max_{c}"))
    for c in ANALYZE_STR_COLS:
        base_aggs.append(F.min(c).alias(f"min_{c}"))
        base_aggs.append(F.max(c).alias(f"max_{c}"))
    row = li.agg(*base_aggs).crossJoin(ndv_row)  # 1×1

    def entry(c: str, numeric: bool):
        return F.struct(
            F.lit(c).alias("col_name"),
            F.col("n_rows").alias("n_rows"),
            (F.col("n_rows") - F.col(f"nn_{c}")).alias("n_nulls"),
            F.col(f"ndv_{c}").alias("ndv"),
            (F.col(f"min_{c}") if numeric else F.lit(None).cast("double"))
            .alias("min_num"),
            (F.col(f"max_{c}") if numeric else F.lit(None).cast("double"))
            .alias("max_num"),
            (F.col(f"min_{c}") if not numeric else F.lit(None).cast("string"))
            .alias("min_str"),
            (F.col(f"max_{c}") if not numeric else F.lit(None).cast("string"))
            .alias("max_str"),
        )

    entries = [entry(c, True) for c in ANALYZE_NUM_COLS] + [
        entry(c, False) for c in ANALYZE_STR_COLS
    ]
    return row.select(
        F.explode(F.array(*entries)).alias("s")
    ).select("s.*")


def _analyze_sql() -> str:
    branches = []
    for c in ANALYZE_NUM_COLS:
        branches.append(
            f"SELECT '{c}' AS col_name, n_rows, n_rows - nn_{c} AS n_nulls,"
            f" ndv_{c} AS ndv, min_{c} AS min_num, max_{c} AS max_num,"
            f" CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR)"
            f" AS max_str FROM stats"
        )
    for c in ANALYZE_STR_COLS:
        branches.append(
            f"SELECT '{c}' AS col_name, n_rows, n_rows - nn_{c} AS n_nulls,"
            f" ndv_{c} AS ndv, CAST(NULL AS DOUBLE) AS min_num,"
            f" CAST(NULL AS DOUBLE) AS max_num, min_{c} AS min_str,"
            f" max_{c} AS max_str FROM stats"
        )
    cols = [
        "COUNT(*) AS n_rows",
    ]
    for c in (*ANALYZE_NUM_COLS, *ANALYZE_STR_COLS):
        cols.append(f"COUNT({c}) AS nn_{c}")
        cols.append(f"CAST(COUNT(DISTINCT {c}) AS BIGINT) AS ndv_{c}")
    for c in ANALYZE_NUM_COLS:
        cols.append(f"CAST(MIN({c}) AS DOUBLE) AS min_{c}")
        cols.append(f"CAST(MAX({c}) AS DOUBLE) AS max_{c}")
    for c in ANALYZE_STR_COLS:
        cols.append(f"MIN({c}) AS min_{c}")
        cols.append(f"MAX({c}) AS max_{c}")
    return (
        "WITH stats AS MATERIALIZED (SELECT "
        + ", ".join(cols)
        + " FROM lineitem) "
        + " UNION ALL ".join(branches)
    )


MAINTENANCE_ANALYZE_SQL = _analyze_sql()


# ------------------------------------------------- agg_heavy_hitters

HH_K = 32  # support threshold 1/HH_K of the token stream


def agg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters over the corpus token stream, two-phase: a
    per-partition Misra-Gries sketch (HH_K counters, merged batch-wise)
    nominates candidates, then ONE exact filtered count verifies them
    against the true threshold freq ≥ N/HH_K.

    Why this shape at 100 TB: the exact groupBy alone shuffles every
    distinct token; the sketch pass is map-side-only (Arrow-batched,
    bounded memory: ≤ HH_K counters per partition) and its candidate
    union is ≤ HH_K × partitions rows, so the verify aggregates a
    candidate-filtered stream and broadcasts a tiny list. Misra-Gries
    merge guarantees the candidate set is a SUPERSET of every item with
    global frequency ≥ N/HH_K (an item below n_p/HH_K in every partition
    sums below N/HH_K), so the exact verify returns exactly the true
    heavy-hitter set — which is why a plain SQL oracle can check a
    sketch-routed plan.
    """
    import pandas as pd

    docs = t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = docs.select(
        F.explode(F.split(F.col("text"), " ")).alias("term")
    ).filter(F.col("term") != "")

    from ..operators.sketch import misra_gries_update

    def mg(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict[str, int] = {}
        for pdf in batches:
            counters = misra_gries_update(
                counters, pdf["term"].value_counts().to_dict(), HH_K
            )
        yield pd.DataFrame({"term": list(counters)})

    cand = toks.mapInPandas(mg, "term string").distinct()
    total = toks.agg(F.count(F.lit(1)).alias("n_total"))
    return (
        toks.join(F.broadcast(cand), "term")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("freq"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("freq") * HH_K >= F.col("n_total"))
        .select(
            "term",
            "freq",
            fquant(F.col("freq") / F.col("n_total"), 4).alias("share_q4"),
        )
    )


AGG_HEAVY_HITTERS_SQL = f"""
WITH toks AS MATERIALIZED (
  SELECT unnest(string_split(text, ' ')) AS term
  FROM documents WHERE text IS NOT NULL
), nz AS MATERIALIZED (
  SELECT term FROM toks WHERE term <> ''
), tot AS (SELECT COUNT(*) AS n_total FROM nz)
SELECT term, COUNT(*) AS freq,
       floor(COUNT(*) / CAST((SELECT n_total FROM tot) AS DOUBLE)
             * 10000.0) / 10000.0 AS share_q4
FROM nz
GROUP BY term
HAVING COUNT(*) * {HH_K} >= (SELECT n_total FROM tot)
"""


# ------------------------------------------------- ts_ewma

EWMA_ALPHA = 0.5
EWMA_WINDOW = 16  # trailing rows per series


def ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially-weighted moving average of event values
    over a trailing row window — the smoothing pass monitoring/feature
    pipelines run before thresholding. Weights a^m for the m-th-newest
    row, normalized by the realized weight sum, so early rows (short
    windows) are properly scaled rather than biased toward 0.

    Cross-engine determinism: the weighted sum is ONE sequential fold
    over the frame-ordered value list (acc·a + x), evaluated in the same
    order by both engines — bit-identical IEEE doubles in, floor-
    quantized out. The bounded frame (EWMA_WINDOW rows) is also what
    makes the weights computable: an unbounded a^-i rescaling overflows
    double range on long series. NULL values contribute 0 (pinned; the
    oracle mirrors the COALESCE).

    Scale shape: one window shuffle by user_id; state per row is the
    ≤16-element frame list. No Python, no second pass."""
    # ts IS NOT NULL: no timestamp = no series position (round 9)
    ev = t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(-(EWMA_WINDOW - 1), 0)
    )
    vals = F.collect_list(
        F.coalesce(F.col("value"), F.lit(0.0))
    ).over(w)
    a = F.lit(EWMA_ALPHA)
    s = F.aggregate(vals, F.lit(0.0), lambda acc, x: acc * a + x)
    wsum = F.aggregate(vals, F.lit(0.0), lambda acc, x: acc * a + 1.0)
    return (
        ev.select(
            "event_id",
            "user_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
            (s / wsum).alias("_ewma"),
        )
        .select(
            "event_id",
            "user_id",
            "ts_s",
            fquant(F.col("_ewma"), 6).alias("ewma_q6"),
        )
    )


TS_EWMA_SQL = f"""
WITH w AS (
  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS tsx,
         list(COALESCE(value, 0.0)) OVER (
           PARTITION BY user_id
           ORDER BY CAST(ts AS TIMESTAMP), event_id
           ROWS BETWEEN {EWMA_WINDOW - 1} PRECEDING AND CURRENT ROW
         ) AS vals
  FROM events WHERE ts IS NOT NULL
)
, r AS (
  SELECT event_id, user_id, tsx,
         list_reduce(
           list_prepend(CAST(0 AS DOUBLE), CAST(vals AS DOUBLE[])),
           (acc, x) -> acc * CAST({EWMA_ALPHA} AS DOUBLE) + x
         )
         / list_reduce(
             list_prepend(CAST(0 AS DOUBLE),
                          list_transform(vals, x -> CAST(1 AS DOUBLE))),
             (acc, x) -> acc * CAST({EWMA_ALPHA} AS DOUBLE) + x
           ) AS ewma_raw
  FROM w
)
SELECT event_id, user_id,
       strftime(tsx, '%Y-%m-%d %H:%M:%S') AS ts_s,
       -- isfinite mirror of the engine's fquant non-finite→NULL guard:
       -- a NaN in the frame propagates through the fold; DuckDB floor
       -- keeps ±Inf where Spark's guard NULLs it
       CASE WHEN isfinite(ewma_raw)
            THEN floor(ewma_raw * 1000000.0) / 1000000.0 END AS ewma_q6
FROM r
"""


QUERIES: dict[str, Query] = {
    "llm_paragraph_dedup": Query(
        llm_paragraph_dedup, LLM_PARAGRAPH_DEDUP_SQL,
        "C4-style cross-doc boilerplate segment removal + reassembly",
    ),
    "maintenance_analyze": Query(
        maintenance_analyze, MAINTENANCE_ANALYZE_SQL,
        "ANALYZE column stats: count/nulls/NDV/min/max, long form",
    ),
    "agg_heavy_hitters": Query(
        agg_heavy_hitters, AGG_HEAVY_HITTERS_SQL,
        "Misra-Gries sketch candidates -> exact heavy-hitter verify",
    ),
    "ts_ewma": Query(
        ts_ewma, TS_EWMA_SQL,
        "trailing-window EWMA via frame-ordered sequential fold",
    ),
}


# ------------------------------------------------- scan_jdbc

JDBC_SAMPLE_MOD = 20
JDBC_PARTS = 8


def scan_jdbc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JDBC source/sink round-trip against an embedded Derby database
    (the RDBMS driver Spark itself ships for its metastore): export a
    deterministic orders slice through the JDBC WRITER, read it back
    through the JDBC READER as a PARTITIONED parallel scan, and return
    the rows — the warehouse-integration path (operational DB extract /
    dimension sync) the file sources can't exercise. The oracle
    recomputes the slice from parquet, so a lossy export, a truncated
    read, or a type mangled by the DB round-trip (DOUBLE must come back
    bit-identical) all hash-mismatch.

    Scale shape: the read is split into JDBC_PARTS range predicates on
    o_orderkey (lowerBound/upperBound from one 2-scalar aggregate), so
    executors pull ranges concurrently instead of one serial cursor —
    the property that matters when the relational side is large. The
    bounds collect is 2 scalars; data never passes through the driver.
    Embedded Derby keeps the demo hermetic; a deployment swaps the URL
    and driver class for Postgres/MySQL with the same plan."""
    import os as _os

    from ._util import scratch_root

    db_dir = _os.path.join(scratch_root(), "scan_jdbc", "db")
    _os.makedirs(_os.path.dirname(db_dir), exist_ok=True)
    url = f"jdbc:derby:{db_dir};create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"

    from ._util import fin

    src = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % JDBC_SAMPLE_MOD == 0)
        # Derby (like several RDBMSs) rejects NaN/±Inf DOUBLEs at the
        # JDBC layer (ERROR 22003) — the export normalizes non-finite
        # to NULL, the standard warehouse-sync posture (float-specials
        # contract, _util). Oracle mirrors with the isfinite CASE.
        .select(
            "o_orderkey", "o_custkey",
            fin("o_totalprice").alias("o_totalprice"),
            "o_orderpriority",
        )
    )
    (
        src.write.format("jdbc")
        .option("url", url)
        .option("dbtable", "app.orders_export")
        .option("driver", driver)
        .mode("overwrite")
        .save()
    )
    lo, hi = (
        src.agg(F.min("o_orderkey"), F.max("o_orderkey")).collect()[0]
    )  # bounded: exactly 2 scalars (range-partitioning bounds)
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", "app.orders_export")
        .option("driver", driver)
    )
    if lo is not None:  # empty slice → single-partition read
        reader = (
            reader.option("partitionColumn", "o_orderkey")
            .option("numPartitions", str(JDBC_PARTS))
            .option("lowerBound", str(lo))
            .option("upperBound", str(max(hi, lo + 1)))
        )
    return reader.load().select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    )


SCAN_JDBC_SQL = f"""
SELECT o_orderkey, o_custkey,
       CASE WHEN isfinite(o_totalprice) THEN o_totalprice END
         AS o_totalprice,
       o_orderpriority
FROM orders
WHERE o_orderkey % {JDBC_SAMPLE_MOD} = 0
"""

QUERIES["scan_jdbc"] = Query(
    scan_jdbc, SCAN_JDBC_SQL,
    "JDBC sink+source round-trip (embedded Derby, range-partitioned read)",
    build="side_effects",
)
