"""LLM-data-pipeline contract keys: text analysis, dedup family,
similarity search, multimodal plumbing (SURVEY.md §2B `llm_*` + the
training-data extensions from BASELINE.json north_star)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators import multimodal
from ..operators.dedup import (
    minhash_banded_pairs,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from ..operators.simsearch import SQL_COSINE, brute_force_topk, cosine_expr, ivf_topk
from ..operators.text import (
    LANG_ORDER,
    SQL_FINGERPRINT,
    fingerprint,
    ascii_lower,
    lang_score,
    lang_tokens,
    sql_lang_score,
)
from . import Query
from ._util import fquant, spread, sql_vec_dim_ok, t, vec_dim_ok, vec_finite

# ---------------------------------------------------------------- text ops


def llm_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 terms per language (count desc, term asc) + per-lang totals."""
    docs = t(spark, sf_dir, "documents")
    terms = docs.select(
        "lang", F.explode(F.split(F.col("text"), " ")).alias("term")
    ).filter(F.col("term") != "")
    counts = terms.groupBy("lang", "term").agg(
        F.count(F.lit(1)).alias("term_count")
    )
    # totals derive from counts — a second groupBy over `terms` would
    # re-run the whole tokenize+explode pass for a sum the (much smaller)
    # counts table already contains.
    totals = counts.groupBy("lang").agg(
        F.sum("term_count").alias("lang_tokens")
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("term_count").desc(), F.col("term")
    )
    return (
        counts.withColumn("term_rank", F.row_number().over(w))
        .filter(F.col("term_rank") <= 3)
        .join(totals, "lang")
        .select("lang", "term", "term_count",
                F.col("term_rank").cast("int").alias("term_rank"),
                "lang_tokens")
    )


LLM_TEXT_STATS_SQL = """
WITH terms AS (
    SELECT lang, unnest(string_split(text, ' ')) AS term FROM documents
), filtered AS (
    SELECT * FROM terms WHERE term <> ''
), counts AS (
    SELECT lang, term, COUNT(*) AS term_count
    FROM filtered GROUP BY lang, term
), totals AS (
    SELECT lang, COUNT(*) AS lang_tokens FROM filtered GROUP BY lang
)
SELECT c.lang, c.term, c.term_count,
       CAST(rn AS INTEGER) AS term_rank, t.lang_tokens
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY lang ORDER BY term_count DESC, term) AS rn
    FROM counts
) c JOIN totals t ON c.lang = t.lang
WHERE rn <= 3
"""


def llm_lang_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language/quality gate + per-source stats — the canonical corpus
    pre-filter step."""
    docs = t(spark, sf_dir, "documents").filter(
        F.col("lang").isin("en", "de") & F.col("n_chars").between(100, 400)
    )
    return docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("doc_count"),
        fquant(
            F.sum(F.col("n_chars").cast("decimal(18,4)")).cast("double")
            / F.count(F.lit(1)),
            2,
        ).alias("avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


LLM_LANG_FILTER_SQL = """
SELECT lang, source,
       COUNT(*) AS doc_count,
       floor(CAST(SUM(CAST(n_chars AS DECIMAL(18,4))) AS DOUBLE)
             / COUNT(*) * 100.0) / 100.0 AS avg_chars,
       MIN(n_chars) AS min_chars,
       MAX(n_chars) AS max_chars
FROM documents
WHERE lang IN ('en', 'de') AND n_chars BETWEEN 100 AND 400
GROUP BY lang, source
"""


def llm_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language ID with deterministic argmax tie-breaking
    (engine-verifiable heuristic; see operators/text.py)."""
    docs = t(spark, sf_dir, "documents")
    # Tokenize ONCE in its own projection: CollapseProject keeps the
    # non-cheap lower+split out of the five per-language scores (inlined,
    # it re-evaluates 5× per row — the round-4 0.45→0.80 s warm swing).
    tokenized = docs.select(
        "doc_id", F.col("lang").alias("labeled_lang"),
        lang_tokens().alias("_toks"),
    )
    scored = tokenized.select(
        "doc_id",
        "labeled_lang",
        *[lang_score(lg, F.col("_toks")).alias(f"s_{lg}") for lg in LANG_ORDER],
    )
    guess = None
    for lg in LANG_ORDER:
        cond = None
        for other in LANG_ORDER:
            if other == lg:
                continue
            ge = F.col(f"s_{lg}") >= F.col(f"s_{other}") if LANG_ORDER.index(
                other
            ) > LANG_ORDER.index(lg) else F.col(f"s_{lg}") > F.col(f"s_{other}")
            cond = ge if cond is None else (cond & ge)
        guess = (
            F.when(cond, F.lit(lg)) if guess is None else guess.when(cond, F.lit(lg))
        )
    return scored.select(
        "doc_id",
        "labeled_lang",
        *[F.col(f"s_{lg}").cast("bigint").alias(f"s_{lg}") for lg in LANG_ORDER],
        F.coalesce(guess, F.lit(LANG_ORDER[0])).alias("guessed_lang"),
    )


def _sql_lang_id() -> str:
    scores = ",\n       ".join(
        f"CAST({sql_lang_score(lg)} AS BIGINT) AS s_{lg}" for lg in LANG_ORDER
    )
    # argmax with the same priority tie-break: earlier langs win ties
    # against later langs (>=), must strictly beat earlier langs (>).
    cases = []
    for lg in LANG_ORDER:
        conds = []
        for other in LANG_ORDER:
            if other == lg:
                continue
            op = ">=" if LANG_ORDER.index(other) > LANG_ORDER.index(lg) else ">"
            conds.append(f"s_{lg} {op} s_{other}")
        cases.append(f"WHEN {' AND '.join(conds)} THEN '{lg}'")
    case_sql = "CASE " + " ".join(cases) + f" ELSE '{LANG_ORDER[0]}' END"
    return f"""
WITH scored AS (
    SELECT doc_id, lang AS labeled_lang,
       {scores}
    FROM documents
)
SELECT doc_id, labeled_lang, {', '.join('s_' + lg for lg in LANG_ORDER)},
       {case_sql} AS guessed_lang
FROM scored
"""


LLM_LANG_ID_SQL = _sql_lang_id()


def llm_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality score: token count, mean token length, stopword
    ratio, non-alpha ratio → weighted score (per-row IEEE, identical in
    both engines)."""
    docs = t(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.col("text"), " ")).cast("double")
    n_chars = F.length("text").cast("double")
    # Token-exact stopword counting, NOT a \b regex: RE2's \b is
    # ASCII-only while Java's is unicode-aware, so "a" inside "ação"
    # is a word boundary to DuckDB and none to Spark (found by the
    # round-4 unicode drift sweep). Counting split tokens is identical
    # on both engines under any content.
    stop = F.size(
        F.filter(
            F.split(ascii_lower(F.col("text")), " "),
            lambda tok: tok.isin("the", "a", "and", "of", "to"),
        )
    ).cast("double")
    nonalpha = F.regexp_count(F.col("text"), F.lit(r"[^A-Za-z \t\n\r\f\x0B]")).cast(
        "double"
    )
    mean_tok_len = (n_chars - (n_tok - 1)) / n_tok
    stop_ratio = stop / n_tok
    # try_divide: an empty doc has n_chars = 0, and ANSI Spark errors on
    # 0/0 where the oracle's NULLIF divisor yields NULL (empty-string
    # drift sweep); NULL then propagates into the score on both engines.
    nonalpha_ratio = F.try_divide(nonalpha, n_chars)
    score = (
        F.least(n_tok / 100.0, F.lit(1.0)) * 0.4
        + F.least(mean_tok_len / 8.0, F.lit(1.0)) * 0.2
        + stop_ratio * 0.2
        + (F.lit(1.0) - nonalpha_ratio) * 0.2
    )
    # floor-quantize instead of round: the unquantized doubles are
    # bit-identical across engines (same IEEE expression), and floor of
    # identical doubles is identical — ROUND(double) is not (Spark rounds
    # the shortest decimal repr, DuckDB the binary value; diverges at
    # half boundaries, observed at sf0.1). fquant is the shared single
    # source of that floor-quantization discipline.
    return docs.select(
        "doc_id",
        n_tok.cast("bigint").alias("n_tokens"),
        fquant(mean_tok_len, 4).alias("mean_token_len"),
        fquant(stop_ratio, 4).alias("stopword_ratio"),
        fquant(nonalpha_ratio, 4).alias("nonalpha_ratio"),
        fquant(score, 4).alias("quality_score"),
    )


LLM_QUALITY_SQL = r"""
WITH m AS (
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tok,
           CAST(length(text) AS DOUBLE) AS n_chars,
           CAST(len(list_filter(string_split(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' '),
                               t -> t IN ('the','a','and','of','to')))
                AS DOUBLE) AS stop,
           CAST(len(regexp_extract_all(text, '[^A-Za-z \t\n\r\f\x0B]')) AS DOUBLE)
               AS nonalpha
    FROM documents
)
SELECT doc_id,
       CAST(n_tok AS BIGINT) AS n_tokens,
       floor((n_chars - (n_tok - 1)) / n_tok * 10000.0) / 10000.0
           AS mean_token_len,
       floor(stop / n_tok * 10000.0) / 10000.0 AS stopword_ratio,
       floor(nonalpha / NULLIF(n_chars, 0) * 10000.0) / 10000.0 AS nonalpha_ratio,
       floor((least(n_tok / 100.0, 1.0) * 0.4
              + least(((n_chars - (n_tok - 1)) / n_tok) / 8.0, 1.0) * 0.2
              + (stop / n_tok) * 0.2
              + (1.0 - nonalpha / NULLIF(n_chars, 0)) * 0.2) * 10000.0) / 10000.0
           AS quality_score
FROM m
"""


def llm_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace tokens + BPE-ish subword piece count (letter runs, digit
    runs, punctuation singles — a cheap proxy for tokenizer cost)."""
    docs = t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("ws_tokens"),
        F.regexp_count(
            ascii_lower(F.col("text")),
            F.lit(r"[a-z]+|[0-9]+|[^a-z0-9 \t\n\r\f\x0B]"),
        ).cast("bigint").alias("bpe_ish_tokens"),
        F.length("text").cast("bigint").alias("n_chars_measured"),
    )


LLM_TOKEN_COUNT_SQL = r"""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
       CAST(len(regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[a-z]+|[0-9]+|[^a-z0-9 \t\n\r\f\x0B]'))
            AS BIGINT) AS bpe_ish_tokens,
       CAST(length(text) AS BIGINT) AS n_chars_measured
FROM documents
"""


def llm_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """md5 fingerprint of normalized text + duplicate-group flag."""
    docs = t(spark, sf_dir, "documents")
    fp = docs.select("doc_id", fingerprint().alias("fp"))
    w = Window.partitionBy("fp")
    return fp.select(
        "doc_id", "fp", (F.count(F.lit(1)).over(w) > 1).alias("is_dup")
    )


LLM_FINGERPRINT_SQL = f"""
SELECT doc_id, fp, COUNT(*) OVER (PARTITION BY fp) > 1 AS is_dup
FROM (SELECT doc_id, {SQL_FINGERPRINT} AS fp FROM documents)
"""

# ---------------------------------------------------------------- dedup


# Stop-shingle cap: shingles appearing in more documents than this are
# boilerplate and are removed from the shingle universe (intersections AND
# set sizes) before the pair join — one hot shingle otherwise makes the
# self-join quadratic in its document frequency. 50 is ~10% of the sf0.01
# corpus; at production scale set it to a small fraction of corpus size.
NGRAM_MAX_SHINGLE_DF = 50

# Shared oracle CTE chain for the capped trigram-Jaccard pair join —
# mirrors operators/dedup.py:ngram_jaccard_pairs exactly: global shingle
# document frequency, cap filter, equi-join intersection counts, set
# sizes over the capped universe.
_NGRAM_PAIRS_CTES = f"""d AS (
    SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents
), g AS (
    SELECT doc_id, lang,
           list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                          for i in range(1, len(toks) - 1)]) AS grams
    FROM d WHERE len(toks) >= 3
), ex AS (
    SELECT doc_id, lang, unnest(grams) AS gram FROM g
), kept AS (
    SELECT ex.doc_id, ex.lang, ex.gram
    FROM ex JOIN (SELECT gram FROM ex GROUP BY gram
                  HAVING COUNT(*) <= {NGRAM_MAX_SHINGLE_DF}) cold
      USING (gram)
), sizes AS (
    SELECT doc_id, COUNT(*) AS n FROM kept GROUP BY doc_id
), inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
    FROM kept a JOIN kept b
      ON a.gram = b.gram AND a.lang = b.lang AND a.doc_id < b.doc_id
    GROUP BY 1, 2
), scored_pairs AS (
    SELECT i.doc_a, i.doc_b,
           floor(i.inter * 1.0 / (sa.n + sb.n - i.inter) * 10000.0)
               / 10000.0 AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
)"""


def llm_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact trigram-Jaccard near-dup pairs (threshold 0.8, lang-blocked,
    stop-shingle cap active — see NGRAM_MAX_SHINGLE_DF)."""
    return ngram_jaccard_pairs(
        spread(t(spark, sf_dir, "documents"), sf_dir, "documents"),
        threshold=0.8, block_col="lang",
        max_shingle_df=NGRAM_MAX_SHINGLE_DF,
    )


LLM_DEDUP_NGRAM_SQL = f"""
WITH {_NGRAM_PAIRS_CTES}
SELECT doc_a, doc_b, jaccard FROM scored_pairs WHERE jaccard >= 0.8
"""


EDITDIST_BLOCK_JACCARD = 0.5
EDITDIST_MAX_REL = 0.4
EDITDIST_PREFIX_BYTES = 1024  # lev is O(L^2)/pair; cap the compared prefix


def llm_dedup_editdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup pairs: n-gram Jaccard blocking (threshold
    0.5 — the same capped shingle join as llm_dedup_ngram, just looser)
    followed by an exact Levenshtein verify on the candidate pairs,
    keeping pairs whose relative edit distance (lev / longer length) is
    ≤ 0.4. The character-level complement of the token-level dedup
    family: it catches small in-place edits (typo fixes, template
    fills) that shift many shingles at once.

    Scale: Levenshtein is O(|a|·|b|) per pair — the blocking step is
    what makes it affordable (candidates only, never all pairs), and
    the verify is one broadcast-free join of the candidate list back to
    the two text columns. Determinism: both engines implement classic
    character-Levenshtein (identical integers) and the relative ratio
    is one IEEE division of identical ints, floor-quantized.

    Contract: the distance covers the first EDITDIST_PREFIX_BYTES (1 KiB)
    of each text only — see ARCHITECTURE.md §"Dedup family" (Edit
    distance) for the consumer-facing implications and the re-verify
    recipe for full-text identity."""
    docs = spread(t(spark, sf_dir, "documents"), sf_dir, "documents")
    cand = ngram_jaccard_pairs(
        docs, threshold=EDITDIST_BLOCK_JACCARD, block_col="lang",
        max_shingle_df=NGRAM_MAX_SHINGLE_DF,
    ).select("doc_a", "doc_b")
    ta = docs.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("text_a"))
    tb = docs.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("text_b"))
    # Levenshtein over the HEX of the utf-8 bytes, not the raw strings:
    # Spark edits UTF-16 code units while DuckDB edits bytes, so any
    # astral character (emoji) makes the raw distances disagree (found
    # by the round-4 unicode drift sweep). Hex strings are pure ASCII —
    # one unit in every engine — so the distance is engine-independent
    # under arbitrary content; it measures byte-level edits at 2 units
    # per byte, and the ratio normalizes by the hex length accordingly.
    # The compared prefix is capped (EDITDIST_PREFIX_BYTES): Levenshtein
    # is O(L^2) per pair, so unbounded doc growth would make the verify
    # the pipeline's bottleneck; the Jaccard blocking already guarantees
    # global similarity and the prefix confirms character-level identity.
    def hx(c):
        return F.substring(
            F.hex(F.col(c).cast("binary")), 1, EDITDIST_PREFIX_BYTES * 2
        )

    lev = F.levenshtein(hx("text_a"), hx("text_b"))
    rel = lev / F.greatest(F.length(hx("text_a")), F.length(hx("text_b")))
    return (
        cand.join(ta, "doc_a")
        .join(tb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            # named prefix_lev, not lev: the distance (and the ratio's
            # denominator) covers only the capped prefix — two docs
            # identical for the first KiB score 0.0 even if their tails
            # diverge, which blocking mitigates but cannot exclude; a
            # consumer needing full-text identity must re-verify.
            lev.alias("prefix_lev"),
            (F.floor(rel * 10000.0) / 10000.0).alias("rel_dist"),
        )
        .filter(F.col("rel_dist") <= EDITDIST_MAX_REL)
    )


LLM_DEDUP_EDITDIST_SQL = f"""
WITH {_NGRAM_PAIRS_CTES},
cand AS (
  SELECT doc_a, doc_b FROM scored_pairs WHERE jaccard >= {EDITDIST_BLOCK_JACCARD}
)
SELECT doc_a, doc_b, prefix_lev,
       floor(prefix_lev * 1.0 / den * 10000.0) / 10000.0 AS rel_dist
FROM (
  -- compute the O(L^2) distance ONCE per pair; DuckDB does not promise
  -- CSE between projection and filter
  SELECT c.doc_a, c.doc_b,
         levenshtein(
           substring(upper(hex(encode(da.text))), 1, {EDITDIST_PREFIX_BYTES * 2}),
           substring(upper(hex(encode(db.text))), 1, {EDITDIST_PREFIX_BYTES * 2})
         ) AS prefix_lev,
         greatest(
           length(substring(hex(encode(da.text)), 1, {EDITDIST_PREFIX_BYTES * 2})),
           length(substring(hex(encode(db.text)), 1, {EDITDIST_PREFIX_BYTES * 2}))
         ) AS den
  FROM cand c
  JOIN documents da ON da.doc_id = c.doc_a
  JOIN documents db ON db.doc_id = c.doc_b
)
WHERE floor(prefix_lev * 1.0 / den * 10000.0) / 10000.0 <= {EDITDIST_MAX_REL}
"""


def llm_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs (rows-only: LSH is approximate by
    design). Round 4 swapped the MLlib ``approxSimilarityJoin`` backend
    for the pure-JVM banded formulation (operators/dedup.py::
    minhash_banded_pairs): measured 1.4× faster warm at sf0.1 with an
    IDENTICAL pair set (256 = 256, zero asymmetric pairs) and slightly
    more faithful distances (exact trigram sets instead of HashingTF's
    2^18-bucket collision-lossy sets; max observed delta 2e-4). The
    MLlib variant remains available and head-to-head-tested."""
    return minhash_banded_pairs(
        t(spark, sf_dir, "documents"), dist_threshold=0.5
    )


def llm_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash band-blocked near-dup candidates. Graduated from
    rows-only to HASH-CHECKED in round 6: the banding is approximate
    relative to "all pairs with Hamming ≤ 6", but it is DETERMINISTIC —
    the oracle replays the identical pipeline (md5-derived 64-bit token
    hashes via DuckDB's native ``md5_number_upper``, per-bit majority
    vote, 4×16-bit band blocking, popcount verify), so the exact pair
    set is checkable even though the operator is an approximation."""
    return simhash_pairs(
        spread(t(spark, sf_dir, "documents"), sf_dir, "documents"),
        max_hamming=6,
    )


LLM_DEDUP_SIMHASH_SQL = """
WITH tok AS (
    SELECT doc_id,
           unnest(list_filter(string_split(COALESCE(text, ''), ' '),
                              x -> x <> '')) AS tk
    FROM documents
), nt AS (
    SELECT doc_id, COUNT(*) AS n_toks FROM tok GROUP BY doc_id
), bitvote AS (
    SELECT doc_id, i.i AS i,
           SUM(CASE WHEN (md5_number_upper(tk) >> i.i) & 1 = 1
                    THEN 1 ELSE 0 END) AS ones
    FROM tok CROSS JOIN (SELECT unnest(range(64)) AS i) i
    GROUP BY doc_id, i.i
), sig AS (
    SELECT v.doc_id,
           CAST(SUM(CASE WHEN v.ones * 2 > nt.n_toks
                         THEN (CAST(1 AS UBIGINT) << CAST(v.i AS INT))
                         ELSE CAST(0 AS UBIGINT) END)
                AS UBIGINT) AS sig
    FROM bitvote v JOIN nt USING (doc_id)
    GROUP BY v.doc_id
    UNION ALL
    -- token-less docs (NULL/empty text) carry signature 0 in the engine
    -- (the Pandas UDF emits 0) and DO enter the banding
    SELECT d.doc_id, CAST(0 AS UBIGINT)
    FROM documents d
    WHERE d.doc_id NOT IN (SELECT doc_id FROM nt)
), bands AS (
    SELECT doc_id, sig, b.b AS band_idx,
           (sig >> CAST(b.b * 16 AS INT)) & 65535 AS band_val
    FROM sig CROSS JOIN (SELECT unnest(range(4)) AS b) b
), cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                    a.sig AS sig_a, b.sig AS sig_b
    FROM bands a JOIN bands b
      ON a.band_idx = b.band_idx AND a.band_val = b.band_val
     AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(sig_a, sig_b)) AS INT) AS hamming
FROM cand
WHERE bit_count(xor(sig_a, sig_b)) <= 6
"""


def llm_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, cosine ≥ 0.4, blocked by label
    with a bounded block cap (SemDeDup-style: oversized label blocks are
    KMeans-sub-clustered so within-block all-pairs stays linear overall).

    The cap here is set ABOVE any possible fixture block (the embeddings
    table is 500 rows total at every sf, so even a single-label
    regeneration peaks at 500): sub-clustering approximates (it drops
    pairs straddling sub-clusters), and this key is hash-checked against
    an exact all-pairs-within-label oracle — a regenerated fixture that
    silently crossed a 256 cap would flip the key to the approximate
    path and red the oracle with no code change. The production default
    (operators/dedup.py, max_block=256) and its sub-clustering recall
    test are unchanged."""
    from ..operators.dedup import embedding_cosine_pairs

    # poisoned-vector + ragged-dim exclusion (vec_finite / vec_dim_ok)
    raw = spread(t(spark, sf_dir, "embeddings"), sf_dir, "embeddings")
    emb = raw.filter(vec_dim_ok(raw) & vec_finite()).select(
        "vec_id", "label",
        F.expr("transform(embedding, x -> cast(x as double))").alias("v"),
    )
    return embedding_cosine_pairs(
        emb, threshold=0.4, block_col="label", max_block=4096
    )


LLM_DEDUP_EMBEDDING_SQL = f"""
WITH e AS (
    SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    WHERE (embedding IS NULL OR len(list_filter(embedding, x -> NOT isfinite(CAST(x AS DOUBLE)))) = 0)
      AND {sql_vec_dim_ok()}
)
SELECT vec_a, vec_b, label, cosine FROM (
    -- cosine computed ONCE in a subquery: DuckDB does not promise CSE
    -- between projection and filter (the llm_dedup_editdist lesson),
    -- and the duplicated evaluation was this oracle's dominant cost
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label,
           floor(({SQL_COSINE.replace('va', 'a.v').replace('vb', 'b.v')})
                 * 1000000.0) / 1000000.0 AS cosine
    FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
)
WHERE cosine >= 0.4
"""

# ------------------------------------------------------------ similarity


def _min_vec_id(emb: DataFrame) -> int:
    """Deterministic probe choice: the MINIMUM vec_id. Id-space
    invariant (a fixture whose ids are shifted, negative, or sparse
    still has a minimum — the old hardcoded `vec_id 0` raised its loud
    missing-probe error on the round-10 negative-ids sweep). O(1)
    driver-side scalar: one map-side-combinable min. Falls back to 0 on
    an EMPTY corpus so the operators' empty-schema branch engages."""
    row = emb.agg(F.min("vec_id")).first()
    return row[0] if row is not None and row[0] is not None else 0


def llm_sim_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 neighbors of the minimum-id vector."""
    # poisoned-vector + ragged-dim exclusion (float-specials contract
    # _util.vec_finite; round-12 ragged-dims contract _util.vec_dim_ok)
    raw = t(spark, sf_dir, "embeddings")
    emb = raw.filter(vec_dim_ok(raw) & vec_finite())
    return brute_force_topk(emb, probe_vec_id=_min_vec_id(emb), k=10)


LLM_SIM_SEARCH_SQL = f"""
WITH e AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS va FROM embeddings
    WHERE (embedding IS NULL OR len(list_filter(embedding, x -> NOT isfinite(CAST(x AS DOUBLE)))) = 0)
      AND {sql_vec_dim_ok()}
), p AS (
    SELECT MIN(vec_id) AS pid FROM e
), probe AS (
    SELECT va AS vb FROM e WHERE vec_id = (SELECT pid FROM p)
)
SELECT vec_id, cosine FROM (
    SELECT e.vec_id,
           floor(({SQL_COSINE.replace('va', 'e.va').replace('vb', 'probe.vb')})
                 * 1000000.0) / 1000000.0 AS cosine
    FROM e, probe
    WHERE e.vec_id <> (SELECT pid FROM p)
)
WHERE cosine IS NOT NULL
ORDER BY cosine DESC, vec_id
LIMIT 10
"""


def llm_sim_search_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-pruned approximate top-10 (rows-only: cluster pruning is the
    approximation — recall vs. brute force is measured in tests).
    nprobe=12 of 16 spherical-KMeans centroids: the fixture embeddings
    are near-uniform on the sphere, so neighbor lists scatter across
    clusters and recall@10 >= 0.9 needs most clusters scanned (measured
    0.9-1.0 at nprobe=12 across sf0.001/0.01/0.1). On clustered
    real-world embeddings a small nprobe recovers — see the synthetic
    clustered recall test in tests/test_operators.py."""
    import os

    from ..operators.simsearch import corpus_cache_key

    raw = t(spark, sf_dir, "embeddings")
    emb = raw.filter(vec_dim_ok(raw) & vec_finite())
    return ivf_topk(
        emb, probe_vec_id=_min_vec_id(emb), k=10,
        n_centroids=16, nprobe=12,
        # index-per-corpus: the coarse quantizer is a persisted artifact,
        # trained once per fixture dir, not once per probe. The key folds
        # in the file's content stamp so an in-place fixture
        # regeneration retrains instead of serving stale centroids.
        corpus_key=corpus_cache_key(
            os.path.join(sf_dir, "embeddings.parquet"),
            label=f"embeddings:{sf_dir}",
        ),
    )


def llm_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing any 8-gram
    with a held-out eval set (here: doc_id < 10 stands in for the
    benchmark). The canonical n-gram-overlap decontamination step of LLM
    training pipelines (8 is the usual window), as a shingle equi-join:
    explode eval 8-grams (tiny side, broadcast) ⇒ semi-join the corpus —
    scales as one map-side join pass over the corpus at 100 TB."""
    from ..operators.text import word_ngrams

    docs = t(spark, sf_dir, "documents")

    def eightgrams(df: DataFrame) -> DataFrame:
        # word_ngrams guards the sequence bound: docs with <8 tokens yield
        # an empty array instead of INVALID_ARRAY_INDEX (matches the
        # oracle's len(toks) >= 8 predicate).
        return df.select("doc_id", word_ngrams(8).alias("grams")).filter(
            F.size("grams") > 0
        )

    eval_grams = (
        eightgrams(docs.filter(F.col("doc_id") < 10))
        .select(F.explode("grams").alias("gram"))
        .distinct()
    )
    # spread the corpus side after its pushed-down filter: the 8-gram
    # shingle explode + broadcast-join probe is per-row compute that
    # would otherwise run on the single row-group's one scan task
    # (guide §2.5); the eval side stays as-is (tiny by construction).
    corpus = eightgrams(
        spread(docs.filter(F.col("doc_id") >= 10), sf_dir, "documents")
    ).select("doc_id", F.explode("grams").alias("gram"))
    contaminated = (
        corpus.join(F.broadcast(eval_grams), "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("shared_8grams"))
    )
    return contaminated


LLM_DECONTAMINATE_SQL = """
WITH g AS (
    SELECT doc_id,
           list_distinct([array_to_string(toks[i:i+7], ' ')
                          for i in range(1, len(toks) - 6)]) AS grams
    FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    WHERE len(toks) >= 8
), eval_grams AS (
    SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id < 10
), corpus AS (
    SELECT doc_id, unnest(grams) AS gram FROM g WHERE doc_id >= 10
)
SELECT c.doc_id, COUNT(*) AS shared_8grams
FROM corpus c JOIN eval_grams e ON c.gram = e.gram
GROUP BY c.doc_id
"""


def llm_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing pass: redact email/phone/SSN-shaped spans and count
    redactions (JVM regexp_replace — one codegen'd map pass, no Python).
    The fixture corpus is synthetic and clean, so counts are 0 — the
    contract checks the transform is applied identically, not that PII
    exists."""
    docs = t(spark, sf_dir, "documents")
    email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    # no \b anchors: Java's \b is Unicode-aware while RE2's (DuckDB) is
    # ASCII-only, so a phone abutting a non-ASCII letter would count as
    # a boundary for one engine and not the other. The bare pattern
    # over-matches digit runs embedded in longer numbers, but it does so
    # IDENTICALLY in both engines — the portable choice for a scrubber.
    phone = r"\d{3}[-.]\d{3,4}[-.]\d{4}"
    scrubbed = F.regexp_replace(
        F.regexp_replace(F.col("text"), email, "<EMAIL>"),
        phone,
        "<PHONE>",
    )
    return docs.select(
        "doc_id",
        F.md5(scrubbed).alias("scrubbed_fp"),
        (
            F.regexp_count(F.col("text"), F.lit(email))
            + F.regexp_count(F.col("text"), F.lit(phone))
        ).cast("bigint").alias("redactions"),
    )


LLM_PII_SCRUB_SQL = r"""
SELECT doc_id,
       md5(regexp_replace(
               regexp_replace(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                   '<EMAIL>', 'g'),
               '\d{3}[-.]\d{3,4}[-.]\d{4}', '<PHONE>', 'g'))
           AS scrubbed_fp,
       CAST(len(regexp_extract_all(text,
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
            + len(regexp_extract_all(text,
                  '\d{3}[-.]\d{3,4}[-.]\d{4}')) AS BIGINT) AS redactions
FROM documents
"""


def llm_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 embedding quantization (per-vector absmax scale, floor
    quantizer) with reconstruction-error accounting — the 4× storage
    reduction op for embedding columns at 100 TB. Scalar outputs only
    (arrays don't hash-compare stably); q_l1 checks the integer codes,
    max_err the dequantization quality."""
    emb = t(spark, sf_dir, "embeddings").filter(vec_finite()).select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x as double))").alias("v"),
    )
    absmax = F.expr("aggregate(v, 0D, (acc, x) -> greatest(acc, abs(x)))")
    scale = absmax / 127.0
    q_l1 = F.expr(
        "aggregate(transform(v, x -> abs(floor(x / __scale))), 0L,"
        " (acc, x) -> acc + cast(x as bigint))"
    )
    max_err = F.expr(
        "aggregate(transform(v, x -> abs(x - floor(x / __scale) * __scale)),"
        " 0D, (acc, x) -> greatest(acc, x))"
    )
    return (
        emb.withColumn("__scale", scale)
        .filter(F.col("__scale") > 0)
        .select(
            "vec_id",
            (F.floor(F.col("__scale") * 1e9) / 1e9).alias("scale_q"),
            q_l1.alias("q_l1"),
            (F.floor(max_err * 1e9) / 1e9).alias("max_err_q"),
        )
    )


LLM_EMBED_QUANTIZE_SQL = """
WITH e AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
           list_max(list_transform(CAST(embedding AS DOUBLE[]),
                                   x -> abs(x))) / 127.0 AS s
    FROM embeddings
    WHERE (embedding IS NULL OR len(list_filter(embedding, x -> NOT isfinite(CAST(x AS DOUBLE)))) = 0)
)
SELECT vec_id,
       floor(s * 1e9) / 1e9 AS scale_q,
       CAST(list_sum(list_transform(v, x -> abs(floor(x / s)))) AS BIGINT)
           AS q_l1,
       floor(list_max(list_transform(v, x -> abs(x - floor(x / s) * s)))
             * 1e9) / 1e9 AS max_err_q
FROM e
WHERE s > 0
"""


def llm_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus summary: volume, language spread, exact-dup rate —
    the first dashboard of any training-data pipeline."""
    docs = t(spark, sf_dir, "documents")
    fp = docs.select(fingerprint().alias("fp"))
    base = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(F.size(F.split(F.col("text"), " "))).cast("bigint").alias(
            "total_ws_tokens"
        ),
    )
    dups = fp.agg(
        (F.count(F.lit(1)) - F.countDistinct("fp")).alias("exact_dup_docs")
    )
    return base.crossJoin(dups)


LLM_CORPUS_STATS_SQL = f"""
SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
       (SELECT COUNT(DISTINCT lang) FROM documents) AS n_langs,
       (SELECT COUNT(DISTINCT source) FROM documents) AS n_sources,
       (SELECT CAST(SUM(n_chars) AS BIGINT) FROM documents) AS total_chars,
       (SELECT CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
        FROM documents) AS total_ws_tokens,
       (SELECT CAST(COUNT(*) - COUNT(DISTINCT {SQL_FINGERPRINT}) AS BIGINT)
        FROM documents) AS exact_dup_docs
"""


# ------------------------------------------------------------ multimodal


def mm_decode_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary multimodal column + Arrow-batched metadata extraction
    (operators/multimodal.py). The oracle recomputes the same typed
    metadata relationally — checking schema, ceil-div geometry, and byte
    accounting of the binary plumbing."""
    docs = t(spark, sf_dir, "documents")
    return multimodal.extract_metadata(multimodal.synthesize_payloads(docs))


MM_DECODE_META_SQL = """
SELECT doc_id,
       'IMG1' AS fmt,
       -- ((x % 64) + 64) % 64 mirrors Spark's pmod: DuckDB % keeps the
       -- dividend's sign, diverging on negative ids (round-10 sweep)
       CAST(((doc_id % 64) + 64) % 64 + 1 AS INTEGER) AS width,
       CAST(ceil(CAST(octet_length(encode(text)) AS DOUBLE)
                 / (((doc_id % 64) + 64) % 64 + 1)) AS INTEGER) AS height,
       CAST(octet_length(encode(text)) + 8 AS BIGINT) AS n_bytes
FROM documents
WHERE text IS NOT NULL
"""


def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling fan-out over binary payloads (every 4th 64-byte
    frame) — one payload → many frame rows through mapInPandas; the oracle
    recomputes frame geometry relationally."""
    docs = t(spark, sf_dir, "documents")
    return multimodal.frame_sample(
        multimodal.synthesize_payloads(docs), frame_size=64, every=4
    )


# frame_head: BYTE-addressed via the hex string (2 hex chars per byte) —
# a character-indexed substring(text, ...) would drift from the Spark
# side's byte slices on the first multi-byte utf-8 character.
MM_FRAME_SAMPLE_SQL = """
SELECT doc_id,
       CAST(f AS INTEGER) AS frame_no,
       CAST(least(64, octet_length(encode(text)) - f * 64) AS BIGINT)
           AS frame_bytes,
       lower(substring(hex(encode(text)), f * 128 + 1, 16)) AS frame_head
FROM documents,
     LATERAL unnest(generate_series(
         0,
         CAST(ceil(octet_length(encode(text)) / 64.0) AS INTEGER) - 1,
         4)) AS t(f)
WHERE text IS NOT NULL
"""


def llm_repeat_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition: fraction of duplicate word trigrams
    within each document — the Gopher-family quality filter (high
    repetition = boilerplate/spam/looped generation; public recipe:
    Rae et al. 2021 §A1.1 'repetition' filters). Entirely JVM-side: one
    ``transform`` over the token array per row (O(tokens), the lambda is
    interpreted but does constant work per element), no explode, no
    shuffle — a pure map pass at any corpus size.

    Float discipline: counts are exact ints; the fraction is one IEEE
    division, floor-quantized (``_util.fquant`` rules)."""
    docs = t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.split(F.col("text"), " ").alias("w")
    ).filter(F.size("w") >= 3)
    tg = toks.select(
        "doc_id",
        F.expr(
            "transform(sequence(1, size(w) - 2), "
            "i -> concat_ws(' ', w[i-1], w[i], w[i+1]))"
        ).alias("tgs"),
    )
    counted = tg.select(
        "doc_id",
        F.size("tgs").cast("long").alias("n_trigrams"),
        F.size(F.array_distinct("tgs")).cast("long").alias("n_distinct"),
    )
    return counted.select(
        "doc_id",
        "n_trigrams",
        "n_distinct",
        fquant(
            (F.col("n_trigrams") - F.col("n_distinct"))
            / F.col("n_trigrams"),
            4,
        ).alias("repeat_frac"),
    )


LLM_REPEAT_NGRAM_SQL = """
WITH tg AS (
    SELECT doc_id,
           list_transform(range(1, len(w) - 1),
                          i -> concat_ws(' ', w[i], w[i+1], w[i+2])) AS tgs
    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
    WHERE len(w) >= 3
)
SELECT doc_id,
       CAST(len(tgs) AS BIGINT) AS n_trigrams,
       CAST(len(list_distinct(tgs)) AS BIGINT) AS n_distinct,
       floor((len(tgs) - len(list_distinct(tgs)))
             / CAST(len(tgs) AS DOUBLE) * 10000.0) / 10000.0
           AS repeat_frac
FROM tg
"""


def mm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize pass over binary payloads (operators/multimodal.py:
    ``resize_payloads``) — re-wraps each payload's geometry at a new
    width through the same Arrow-batched mapInPandas flow a real PIL
    resize would use. Completes the brief's decode / feature-extract /
    resize / frame-sample multimodal quartet as registry keys."""
    docs = t(spark, sf_dir, "documents")
    return multimodal.resize_payloads(
        multimodal.synthesize_payloads(docs), target_width=32
    )


MM_RESIZE_SQL = """
SELECT doc_id,
       CAST(32 AS INTEGER) AS width,
       CAST(ceil(CAST(octet_length(encode(text)) AS DOUBLE) / 32)
            AS INTEGER) AS height,
       CAST(octet_length(encode(text)) + 8 AS BIGINT) AS n_bytes
FROM documents
WHERE text IS NOT NULL
"""


def mm_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-level feature extraction over binary payloads (numpy per
    Arrow batch). Features are byte-exact under any utf-8 content, so
    the oracle recomputes them from the text side."""
    docs = t(spark, sf_dir, "documents")
    return multimodal.feature_extract(multimodal.synthesize_payloads(docs))


MM_FEATURE_EXTRACT_SQL = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       CAST(length(text) - length(replace(text, ' ', ''))
            AS BIGINT) AS n_space,
       CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
            AS BIGINT) AS n_digit,
       CAST(length(text) - length(regexp_replace(text, '[A-Z]', '', 'g'))
            AS BIGINT) AS n_upper
FROM documents
WHERE text IS NOT NULL
"""




def mm_audio_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-shaped windowed features over binary payloads: u8 sample
    windows -> integer energy statistics (count, sum, sum-of-squares,
    peak) per 256-byte window via Arrow-batched mapInPandas
    (operators/multimodal.py::audio_window). Integer sufficient
    statistics make the stub exactly recomputable by the oracle from the
    text bytes (hex-nibble decode), with no float summation order to
    pin; a real build swaps in a PCM decode + MFCCs through the same
    batch flow."""
    docs = t(spark, sf_dir, "documents")
    return multimodal.audio_window(multimodal.synthesize_payloads(docs))


MM_AUDIO_WINDOW_SQL = """
WITH h AS (
  SELECT doc_id, hex(encode(text)) AS hx,
         octet_length(encode(text)) AS nb
  FROM documents WHERE text IS NOT NULL
), b AS (
  SELECT doc_id, CAST(i // 256 AS INT) AS win_no,
         (strpos('0123456789ABCDEF',
                 substr(hx, CAST(i * 2 + 1 AS INT), 1)) - 1) * 16
         + strpos('0123456789ABCDEF',
                  substr(hx, CAST(i * 2 + 2 AS INT), 1)) - 1 AS v
  FROM h, UNNEST(range(nb)) u(i)
)
SELECT doc_id, win_no,
       CAST(COUNT(*) AS INT) AS n_samples,
       CAST(SUM(v) AS BIGINT) AS sum_b,
       CAST(SUM(v * v) AS BIGINT) AS sumsq_b,
       CAST(MAX(v) AS INT) AS max_b
FROM b
GROUP BY doc_id, win_no
"""


def llm_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top TF-IDF term per document.

    IDF is the *rational* form ``tf * N / df`` (not ``log``): a single
    integer multiply + one double division is bit-identical across engines,
    whereas ``ln`` is libm-dependent. Ranking uses the floor-quantized score
    with a lexicographic tie-break so the winner is engine-independent.

    Scale notes: ONE tokenize+explode pass builds the tf table, which is
    localCheckpointed and then feeds every downstream aggregate — df is
    just the per-term row count of tf (tf has one row per (doc, term)),
    and N is its distinct doc count, so neither re-scans or re-explodes
    the corpus (the previous formulation re-derived the explode lineage
    three times; same lesson as the shingle-table checkpoint in
    operators/dedup.py). N is a one-row broadcast. No driver-side
    collection.
    """
    docs = t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
    ).filter(F.col("term") != "")
    tf = (
        toks.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=True)
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    ndocs = tf.agg(F.countDistinct("doc_id").alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(ndocs))
        .select(
            "doc_id",
            "term",
            fquant(
                (F.col("tf") * F.col("n_docs")).cast("double") / F.col("df"),
                4,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("term").alias("top_term"), "tfidf")
    )


LLM_TFIDF_SQL = """
WITH toks AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
), f AS (
    SELECT doc_id, term FROM toks WHERE term <> ''
), tf AS (
    SELECT doc_id, term, COUNT(*) AS tf FROM f GROUP BY doc_id, term
), dfreq AS (
    SELECT term, COUNT(DISTINCT doc_id) AS df FROM f GROUP BY term
), n AS (
    SELECT COUNT(DISTINCT doc_id) AS n_docs FROM f
), scored AS (
    SELECT doc_id, term,
           floor(CAST(tf * n_docs AS DOUBLE) / df * 10000.0) / 10000.0
               AS tfidf
    FROM tf JOIN dfreq USING (term) CROSS JOIN n
)
SELECT doc_id, term AS top_term, tfidf
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, term) AS rn
      FROM scored)
WHERE rn = 1
"""


def llm_dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup clustering: trigram-Jaccard near-dup PAIRS (threshold 0.8,
    lang-blocked — same edge set as ``llm_dedup_ngram``) closed into
    transitively-connected components; every document gets a canonical
    ``cluster_id`` (min doc_id in its component) + the component size.
    Singletons cluster to themselves. This is the "pick one copy per dup
    group" step a training-data pipeline runs after pair detection."""
    from ..operators.graph import connected_components

    docs = t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        docs, threshold=0.8, block_col="lang",
        max_shingle_df=NGRAM_MAX_SHINGLE_DF,
    ).select("doc_a", "doc_b")
    comp = connected_components(
        docs.select("doc_id"), pairs,
        node_col="doc_id", src_col="doc_a", dst_col="doc_b",
    )
    w = Window.partitionBy("cluster_id")
    return comp.select(
        "doc_id", F.col("component").alias("cluster_id")
    ).withColumn("cluster_size", F.count(F.lit(1)).over(w))


# Transitive closure via recursive CTE (UNION = distinct termination),
# then min-reachable-id per node — semantically identical to the engine's
# iterative min-label propagation (operators/graph.py).
LLM_DEDUP_CLUSTER_SQL = f"""
WITH RECURSIVE {_NGRAM_PAIRS_CTES}, pairs AS (
    SELECT doc_a, doc_b FROM scored_pairs WHERE jaccard >= 0.8
), edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM pairs
    UNION ALL
    SELECT doc_b AS src, doc_a AS dst FROM pairs
), reach(src, dst) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
), comp AS (
    SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src
)
SELECT doc_id, cluster_id,
       COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
FROM comp
"""


# ------------------------------------------------- chunking / packing

CHUNK_TOKENS = 64
CHUNK_STRIDE = 48  # 16-token overlap between consecutive windows
PACK_BUDGET = 256


def llm_doc_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking — split every document into
    ``CHUNK_TOKENS``-token windows advancing by ``CHUNK_STRIDE`` (i.e.
    16-token overlap), the preprocessing step that turns documents into
    training sequences. One narrow shuffle-free pass: starts are computed
    per row with ``sequence``/``filter`` and fanned out with a lateral
    explode, so the op scales as a map over the corpus. ``chunk_id`` is
    derived from the start offset (start / stride), not array position,
    so engine enumeration order cannot matter."""
    docs = t(spark, sf_dir, "documents")
    toks = "split(text, ' ')"
    starts = F.expr(
        f"filter(sequence(0, greatest(0, size({toks}) - 1), {CHUNK_STRIDE}),"
        f" s -> s < size({toks}))"
    )
    # explode carries text alongside — a Generate (lateral view), NOT a
    # join back to the corpus; the whole op is one shuffle-free map.
    exploded = docs.select("doc_id", "text", F.explode(starts).alias("start"))
    chunk = F.expr(f"slice(split(text, ' '), start + 1, {CHUNK_TOKENS})")
    return exploded.select(
        "doc_id",
        (F.col("start") / CHUNK_STRIDE).cast("int").alias("chunk_id"),
        F.concat_ws(" ", chunk).alias("chunk_text"),
        F.size(chunk).cast("bigint").alias("chunk_tokens"),
    )


LLM_DOC_CHUNK_SQL = f"""
WITH d AS (
    SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), starts AS (
    SELECT doc_id, toks, unnest(range(0, len(toks), {CHUNK_STRIDE})) AS s
    FROM d
)
SELECT doc_id,
       CAST(s / {CHUNK_STRIDE} AS INTEGER) AS chunk_id,
       array_to_string(list_slice(toks, s + 1, s + {CHUNK_TOKENS}), ' ')
           AS chunk_text,
       CAST(len(list_slice(toks, s + 1, s + {CHUNK_TOKENS})) AS BIGINT)
           AS chunk_tokens
FROM starts
"""


def llm_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy contiguous sequence packing (next-fit): stream documents in
    doc_id order within each lang and assign each to bin
    ``floor(tokens_before / PACK_BUDGET)`` — the deterministic packing a
    training pipeline uses to fill fixed-length contexts. One window pass
    (running sum) per lang partition; no driver-side loop, so packing
    scales with the shuffle, not the corpus."""
    docs = t(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.col("text"), " ")).cast("bigint")
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum(n_tok).over(w), F.lit(0))
    return docs.select(
        "doc_id",
        "lang",
        n_tok.alias("n_tokens"),
        F.floor(cum_before / PACK_BUDGET).cast("bigint").alias("seq_bin"),
    )


LLM_PACK_SEQUENCES_SQL = f"""
SELECT doc_id, lang,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       CAST(floor(COALESCE(SUM(CAST(len(string_split(text, ' ')) AS BIGINT))
                               OVER (PARTITION BY lang ORDER BY doc_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING), 0)
                  / {PACK_BUDGET}) AS BIGINT) AS seq_bin
FROM documents
"""


QUERIES: dict[str, Query] = {
    "llm_text_stats": Query(llm_text_stats, LLM_TEXT_STATS_SQL,
                            "top terms per lang"),
    "llm_lang_filter": Query(llm_lang_filter, LLM_LANG_FILTER_SQL,
                             "corpus language/quality gate"),
    "llm_lang_id": Query(llm_lang_id, LLM_LANG_ID_SQL,
                         "marker-based language ID"),
    "llm_quality_score": Query(llm_quality_score, LLM_QUALITY_SQL,
                               "heuristic quality scoring"),
    "llm_token_count": Query(llm_token_count, LLM_TOKEN_COUNT_SQL,
                             "token counting"),
    "llm_fingerprint": Query(llm_fingerprint, LLM_FINGERPRINT_SQL,
                             "md5 fingerprint dedup key"),
    "llm_dedup_ngram": Query(llm_dedup_ngram, LLM_DEDUP_NGRAM_SQL,
                             "exact trigram-Jaccard pairs", build="compute"),
    "llm_dedup_cluster": Query(llm_dedup_cluster, LLM_DEDUP_CLUSTER_SQL,
                               "near-dup connected components",
                               build="compute"),
    "llm_tfidf": Query(llm_tfidf, LLM_TFIDF_SQL,
                       "top TF-IDF term per document", build="compute"),
    "llm_dedup_editdist": Query(
        llm_dedup_editdist, LLM_DEDUP_EDITDIST_SQL,
        "edit-distance dedup: ngram blocking + Levenshtein verify",
        build="compute",
    ),
    "llm_dedup_minhash": Query(llm_dedup_minhash, None,
                               "MinHash-LSH pairs (rows-only)",
                               build="compute"),
    "llm_dedup_simhash": Query(
        llm_dedup_simhash, LLM_DEDUP_SIMHASH_SQL,
        "SimHash band pairs, hash-checked via full oracle-side replay",
    ),
    "llm_dedup_embedding": Query(llm_dedup_embedding, LLM_DEDUP_EMBEDDING_SQL,
                                 "embedding-cosine near-dups",
                                 build="compute"),
    "llm_sim_search": Query(llm_sim_search, LLM_SIM_SEARCH_SQL,
                            "brute-force cosine top-k", build="compute"),
    "llm_sim_search_ivf": Query(llm_sim_search_ivf, None,
                                "IVF approximate top-k (rows-only)",
                                build="compute"),
    "llm_decontaminate": Query(llm_decontaminate, LLM_DECONTAMINATE_SQL,
                               "8-gram eval-set decontamination"),
    "llm_pii_scrub": Query(llm_pii_scrub, LLM_PII_SCRUB_SQL,
                           "regex PII redaction pass"),
    "llm_embed_quantize": Query(llm_embed_quantize, LLM_EMBED_QUANTIZE_SQL,
                                "int8 embedding quantization"),
    "llm_corpus_stats": Query(llm_corpus_stats, LLM_CORPUS_STATS_SQL,
                              "one-row corpus summary"),
    "mm_decode_meta": Query(mm_decode_meta, MM_DECODE_META_SQL,
                            "multimodal binary metadata extraction"),
    "mm_frame_sample": Query(mm_frame_sample, MM_FRAME_SAMPLE_SQL,
                             "payload frame-sampling fan-out"),
    "llm_repeat_ngram": Query(llm_repeat_ngram, LLM_REPEAT_NGRAM_SQL,
                              "intra-doc repeated-trigram quality signal"),
    "mm_audio_window": Query(mm_audio_window, MM_AUDIO_WINDOW_SQL,
                             "audio-window integer energy statistics"),
    "mm_resize": Query(mm_resize, MM_RESIZE_SQL,
                       "payload resize geometry pass"),
    "mm_feature_extract": Query(mm_feature_extract, MM_FEATURE_EXTRACT_SQL,
                                "byte-level payload feature extraction"),
    "llm_doc_chunk": Query(llm_doc_chunk, LLM_DOC_CHUNK_SQL,
                           "context-window chunking with overlap"),
    "llm_pack_sequences": Query(llm_pack_sequences, LLM_PACK_SEQUENCES_SQL,
                                "greedy sequence packing into token bins"),
}
