"""Recall contract for the banded MinHash-LSH backend (VERDICT r5 #4).

``llm_dedup_minhash`` is approximate by the §2B contract (its driver row
is rows-only), but the banded backend's miss probability is ANALYTIC:
with OR-amplification across ``n`` hash tables, a pair whose true
trigram-Jaccard similarity is ``s`` is missed only if all ``n``
independent min-hashes disagree, i.e. with probability ``(1-s)^n``.
At the production setting (n=5, dist_threshold=0.5 → s ≥ 0.5) that is
``0.5^5 = 3.125 %`` per pair, so expected recall ≥ 96.9 % — and every
reported pair is verified with EXACT Jaccard, so precision is 1.0 by
construction. This test measures recall against the exact trigram-
Jaccard pair set at sf0.01 (500 docs — all-pairs ground truth via the
same shingle equi-join, no LSH) and asserts it above the analytic floor
minus finite-sample slack (a few dozen true pairs → binomial std of a
couple %; 0.90 is comfortably below 0.969 and far above anything a
broken banding would score). The template is the Misra-Gries property
treatment in test_sketch_property.py.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from serverless_etl_aws_spark.operators.dedup import (
    minhash_banded_pairs,
    trigrams,
)

DIST_THRESHOLD = 0.5
N_TABLES = 5
ANALYTIC_MISS = (1 - (1 - DIST_THRESHOLD)) ** N_TABLES  # 0.03125
SLACK = 0.069  # finite-sample room: recall floor 0.969 → assert ≥ 0.90


def exact_jaccard_pairs(docs, dist_threshold: float):
    """Ground truth: ALL pairs with trigram-Jaccard distance ≤ threshold
    via a full shingle equi-join (quadratic in docs — test-only, 500
    docs at sf0.01; the operator under test exists precisely to avoid
    this shape at corpus scale)."""
    grams = docs.select(
        "doc_id", F.explode(F.array_distinct(trigrams("text"))).alias("gram")
    )
    sizes = grams.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    ga = grams.select(F.col("doc_id").alias("doc_a"), "gram")
    gb = grams.select(F.col("doc_id").alias("doc_b"), "gram")
    inter = (
        ga.join(gb, "gram")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_grams").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_grams").alias("nb"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard_dist",
            F.round(
                F.lit(1.0)
                - F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")),
                4,
            ),
        )
        .filter(F.col("jaccard_dist") <= dist_threshold)
        .select("doc_a", "doc_b")
    )


def test_banded_minhash_recall_meets_analytic_bound(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    truth = {
        (r["doc_a"], r["doc_b"])
        for r in exact_jaccard_pairs(docs, DIST_THRESHOLD).collect()
    }
    assert truth, "fixture regression: sf0.01 documents must contain near-dups"
    found = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_banded_pairs(
            docs, dist_threshold=DIST_THRESHOLD, num_hash_tables=N_TABLES
        ).collect()
    }
    recall = len(found & truth) / len(truth)
    floor = 1 - ANALYTIC_MISS - SLACK
    assert recall >= floor, (
        f"recall {recall:.3f} < {floor:.3f} "
        f"({len(truth)} true pairs, {len(found & truth)} recovered)"
    )
    # the verify phase makes precision exact: no reported pair may be
    # outside the true set
    assert found <= truth, f"false positives: {sorted(found - truth)[:5]}"
