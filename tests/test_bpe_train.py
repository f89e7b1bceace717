"""Independent validation of the window-parallel BPE merge loop.

The DuckDB oracle mirrors the same island/even-offset formulation, so
oracle parity alone can't catch a shared error in the leftmost-greedy
reasoning. This test re-implements BPE merging the REFERENCE way — a
sequential left-to-right scan — in pure Python, on both the fixture
corpus and hypothesis-fuzzed synthetic corpora (heavy same-symbol runs
included, where overlap handling actually bites)."""

from __future__ import annotations

from collections import Counter

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from serverless_etl_aws_spark.queries._util import t
from serverless_etl_aws_spark.queries.extras9 import BPE_ITERS, llm_bpe_train

SF = "/root/testdata/sf0.001"


def sequential_bpe(docs: list[list[str]], iters: int):
    """Reference implementation: argmax pair by (count desc, a, b), then a
    sequential left-to-right merge scan per document."""
    out = []
    for _ in range(iters):
        counts = Counter()
        for toks in docs:
            for x, y in zip(toks, toks[1:]):
                counts[(x, y)] += 1
        if not counts:
            break
        (a, b), c = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges = 0
        new_docs = []
        for toks in docs:
            merged = []
            i = 0
            while i < len(toks):
                if i + 1 < len(toks) and toks[i] == a and toks[i + 1] == b:
                    merged.append(f"{a} {b}")
                    merges += 1
                    i += 2
                else:
                    merged.append(toks[i])
                    i += 1
            new_docs.append(merged)
        docs = new_docs
        out.append((a, b, c, merges, sum(len(d) for d in docs)))
    return out, docs


def test_bpe_train_matches_sequential_reference(spark):
    got = [
        (r.pair_a, r.pair_b, r.pair_count, r.merges, r.tokens_after)
        for r in llm_bpe_train(spark, SF).orderBy("it").collect()
    ]
    corpus = [
        row.text.split(" ")
        for row in t(spark, SF, "documents")
        .filter(F.col("text").isNotNull())
        .select("text")
        .collect()
    ]
    expected, _ = sequential_bpe(corpus, BPE_ITERS)
    assert got == expected


@pytest.fixture(scope="module")
def bpe_spark(spark):
    return spark


@settings(max_examples=8, deadline=None)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c"]), min_size=1, max_size=12
        ),
        min_size=1,
        max_size=6,
    )
)
def test_bpe_parallel_merge_equals_sequential_on_runs(docs, bpe_spark):
    """Fuzz with a 3-symbol alphabet so same-symbol runs (aaa...) — the
    only place overlap handling matters — occur constantly."""
    spark = bpe_spark
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    import serverless_etl_aws_spark.queries.extras9 as e9
    import serverless_etl_aws_spark.queries._util as util

    orig_t = util.t
    try:
        # point the key at the synthetic corpus; the session-level merge
        # cache keys on the documents table's content stamp, which the
        # "ignored" sf_dir has none of, so nothing is memoized here
        e9._BPE_CACHE.clear()
        e9.t = lambda s, sf, name: df
        got = [
            (r.pair_a, r.pair_b, r.pair_count, r.merges, r.tokens_after)
            for r in e9.llm_bpe_train(spark, "ignored").orderBy("it").collect()
        ]
    finally:
        e9.t = orig_t
    expected, _ = sequential_bpe([list(d) for d in docs], BPE_ITERS)
    assert got == expected


def test_bpe_pair_exhaustion_matches_oracle(spark):
    """Degenerate corpus whose pair vocabulary exhausts before BPE_ITERS:
    the Spark loop breaks, and the oracle must drop the empty iterations
    too (a review caught 1 Spark row vs 3 oracle rows here)."""
    import duckdb

    import serverless_etl_aws_spark.queries.extras9 as e9

    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    orig = e9.t
    try:
        e9._BPE_CACHE.clear()  # corpus swapped behind a fixed sf_dir
        e9.t = lambda s, sf, name: df
        got = [
            (r.it, r.pair_a, r.pair_b, r.pair_count, r.merges,
             r.tokens_after)
            for r in e9.llm_bpe_train(spark, "ignored").collect()
        ]
    finally:
        e9.t = orig
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT 1::BIGINT AS doc_id, 'a b' AS text"
    )
    oracle = con.execute(e9.LLM_BPE_TRAIN_SQL).fetchall()
    assert got == [(1, "a", "b", 1, 1, 1)]
    assert [tuple(r) for r in oracle] == got
