"""spread() — the scale-adaptive parallelism repair (_util.spread).

Contract under test: spread() adds ONE round-robin exchange when (and
only when) the driving table's parquet layout cannot naturally feed the
session's parallelism (row groups < defaultParallelism). At scale the
gate disables it, so the exchange can never fire on data that is
already parallel — asserted here with a fabricated multi-row-group
file, driver-side, no cluster needed. Only the keys whose per-site A/B
showed a wall win call it (the list is in the spread() docstring).
"""

from __future__ import annotations

import os

import pytest

from serverless_etl_aws_spark.queries import _util


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_natural_scan_tasks_counts_row_groups(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pa.table({"x": list(range(1000))})
    one = tmp_path / "one.parquet"
    many = tmp_path / "many.parquet"
    pq.write_table(tbl, str(one))
    pq.write_table(tbl, str(many), row_group_size=10)  # 100 row groups
    assert _util.natural_scan_tasks(str(tmp_path), "one") == 1
    assert _util.natural_scan_tasks(str(tmp_path), "many") == 100


def test_natural_scan_tasks_dir_layout_sums_members(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "t.parquet"
    os.makedirs(d)
    tbl = pa.table({"x": list(range(100))})
    pq.write_table(tbl, str(d / "part-0.parquet"), row_group_size=50)
    pq.write_table(tbl, str(d / "part-1.parquet"))
    assert _util.natural_scan_tasks(str(tmp_path), "t") == 3


def test_natural_scan_tasks_remote_path_is_large_sentinel():
    # s3a:// can't be footer-read driver-side; the gate must read
    # "already parallel enough" so spread never adds an exchange there
    assert _util.natural_scan_tasks("s3a://bucket/prefix", "x") >= 1 << 20


def test_spread_repartitions_single_row_group_input(spark, sf_dir):
    df = _util.t(spark, sf_dir, "lineitem").select("l_orderkey")
    out = _util.spread(df, sf_dir, "lineitem")
    # fixture is single-row-group → below local[4] parallelism → exchange
    assert "roundrobin" in _plan(out).lower()
    assert out.count() == df.count()


def test_spread_is_noop_when_layout_is_parallel(spark, tmp_path, monkeypatch):
    import pyarrow as pa
    import pyarrow.parquet as pq

    # a table whose row-group count exceeds any local parallelism
    target = tmp_path / "lineitem.parquet"
    pq.write_table(
        pa.table({"x": list(range(10_000))}), str(target), row_group_size=10
    )
    df = spark.read.parquet(str(target))
    out = _util.spread(df, str(tmp_path), "lineitem")
    assert out is df  # structurally untouched — not even a new plan node


def test_spread_gate_recomputes_after_fixture_regeneration(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    target = tmp_path / "t.parquet"
    pq.write_table(pa.table({"x": [1]}), str(target))
    assert _util.natural_scan_tasks(str(tmp_path), "t") == 1
    # regenerate in place with a different layout — cache must not serve
    # the stale count (keyed on mtime_ns)
    pq.write_table(
        pa.table({"x": list(range(100))}), str(target), row_group_size=1
    )
    os.utime(target, (1, 1))  # force a distinct mtime on coarse filesystems
    assert _util.natural_scan_tasks(str(tmp_path), "t") == 100


#: Every key whose query called spread() before the per-site A/B at sf0.1
MEASURED_KEYS = (
    "agg_group", "agg_multi_distinct", "agg_abc_class", "llm_dedup_ngram",
    "llm_dedup_minhash", "llm_dedup_cluster", "agg_stats", "dq_json_schema",
    "ml_feature_screen", "llm_bpe_pairs", "join_range", "llm_dedup_editdist",
    "llm_dedup_simhash", "llm_dedup_embedding", "llm_decontaminate",
)
#: The ones whose spread() won wall time there, and kept the call
KEPT_KEYS = frozenset({
    "llm_dedup_ngram", "llm_dedup_editdist", "llm_dedup_simhash",
    "llm_dedup_embedding", "llm_decontaminate", "ml_feature_screen",
    "llm_bpe_pairs", "join_range",
})


def test_only_kept_keys_reach_the_gate(spark, sf_dir, monkeypatch):
    from serverless_etl_aws_spark.queries import build_registry

    registry = build_registry()
    real = _util.natural_scan_tasks
    building, reached = [], set()

    def recorder(sf_dir, name):
        reached.add(building[-1])
        return real(sf_dir, name)

    monkeypatch.setattr(_util, "natural_scan_tasks", recorder)
    for key in MEASURED_KEYS:
        building.append(key)
        registry[key].fn(spark, sf_dir)
    assert reached == KEPT_KEYS
