"""Each registry key's ``Query.build`` declaration holds when the key is
built cold.

A key is built by calling its ``Query.fn`` without running an action on
the result, with every package memo cleared first, so a memo filled by
an earlier key cannot hide a job. A ``lazy`` key must start no Spark job
and a ``compute`` key at least one. Neither may write under
``scratch_root()`` or the working directory, or start a streaming query.
``side_effects`` keys are not built: building them runs their pipelines,
and ``Engine.explain`` refuses them.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql.streaming import StreamingQueryListener

from serverless_etl_aws_spark import catalog
from serverless_etl_aws_spark.operators import simsearch
from serverless_etl_aws_spark.queries import (
    CONTRACT_2B,
    _util,
    build_registry,
    extras9,
)

REGISTRY = build_registry()
BUILT = [k for k, q in REGISTRY.items() if q.build != "side_effects"]

#: Every per-process memo a DataFrame build can fill.
MEMOS = (
    catalog._TABLE_CACHE,
    _util._ROW_GROUP_CACHE,
    _util._DIM_MODE_CACHE,
    _util._GRAPH_EDGE_CACHE,
    extras9._BPE_CACHE,
    simsearch._CENTROID_CACHE,
    simsearch._PQ_CACHE,
)


class _Starts(StreamingQueryListener):
    """Records the id of every streaming query started in the session."""

    def __init__(self) -> None:
        self.started: list = []

    def onQueryStarted(self, event) -> None:
        self.started.append(event.id)

    def onQueryProgress(self, event) -> None:
        pass

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


@pytest.fixture(scope="module")
def stream_starts(spark):
    listener = _Starts()
    spark.streams.addListener(listener)
    yield listener.started
    spark.streams.removeListener(listener)


def _mtimes(root: str, recursive: bool) -> dict[str, int]:
    """Modification time of every entry under ``root``: a write adds an
    entry or moves a time (a new file moves its directory's)."""
    out = {}
    for dirpath, dirnames, filenames in os.walk(root):
        for name in dirnames + filenames:
            path = os.path.join(dirpath, name)
            out[path] = os.stat(path, follow_symlinks=False).st_mtime_ns
        if not recursive:
            break
    return out


def _written() -> dict[str, dict[str, int]]:
    return {
        "scratch_root()": _mtimes(_util.scratch_root(), recursive=True),
        "the cwd": _mtimes(os.getcwd(), recursive=False),
    }


@pytest.mark.parametrize("key", BUILT)
def test_build_matches_declaration(
    key, spark, sf_dir, job_task_counts, stream_starts,
):
    for memo in MEMOS:
        memo.clear()
    before = _written()
    streams_before = len(stream_starts)

    jobs = job_task_counts(lambda: REGISTRY[key].fn(spark, sf_dir))

    if REGISTRY[key].build == "lazy":
        assert jobs == [], f"{key} is declared lazy but ran {len(jobs)} jobs"
    else:
        assert jobs, f"{key} is declared compute but ran no job"
    after = _written()
    for where in before:
        assert after[where] == before[where], f"{key} wrote under {where}"
    assert len(stream_starts) == streams_before, (
        f"{key} started a streaming query"
    )


def test_olap_mix_lazy_contract_keys():
    """``perfbench``'s ``olap_mix`` takes every third lazy contract key,
    so a changed declaration would change that workload's key list."""
    lazy = [k for k in CONTRACT_2B if REGISTRY[k].build == "lazy"]
    assert lazy == [
        "scan_parquet", "project_rename", "filter_pred", "filter_null",
        "join_inner", "join_broadcast", "join_multiway", "join_left",
        "join_semi", "join_anti", "join_range", "join_asof",
        "agg_group", "agg_distinct", "agg_approx_distinct", "agg_rollup",
        "agg_cube", "agg_grouping_sets",
        "win_rank", "win_lag_lead", "win_frame_rows", "win_running",
        "sort_limit", "topk_per_group",
        "set_union_all", "set_union_distinct", "set_intersect",
        "set_except",
        "fn_string", "fn_date", "fn_math_cond", "fn_json", "fn_array",
        "dedup_exact", "llm_text_stats", "llm_lang_filter",
        "udf_scalar", "udaf_grouped", "udtf_explode",
    ]
    assert len(lazy) == 39
