"""Tests for the benchmark harness itself (no Spark needed).

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import math
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

from layers import layer_metrics  # noqa: E402
from spans import (  # noqa: E402
    Batch, EventLog, Job, Span, SpanIndex, Task, Tracer, parse_event_log,
    self_time,
)
from run import end_to_end, timed_passes  # noqa: E402
from stats import (  # noqa: E402
    _stat_cpu_s, cpu_clock, percentile, samples_beyond, spread,
    supported_percentile, thread_cpu_by_kind,
)
import workloads  # noqa: E402

TINY_LOG = os.path.join(HERE, "data", "tiny_eventlog.json")


def _span(sid, name, start, end, parent=None, op=None):
    return Span(sid, name, start, end, parent, op)


# -- span self time ------------------------------------------------------------

def test_self_time_subtracts_union_of_children():
    parent = _span(0, "op", 0.0, 10.0)
    kids = [
        _span(1, "a", 1.0, 3.0, 0),
        _span(2, "b", 2.0, 5.0, 0),    # overlaps a: [1, 5] counted once
        _span(3, "c", 7.0, 8.0, 0),
        _span(4, "d", 9.5, 12.0, 0),   # clipped to the parent's end
    ]
    assert self_time(parent, kids) == pytest.approx(10.0 - 4.0 - 1.0 - 0.5)


def test_self_time_without_children_is_duration():
    assert self_time(_span(0, "x", 2.0, 3.5), []) == pytest.approx(1.5)


def test_tracer_nests_spans_and_inherits_op():
    tr = Tracer(True)
    with tr.span("pass"):
        with tr.span("op", op="k1"):
            with tr.span("queries.build") as b:
                b.meta["x"] = 1
    p, o, b = tr.spans
    assert (p.parent, o.parent, b.parent) == (None, p.sid, o.sid)
    assert b.op == "k1" and b.meta == {"x": 1}
    assert tr.self_time(o) == pytest.approx(o.duration - b.duration)


def test_disabled_tracer_records_nothing():
    tr = Tracer(False)
    with tr.span("pass") as s:
        assert s is None
    assert tr.spans == []


# -- attribution -------------------------------------------------------------

def test_innermost_span_wins_and_gaps_are_unattributed():
    spans = [
        _span(0, "pass", 0.0, 10.0),
        _span(1, "op", 1.0, 4.0, 0, "k1"),
        _span(2, "queries.build", 1.0, 2.0, 1, "k1"),
        _span(3, "op", 5.0, 9.0, 0, "k2"),
    ]
    idx = SpanIndex(spans)
    assert idx.innermost(1.5).sid == 2
    assert idx.innermost(3.0).sid == 1
    assert idx.innermost(4.5).sid == 0
    assert idx.innermost(11.0) is None
    assert [s.sid for s in idx.ancestors(spans[2])] == [2, 1, 0]


def test_jobs_on_the_recorded_log_attribute_by_submission_time():
    log = parse_event_log(TINY_LOG)
    t = [j.submit for j in log.jobs]
    spans = [
        _span(0, "pass", t[0] - 1, t[-1] + 1),
        _span(1, "op", t[0] - 0.5, t[1] + 0.1, 0, "stream"),
        _span(2, "op", t[2] - 0.1, t[-1] + 0.5, 0, "agg"),
        _span(3, "queries.build", t[3] - 0.01, t[4] + 0.01, 2, "agg"),
    ]
    idx = SpanIndex(spans)
    got = [idx.innermost(x).sid for x in t]
    assert got == [1, 1, 2, 3, 3, 2]


# -- percentiles and the sample-count rule ----------------------------------

def test_percentile_interpolates_between_ranks():
    xs = [float(i) for i in range(1, 101)]
    assert percentile(xs, 50) == pytest.approx(50.5)
    assert percentile(xs, 90) == pytest.approx(90.1)
    assert percentile([4.0, 1.0, 3.0, 2.0, 5.0], 50) == 3.0
    assert percentile([3.0], 90) == 3.0
    with pytest.raises(ValueError):
        percentile([], 50)


def test_failed_op_counts_as_missing_every_latency():
    xs = [1.0] * 9 + [math.inf]
    assert percentile(xs, 80) == 1.0
    assert percentile(xs, 90) == math.inf
    assert percentile([math.inf] * 6 + [1.0] * 4, 50) == math.inf


def test_sample_count_rule():
    assert samples_beyond(100, 90) == 10
    assert samples_beyond(99, 90) == 10
    assert samples_beyond(91, 90) == 9
    assert supported_percentile(100) == 90.0
    assert supported_percentile(91) == 75.0
    assert supported_percentile(1000) == 99.0
    assert supported_percentile(39) == 75.0
    assert supported_percentile(24) == 50.0


def test_spread_is_iqr_over_median():
    s = spread([10.0, 11.0, 12.0, 13.0, 14.0])
    assert s["median"] == 12.0
    assert s["iqr_over_median"] == pytest.approx((13.5 - 10.5) / 12.0)
    assert spread([5.0])["iqr_over_median"] == 0.0


# -- timed work and CPU clocks ------------------------------------------------

def test_timed_passes_is_a_fixed_count_from_nominal_pass_time():
    olap, etl = workloads.OlapMix(), workloads.EtlChain()
    assert timed_passes(olap, 15, False) == 5
    assert timed_passes(olap, 1, False) == 1
    assert timed_passes(etl, 15, False) == 1
    # a traced run alternates spans on and off: an even count, at least 2
    assert timed_passes(olap, 15, True) == 6
    assert timed_passes(etl, 15, True) == 2


def test_end_to_end_scales_times_to_reference_speed():
    passes = [workloads.PassResult(9.0, {}, cpu=3.0),
              workloads.PassResult(9.0, {}, cpu=5.0)]
    m = end_to_end(passes, 30.0, (100, 250), slowdown=2.0)
    assert m["setup_s"] == (15.0, "s")
    assert m["pass_cpu_s"] == (2.0, "s")
    # a ratio of bytes does not depend on the host's speed
    assert m["bytes_stored_per_input_byte"] == (2.5, "ratio")


def test_stat_cpu_reads_utime_plus_stime(tmp_path):
    ticks = os.sysconf("SC_CLK_TCK")
    stat = tmp_path / "stat"
    # the command name may hold spaces and parentheses
    stat.write_text(f"42 (C2 (x) y) S 1 2 3 4 5 6 7 8 9 10 {3 * ticks} {ticks} 0 0\n")
    assert _stat_cpu_s(str(stat)) == pytest.approx(4.0)


def test_cpu_clock_refuses_a_process_without_compiler_threads():
    assert thread_cpu_by_kind(os.getpid())["jit"] == 0.0
    with pytest.raises(RuntimeError):
        cpu_clock(os.getpid())


# -- event log parser ----------------------------------------------------------

def test_parser_reads_the_recorded_log():
    log = parse_event_log(TINY_LOG)
    assert [j.job_id for j in log.jobs] == [0, 1, 2, 3, 4, 5]
    assert log.jobs[0].submit == 1792173184.926
    assert len(log.stages) == 7
    assert len(log.tasks) == 23
    assert len(log.sql_starts) == 6
    t0 = log.tasks[0]
    assert (t0.stage_id, t0.run_s, t0.gc_s) == (0, 0.774, 0.030)
    assert t0.cpu_s == pytest.approx(0.744346593)
    assert (t0.input_bytes, t0.shuffle_write_bytes) == (1327, 63253)
    (b,) = log.batches
    assert b.batch_id == 0 and b.duration_s == pytest.approx(4.901)
    assert b.state_rows == 3380 and b.state_commit_s == pytest.approx(2.486)
    assert b.input_rows > 0


# -- layer metrics -------------------------------------------------------------

def _metrics(spans, log, **kw):
    args = dict(cpus=4, boot_s=1.0, peak_rss_mb=1.0, floor_s=0.05,
                overhead_ratio=1.0,
                chain_files=0.0, chain_bytes=0.0)
    args.update(kw)
    return layer_metrics(spans, log, **args)


def _task(launch, input_bytes, run=1.0):
    return Task(0, launch, run, run / 2, 0.0, input_bytes, 0, 0, 0)


def test_layer_metrics_split_build_plan_and_exec():
    spans = [
        _span(0, "pass", 0.0, 10.0),
        _span(1, "op", 0.0, 10.0, 0, "k"),
        _span(2, "queries.build", 0.0, 4.0, 1, "k"),
        _span(3, "spark.action", 4.0, 10.0, 1, "k"),
    ]
    log = EventLog(
        jobs=[Job(0, 1.0), Job(1, 2.0), Job(2, 6.0)],
        stages={0: 1.0, 1: 6.0},
        tasks=[_task(1.1, 10), _task(6.1, 20, run=8.0)],
        sql_starts=[5.0],
        batches=[Batch("r", 0, 1.5, 7, 0.5, 3, 0.25)],
    )
    m, stale = _metrics(spans, log)
    assert m["queries.build_s"][0] == 4.0
    assert m["queries.build_jobs"][0] == 2
    assert m["spark.jobs"][0] == 3 and m["spark.stages"][0] == 2
    assert m["spark.plan_s"][0] == 1.0 and m["spark.exec_s"][0] == 5.0
    assert m["spark.input_bytes"][0] == 30
    assert m["spark.core_busy_ratio"][0] == pytest.approx(8.0 / (5.0 * 4))
    assert m["streaming.batches"][0] == 1 and m["streaming.state_rows"][0] == 3
    assert m["pipeline.ingest_s"][0] == 0.0
    assert stale == []


def test_stale_row_guard_flags_an_op_that_stops_reading_input():
    spans = [
        _span(0, "warmup", 0.0, 10.0),
        _span(1, "op", 0.0, 5.0, 0, "cached"),
        _span(2, "op", 5.0, 10.0, 0, "honest"),
        _span(3, "pass", 20.0, 30.0),
        _span(4, "op", 20.0, 25.0, 3, "cached"),
        _span(5, "op", 25.0, 30.0, 3, "honest"),
    ]
    log = EventLog(tasks=[
        _task(1.0, 100), _task(6.0, 100),      # warm-up: both read input
        _task(21.0, 0), _task(26.0, 100),      # timed: "cached" reads none
    ])
    m, stale = _metrics(spans, log)
    assert stale == ["cached"]
    assert m["trace.stale_row_ops"][0] == 1


# -- olap_mix checks -----------------------------------------------------------

def test_every_olap_key_is_checked():
    from serverless_etl_aws_spark.queries import build_registry

    reg = build_registry()
    keys = workloads.olap_keys()
    assert len(keys) == 13 and len(set(keys)) == 13
    assert [k for k in keys if reg[k].sql is None] == []
