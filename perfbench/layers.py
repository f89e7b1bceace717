"""Per-layer metrics of a traced run, from spans plus the event log.

Every time and count is per timed pass (per chain on etl_chain),
averaged over the traced passes. Layer names follow the package's
modules: ``session``, ``catalog``, ``queries``, ``spark`` (the engine
underneath), ``streaming``, ``pipeline``; ``trace`` describes the
tracing itself.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from spans import EventLog, Span, SpanIndex

PIPELINE_STEPS = (
    "ingest", "rollup_refresh", "rollup_upsert", "atomic_commit",
    "vacuum", "export",
)


class _Placement:
    """Where an event falls: its traced pass, op span and the names of
    every span around it."""

    def __init__(self, spans: list[Span]) -> None:
        self.index = SpanIndex(spans)
        self._memo: dict[int, tuple[int | None, int | None, frozenset]] = {}

    def of_span(self, s: Span | None):
        if s is None:
            return None, None, frozenset()
        if s.sid not in self._memo:
            top = op = None
            names = []
            for a in self.index.ancestors(s):
                names.append(a.name)
                if a.name == "op" and op is None:
                    op = a.sid
                if a.name in ("pass", "warmup"):
                    top = a.sid
            self._memo[s.sid] = (top, op, frozenset(names))
        return self._memo[s.sid]

    def at(self, t: float):
        return self.of_span(self.index.innermost(t))


def layer_metrics(
    spans: list[Span],
    log: EventLog,
    *,
    cpus: int,
    boot_s: float,
    peak_rss_mb: float,
    floor_s: float,
    overhead_ratio: float,
    chain_files: float,
    chain_bytes: float,
) -> tuple[dict[str, tuple[float, str]], list[str]]:
    """Return ``{metric: (value, unit)}`` and the ops the stale-row
    guard flags."""
    place = _Placement(spans)
    passes = {s.sid for s in spans if s.name == "pass"}
    warm = {s.sid for s in spans if s.name == "warmup"}
    n = max(1, len(passes))
    by_name: dict[str, list[Span]] = defaultdict(list)
    for s in spans:
        if place.of_span(s)[0] in passes:
            by_name[s.name].append(s)

    def total(name: str) -> float:
        return sum(s.duration for s in by_name[name])

    m: dict[str, tuple[float, str]] = {}
    m["session.boot_s"] = (boot_s, "s")
    m["session.peak_rss_mb"] = (peak_rss_mb, "MiB")

    loads = by_name["catalog.load"]
    hits = sum(1 for s in loads if s.meta.get("hit"))
    m["catalog.load_s"] = (total("catalog.load") / n, "s")
    m["catalog.loads"] = (len(loads) / n, "count")
    m["catalog.memo_hit_ratio"] = (hits / len(loads) if loads else 0.0, "ratio")

    # -- jobs / stages / tasks, placed by submission or launch time ------
    jobs_in_pass = build_jobs = 0
    for job in log.jobs:
        top, _op, names = place.at(job.submit)
        if top in passes:
            jobs_in_pass += 1
            build_jobs += "queries.build" in names
    stages = sum(1 for t in log.stages.values() if place.at(t)[0] in passes)
    m["queries.build_s"] = (total("queries.build") / n, "s")
    m["queries.build_jobs"] = (build_jobs / n, "count")

    actions = by_name["spark.action"]
    plan = exec_ = 0.0
    for a in actions:
        first = next((t for t in log.sql_starts if a.start <= t <= a.end), None)
        p = (first - a.start) if first is not None else 0.0
        plan += p
        exec_ += a.duration - p
    m["spark.plan_s"] = (plan / n, "s")
    m["spark.action_floor_s"] = (floor_s, "s")
    m["spark.jobs"] = (jobs_in_pass / n, "count")
    m["spark.stages"] = (stages / n, "count")

    agg = defaultdict(float)
    op_input: dict[tuple[int, str], int] = defaultdict(int)
    op_of = {s.sid: s.op for s in spans}
    action_run = 0.0
    for task in log.tasks:
        top, op, names = place.at(task.launch)
        if op is not None:
            op_input[(top, op_of[op])] += task.input_bytes
        if top not in passes:
            continue
        agg["tasks"] += 1
        agg["run"] += task.run_s
        agg["cpu"] += task.cpu_s
        agg["gc"] += task.gc_s
        agg["input"] += task.input_bytes
        agg["sr"] += task.shuffle_read_bytes
        agg["sw"] += task.shuffle_write_bytes
        agg["spill"] += task.spill_bytes
        if "spark.action" in names:
            action_run += task.run_s
    m["spark.tasks"] = (agg["tasks"] / n, "count")
    m["spark.exec_s"] = (exec_ / n, "s")
    m["spark.task_run_s"] = (agg["run"] / n, "s")
    m["spark.task_cpu_s"] = (agg["cpu"] / n, "s")
    m["spark.core_busy_ratio"] = (
        action_run / (exec_ * cpus) if exec_ > 0 else 0.0, "ratio"
    )
    m["spark.input_bytes"] = (agg["input"] / n, "bytes")
    m["spark.shuffle_read_bytes"] = (agg["sr"] / n, "bytes")
    m["spark.shuffle_write_bytes"] = (agg["sw"] / n, "bytes")
    m["spark.spill_bytes"] = (agg["spill"] / n, "bytes")
    m["spark.gc_s"] = (agg["gc"] / n, "s")

    # -- streaming progress ------------------------------------------------
    batches = [(b, place.at(b.time)) for b in log.batches]
    timed = [b for b, (top, _o, _n) in batches if top in passes]
    last_state: dict[str, int] = {}
    for b in sorted(timed, key=lambda b: b.batch_id):
        last_state[b.run_id] = b.state_rows
    m["streaming.batches"] = (len(timed) / n, "count")
    m["streaming.batch_p50_s"] = (
        statistics.median(b.duration_s for b in timed) if timed else 0.0, "s"
    )
    m["streaming.state_rows"] = (sum(last_state.values()) / n, "count")
    m["streaming.state_commit_s"] = (
        sum(b.state_commit_s for b in timed) / n, "s"
    )

    # -- pipeline ------------------------------------------------------------
    for step in PIPELINE_STEPS:
        m[f"pipeline.{step}_s"] = (total(f"pipeline.{step}") / n, "s")
    m["pipeline.files_written"] = (chain_files, "count")
    m["pipeline.bytes_written"] = (chain_bytes, "bytes")
    ingest = [
        b for b, (top, _o, names) in batches
        if top in passes and "pipeline.ingest" in names
    ]
    m["pipeline.useful_batch_ratio"] = (
        sum(1 for b in ingest if b.input_rows > 0) / len(ingest)
        if ingest else 0.0, "ratio",
    )
    skips = sum(1 for s in by_name["pipeline.watermark"] if s.meta.get("skip"))
    m["pipeline.watermark_skips"] = (skips / n, "count")

    # -- stale-row guard: an op that read input while warming up must read
    # input again in every timed pass (plan objects may be cached, rows not)
    warm_in = {op: b for (top, op), b in op_input.items() if top in warm}
    stale = sorted({
        op for (top, op), b in op_input.items()
        if top in passes and b == 0 and warm_in.get(op, 0) > 0
    } | {
        op for op, b in warm_in.items()
        if b > 0 and not any(
            (p, op) in op_input for p in passes
        )
    })
    m["trace.overhead_ratio"] = (overhead_ratio, "ratio")
    m["trace.stale_row_ops"] = (float(len(stale)), "count")
    return m, stale
