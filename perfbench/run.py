"""Benchmark harness: one workload, one closed-loop client, one process.

    python3 perfbench/run.py --workload olap_mix --seed 1 --seconds 10 --trace 0

Run from the repository root. Set-up (input generation, session boot,
one untimed warm-up pass that also checks every result) is timed as
``setup_s``; then a fixed number of timed passes runs back to back,
``--seconds`` worth at the workload's nominal pass time (see
:func:`timed_passes`).
``--trace 0`` prints the end-to-end metrics; ``--trace 1`` enables
Spark's event log and the benchmark's spans and prints the per-layer
metrics instead. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the lines before it
are ``#``-prefixed and human-readable. A JSON record of the run (box
state, every metric, checks, span summary) is kept under
``.perfbench_work/runs/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "serverless_etl_aws_spark"


def _cpus() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def _prepare_env(work: str) -> dict[str, str]:
    """Keep every file Spark, Python and the package write inside the
    run's directory."""
    dirs = {k: os.path.join(work, k) for k in ("tmp", "local", "scratch", "eventlog")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["SPARK_GRAFT_SCRATCH"] = dirs["scratch"]
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")
    import tempfile

    tempfile.tempdir = dirs["tmp"]
    return dirs


def _boot(dirs: dict[str, str], cpus: int, trace: bool):
    from serverless_etl_aws_spark.session import get_spark

    conf = {
        "spark.local.dir": dirs["local"],
        # stats.cpu_clock needs compiler threads that never exit
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={dirs['tmp']} "
            "-XX:-UseDynamicNumberOfCompilerThreads "
            # a heap that starts at its full size is sized the same in
            # every run, and so is the garbage collector's work
            f"-Xms{os.environ['SPARK_DRIVER_MEMORY']}"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + dirs["eventlog"],
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(
        app_name="perfbench", master=f"local[{cpus}]",
        shuffle_partitions=cpus, extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop the session and wait for the JVM the session launched."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=60)


def _install_spans(tracer) -> None:
    """Wrap the package entry points that are called from inside other
    package code, so their spans nest under the caller's span."""
    from serverless_etl_aws_spark import catalog
    from serverless_etl_aws_spark.pipeline.atomic import AtomicPartitionedTable
    from serverless_etl_aws_spark.pipeline.watermark import WatermarkStore

    load_table = catalog.load_table

    def traced_load(spark, sf_dir, name):
        before = len(catalog._TABLE_CACHE)
        with tracer.span("catalog.load") as s:
            df = load_table(spark, sf_dir, name)
        if s is not None:
            s.meta["hit"] = len(catalog._TABLE_CACHE) == before
        return df

    catalog.load_table = traced_load

    commit = AtomicPartitionedTable.commit_overwrite_partitions

    def traced_commit(self, *a, **kw):
        with tracer.span("pipeline.atomic_commit"):
            return commit(self, *a, **kw)

    AtomicPartitionedTable.commit_overwrite_partitions = traced_commit

    should_skip = WatermarkStore.should_skip

    def traced_skip(self, year_month):
        with tracer.span("pipeline.watermark") as s:
            skip = should_skip(self, year_month)
        if s is not None:
            s.meta["skip"] = skip
        return skip

    WatermarkStore.should_skip = traced_skip


def _action_floor(spark, n: int) -> list[float]:
    """Wall time of a trivial one-row action."""
    out = []
    for _ in range(n):
        t0 = time.perf_counter()
        spark.range(1).write.format("noop").mode("overwrite").save()
        out.append(time.perf_counter() - t0)
    return out


def timed_passes(wl, seconds: float, trace: bool) -> int:
    """The number of timed passes: ``seconds`` of passes at the
    workload's nominal pass time, at least one (two, and even, when
    traced). A fixed count, not a deadline, so every run times the same
    work and the JVM's warm-up is as far along in each, whatever the
    box's speed."""
    n = max(1, round(seconds / wl.nominal_pass_s))
    return n + n % 2 if trace else n


def _finite_or(value: float, fallback: float = 1e9) -> float:
    return value if math.isfinite(value) else fallback


def end_to_end(passes, setup_s: float, stored, slowdown: float) -> dict:
    """The gated metrics: each is defined on every workload. Times are
    scaled to the reference host speed (``slowdown``, see
    :func:`stats.reference_loop_s`)."""
    input_bytes, stored_bytes = stored
    return {
        "setup_s": (setup_s / slowdown, "s"),
        "pass_cpu_s": (statistics.fmean(p.cpu for p in passes) / slowdown, "s"),
        "bytes_stored_per_input_byte": (stored_bytes / input_bytes, "ratio"),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ next to perfbench/ in {ROOT}; "
              f"run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workloads
    from spans import Tracer, find_event_log, parse_event_log
    from stats import (
        box_record, cpu_clock, finish_box_record, peak_rss_mb, percentile,
        REFERENCE_LOOP_S, reference_loop_s, supported_percentile,
        thread_cpu_by_kind,
    )

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    trace = bool(args.trace)
    base = os.path.join(ROOT, ".perfbench_work")
    _remove_dead_work_dirs(base)
    work = os.path.join(base, f"run-{os.getpid()}")
    dirs = _prepare_env(work)
    cpus = _cpus()
    box = box_record(cpus)
    tracer = Tracer(trace)

    # the host's speed, gauged before set-up, after it and after every
    # timed pass, outside every timed region
    refs = [reference_loop_s()]
    t_setup = time.perf_counter()
    wl = workloads.WORKLOADS[args.workload]()
    ctx = workloads.Context(None, tracer, work, args.seed)
    wl.prepare(ctx)
    t0 = time.perf_counter()
    spark = ctx.spark = _boot(dirs, cpus, trace)
    boot_s = time.perf_counter() - t0
    try:
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        ctx.cpu = cpu_clock(jvm_pid)
        if trace:
            _install_spans(tracer)
        t0 = time.perf_counter()
        with tracer.span("warmup"):
            warm = wl.warmup(ctx)
        setup_s = time.perf_counter() - t_setup
        warmup_s = time.perf_counter() - t0
        refs.append(reference_loop_s())
        if trace:
            # The first pass after the warm-up is still JIT-cold (about
            # 25% slower on olap_mix). Run it untraced and out of both
            # lists, so the traced and untraced passes compared below
            # are equally warm.
            tracer.enabled = False
            settle = wl.run_pass(ctx, -1)
            tracer.enabled = True
            warm.checks += settle.checks
            warm.latencies.update({f"{k} (settle)": v for k, v in settle.latencies.items()})

        floors = _action_floor(spark, 5) if trace else []
        passes, plain = [], []
        threads = [thread_cpu_by_kind(jvm_pid)]
        n_passes = timed_passes(wl, args.seconds, trace)
        for i in range(n_passes):
            # --trace 1 alternates passes with spans on and off, and ends
            # with as many of each; the event log runs in both, so the
            # ratio of their walls is the spans' cost
            traced = trace and i % 2 == 0
            tracer.enabled = traced
            with tracer.span("pass"):
                p = wl.run_pass(ctx, i)
            (passes if traced or not trace else plain).append(p)
            threads.append(thread_cpu_by_kind(jvm_pid))
            refs.append(reference_loop_s())
        tracer.enabled = trace
        if trace:
            floors += _action_floor(spark, 5)
        rss_parts = {"python": peak_rss_mb([os.getpid()]),
                     "jvm": peak_rss_mb([jvm_pid])}
        rss = sum(rss_parts.values())
        stored = wl.stored_bytes(ctx)
    finally:
        _stop(spark)
    finish_box_record(box)

    slowdown = statistics.median(refs) / REFERENCE_LOOP_S
    checks = warm.checks + [c for p in passes + plain for c in p.checks]
    timed_lat = [v for p in passes + plain for v in p.latencies.values()]
    warm_fail = sum(1 for v in warm.latencies.values() if not math.isfinite(v))
    failed = (
        sum(1 for v in timed_lat if not math.isfinite(v)) + warm_fail
        + sum(1 for c in checks if not c.ok)
    )
    attempted = len(timed_lat) + len(warm.latencies) + len(checks)
    record = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "box": box,
        "passes": len(passes) + len(plain),
        "setup_parts_s": {"boot": boot_s, "warmup": warmup_s},
        "op_samples": len(timed_lat),
        "peak_rss_mb_by_process": rss_parts,
        "pass_walls": [p.wall for p in passes + plain],
        "pass_cpus": [p.cpu for p in passes + plain],
        "op_cpus": [p.op_cpu for p in passes + plain],
        "jvm_thread_cpu_s": threads,
        "reference_loop_s": refs,
        "op_latencies": [p.latencies for p in passes + plain],
        "warmup_latencies": warm.latencies,
        "failed_checks": [c.__dict__ for c in checks if not c.ok],
    }
    if trace:
        from layers import layer_metrics

        log = parse_event_log(find_event_log(dirs["eventlog"]))
        stats = getattr(wl, "chain_stats", [])
        metrics, stale = layer_metrics(
            tracer.spans, log, cpus=cpus, boot_s=boot_s, peak_rss_mb=rss,
            floor_s=statistics.median(floors),
            overhead_ratio=statistics.median(p.wall for p in passes)
            / statistics.median(p.wall for p in plain),
            chain_files=stats[-1]["files"] if stats else 0,
            chain_bytes=stats[-1]["bytes"] if stats else 0,
        )
        n = len(threads) - 1
        for kind in ("jit", "gc"):
            metrics[f"jvm.{kind}_cpu_s"] = (
                (threads[-1][kind] - threads[0][kind]) / n, "s")
        record["stale_row_ops"] = stale
        record["span_self_s"] = _self_times(tracer)
    else:
        metrics = end_to_end(passes, setup_s, stored, slowdown)
    # reported and recorded, not gated: see README.md, "End-to-end metrics"
    op_cpu = [v for p in passes + plain for v in p.op_cpu.values()]
    ungated = {
        "host_slowdown": (slowdown, "ratio"),
        "setup_wall_s": (setup_s, "s"),
        "pass_cpu_unscaled_s": (statistics.fmean(p.cpu for p in passes + plain), "s"),
        "pass_s": (statistics.median(p.wall for p in passes + plain), "s"),
        "op_p50_s": (_finite_or(percentile(timed_lat, 50)), "s"),
        "op_cpu_p50_s": (_finite_or(percentile(op_cpu, 50)), "s"),
        **wl.figures(passes + plain),
        "peak_rss_mb": (rss, "MiB"),
        "fail_ratio": (failed / attempted, "ratio"),
    }
    record["metrics"] = {k: v for k, (v, _u) in metrics.items()}
    record["ungated"] = {k: v for k, (v, _u) in ungated.items()}

    runs = os.path.join(base, "runs")
    os.makedirs(runs, exist_ok=True)
    name = f"{time.strftime('%Y%m%dT%H%M%S')}-{args.workload}-s{args.seed}-t{args.trace}.json"
    with open(os.path.join(runs, name), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    shutil.rmtree(work, ignore_errors=True)

    print(f"# box {json.dumps(box, sort_keys=True)}")
    print(f"# {args.workload} seed={args.seed} passes={record['passes']} "
          f"op_samples={len(timed_lat)} (highest percentile with ten "
          f"beyond: p{supported_percentile(len(timed_lat)):g}) "
          f"setup_s={setup_s:.3f} (boot {boot_s:.1f} s, warm-up {warmup_s:.1f} s)")
    for c in checks:
        if not c.ok:
            print(f"# CHECK FAILED {c.op}: {c.detail}")
    for k, (v, unit) in metrics.items():
        print(f"# {k:32s} {v:14.6g} {unit}")
    for k, (v, unit) in ungated.items():
        print(f"# {k:32s} {v:14.6g} {unit} (not gated)")
    if trace and record["stale_row_ops"]:
        print(f"# STALE-ROW GUARD: ops read input while warming up but not "
              f"when timed: {record['stale_row_ops']}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def _remove_dead_work_dirs(base: str) -> None:
    """Delete run directories left by runs that no longer exist."""
    if not os.path.isdir(base):
        return
    for name in os.listdir(base):
        pid = name[len("run-"):]
        if name.startswith("run-") and pid.isdigit():
            try:
                os.kill(int(pid), 0)
            except ProcessLookupError:
                shutil.rmtree(os.path.join(base, name), ignore_errors=True)


def _self_times(tracer) -> dict[str, float]:
    """Self time per span name, over every recorded span."""
    out: dict[str, float] = {}
    for s in tracer.spans:
        out[s.name] = out.get(s.name, 0.0) + tracer.self_time(s)
    return out


if __name__ == "__main__":
    sys.exit(main())
