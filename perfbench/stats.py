"""Sample statistics, box record, CPU clocks and process memory for the
benchmark."""

from __future__ import annotations

import math
import os
import statistics
import time


def percentile(samples: list[float], q: float) -> float:
    """``q``-th percentile (0 <= q <= 100), linearly interpolated between
    the two nearest ranks (numpy's default). A failed op is recorded as
    ``inf``, so it counts as missing every latency limit: any percentile
    that touches it is ``inf``."""
    if not samples:
        raise ValueError("percentile of no samples")
    ordered = sorted(samples)
    pos = q / 100.0 * (len(ordered) - 1)
    lo, frac = int(pos), pos - int(pos)
    if frac == 0:
        return ordered[lo]
    a, b = ordered[lo], ordered[lo + 1]
    return math.inf if math.isinf(b) else a + (b - a) * frac


def samples_beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie above the ``q``-th percentile's
    position."""
    return n - 1 - int(q / 100.0 * (n - 1))


def supported_percentile(n: int, candidates=(99.0, 95.0, 90.0, 75.0, 50.0)) -> float:
    """The highest candidate percentile with at least ten of ``n``
    samples beyond it (the median when none qualifies)."""
    for q in candidates:
        if samples_beyond(n, q) >= 10:
            return q
    return 50.0


def spread(values: list[float]) -> dict[str, float]:
    """Median, quartiles and IQR ÷ median — a spread that does not grow
    with the number of runs, unlike max − min."""
    if len(values) == 1:
        v = values[0]
        return {"median": v, "q1": v, "q3": v, "iqr_over_median": 0.0}
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {
        "median": med,
        "q1": q1,
        "q3": q3,
        "iqr_over_median": (q3 - q1) / med if med else math.inf,
    }


def other_spark_jvms() -> int:
    """Live JVMs with spark on their command line, this process's own
    JVM excluded (call before the session boots)."""
    n = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) == os.getpid():
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                argv = f.read().decode("utf-8", "replace").split("\0")
        except OSError:
            continue
        if os.path.basename(argv[0]) == "java" and "spark" in " ".join(argv).lower():
            n += 1
    return n


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (user nice system idle
    iowait irq softirq steal ...), in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time between two :func:`cpu_times` readings that the
    hypervisor gave to other guests (the ``steal`` column)."""
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta[:8])
    return delta[7] / total if total else 0.0


def box_record(cpus: int) -> dict:
    """Load, concurrent Spark JVMs, core count and CPU steal at run
    start. ``busy`` marks a run whose numbers a contended box may have
    inflated; :func:`finish_box_record` adds the steal over the run."""
    la1, la5, la15 = os.getloadavg()
    jvms = other_spark_jvms()
    nproc = len(os.sched_getaffinity(0))
    t0 = cpu_times()
    time.sleep(0.5)
    steal = steal_share(t0, cpu_times())
    return {
        "utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "nproc": nproc,
        "cpus_used": cpus,
        "loadavg_1m": round(la1, 2),
        "loadavg_5m": round(la5, 2),
        "loadavg_15m": round(la15, 2),
        "other_spark_jvms": jvms,
        "steal_at_start": round(steal, 3),
        "busy": jvms > 0 or steal > 0.05,
        "_cpu_times": cpu_times(),
    }


def finish_box_record(box: dict) -> dict:
    """Add the CPU steal share over the whole run; a run with more than
    5% of its CPU time stolen is marked busy."""
    steal = steal_share(box.pop("_cpu_times"), cpu_times())
    box["steal_during_run"] = round(steal, 3)
    box["busy"] = box["busy"] or steal > 0.05
    return box


_TICKS_PER_S = os.sysconf("SC_CLK_TCK")


def _stat_cpu_s(path: str) -> float:
    """User plus system CPU seconds from a ``/proc`` ``stat`` file."""
    with open(path) as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / _TICKS_PER_S


def _is_jit(thread_name: str) -> bool:
    """HotSpot's C1 and C2 compiler threads ("C2 CompilerThread0",
    truncated to 15 characters in ``comm``)."""
    return "CompilerThre" in thread_name


def _threads(pid: int):
    """(name, stat path) of each live thread of ``pid``."""
    base = f"/proc/{pid}/task"
    for tid in os.listdir(base):
        try:
            with open(f"{base}/{tid}/comm") as f:
                name = f.read()
        except OSError:  # the thread has ended
            continue
        yield name, f"{base}/{tid}/stat"


def thread_cpu_by_kind(pid: int) -> dict[str, float]:
    """CPU seconds of the live threads of ``pid``, by kind of thread:
    ``jit`` (HotSpot compiler threads), ``gc`` and ``other``."""
    out = {"jit": 0.0, "gc": 0.0, "other": 0.0}
    for name, stat in _threads(pid):
        try:
            cpu = _stat_cpu_s(stat)
        except OSError:
            continue
        kind = ("jit" if _is_jit(name) else
                "gc" if name.startswith(("GC Thread", "G1 ")) else "other")
        out[kind] += cpu
    return out


def cpu_clock(jvm_pid: int):
    """A clock of the CPU seconds this Python process and the session's
    JVM spend, HotSpot's compiler threads excepted; the difference of two
    readings is the CPU an interval cost, whichever thread spent it.

    JIT compilation is left out because how much of it falls into a pass
    depends on the box: on a busy box the compiler threads get less CPU
    and compile later. The JVM must run with
    ``-XX:-UseDynamicNumberOfCompilerThreads``, so its compiler threads
    live as long as it does and their CPU can be taken out."""
    jit = [stat for name, stat in _threads(jvm_pid) if _is_jit(name)]
    if not jit:
        raise RuntimeError(f"no compiler threads in JVM {jvm_pid}")
    whole = f"/proc/{jvm_pid}/stat"

    def clock() -> float:
        return (time.process_time() + _stat_cpu_s(whole)
                - sum(_stat_cpu_s(t) for t in jit))

    return clock


#: CPU seconds of :func:`reference_loop_s` on a quiet host (4-vCPU
#: Xeon VM); the benchmark's timings are scaled to this speed
REFERENCE_LOOP_S = 0.090


def reference_loop_s(iterations: int = 1_000_000) -> float:
    """CPU seconds this thread spends on a fixed pure-Python loop.

    It gauges how fast the host runs this process's instructions at the
    moment: other guests on a busy host slow every instruction (the
    benchmark's pass CPU and this loop rose together, by up to half),
    while other processes inside the VM take CPU away without slowing
    what runs."""
    t0 = time.thread_time()
    x = 0
    for i in range(iterations):
        x = (x * 31 + i) & 0xFFFFFFFF
    return time.thread_time() - t0


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set sizes (VmHWM) of ``pids``, in MiB."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
                    break
    return total_kb / 1024.0
