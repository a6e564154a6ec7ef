"""Pure bookkeeping for the benchmark: model order, pass count, the
summary statistics and the host-state probes. No Spark here, so the
harness tests run without a JVM."""

from __future__ import annotations

import os
import random
import re
import statistics
import time

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")
TAIL_BEYOND = 10
# two passes at least, so every metric is a median over repeated work
MIN_PASSES = 2


def pass_order(models: list[str], seed: int, pass_idx: int) -> list[str]:
    """The models of one pass in a seed-determined order, as a dbt thread
    pool would interleave independent models. Each pass has its own
    permutation; the same (seed, pass) always gives the same order."""
    order = sorted(models)
    random.Random(seed * 1_000_003 + pass_idx).shuffle(order)
    return order


def pass_count(seconds: float, nominal_pass_s: float) -> int:
    """Timed passes for a run of about ``seconds``: fixed by the
    workload's nominal pass time, not by the clock, so two commits do
    identical work and sample counts (hence the tail percentile) match."""
    return max(MIN_PASSES, round(seconds / nominal_pass_s))


def tail(samples: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, float]:
    """``(percentile, value)`` at the highest percentile that still has
    at least ``beyond`` samples above it: the (n - beyond)-th smallest
    sample, at percentile 100 * (n - beyond) / n. When that percentile
    would fall below the median (fewer than ``2 * beyond`` samples) it is
    no tail, and the maximum is reported at percentile 100."""
    xs = sorted(samples)
    n = len(xs)
    if n < 2 * beyond:
        return 100.0, xs[-1]
    return 100.0 * (n - beyond) / n, xs[n - beyond - 1]


def pass_seconds(model_walls: list[float]) -> float:
    """Wall time of one pass: every model's time, failed ones included."""
    return sum(model_walls)


def summarize(passes: list[dict[str, float]]) -> dict[str, float]:
    """End-to-end timing metrics over complete passes (each maps model
    name to wall seconds). ``model_geomean_s`` is the geometric mean over
    models of each model's median time, as TPC-H's power metric summarises
    its queries: every model weighs the same, whatever its size, and the
    value does not jump between models the way a median over a handful of
    unlike models does (``model_p50_s``, kept in the artifact)."""
    samples = [w for p in passes for w in p.values()]
    pct, tail_s = tail(samples)
    per_model = [statistics.median(p[m] for p in passes) for m in passes[0]]
    return {
        "run_s": statistics.median(pass_seconds(list(p.values())) for p in passes),
        "model_geomean_s": statistics.geometric_mean(per_model),
        "model_p50_s": statistics.median(samples),
        "model_tail_s": tail_s,
        "model_tail_pct": pct,
        "model_samples": len(samples),
    }


def host_noise_probe() -> float:
    """Seconds for a fixed single-threaded busy loop (the same loop as
    ``bench.py``; ~0.7 s on a quiet 4-core host). A run whose probe
    reads well above that was taken on a busy host."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(5_000_000):
        acc += i & 1023
    assert acc
    return time.perf_counter() - t0


def host_state() -> dict:
    return {"noise_probe_s": host_noise_probe(), "loadavg": list(os.getloadavg())}


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory() -> str:
    """Driver heap: 2 GiB, or a quarter of physical memory on a smaller
    box. The engine's 24g default exceeds small hosts, and a heap the
    workloads fill keeps peak RSS from following GC sizing whims."""
    with open("/proc/meminfo") as fh:
        kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    return f"{max(512, min(2048, kb // 4096))}m"


def proc_status_kb(pid: int, key: str) -> int:
    """A ``/proc/<pid>/status`` field in kB (``VmHWM`` is peak RSS)."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    return 0


def proc_write_bytes(pid: int) -> int:
    """Bytes ``pid`` caused to be written to storage (``/proc/<pid>/io``)."""
    try:
        with open(f"/proc/{pid}/io") as fh:
            for line in fh:
                if line.startswith("write_bytes:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def check_metrics(end_to_end: dict[str, str], per_layer: dict[str, str]) -> None:
    """Names, units and counts the benchmark contract allows; each
    argument maps metric name to unit."""
    names = list(end_to_end) + list(per_layer)
    bad = [n for n in names if not NAME_RE.fullmatch(n)]
    bad += [u for u in {**end_to_end, **per_layer}.values() if not UNIT_RE.fullmatch(u)]
    if bad:
        raise ValueError(f"bad metric names or units: {bad}")
    if len(set(names)) != len(names):
        raise ValueError("duplicate metric names")
    if not 1 <= len(end_to_end) <= 16 or not 1 <= len(per_layer) <= 128:
        raise ValueError("metric counts out of range")
