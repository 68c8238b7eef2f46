"""Metric arithmetic shared by the workloads, kept free of Spark so the
benchmark's own tests can exercise it directly."""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10


def percentile(samples, q: float) -> float:
    """Linear-interpolated percentile ``q`` (0-100) of ``samples``."""
    xs = sorted(samples)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie strictly above the ``q`` percentile."""
    return n - 1 - math.floor((n - 1) * q / 100.0)


def tail_q(n: int) -> float:
    """The highest whole percentile of ``n`` samples, up to 90, that still
    has ``MIN_BEYOND`` samples beyond it (90 from 99 samples on)."""
    best = None
    for q in range(50, 100):
        if beyond(n, q) >= MIN_BEYOND:
            best = q
    if best is None:
        raise ValueError(f"{n} samples leave fewer than {MIN_BEYOND} beyond the median")
    return float(min(best, 90))


def tail(samples) -> tuple[float, float]:
    """``(q, value)``: the tail percentile of ``samples`` by :func:`tail_q`."""
    q = tail_q(len(samples))
    return q, percentile(samples, q)


def median(samples) -> float:
    return float(statistics.median(samples))


def pass_metrics(walls, rows, latencies_ms) -> dict:
    """End-to-end metrics of a run's timed passes: the median pass, the
    median of the passes' rows per second, and the median operation
    latency. Medians over passes, so that a neighbour's burst that slows
    a minority of passes does not move a run's figures."""
    return {"pass_s": median(walls), "rows_per_s": median([r / w for r, w in zip(rows, walls)]),
            "latency_p50_ms": median(latencies_ms) if latencies_ms else float("nan")}


def steal_share(before: dict, after: dict) -> float:
    """Steal over busy + steal between two ``sysinfo.cpu_times()``: the
    share of the CPU time the machine wanted that the hypervisor gave to
    other tenants. Idle time is left out, so that idle vCPUs do not dilute
    the steal suffered by busy ones."""
    d = {k: after[k] - before[k] for k in before}
    busy = sum(v for k, v in d.items() if k not in ("idle", "iowait", "steal"))
    return d["steal"] / (busy + d["steal"]) if busy + d["steal"] > 0 else 0.0


def passes_for(seconds: float, nominal_s: float, least: int = 3) -> int:
    """How many timed passes fill ``seconds`` at ``nominal_s`` a pass. A
    count fixed by ``--seconds``, not a clock, so that every run medians
    over the same passes of the warm-up curve, however fast the host."""
    return max(least, round(seconds / nominal_s))


def run_passes(run_pass, n: int, probe) -> list:
    """Run ``run_pass(i)`` for ``i`` in ``range(n)``. Each result gains
    its ``steal_share`` (``probe`` reads the machine's CPU times), kept as
    context: every pass is timed and every pass is checked."""
    out = []
    for i in range(n):
        before = probe()
        res = run_pass(i)
        res["steal_share"] = steal_share(before, probe())
        out.append(res)
    return out


def error_rate(attempted: int, failed: int) -> float:
    if attempted <= 0:
        raise ValueError("error rate needs at least one attempted operation")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, attempted={attempted}]")
    return failed / attempted


def count_failed(ops) -> int:
    """Operations that failed: each op is a dict that may carry an
    ``error`` (exception text), a ``reason`` differing from its
    ``expected_reason``, or a non-empty ``mismatches`` list. An op with
    several faults counts once."""
    n = 0
    for op in ops:
        bad_reason = "expected_reason" in op and op.get("reason") != op["expected_reason"]
        if op.get("error") or bad_reason or op.get("mismatches"):
            n += 1
    return n


def self_times(spans) -> dict[int, float]:
    """Self time per span id: the span's duration minus the part of its
    interval covered by its direct children (overlapping children, e.g.
    collect and process running on two threads, are counted once)."""
    kids: dict[int, list] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(kids.get(s["id"], ()), key=lambda c: c["start"]):
            lo, hi = max(c["start"], s["start"]), min(c["end"], s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def wrapper_ms(add_batch_ms: dict, process_ms: dict) -> list[float]:
    """Per micro-batch ``addBatch - process``: the time the foreachBatch
    wrapper spends around the user callback. Keys are batch ids; only
    batches present in both maps count."""
    return [add_batch_ms[b] - process_ms[b] for b in sorted(add_batch_ms) if b in process_ms]
