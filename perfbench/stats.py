"""Pure helpers of the benchmark: percentiles, lag attribution, span self
time, failure accounting and the A/A agreement test. No Spark import, so the
tests in ``perfbench/tests`` run without a JVM."""

from __future__ import annotations

import bisect
import math
import statistics

# A tail percentile is reported only when at least this many samples lie
# beyond it; below that it is one or two unlucky samples, not a tail.
MIN_BEYOND = 10


def nearest_rank(values: list[float], q: float) -> float:
    """The ``q``-th percentile (0 < q <= 100) by the nearest-rank rule: the
    smallest sample with at least ``q`` percent of samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    k = max(1, math.ceil(q / 100.0 * len(s)))
    return s[k - 1]


def beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie strictly beyond the nearest-rank
    ``q``-th percentile."""
    return n - max(1, math.ceil(q / 100.0 * n))


def supported(n: int, q: float, min_beyond: int = MIN_BEYOND) -> bool:
    """True when ``n`` samples carry at least ``min_beyond`` samples beyond
    the ``q``-th percentile (so p90 needs n >= 100)."""
    return beyond(n, q) >= min_beyond


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def quartile_spread(values: list[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median, as ``statistics.quantiles(values, n=4)`` gives the quartiles."""
    q1, _q2, q3 = statistics.quantiles(values, n=4)
    m = statistics.median(values)
    return (q3 - q1) / abs(m) if m else math.inf


# --------------------------------------------------------------------- lag
def attribute_commits(
    chunk_cover: list[int], commits: list[tuple[float, int]]
) -> list[float | None]:
    """Commit time of each chunk.

    ``chunk_cover[c]`` is the largest event offset of chunk ``c``;
    ``commits`` are ``(ts, offset_max)`` of committed batches (the
    ``MetricsSink`` record's ``ts`` and ``lineage.offset_max``). A chunk is
    visible at the first commit, in time order, whose ``offset_max`` is at
    least its cover offset. ``None`` marks a chunk no commit covers."""
    ordered = sorted((ts, off) for ts, off in commits if off is not None)
    # running max: a later commit never un-covers an earlier offset
    times, reach = [], []
    hi = -math.inf
    for ts, off in ordered:
        if off > hi:
            hi = off
            times.append(ts)
            reach.append(off)
    out: list[float | None] = []
    for cover in chunk_cover:
        i = bisect.bisect_left(reach, cover)
        out.append(times[i] if i < len(reach) else None)
    return out


def chunk_lags(
    due: list[float], visible: list[float | None]
) -> tuple[list[float], int]:
    """Lag of each visible chunk from its due time, and the number of chunks
    never made visible (failed: they miss every lag limit)."""
    lags = [v - d for d, v in zip(due, visible) if v is not None]
    return lags, sum(1 for v in visible if v is None)


def backlog_max(published: list[float], visible: list[float | None]) -> int:
    """Most chunks ever published but not yet visible, sampled at each
    commit (the backlog a batch found waiting when it finished)."""
    commit_ts = sorted({v for v in visible if v is not None})
    best = 0
    for t in commit_ts:
        waiting = sum(
            1 for p, v in zip(published, visible) if p <= t and (v is None or v > t)
        )
        best = max(best, waiting)
    return best


def busy_frac(busy_s: list[float], due: list[float], visible: list[float | None]) -> float:
    """Share of the timed phase, from the first chunk's due time to the
    last commit, that the stream spent running batches (``busy_s`` holds
    each timed batch's trigger wall). 0 when no chunk became visible."""
    seen = [v for v in visible if v is not None]
    if not seen or not due:
        return 0.0
    return sum(busy_s) / (max(seen) - due[0])


# ------------------------------------------------------------------- spans
def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time of each span: its duration minus the part of its interval
    covered by its direct children (overlapping children count once)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.get("parent") is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        covered, cur_lo, cur_hi = 0.0, None, None
        for a, b in sorted(kids.get(s["id"], [])):
            a, b = max(a, lo), min(b, hi)
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (hi - lo) - covered
    return out


# ---------------------------------------------------------------- failures
def failed_frac(attempted: int, failed: int) -> float:
    """``ops_failed_frac``: failed over attempted operations (batches,
    reads and correctness checks)."""
    if attempted < 1:
        raise ValueError("no operations attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, attempted={attempted}]")
    return failed / attempted


# --------------------------------------------------------------------- A/A
def worse_by(a: float, b: float, better: str) -> float:
    """How much worse ``b`` is than ``a`` as a share of ``a`` (negative when
    ``b`` is better)."""
    if a == 0:
        return 0.0 if b == a else math.inf
    d = (b - a) / abs(a)
    return d if better == "lower" else -d


def agree(a: list[float], b: list[float], bound: float, better: str) -> dict:
    """Do two sets of runs of one commit agree within ``bound``? Neither
    median may be worse than the other by more than the bound."""
    ma, mb = median(a), median(b)
    worst = max(worse_by(ma, mb, better), worse_by(mb, ma, better))
    return {
        "median_a": ma,
        "median_b": mb,
        "worse_by": worst,
        "spread_a": quartile_spread(a) if len(a) > 1 else 0.0,
        "spread_b": quartile_spread(b) if len(b) > 1 else 0.0,
        "agree": worst <= bound,
    }
