"""Pure statistics and accounting helpers (no Spark), self-checked by
perfbench/tests/test_selfcheck.py."""

from __future__ import annotations

# Percentiles the tail metric may report, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def tail_percentile(n: int) -> float | None:
    """Highest ladder percentile with at least ten samples beyond it
    (n * (1 - p/100) >= 10); None when n < 20 leaves no such rung."""
    for p in TAIL_LADDER:
        if n * (100.0 - p) >= 1000.0 - 1e-9:
            return p
    return None


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    k = max(1, -(-len(s) * p // 100))  # ceil(n*p/100), at least rank 1
    return s[int(k) - 1]


def tail(values: list[float], n_design: int | None = None) -> tuple[float, float]:
    """(value, percentile) of the tail rule.  The rung is chosen from
    n_design, the sample count the workload guarantees per run, so a
    run that fits in a few more samples reports the same percentile;
    below 20 samples there is no rung and the maximum is reported as
    percentile 100."""
    p = tail_percentile(len(values) if n_design is None else min(n_design, len(values)))
    if p is None:
        return max(values), 100.0
    return percentile(values, p), p


def p50(values: list[float]) -> float:
    """Nearest-rank median, the same rule as the tail, so p50 <= tail."""
    return percentile(values, 50.0)


def failed_frac(attempted: int, failed: int) -> float:
    if attempted < 1:
        raise ValueError("no operations attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, attempted={attempted}]")
    return failed / attempted


def lost_points(acknowledged: dict, observed: dict) -> int:
    """Acknowledged points missing from the final read: a point counts
    as lost when its (series, tick) is absent or carries another value
    than the last acknowledged write."""
    return sum(1 for key, v in acknowledged.items() if observed.get(key) != v)
