"""Order statistics and sample-count rules for benchmark reports.

Pure Python, no Spark: unit-tested in ``test_perfbench.py``.
"""

from __future__ import annotations

import statistics

# Tail percentiles considered for publication, highest first.
TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0)
# A tail is published only with at least this many samples beyond it.
MIN_BEYOND_TAIL = 10


def median(xs: list[float]) -> float:
    if not xs:
        raise ValueError("median of no samples")
    return float(statistics.median(xs))


def percentile(xs: list[float], p: float) -> float:
    """Linear-interpolated percentile (``p`` in [0, 100])."""
    if not xs:
        raise ValueError("percentile of no samples")
    s = sorted(xs)
    pos = (len(s) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return float(s[lo] + (s[hi] - s[lo]) * (pos - lo))


def tail_rank(n: int) -> float | None:
    """The highest candidate percentile with ``MIN_BEYOND_TAIL`` samples
    beyond it in a run of ``n`` samples, or None when no tail qualifies."""
    for p in TAIL_CANDIDATES:
        if round(n * (100.0 - p) / 100.0, 6) >= MIN_BEYOND_TAIL:
            return p
    return None


def summarize(xs: list[float]) -> dict:
    """Median plus, where the sample count allows, one tail percentile."""
    out = {"n": len(xs), "p50": median(xs)}
    p = tail_rank(len(xs))
    if p is not None:
        out[f"p{p:g}"] = percentile(xs, p)
    return out


def failed_ratio(failed: int, attempted: int) -> float:
    """Failed or wrong-output operations over attempted ones."""
    if attempted <= 0:
        raise ValueError("no operations attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, attempted={attempted}]")
    return failed / attempted
