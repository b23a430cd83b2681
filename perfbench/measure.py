"""Summary statistics and result comparison used by every workload."""

from __future__ import annotations

import statistics

# a tail percentile must leave at least this many samples beyond it
TAIL_MIN_BEYOND = 10


def tail(values: list[float], min_beyond: int = TAIL_MIN_BEYOND) -> dict:
    """The highest percentile that still has ``min_beyond`` samples above
    it: with n sorted samples that is the (n - min_beyond)-th smallest,
    reported as percentile 100 * (n - min_beyond) / n.  Raises when the
    sample is too small to have any such percentile."""
    n = len(values)
    if n <= min_beyond:
        raise ValueError(
            f"{n} samples cannot support a tail with {min_beyond} beyond it"
        )
    ranked = sorted(values)
    return {
        "value": ranked[n - min_beyond - 1],
        "percentile": round(100.0 * (n - min_beyond) / n, 2),
        "samples": n,
    }


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def slice_rate(stamps: list[float], t0: float, t1: float,
               width: float = 1.0) -> float:
    """Median, over the whole ``width``-second slices of [t0, t1), of the
    number of ``stamps`` (completion times) in the slice, per second.  A
    stall that covers less than half the slices leaves it unchanged, where
    count / elapsed would drop with it.  Raises when [t0, t1) holds no
    whole slice."""
    n = int((t1 - t0) / width)
    if n < 1:
        raise ValueError(f"[{t0}, {t1}) holds no whole {width}-second slice")
    counts = [0] * n
    for t in stamps:
        i = int((t - t0) / width)
        if 0 <= i < n:
            counts[i] += 1
    return median(counts) / width


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, with the quartiles of
    ``statistics.quantiles(values, n=4)``."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def topk_key(rows) -> list[tuple[int, float]]:
    """Rank-identity key of a top-k result: (doc_id, score to 6 dp) in
    result order.  Accepts (doc_id, score, ...) tuples or Spark Rows."""
    return [(int(r[0]), round(float(r[1]), 6)) for r in rows]


def same_topk(got, want) -> bool:
    return topk_key(got) == topk_key(want)
