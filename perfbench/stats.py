"""Percentiles that refuse to report a tail they have not seen."""
import math
import statistics

MIN_BEYOND = 10


class TooFewSamples(ValueError):
    pass


def percentile(values, p):
    """Nearest-rank ``p``-quantile (0 < p < 1) of ``values``.

    Raises ``TooFewSamples`` unless at least ``MIN_BEYOND`` samples lie
    beyond the reported rank, so a p90 needs 100 samples or more.
    """
    xs = sorted(values)
    n = len(xs)
    rank = max(1, math.ceil(p * n))
    if n - rank < MIN_BEYOND:
        raise TooFewSamples(
            f"p{round(p * 100)} of {n} samples has {n - rank} beyond it; "
            f"need {MIN_BEYOND}")
    return xs[rank - 1]


def median(values):
    if not values:
        raise TooFewSamples("median of no samples")
    return statistics.median(values)
