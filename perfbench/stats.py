"""Order statistics used to summarise benchmark samples."""

from __future__ import annotations

import re
import statistics


def median(values) -> float:
    vals = list(values)
    if not vals:
        raise ValueError("median of no samples")
    return float(statistics.median(vals))


def quartiles(values) -> tuple[float, float, float]:
    """(Q1, median, Q3) as ``statistics.quantiles(values, n=4)`` gives them."""
    vals = list(values)
    if len(vals) < 2:
        raise ValueError("quartiles need at least two samples")
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    return float(q1), float(q2), float(q3)


def spread(values) -> float:
    """Interquartile range as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2


_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_SIZE_RE = re.compile(r"(-?[0-9][0-9.,]*)\s*(B|KiB|MiB|GiB|TiB)\b")


def parse_size(text: str) -> float:
    """Bytes in a Spark SQL size-metric string.

    Spark renders a size metric either as one value (``"8.5 KiB"``) or as
    ``"total (min, med, max ...)\\n8.5 KiB (2.1 KiB, ...)"``; the total is
    the first size on the last line.
    """
    m = _SIZE_RE.search(text.strip().splitlines()[-1])
    if m is None:
        raise ValueError(f"not a size metric: {text!r}")
    return float(m.group(1).replace(",", "")) * _SIZE_UNITS[m.group(2)]
