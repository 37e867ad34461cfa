"""Pure helpers: percentiles, span self time, metric names and the
result-content hash. No Spark here, so the unit tests run without a
session."""

from __future__ import annotations

import hashlib
import math
import re

# metric names: letters, digits, '_', '.' and '-'
NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")

# A tail percentile is reported only with at least this many samples
# beyond it; below that it is noise dressed as a number.
MIN_TAIL_SAMPLES = 10
_TAILS = (0.99, 0.95, 0.9, 0.75, 0.5)


def percentile(values, p: float) -> float:
    """Linear-interpolated percentile, ``p`` in [0, 1]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = p * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int) -> float | None:
    """Highest percentile of ``n`` samples that leaves at least
    ``MIN_TAIL_SAMPLES`` samples beyond it, or None."""
    for p in _TAILS:
        # rounded: 100 * (1 - 0.9) is 9.999999999999998 in floats
        if round(n * (1.0 - p), 9) >= MIN_TAIL_SAMPLES:
            return p
    return None


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)
    )
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(start: float, end: float, children) -> float:
    """Span duration minus the part of it its children cover."""
    return (end - start) - union_length(children, start, end)


def _cell(v) -> str:
    if isinstance(v, float):
        return "nan" if v != v else f"{v:.9g}"
    if hasattr(v, "tolist"):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_cell(x)}" for k, x in sorted(v.items())) + "}"
    return str(v)


def content_hash(pdf) -> tuple[int, str]:
    """(row count, order-free hash) of a result frame: columns by name,
    rows sorted, floats to 9 significant digits so a change in
    summation order does not count as a different result."""
    cols = sorted(pdf.columns)
    rows = sorted(
        "\x1f".join(_cell(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    )
    h = hashlib.sha256("\x1f".join(cols).encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\x1e")
    return len(rows), h.hexdigest()
