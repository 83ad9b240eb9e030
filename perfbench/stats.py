"""Small pure helpers: percentiles and order-insensitive output fingerprints."""

from __future__ import annotations

import hashlib
import json
import math
from collections.abc import Iterable, Sequence

PERCENTILE_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
MIN_BEYOND = 10


def tail_percentile(n: int, ladder: Sequence[float] = PERCENTILE_LADDER) -> float | None:
    """Highest percentile on ``ladder`` with at least ``MIN_BEYOND`` of
    ``n`` samples beyond it, or None when even the lowest has fewer."""
    best = None
    for p in ladder:
        if n * (100.0 - p) >= 100.0 * MIN_BEYOND - 1e-6:  # float slack: 100 - 99.9
            best = p
    return best


def percentile(values: Sequence[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default rule)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def canonical(value) -> str:
    """A total, type-tagged text form of one cell.

    Nested values (lists, tuples, dicts, Rows, numpy arrays) canonicalize
    element by element, dict keys sorted; NULL, NaN and the infinities get
    fixed spellings; -0.0 equals 0.0. Every value maps to a string, so
    rows built from any mix of types sort without comparing unlike types."""
    if value is None:
        return "N"
    if hasattr(value, "asDict"):  # pyspark Row
        value = value.asDict(recursive=False)
    if hasattr(value, "tolist") and not isinstance(value, (str, bytes)):  # numpy
        value = value.tolist()
    if isinstance(value, bool):
        return "b1" if value else "b0"
    if isinstance(value, int):
        return f"i{value}"
    if isinstance(value, float):
        if math.isnan(value):
            return "fNaN"
        if math.isinf(value):
            return "f+inf" if value > 0 else "f-inf"
        return f"f{value + 0.0!r}"
    if isinstance(value, dict):
        items = sorted((canonical(k), canonical(v)) for k, v in value.items())
        return "{" + ",".join(f"{k}:{v}" for k, v in items) + "}"
    if isinstance(value, (list, tuple)):
        return "[" + ",".join(canonical(v) for v in value) + "]"
    if isinstance(value, (bytes, bytearray)):
        return "x" + bytes(value).hex()
    return "s" + json.dumps(str(value))


def fingerprint(rows: Iterable[Sequence]) -> tuple[int, str]:
    """(row count, order-insensitive sha256 over the canonical rows)."""
    lines = sorted("\x1f".join(canonical(v) for v in row) for row in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\x1e")
    return len(lines), h.hexdigest()
