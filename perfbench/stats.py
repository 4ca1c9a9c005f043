"""Pure helpers of the engine benchmark: percentile reporting, span self
time and order-insensitive result fingerprints. No Spark, no I/O."""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math
import statistics
from collections.abc import Iterable, Sequence

#: percentiles considered for the tail figure, highest last
TAIL_PERCENTILES = (90.0, 99.0, 99.9)
#: a percentile is reported only with at least this many samples beyond it
MIN_TAIL_SAMPLES = 10


def percentile(values: Sequence[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p``% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return s[rank - 1]


def tail_percentile(n: int) -> float | None:
    """The highest of ``TAIL_PERCENTILES`` that has at least
    ``MIN_TAIL_SAMPLES`` of ``n`` samples beyond it, or None."""
    best = None
    for p in TAIL_PERCENTILES:
        if round(n * (100.0 - p) / 100.0, 9) >= MIN_TAIL_SAMPLES:
            best = p
    return best


def summarize(values: Sequence[float]) -> dict:
    """Median, sample count and the one tail percentile the sample count
    supports (``{"p50": .., "n": .., "p90": ..}``); no tail key when fewer
    than ``MIN_TAIL_SAMPLES`` samples would lie beyond every candidate."""
    out: dict = {"n": len(values)}
    if not values:
        return out
    out["p50"] = statistics.median(values)
    p = tail_percentile(len(values))
    if p is not None:
        out[f"p{p:g}"] = percentile(values, p)
    return out


def covered(intervals: Iterable[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)
    )
    total, cur_a, cur_b = 0.0, None, None
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


def self_times(spans: Sequence[dict]) -> dict[int, float]:
    """``{span id: self seconds}``: a span's duration minus the part of its
    interval that its child spans cover (children may overlap each other,
    so the union counts once)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.get("parent") is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - covered(children.get(s["id"], ()), s["start"], s["end"])
        for s in spans
    }


def _canon(v) -> str:
    """Engine-independent text form of one value: NULL and NaN agree,
    -0.0 equals 0.0, floats keep every digit, timestamps are ISO."""
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "<NULL>"
    if isinstance(v, float):
        return repr(v + 0.0)
    if isinstance(v, decimal.Decimal):
        return format(v.normalize(), "f")
    if isinstance(v, (dt.datetime, dt.date)):  # pandas.Timestamp too
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def fingerprint(rows: Iterable[Sequence]) -> str:
    """Order-insensitive fingerprint of a multiset of rows:
    ``"<count>:<sum of 64-bit row hashes mod 2^64>"``. Equal multisets give
    equal fingerprints whatever the row order; a changed, missing or
    duplicated row changes it."""
    n, acc = 0, 0
    for row in rows:
        text = "\x1f".join(_canon(v) for v in row)
        h = hashlib.blake2b(text.encode(), digest_size=8).digest()
        acc = (acc + int.from_bytes(h, "little")) % (1 << 64)
        n += 1
    return f"{n}:{acc:016x}"
