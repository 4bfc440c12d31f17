"""Percentiles and metric-name rules shared by the harness and its tests."""

from __future__ import annotations

import re
import statistics

#: a metric name: starts with a letter or digit, then letters, digits, `_`,
#: `.` and `-`, at most 64 characters
NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")

#: samples a tail percentile must leave beyond it
TAIL_BEYOND = 10


def valid_name(name: str) -> bool:
    return NAME_RE.fullmatch(name) is not None


def valid_unit(unit: str) -> bool:
    return UNIT_RE.fullmatch(unit) is not None


def median(xs):
    return statistics.median(xs) if xs else None


def tail(xs, beyond: int = TAIL_BEYOND):
    """The highest percentile that leaves at least `beyond` samples above it.

    Returns ``(value, percentile, n)``, or None when there are not more than
    `beyond` samples. With sorted samples s[0..n-1] the value is
    s[n-beyond-1]: exactly `beyond` samples lie beyond it, and it is the
    floor(100·(n-beyond)/n)-th percentile (n=20 → p50, n=100 → p90)."""
    n = len(xs)
    if n <= beyond:
        return None
    k = n - beyond - 1
    return sorted(xs)[k], (100 * (k + 1)) // n, n
