"""Summary statistics and result canonicalization for the benchmark."""

from __future__ import annotations

import hashlib
import math
import statistics

import pandas as pd


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def tail(values: list[float], beyond: int = 10) -> tuple[float, float, int]:
    """The highest percentile that still has at least ``beyond`` samples
    above it: ``(value, percentile, samples_beyond)``.

    With n samples sorted ascending, the sample at index ``n - beyond - 1``
    has exactly ``beyond`` samples above it; its percentile is the share
    of samples at or below it. With ``beyond`` or fewer samples no such
    percentile exists and the maximum is reported as the 100th percentile
    with no samples beyond."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    if n <= beyond:
        return xs[-1], 100.0, 0
    i = n - beyond - 1
    return xs[i], 100.0 * (i + 1) / n, beyond


def _cell(v) -> str:
    # the oracle checker's cell rules (tools/check_oracle.py): NULL and
    # NaN alike, exact float repr, naive ISO timestamps
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, pd.Timestamp):
        return v.tz_localize(None).isoformat() if v.tzinfo else v.isoformat()
    return str(v)


def result_digest(df: pd.DataFrame) -> str:
    """Order-insensitive digest of a result: sorted column names, then
    the sorted rows of canonical cells, as the oracle checker compares
    them."""
    cols = sorted(df.columns)
    rows = sorted(tuple(_cell(v) for v in row) for row in df[cols].itertuples(index=False))
    h = hashlib.sha256(repr(cols).encode())
    for row in rows:
        h.update(repr(row).encode())
    return f"{len(rows)}:{h.hexdigest()[:32]}"
