"""Pure arithmetic of the benchmark's metrics (no Spark), unit tested."""

from __future__ import annotations

import statistics

# Latency percentiles the report may use, highest first.
PERCENTILES = (99.9, 99.0, 90.0, 50.0)


def supported(n: int, p: float) -> bool:
    """A percentile is reported only with at least ten samples beyond it."""
    return n * (100.0 - p) / 100.0 >= 10.0 - 1e-9


def highest_supported(n: int) -> float | None:
    """The highest percentile of :data:`PERCENTILES` that ``n`` samples
    support, or None when not even the median has ten samples beyond it."""
    for p in PERCENTILES:
        if supported(n, p):
            return p
    return None


def pass_total(latencies: dict[str, list[float]], per_pass: dict[str, int]) -> float:
    """Time of one pass over the op schedule with each op at its median:
    sum over op kinds of (median latency x occurrences per pass).  With one
    occurrence per kind this is the headline ``sum of per-query warm
    medians``."""
    return sum(
        statistics.median(latencies[kind]) * count
        for kind, count in per_pass.items()
        if latencies.get(kind)
    )


def ratio(num: float, den: float) -> float:
    """``num / den``; 0 when there is no base (nothing submitted/live)."""
    return num / den if den > 0 else 0.0


def write_amp(bytes_written: int, logical_submitted: int) -> float:
    """Bytes the engine wrote under the table directories per logical
    byte of rows the workload submitted."""
    return ratio(bytes_written, logical_submitted)


def space_amp(bytes_on_disk: int, logical_live: int) -> float:
    """On-disk bytes of the table directories per logical byte of the rows
    that are live at the end of the run."""
    return ratio(bytes_on_disk, logical_live)


def logical_row_bytes(row: tuple) -> int:
    """Logical size of one entity row: 8 bytes per int/float field, the
    UTF-8 length of each string field."""
    n = 0
    for v in row:
        n += len(v.encode()) if isinstance(v, str) else 8
    return n


def quartile_spread(values: list[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median (``statistics.quantiles(values, n=4)``)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2
