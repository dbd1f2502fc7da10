"""The tail-percentile rule used by every workload report."""

from __future__ import annotations

#: a tail percentile is reported only when at least this many samples lie
#: beyond it, so one outlier cannot be the whole tail
TAIL_BEYOND = 10


def tail(values, beyond: int = TAIL_BEYOND):
    """The highest percentile with at least ``beyond`` samples above it.

    Returns ``(percentile, value)`` by nearest rank, or ``None`` when the
    sample has ``beyond`` or fewer values and so supports no tail."""
    n = len(values)
    if n <= beyond:
        return None
    k = n - beyond - 1  # 0-based rank with exactly ``beyond`` ranks above
    return 100.0 * (k + 1) / n, sorted(values)[k]


def describe_tail(values, unit: str) -> str:
    t = tail(values)
    if t is None:
        return f"n/a (n={len(values)}: a tail needs more than {TAIL_BEYOND} samples)"
    pct, v = t
    return f"{v:.4f} {unit} (p{pct:.1f}, n={len(values)}, {TAIL_BEYOND} beyond)"
