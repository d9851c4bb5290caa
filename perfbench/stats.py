"""The tail percentile rule the benchmark reports latency by, and its
throughput estimate."""

from __future__ import annotations

import statistics

#: Percentiles a tail may be reported at, highest last.
TAIL_PERCENTILES = (90.0, 99.0, 99.9)


def tail_percentile(n: int) -> float | None:
    """The highest percentile with at least ten of ``n`` samples beyond it,
    or None when even the 90th has fewer than ten."""
    best = None
    for p in TAIL_PERCENTILES:
        # integer form of n * (1 - p/100) >= 10, exact for 99.9
        if n * (1000 - round(p * 10)) >= 10_000:
            best = p
    return best


def pass_throughput(op_times: dict[str, list[float]], completed: int) -> float:
    """Ops completed per second of a typical pass: the ops completed per
    pass over the sum of each op's median time. A run holds only a few
    passes, and an execution the shared machine slowed moves an op's
    median far less than it moves a total."""
    n_pass = len(next(iter(op_times.values())))
    return completed / n_pass / sum(statistics.median(t) for t in op_times.values())
