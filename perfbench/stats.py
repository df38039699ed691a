"""Pure arithmetic of the benchmark: percentiles, pass rate, self time.

Kept free of Spark and I/O so the tests can pin it down exactly.
"""

from __future__ import annotations

import math
import statistics
from collections.abc import Iterable, Sequence

#: a percentile is reported only when at least this many samples lie
#: beyond it, so it is an observed tail rather than one or two outliers
MIN_BEYOND = 10


def median(values: Sequence[float]) -> float:
    if not values:
        raise ValueError("median of no values")
    return float(statistics.median(values))


def percentile(values: Sequence[float], q: float) -> float:
    """The ``q``-th percentile (0 < q < 100) as the nearest-rank order
    statistic: the smallest sample with at least q% of samples at or
    below it."""
    if not values:
        raise ValueError("percentile of no values")
    if not 0.0 < q < 100.0:
        raise ValueError(f"percentile {q} outside (0, 100)")
    ordered = sorted(values)
    rank = math.ceil(q / 100.0 * len(ordered))
    return float(ordered[max(rank, 1) - 1])


def samples_beyond(n: int, q: float) -> int:
    """Samples strictly above the nearest-rank ``q``-th percentile of ``n``."""
    return n - max(math.ceil(q / 100.0 * n), 1)


def tail_percentile(values: Sequence[float], q: float,
                    beyond: int = MIN_BEYOND) -> float:
    """The ``q``-th percentile, refusing a tail backed by fewer than
    ``beyond`` samples."""
    if samples_beyond(len(values), q) < beyond:
        raise ValueError(
            f"p{q:g} of {len(values)} samples leaves "
            f"{samples_beyond(len(values), q)} beyond it; need {beyond}"
        )
    return percentile(values, q)


def reportable_tail(n: int, candidates=(90, 75)) -> float | None:
    """The highest of ``candidates`` whose tail ``n`` samples back with
    at least ``MIN_BEYOND`` samples, or ``None``."""
    for q in sorted(candidates, reverse=True):
        if samples_beyond(n, q) >= MIN_BEYOND:
            return q
    return None


def pass_rate(executions: Iterable[tuple[str, bool]],
              checked_ok: dict[str, bool]) -> tuple[int, int]:
    """``(passed, attempted)`` over query executions.

    An execution passes when it completed (``True`` in the pair) and
    its query's output check passed. A query with no check result
    counts as failed: an unchecked output is not a correct one.
    """
    attempted = passed = 0
    for name, completed in executions:
        attempted += 1
        if completed and checked_ok.get(name, False):
            passed += 1
    return passed, attempted


def self_times(spans: Sequence[dict]) -> dict[int, float]:
    """Self time of every span: its duration minus the part of its
    interval that its direct children cover.

    Spans are dicts with ``id``, ``parent`` (``None`` for a root),
    ``start`` and ``end``. Overlapping children are merged first, so
    concurrent children are not subtracted twice, and each child is
    clipped to its parent's interval.
    """
    children: dict[int, list[tuple[float, float]]] = {}
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        p = s.get("parent")
        if p is not None and p in by_id:
            parent = by_id[p]
            lo = max(s["start"], parent["start"])
            hi = min(s["end"], parent["end"])
            if hi > lo:
                children.setdefault(p, []).append((lo, hi))
    out = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for lo, hi in sorted(children.get(s["id"], [])):
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def traced_turn(i: int) -> bool:
    """Whether the ``i``-th timed pass (from 0) of a traced run is traced.

    Passes run in pairs whose order swaps from pair to pair (T U, U T,
    T U, ...), so that neither kind always runs first while the process
    is still warming up.
    """
    return i % 2 == i // 2 % 2


def steal_share(p: dict, slots: int) -> float:
    """Share of a pass's slot time (wall x slots) the host stole."""
    return p["steal_s"] / (p["wall_s"] * slots)


def counted_passes(passes: list[dict], need: int, limit: float, slots: int) -> list[dict]:
    """The passes the metrics count: every pass whose steal share is at
    most ``limit``, topped up with the least disturbed others until there
    are ``need`` (or all passes, if fewer ran)."""
    clean = [p for p in passes if steal_share(p, slots) <= limit]
    rest = sorted((p for p in passes if steal_share(p, slots) > limit),
                  key=lambda p: steal_share(p, slots))
    return clean + rest[:max(0, need - len(clean))]
