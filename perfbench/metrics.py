"""Pure arithmetic behind the benchmark's reported numbers.

Kept free of Spark so the self-tests can pin every rule exactly.
"""

from __future__ import annotations

import json
import pathlib
import statistics
from collections.abc import Iterable, Sequence


# names and units of the reported metrics, in output order, as the
# benchmark's spec at the repository root lists them
_SPEC = json.loads((pathlib.Path(__file__).resolve().parents[1] / "BENCHMARK.json").read_text())
END_TO_END_UNITS = {m["name"]: m["unit"] for m in _SPEC["end_to_end"]}
PER_LAYER_UNITS = {m["name"]: m["unit"] for m in _SPEC["per_layer"]}

# samples the tail percentile keeps beyond it
_TAIL_BEYOND = 10


def median(values: Sequence[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


def tail_percentile(samples: Sequence[float]) -> tuple[float, float]:
    """The highest percentile that still has at least ``_TAIL_BEYOND``
    samples strictly above its rank, as ``(percentile, value)``.

    With ``n`` sorted samples the value at 0-based rank
    ``n - _TAIL_BEYOND - 1`` has exactly ``_TAIL_BEYOND`` samples after
    it; its percentile is the share of samples at or below it. When that
    rank would fall below the median (fewer than ``2 * _TAIL_BEYOND + 1``
    samples) there is no tail percentile to report: the maximum is
    returned as the 100th.
    """
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    if n < 2 * _TAIL_BEYOND + 1:
        return 100.0, xs[-1]
    rank = n - _TAIL_BEYOND - 1
    return 100.0 * (rank + 1) / n, xs[rank]


def union_length(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping ``(start, end)`` pairs."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals: Iterable[tuple[float, float]], lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]


def self_time(span: tuple[float, float], children: Iterable[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its children cover."""
    s, e = span
    return (e - s) - union_length(clip(children, s, e))


def span_self_times(spans: Sequence[dict]) -> dict[str, float]:
    """Sum of self time per span name over a span tree given as dicts
    with ``id``, ``name``, ``start``, ``end`` and ``parent`` (an id or
    ``None``)."""
    kids: dict[object, list[tuple[float, float]]] = {}
    for sp in spans:
        kids.setdefault(sp["parent"], []).append((sp["start"], sp["end"]))
    out: dict[str, float] = {}
    for sp in spans:
        own = self_time((sp["start"], sp["end"]), kids.get(sp["id"], ()))
        out[sp["name"]] = out.get(sp["name"], 0.0) + own
    return out


def slot_busy_frac(executor_run_s: float, slots: int, wall_s: float) -> float:
    """Share of the ``slots`` task slots kept busy over ``wall_s``."""
    if slots <= 0 or wall_s <= 0:
        return 0.0
    return executor_run_s / (slots * wall_s)


def calls_per_table(calls: Sequence[str]) -> float:
    """``load_table`` calls made by one query divided by the distinct
    tables they named: 1.0 means no table was loaded twice."""
    return len(calls) / len(set(calls)) if calls else 0.0

