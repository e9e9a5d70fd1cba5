"""Span arithmetic for the benchmark: interval unions, self time,
percentiles with their sample count, and the per-pass layer split.

Pure Python, no Spark: a span is any mapping with ``start`` and ``end``
(seconds on one clock).
"""

from __future__ import annotations

import math
import statistics
from datetime import datetime

#: percentiles considered when reporting a timing's tail
PERCENTILES = (50, 90, 95, 99, 99.9)


#: unit suffixes of Spark's formatted SQL metric values
_UNITS = {
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0 ** 2, "GiB": 1024.0 ** 3,
    "TiB": 1024.0 ** 4, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}


def metric_value(text: str | None) -> float:
    """Number in a formatted SQL metric value, in bytes, seconds or a
    plain count: ``"1,234"``, ``"399 ms"``, ``"63.5 KiB"``, or the
    multi-task form ``"total (min, med, max ...)\\n1.2 s (...)"``."""
    if not text:
        return 0.0
    head = text.split("\n")[-1].split(" (")[0].split()
    value = float(head[0].replace(",", ""))
    return value * _UNITS[head[1]] if len(head) > 1 else value


def iso_epoch(ts: str) -> float:
    """Epoch seconds of an ISO-8601 UTC timestamp such as Spark's
    streaming progress ``timestamp``."""
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def union(intervals) -> list[tuple[float, float]]:
    """Merge (start, end) pairs into sorted, disjoint intervals."""
    out: list[list[float]] = []
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [(s, e) for s, e in out]


def covered(intervals, lo: float, hi: float) -> float:
    """Length of [lo, hi] that the intervals cover."""
    return sum(
        max(0.0, min(e, hi) - max(s, lo)) for s, e in union(intervals)
    )


def self_time(span, children) -> float:
    """A span's duration minus the part of it its children cover."""
    lo, hi = span["start"], span["end"]
    return (hi - lo) - covered(((c["start"], c["end"]) for c in children), lo, hi)


def tail(samples) -> dict:
    """Median, sample count, and the highest of :data:`PERCENTILES` that
    has at least ten samples beyond it (``None`` when no percentile has)."""
    xs = sorted(samples)
    n = len(xs)
    out = {"n": n, "median": statistics.median(xs) if xs else None}
    best = None
    for p in PERCENTILES:
        if n * (100 - p) / 100 >= 10:
            best = p
    if best is not None:
        # nearest-rank percentile
        out["p"] = best
        out["value"] = xs[max(0, math.ceil(best / 100 * n) - 1)]
    else:
        out["p"] = out["value"] = None
    return out


def query_split(query: dict, cores: int) -> dict:
    """Split one query execution's wall time by layer.

    ``query`` holds ``start``/``end`` for the whole execution, ``build``
    and ``action`` sub-spans, and ``jobs``/``stages`` spans taken from
    Spark's status store (stages carry ``run_s``)."""
    lo, hi = query["start"], query["end"]
    wall = hi - lo
    build = query["build"]
    jobs = query["jobs"]
    stages = query["stages"]
    stage_iv = [(s["start"], s["end"]) for s in stages]
    stage_busy = covered(stage_iv, lo, hi)
    run_s = sum(s["run_s"] for s in stages)
    driver_s = wall - stage_busy
    return {
        "wall_s": wall,
        "build_s": build["end"] - build["start"],
        "build_self_s": self_time(build, jobs),
        "eager_jobs": sum(
            1 for j in jobs if build["start"] <= j["start"] < build["end"]
        ),
        "driver_s": driver_s,
        "stage_span_s": stage_busy,
        "run_s": run_s,
        "utilization": run_s / (stage_busy * cores) if stage_busy > 0 else 0.0,
        "driver_share": driver_s / wall if wall > 0 else 0.0,
    }


def pass_split(splits: list[dict], cores: int) -> dict:
    """Combine the per-query splits of one pass. Sums add; ratios are
    recomputed from the summed parts, not averaged."""
    tot = {k: sum(s[k] for s in splits) for k in (
        "wall_s", "build_s", "build_self_s", "eager_jobs", "driver_s",
        "stage_span_s", "run_s",
    )}
    tot["driver_share"] = tot["driver_s"] / tot["wall_s"] if tot["wall_s"] > 0 else 0.0
    tot["utilization"] = (
        tot["run_s"] / (tot["stage_span_s"] * cores) if tot["stage_span_s"] > 0 else 0.0
    )
    return tot
