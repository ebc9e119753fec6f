"""In-memory span recorder and the arithmetic the benchmark reports with.

Spans are recorded only by benchmark code, around calls into the
package's public functions; nothing inside ``pdf2doi_spark`` is traced.
"""
from __future__ import annotations

import json
import math
import statistics
import time
from contextlib import contextmanager
from typing import Dict, List, Optional


class Tracer:
    """Nested spans ``(name, start, end, parent, run_id)`` kept in memory
    and written out once, by ``dump``, when the run ends."""

    def __init__(self, run_id: str, clock=time.perf_counter):
        self.run_id = run_id
        self.spans: List[dict] = []
        self._stack: List[int] = []
        self._clock = clock

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"id": len(self.spans), "name": name, "run_id": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": self._clock(), "end": None, "attrs": attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = self._clock()

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh, indent=1)


def duration(span: dict) -> float:
    return span["end"] - span["start"]


def self_times(spans: List[dict]) -> Dict[int, float]:
    """Span id -> duration minus its children's durations. The Tracer's
    context-manager stack nests children strictly inside their parent and
    never lets siblings overlap, so the sum is the time they cover."""
    child_total: Dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child_total[s["parent"]] = (child_total.get(s["parent"], 0.0)
                                        + duration(s))
    return {s["id"]: duration(s) - child_total.get(s["id"], 0.0)
            for s in spans}


def self_time_by_name(spans: List[dict]) -> Dict[str, float]:
    st = self_times(spans)
    out: Dict[str, float] = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + st[s["id"]]
    return out


# samples a reported tail percentile must have beyond it
TAIL_MIN_BEYOND = 10


def tail_percentile(n: int) -> Optional[int]:
    """Highest whole percentile above the median with at least
    ``TAIL_MIN_BEYOND`` of ``n`` samples beyond it, or None if the sample
    is too small for any."""
    if n <= 0:
        return None
    p = math.floor(100 * (1 - TAIL_MIN_BEYOND / n))
    return p if p > 50 else None


def percentile(values: List[float], p: float) -> float:
    """Nearest-rank percentile (``p`` in 0..100) of a non-empty sample."""
    ordered = sorted(values)
    k = max(1, math.ceil(p / 100 * len(ordered)))
    return ordered[k - 1]


def summarize(values: List[float]) -> dict:
    """Median, the highest supported tail percentile and the count."""
    out = {"n": len(values), "median": statistics.median(values)}
    p = tail_percentile(len(values))
    if p is not None:
        out[f"p{p}"] = percentile(values, p)
    return out


def quartile_spread(values: List[float]) -> float:
    """(Q3 - Q1) / median, with quartiles as ``statistics.quantiles``
    gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2
