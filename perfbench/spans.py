"""Span records and the arithmetic the benchmark reports from them.

A span is a named interval with an optional parent and a trace id (one per
epoch). Spans made in this process are kept in memory; Spark's Python
workers (the streaming source runner and executor tasks) have no end-of-run
hook, so a span made there is appended as one JSON line to a file of its own
process, and the files are read back once the run is over.
"""

from __future__ import annotations

import json
import math
import os
from collections.abc import Iterable, Sequence
from dataclasses import asdict, dataclass, field

import numpy as np


@dataclass
class Span:
    name: str
    start: float
    end: float
    trace: str | None = None  # epoch id the span belongs to
    parent: str | None = None  # name of the enclosing span
    attrs: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class SpanLog:
    """In-memory span list for the benchmark's own process."""

    def __init__(self) -> None:
        self.spans: list[Span] = []

    def add(self, name: str, start: float, end: float, **kw) -> Span:
        span = Span(name, start, end, **kw)
        self.spans.append(span)
        return span

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]


def emit_worker_span(trace_dir: str, name: str, start: float, end: float, **attrs) -> None:
    """Append one span from a Spark-side Python process to its own file."""
    path = os.path.join(trace_dir, f"spans-{os.getpid()}.jsonl")
    with open(path, "a", encoding="utf-8") as f:
        f.write(json.dumps({"name": name, "start": start, "end": end, "attrs": attrs}) + "\n")


def read_worker_spans(trace_dir: str) -> list[Span]:
    out: list[Span] = []
    for fname in sorted(os.listdir(trace_dir)):
        if fname.startswith("spans-"):
            with open(os.path.join(trace_dir, fname), encoding="utf-8") as f:
                out.extend(Span(**json.loads(line)) for line in f)
    return out


def percentile(values: Iterable[float], q: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least `q`
    percent of the samples at or below it (always an observed value)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(q / 100.0 * len(xs)))
    return xs[rank - 1]


def samples_beyond(n: int, q: float) -> int:
    """How many of `n` samples lie above the nearest-rank `q` percentile."""
    return n - max(1, math.ceil(q / 100.0 * n))


def self_ms(parent: Span, children: Sequence[Span]) -> float:
    """Parent duration minus the part of it that children cover; children
    are clipped to the parent and overlaps between them count once."""
    covered = 0.0
    cur_lo = cur_hi = None
    for c in sorted(children, key=lambda s: s.start):
        lo, hi = max(c.start, parent.start), min(c.end, parent.end)
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return (parent.end - parent.start - covered) * 1000.0


def epoch_of_lines(ends: Sequence[int], lines) -> np.ndarray:
    """Attribute feed lines to epochs. `ends[k]` is the feed position (line
    count) epoch k ended at, ascending; epoch k covers lines
    ``[ends[k-1], ends[k])``. Returns the epoch index per line, or -1 for a
    line no epoch covered."""
    k = np.searchsorted(np.asarray(ends), np.asarray(lines), side="right")
    return np.where(k < len(ends), k, -1)


def to_dicts(spans: Iterable[Span]) -> list[dict]:
    return [asdict(s) for s in spans]
