"""Seeded changefeed recordings in the ``crdb_changefeed`` replay format.

A feed is JSONL ``[table, key, value]`` triples laid out in blocks: ``block``
change rows, then one resolved row (``[null, null, {"resolved": hlc}]``).
Every change row's value carries ``seq`` (its index among change rows) and
``due_us`` (when the row is due, in microseconds after the feed's start).
The resolved row that closes block ``j`` is due with the first row of block
``j + 1``; its HLC wall time is that due time in nanoseconds.

Where the traffic's shape comes from:

* keys are Zipf-distributed with exponent 0.99, YCSB's default request
  skew (Cooper et al., "Benchmarking Cloud Serving Systems with YCSB",
  SoCC 2010), over ``N_KEYS`` ids: the 1,500 user ids of the
  100,000-row sf0.1 ``events`` fixture;
* change rows go round-robin over the first four table names of the
  repository's soak feed (``tools/stream_soak.py``), the way
  ``tools/stream_bench.write_feed`` interleaves tables;
* ``after`` holds the fields of the repository's own changefeed replay of
  ``events`` (``plans/cdc.py``): the key, a ``user_id`` and the ``props``
  JSON ``{"k": 0..99}``, plus ``seq`` and ``due_us``.

The same seed gives the same bytes. The program under test only ever sees
the written file.

``python3 -m perfbench.feedgen --src S --out F --rate R --start-ns T`` is
the open-loop generator: from its own process it appends the lines of the
rendered feed ``S`` to ``F`` as they fall due (due time zero is unix time
``T`` ns), whether or not anything reads them, and prints ``{"lines": n,
"late_ms_max": ms}`` when done. While a file grows, a reader can see a
write's first page before its second, so live lines are padded to never
straddle a 4 KiB page: every page a reader can see ends on a line boundary.
"""

from __future__ import annotations

import argparse
import json
import os
import time
from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np

TABLES = ("orders", "lineitem", "customer", "part")
N_KEYS = 1_500
ZIPF_S = 0.99
PROPS_K = 100  # props {"k": 0..99}, as in the events fixture
PAGE = 4096


def due_us(line, block: int, rate: int):
    """Due time in microseconds of feed line `line` when `block` change rows
    separate resolved rows and `rate` change rows fall due per second. A
    resolved row is due with the first row of the next block."""
    changes_before = (line // (block + 1)) * block + (line % (block + 1))
    return changes_before * 1_000_000 // rate


@dataclass(frozen=True)
class FeedSpec:
    seed: int
    n_changes: int
    block: int  # change rows between two resolved rows
    rate: int  # change rows per second of due time
    page_align: bool = False  # pad lines so none straddles a PAGE boundary

    @property
    def n_lines(self) -> int:
        return self.n_changes + self.n_changes // self.block

    def is_resolved_line(self, line):
        """Whether a line (an int or a numpy array of them) is a resolved row."""
        return line % (self.block + 1) == self.block

    def due_us(self, line):
        """Due time of a line (an int or a numpy array of them)."""
        return due_us(line, self.block, self.rate)

    def resolved_hlc(self, line: int) -> str:
        return f"{self.due_us(line) * 1000}.0000000000"


def draw(spec: FeedSpec) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """(key id, table index, user id, props k) per change row, from the seed."""
    rng = np.random.default_rng(spec.seed)
    ranks = np.arange(1, N_KEYS + 1, dtype=np.float64)
    cdf = np.cumsum(ranks**-ZIPF_S)
    cdf /= cdf[-1]
    rank = np.searchsorted(cdf, rng.random(spec.n_changes), side="right")
    # hot ranks map to scattered ids, not to 0, 1, 2, ...
    keys = rng.permutation(N_KEYS)[np.minimum(rank, N_KEYS - 1)]
    tables = np.arange(spec.n_changes) % len(TABLES)
    users = rng.integers(0, N_KEYS, size=spec.n_changes)
    props = rng.integers(0, PROPS_K, size=spec.n_changes)
    return keys, tables, users, props


def _change_line(table: str, key: int, user: int, k: int, seq: int, due_us: int, pad: int) -> str:
    # `pad` is non-zero only where a live feed widens a line to a page end
    return (
        f'["{table}","[{key}]","{{\\"after\\":{{\\"id\\":{key},\\"user_id\\":{user},'
        f'\\"props\\":{{\\"k\\":{k}}},\\"seq\\":{seq},\\"due_us\\":{due_us},'
        f'\\"pad\\":\\"{"x" * pad}\\"}}}}"]\n'
    )


def _resolved_line(hlc: str) -> str:
    return f'[null,null,"{{\\"resolved\\":\\"{hlc}\\"}}"]\n'


def render(spec: FeedSpec) -> Iterator[str]:
    """Every line of the feed, in order."""
    keys, tables, users, props = draw(spec)

    def change(line: int, pad: int = 0) -> str:
        seq = line - line // (spec.block + 1)
        return _change_line(
            TABLES[tables[seq]], int(keys[seq]), int(users[seq]), int(props[seq]), seq, spec.due_us(line), pad
        )

    held: list[str] = []  # the latest change line and the lines after it
    last_change = -1
    offset = 0
    for line in range(spec.n_lines):
        resolved = spec.is_resolved_line(line)
        text = _resolved_line(spec.resolved_hlc(line)) if resolved else change(line)
        room = PAGE - offset % PAGE
        if spec.page_align and len(text) > room:
            # widen the latest change line so this one starts on the page
            # boundary instead of crossing it
            held[0] = change(last_change, len(held[0]) - len(change(last_change)) + room)
            offset += room
        if not resolved:
            yield from held
            held = []
            last_change = line
        held.append(text)
        offset += len(text)
    yield from held


def write_feed(path: str, spec: FeedSpec) -> None:
    with open(path, "w", encoding="ascii") as f:
        f.writelines(render(spec))


def append_live(src: str, out: str, rate: int, start_at: float) -> dict:
    """Append each line of the live feed `src` (rendered by ``live_spec``
    at `rate`) to `out` once it is due; wall clock `start_at` is due time
    zero. Returns the line count and how late the latest write ran behind
    its first line's due time."""
    with open(src, "rb") as f:
        lines = f.readlines()
    due = [start_at + due_us(i, rate, rate) / 1e6 for i in range(len(lines))]
    late_max = 0.0
    i = 0
    fd = os.open(out, os.O_WRONLY | os.O_APPEND | os.O_CREAT, 0o644)
    try:
        while i < len(lines):
            now = time.time()
            if due[i] > now:
                time.sleep(min(due[i] - now, 0.05))
                continue
            j = i
            while j < len(lines) and due[j] <= now:
                j += 1
            os.write(fd, b"".join(lines[i:j]))
            late_max = max(late_max, time.time() - due[i])
            i = j
    finally:
        os.close(fd)
    return {"lines": len(lines), "late_ms_max": late_max * 1000}


def live_spec(seed: int, rate: int, seconds: int) -> FeedSpec:
    """`seconds` of `rate` change rows per second and one resolved row per
    second, page-aligned for appending while it is read."""
    return FeedSpec(seed, rate * seconds, block=rate, rate=rate, page_align=True)


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--src", required=True, help="the rendered live feed")
    ap.add_argument("--out", required=True)
    ap.add_argument("--rate", type=int, required=True, help="change rows per second")
    ap.add_argument("--start-ns", type=int, required=True, help="unix time of due time zero, in ns")
    args = ap.parse_args(argv)
    print(json.dumps(append_live(args.src, args.out, args.rate, args.start_ns / 1e9)), flush=True)


if __name__ == "__main__":
    main()
