"""Unit tests of the benchmark's own arithmetic and generator; no Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import numpy as np
import pyarrow.parquet as pq
import pytest

from perfbench.feedgen import N_KEYS, PAGE, TABLES, FeedSpec, draw, live_spec, render, write_feed
from perfbench.spans import Span, epoch_of_lines, percentile, samples_beyond, self_ms
from perfbench.tablegen import sizes, write_tables

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# -- percentile rule ---------------------------------------------------------


def test_percentile_is_nearest_rank():
    xs = [15, 20, 35, 40, 50]
    assert percentile(xs, 5) == 15
    assert percentile(xs, 30) == 20
    assert percentile(xs, 40) == 20
    assert percentile(xs, 50) == 35
    assert percentile(xs, 100) == 50
    assert percentile(reversed(xs), 50) == 35  # order of input does not matter


def test_percentile_returns_an_observed_sample():
    xs = [1.0, 2.0, 10.0, 11.0]
    assert percentile(xs, 50) == 2.0  # not the interpolated 6.0
    assert percentile(xs, 90) == 11.0


def test_percentile_of_nothing_raises():
    with pytest.raises(ValueError):
        percentile([], 50)


def test_samples_beyond_counts_the_tail():
    # a p90 is only an honest tail with at least ten samples beyond it
    assert samples_beyond(100, 90) == 10
    assert samples_beyond(99, 90) == 9
    assert samples_beyond(20, 50) == 10
    assert samples_beyond(1, 50) == 0


# -- attribution of messages to epochs --------------------------------------


def test_lines_attribute_to_the_epoch_whose_range_holds_them():
    ends = [3, 7, 7, 10]  # epoch 2 read nothing new
    assert epoch_of_lines(ends, [0, 2, 3, 6, 7, 9]).tolist() == [0, 0, 1, 1, 3, 3]


def test_lines_past_the_last_epoch_are_unattributed():
    assert epoch_of_lines([5], [4, 5, 100]).tolist() == [0, -1, -1]
    assert epoch_of_lines([], [0]).tolist() == [-1]


# -- self time ---------------------------------------------------------------


def test_self_time_subtracts_children():
    parent = Span("body", 0.0, 1.0)
    kids = [Span("publish", 0.1, 0.4), Span("cursor", 0.5, 0.6)]
    assert self_ms(parent, kids) == pytest.approx(600.0)


def test_self_time_counts_overlapping_children_once():
    parent = Span("body", 0.0, 1.0)
    kids = [Span("a", 0.1, 0.5), Span("b", 0.3, 0.7), Span("c", 0.7, 0.8)]
    assert self_ms(parent, kids) == pytest.approx(300.0)


def test_self_time_clips_children_to_the_parent():
    parent = Span("body", 1.0, 2.0)
    kids = [Span("before", 0.0, 1.25), Span("after", 1.75, 3.0), Span("outside", 5.0, 6.0)]
    assert self_ms(parent, kids) == pytest.approx(500.0)
    assert self_ms(parent, []) == pytest.approx(1000.0)


# -- generator ---------------------------------------------------------------


def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    spec = FeedSpec(seed=7, n_changes=3 * 999, block=999, rate=1_000_000)
    a, b = tmp_path / "a.jsonl", tmp_path / "b.jsonl"
    write_feed(str(a), spec)
    write_feed(str(b), spec)
    assert a.read_bytes() == b.read_bytes()
    other = FeedSpec(seed=8, n_changes=3 * 999, block=999, rate=1_000_000)
    assert "".join(render(other)) != a.read_text()


def test_feed_layout_seq_due_and_resolved_rows():
    spec = FeedSpec(seed=1, n_changes=4 * 5, block=5, rate=10)
    lines = [json.loads(x) for x in render(spec)]
    assert len(lines) == spec.n_lines == 24
    seqs = []
    for i, (table, key, value) in enumerate(lines):
        v = json.loads(value)
        if spec.is_resolved_line(i):
            assert table is None and key is None
            assert v["resolved"] == spec.resolved_hlc(i)
        else:
            assert key == f"[{v['after']['id']}]"
            assert table == TABLES[len(seqs) % len(TABLES)]  # round-robin over tables
            assert v["after"]["due_us"] == spec.due_us(i)
            assert 0 <= v["after"]["props"]["k"] < 100
            seqs.append(v["after"]["seq"])
    assert seqs == list(range(spec.n_changes))
    # the resolved row closing block j is due with the first row of block j+1
    assert spec.due_us(5) == spec.due_us(6) == 500_000
    assert spec.resolved_hlc(len(lines) - 1) == f"{2_000_000_000}.0000000000"


def test_keys_are_zipf_skewed_over_the_key_space():
    keys = draw(FeedSpec(seed=2, n_changes=100_000, block=999, rate=1))[0]
    counts = np.sort(np.bincount(keys, minlength=N_KEYS))[::-1]
    assert keys.min() >= 0 and keys.max() < N_KEYS
    # Zipf 0.99 over 1,500 keys: the hottest key has ~1/H(1500, 0.99) of the rows
    assert 0.10 < counts[0] / keys.size < 0.16
    assert counts[0] / counts[9] == pytest.approx(10**0.99, rel=0.25)


def test_live_lines_never_straddle_a_page():
    spec = live_spec(seed=3, rate=2000, seconds=3)
    offset = 0
    for text in render(spec):
        assert offset // PAGE == (offset + len(text) - 1) // PAGE
        json.loads(json.loads(text)[2])
        offset += len(text)


def test_open_loop_generator_appends_on_schedule(tmp_path):
    spec = live_spec(seed=5, rate=200, seconds=2)
    src, out = tmp_path / "src.jsonl", tmp_path / "feed.jsonl"
    write_feed(str(src), spec)
    start = time.time() + 0.3
    proc = subprocess.run(
        [sys.executable, "-m", "perfbench.feedgen", "--src", str(src), "--out", str(out),
         "--rate", "200", "--start-ns", str(int(start * 1e9))],
        cwd=ROOT, capture_output=True, timeout=60, check=True,
    )
    report = json.loads(proc.stdout.decode().strip().splitlines()[-1])
    assert out.read_bytes() == src.read_bytes()
    assert report["lines"] == spec.n_lines
    assert 0 <= report["late_ms_max"] < 1000
    # the last line (a resolved row) falls due two seconds after the start
    assert time.time() >= start + 2.0


# -- analytics tables ----------------------------------------------------------


def test_tables_same_seed_same_bytes_and_fixture_schema(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    counts = write_tables(str(a), seed=4, scale=0.001)
    write_tables(str(b), seed=4, scale=0.001)
    write_tables(str(c), seed=5, scale=0.001)
    for name in counts:
        assert (a / f"{name}.parquet").read_bytes() == (b / f"{name}.parquet").read_bytes()
    assert (a / "events.parquet").read_bytes() != (c / "events.parquet").read_bytes()
    n = sizes(0.001)
    assert counts == {"events": n["events"], "orders": n["orders"], "supplier": n["suppliers"]}
    assert counts["events"] == 1000 and counts["orders"] == 1500 and counts["supplier"] == 10
    orders = pq.read_table(a / "orders.parquet")
    assert set(orders.column("o_custkey").to_pylist()) <= set(range(n["customers"]))
    assert str(pq.read_schema(a / "events.parquet").field("ts").type) == "timestamp[us]"
