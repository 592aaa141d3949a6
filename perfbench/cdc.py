"""The two CDC workloads, their output checks and their metrics.

``cdc_backfill`` is a closed loop: a seeded recorded feed, written in full
before the query starts, the way the CLI's ``--replay`` sees a recording, is
drained through the partitioned reader with ``epoch_rows`` into the
at-least-once ``dir`` queue with a ``FileCursorStore``, one drain after
another until the run's seconds are used. ``cdc_live`` is an open loop: ``perfbench.feedgen`` appends 1,000
change rows per second (and one resolved row per second) from its own
process, and the simple reader publishes them on a 1 s trigger, the way the
CLI wires ``--cursor-frequency 1s``.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import subprocess
import sys
import time
from collections.abc import Callable
from dataclasses import dataclass, field
from datetime import datetime

import numpy as np

from crdb_changefeed_publisher_spark.session import get_spark
from crdb_changefeed_publisher_spark.sources.crdb_changefeed import register
from crdb_changefeed_publisher_spark.streaming import pipeline
from crdb_changefeed_publisher_spark.streaming.cursors import FileCursorStore, parse_hlc
from crdb_changefeed_publisher_spark.streaming.metrics import MESSAGES_SENT
from perfbench.feedgen import TABLES, FeedSpec, draw, live_spec, write_feed
from perfbench.spans import (
    Span,
    SpanLog,
    epoch_of_lines,
    percentile,
    read_worker_spans,
    samples_beyond,
    self_ms,
    to_dicts,
)
from perfbench.traced import SOURCE_NAME, PublishTracer, TimedCursorStore, TracedChangefeedDataSource

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# set-ups per run: source registration, input generation and a warm-up
# query, the first also starting the session. setup_s is their median, so it
# leaves out the one-time JVM launch and cold first query of the first
# (session.start_s and session.first_query_s report those).
SETUPS = 3
# cdc_backfill: blocks of 999 change rows + 1 resolved row (a resolved row
# every 1,000 lines). epoch_rows is set as `--epoch-rows` would set it; the
# partitioned reader arms the cap only after its first planned batch, so a
# fresh drain of the whole feed runs as one epoch.
BACKFILL_BLOCK = 999
BACKFILL_BLOCKS = 50
EPOCH_ROWS = 20_000
WARMUP_BLOCKS = 4
# cdc_live: 1,000 change rows/s is 20-40% of what the simple reader drains
# on this class of machine (its speed varies twofold over minutes), so
# latency measures the program and not a backlog
LIVE_RATE = 1000
LIVE_BATCH_LIMIT = 10_000
TRIGGER_S = 1.0
LIVE_WARMUP_S = 3  # feed seconds before the measured window: query start-up
DRAIN_TIMEOUT_S = 60
PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")


@dataclass
class Epoch:
    """One micro-batch as the benchmark saw it."""

    batch_id: int
    body_start: float  # foreachBatch body, from run_pipeline's on_batch_timing
    body_end: float
    pos_start: int = 0  # feed positions (lines) the epoch read between
    pos_end: int = 0
    durations: dict = field(default_factory=dict)  # StreamingQueryProgress.durationMs
    trigger_start: float = 0.0
    queue_sizes: dict = field(default_factory=dict)  # queue file -> bytes (traced)
    jobs: int = 0  # Spark jobs and tasks of the epoch (traced)
    tasks: int = 0


@dataclass
class QueueCheck:
    attempted: int = 0
    missing: int = 0
    out_of_order: int = 0
    mismatched: int = 0
    published: int = 0
    duplicates: int = 0
    bytes: int = 0

    @property
    def failed(self) -> int:
        return self.missing + self.out_of_order + self.mismatched

    def add(self, other: QueueCheck) -> None:
        for f in self.__dataclass_fields__:
            setattr(self, f, getattr(self, f) + getattr(other, f))


@dataclass
class RunResult:
    check: QueueCheck
    correct: bool
    rows_per_s: float
    latency_ms: list[float]  # per change row in the measured window
    cursor_lag_ms: list[float]  # per resolved row in the measured window
    epochs: list[Epoch]  # epochs of the measured window
    messages_sent: int
    t_measure: float
    late_ms_max: float = 0.0
    live: tuple[float, FeedSpec] | None = None  # (start time, spec) of a live feed
    notes: dict = field(default_factory=dict)  # run details for stderr


def check_queue(out_dir: str, spec: FeedSpec) -> QueueCheck:
    """Every change row is published at least once with the table and key
    it was generated with, and within each queue file each key's rows
    appear in increasing ``seq`` order."""
    keys, tables, _, _ = draw(spec)
    seen = np.zeros(spec.n_changes, dtype=np.int64)
    c = QueueCheck(attempted=spec.n_changes)
    for name in sorted(os.listdir(out_dir)):
        last: dict[tuple[str, str], int] = {}
        with open(os.path.join(out_dir, name), "rb") as f:
            for line in f:
                c.published += 1
                c.bytes += len(line)
                env = json.loads(line)
                seq = env["value"]["after"]["seq"]
                k = (env["table"], env["key"])
                if not 0 <= seq < spec.n_changes or k != (TABLES[tables[seq]], f"[{keys[seq]}]"):
                    c.mismatched += 1
                    continue
                seen[seq] += 1
                if last.get(k, -1) >= seq:
                    c.out_of_order += 1
                last[k] = seq
    c.missing = int((seen == 0).sum())
    c.duplicates = int((seen[seen > 1] - 1).sum())
    return c


def queue_sizes(out_dir: str) -> dict:
    if not os.path.isdir(out_dir):
        return {}
    return {n: os.path.getsize(os.path.join(out_dir, n)) for n in os.listdir(out_dir)}


class Harness:
    """Session lifecycle, tracing hooks and per-run state."""

    def __init__(self, work: str, trace: bool, bench_pids: set[int]) -> None:
        self.work = work
        self.trace = trace
        self.bench_pids = bench_pids  # the benchmark's own helper processes
        self.log = SpanLog()
        self.trace_dir = os.path.join(work, "trace")
        os.makedirs(self.trace_dir, exist_ok=True)
        self.spark = None
        self.setup_s: list[float] = []
        self.session_start_s = 0.0  # JVM launch and session start
        self.first_query_s = 0.0  # the run's first (cold) query: start to first epoch done
        self._dirs = 0
        self._out_dir = ""  # queue directory of the running query
        self._sizes: dict = {}  # its file sizes after the latest publish
        self._tracer = PublishTracer(self.log, self._after_publish) if trace else None
        if self._tracer:
            self._tracer.__enter__()

    def _after_publish(self) -> None:
        self._sizes = queue_sizes(self._out_dir)

    def close(self) -> None:
        """Undo the publish wrapper, stop the session and the JVM, and wait
        for the JVM to exit."""
        from pyspark import SparkContext

        if self._tracer:
            self._tracer.__exit__(None, None, None)
        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                proc.wait(timeout=60)

    def start_session(self) -> float:
        """Start the session once (launching the JVM) and register the
        sources, again on every call; returns when this set-up began."""
        t0 = time.time()
        if self.spark is None:
            self.spark = get_spark("perfbench")
            self.spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "1000")
            self.session_start_s = time.time() - t0
        register(self.spark)
        if self.trace:
            self.spark.dataSource.register(TracedChangefeedDataSource)
        return t0

    def set_up_done(self, t0: float, first_query_s: float) -> None:
        """Record one set-up, from `t0` to now; the first one's warm-up
        query is the run's cold first query."""
        self.setup_s.append(time.time() - t0)
        self.first_query_s = self.first_query_s or first_query_s

    def fresh_dir(self, name: str) -> str:
        self._dirs += 1
        path = os.path.join(self.work, f"{name}{self._dirs}")
        os.makedirs(path)
        return path

    def reader(self, feed: str, **options: str):
        r = self.spark.readStream.format(SOURCE_NAME if self.trace else "crdb_changefeed")
        r = r.option("replay", feed)
        if self.trace:
            r = r.option("perfbench_trace_dir", self.trace_dir)
        for k, v in options.items():
            r = r.option(k, v)
        return r.load()

    def cursor_store(self, path: str):
        store = FileCursorStore(path)
        return TimedCursorStore(store, self.log) if self.trace else store

    def run_query(self, out_dir: str, epochs: list[Epoch], start: Callable):
        """`start(on_batch_timing)` starts a query publishing to `out_dir`;
        each micro-batch it runs appends an Epoch to `epochs`."""
        tracker = self.spark.sparkContext.statusTracker()
        seen_jobs: set[int] = set()
        self._out_dir = out_dir

        def on_batch_timing(batch_id: int, body_start: float, body_end: float) -> None:
            ep = Epoch(batch_id, body_start, body_end)
            if self.trace:
                ep.queue_sizes = self._sizes
                for q in self.spark.streams.active:
                    new = set(tracker.getJobIdsForGroup(str(q.runId))) - seen_jobs
                    seen_jobs.update(new)
                    ep.jobs += len(new)
                    for jid in new:
                        info = tracker.getJobInfo(jid)
                        for sid in info.stageIds if info else ():
                            stage = tracker.getStageInfo(sid)
                            ep.tasks += stage.numTasks if stage else 0
            epochs.append(ep)

        return start(on_batch_timing)


def attach_progress(query, epochs: list[Epoch]) -> None:
    """Fill in each epoch's end position and phase durations from the
    query's StreamingQueryProgress records."""
    by_id = {}
    for p in query.recentProgress:
        raw = json.loads(p.json)
        by_id[raw["batchId"]] = raw
    for ep in epochs:
        raw = by_id.get(ep.batch_id)
        if raw is None:
            continue
        source = raw["sources"][0]
        ep.pos_start = (source["startOffset"] or {"pos": 0})["pos"]
        ep.pos_end = source["endOffset"]["pos"]
        ep.durations = raw["durationMs"]
        ep.trigger_start = datetime.fromisoformat(raw["timestamp"]).timestamp()


# --------------------------------------------------------------------------
# cdc_backfill
# --------------------------------------------------------------------------


def _drain(h: Harness, feed: str):
    """Drain a backfill feed from a fresh checkpoint; returns (wall seconds
    from query start to drained stop, start time, out dir, cursor store,
    epochs)."""
    d = h.fresh_dir("drain")
    out_dir = os.path.join(d, "out")
    store = h.cursor_store(os.path.join(d, "cursor.json"))
    epochs: list[Epoch] = []
    t0 = time.time()
    query = h.run_query(
        out_dir,
        epochs,
        lambda on_batch_timing: pipeline.run_pipeline(
            h.reader(feed, partitioned="true", epoch_rows=str(EPOCH_ROWS)),
            out_dir,
            os.path.join(d, "ckpt"),
            cursor_store=store,
            drain_all=True,
            on_batch_timing=on_batch_timing,
        ),
    )
    wall = time.time() - t0
    attach_progress(query, epochs)
    return wall, t0, out_dir, store, epochs


def run_backfill(h: Harness, seed: int, seconds: float) -> RunResult:
    spec = FeedSpec(seed, BACKFILL_BLOCK * BACKFILL_BLOCKS, block=BACKFILL_BLOCK, rate=1_000_000)
    warm_spec = FeedSpec(seed + 1, BACKFILL_BLOCK * WARMUP_BLOCKS, block=BACKFILL_BLOCK, rate=1_000_000)
    feed, warm_feed = os.path.join(h.work, "feed.jsonl"), os.path.join(h.work, "warm.jsonl")
    for _ in range(SETUPS):
        t0 = h.start_session()
        write_feed(feed, spec)
        write_feed(warm_feed, warm_spec)
        _wall, t_query, _out, _store, warm = _drain(h, warm_feed)
        h.set_up_done(t0, warm[0].body_end - t_query)

    sent0 = MESSAGES_SENT.value
    t_measure = time.time()
    drains = []
    while not drains or time.time() - t_measure < seconds:
        drains.append(_drain(h, feed))
    sent = MESSAGES_SENT.value - sent0

    total = QueueCheck()
    cursor_ok = True
    final = spec.resolved_hlc(spec.n_lines - 1)
    b = BACKFILL_BLOCK + 1
    latency, lag, measured = [], [], []
    for _wall, t_start, out_dir, store, epochs in drains:
        total.add(check_queue(out_dir, spec))
        cursor_ok &= store.get() == final
        measured += [ep for ep in epochs if ep.durations]
        # every row of a backfill is due when its drain starts
        for ep in epochs:
            n_res = ep.pos_end // b - ep.pos_start // b
            latency += [(ep.body_end - t_start) * 1000] * (ep.pos_end - ep.pos_start - n_res)
            lag += [(ep.body_end - t_start) * 1000] * n_res
    return RunResult(
        check=total,
        correct=total.failed == 0 and cursor_ok and sent == total.published,
        rows_per_s=statistics.median(spec.n_changes / d[0] for d in drains),
        latency_ms=latency,
        cursor_lag_ms=lag,
        epochs=measured,
        messages_sent=sent,
        t_measure=t_measure,
        notes={"drain_s": [d[0] for d in drains], "epochs_per_drain": [len(d[4]) for d in drains]},
    )


# --------------------------------------------------------------------------
# cdc_live
# --------------------------------------------------------------------------


def run_live(h: Harness, seed: int, seconds: int) -> RunResult:
    spec = live_spec(seed, LIVE_RATE, LIVE_WARMUP_S + seconds + 1)
    d = h.fresh_dir("live")
    src = os.path.join(d, "src.jsonl")  # the generator paces these lines out
    w = h.fresh_dir("warm")
    write_feed(os.path.join(w, "feed.jsonl"), FeedSpec(seed + 1, LIVE_RATE, block=LIVE_RATE, rate=LIVE_RATE))
    for _ in range(SETUPS):
        t0 = h.start_session()
        write_feed(src, spec)
        # one epoch through the simple reader: the first set-up pays the
        # cold start, and all warm the JIT before the live feed begins
        out = h.fresh_dir("warm")
        warm: list[Epoch] = []
        t_query = time.time()
        h.run_query(
            out,
            warm,
            lambda on_batch_timing: pipeline.run_pipeline(
                h.reader(os.path.join(w, "feed.jsonl"), batch_limit=str(LIVE_BATCH_LIMIT)),
                out,
                os.path.join(out, "ckpt"),
                cursor_store=h.cursor_store(os.path.join(out, "cursor.json")),
                drain_all=True,
                on_batch_timing=on_batch_timing,
            ),
        )
        h.set_up_done(t0, warm[0].body_end - t_query)

    # processing-time triggers fire on whole wall-clock seconds, so resolved
    # rows falling due on the half second wait the mean half interval
    start_at = math.ceil(time.time()) + 0.5
    start_ns = int(start_at * 1e9)
    feed = os.path.join(d, "feed.jsonl")
    out_dir = os.path.join(d, "out")
    open(feed, "w").close()
    store = h.cursor_store(os.path.join(d, "cursor.json"))
    final = spec.resolved_hlc(spec.n_lines - 1)
    epochs: list[Epoch] = []
    sent0 = MESSAGES_SENT.value
    gen = subprocess.Popen(
        [sys.executable, "-m", "perfbench.feedgen", "--src", src, "--out", feed,
         "--rate", str(LIVE_RATE), "--start-ns", str(start_ns)],
        cwd=ROOT,
        stdout=subprocess.PIPE,
    )
    h.bench_pids.add(gen.pid)  # its memory is the benchmark's, not the program's
    try:
        query = h.run_query(
            out_dir,
            epochs,
            lambda on_batch_timing: pipeline.run_pipeline(
                h.reader(feed, batch_limit=str(LIVE_BATCH_LIMIT)),
                out_dir,
                os.path.join(d, "ckpt"),
                cursor_store=store,
                trigger_seconds=TRIGGER_S,
                on_batch_timing=on_batch_timing,
            ),
        )
        out, _ = gen.communicate(timeout=LIVE_WARMUP_S + seconds + DRAIN_TIMEOUT_S)
        deadline = time.time() + DRAIN_TIMEOUT_S
        while store.get() != final and query.isActive and time.time() < deadline:
            time.sleep(0.1)
        query.stop()
        query.awaitTermination(DRAIN_TIMEOUT_S)
    finally:
        if gen.poll() is None:
            gen.kill()
        gen.wait()
    sent = MESSAGES_SENT.value - sent0
    attach_progress(query, epochs)
    epochs = [ep for ep in epochs if ep.pos_end > 0]

    c = check_queue(out_dir, spec)
    lines = np.arange(spec.n_lines)
    due = start_at + spec.due_us(lines) / 1e6
    k = epoch_of_lines([ep.pos_end for ep in epochs], lines)  # epoch that published each line
    covered = k >= 0
    confirmed = np.array([ep.body_end for ep in epochs])[k]
    lat_ms = (confirmed - due) * 1000
    resolved = spec.is_resolved_line(lines)
    measured = covered & (due >= start_at + LIVE_WARMUP_S) & (due < start_at + LIVE_WARMUP_S + seconds)
    rows = measured & ~resolved
    return RunResult(
        check=c,
        correct=c.failed == 0 and store.get() == final and sent == c.published,
        # delivered rate: rows of the window over the time from the first
        # falling due to the last being confirmed
        rows_per_s=float(rows.sum()) / (confirmed[rows].max() - due[rows].min()),
        latency_ms=lat_ms[rows].tolist(),
        cursor_lag_ms=lat_ms[measured & resolved].tolist(),
        epochs=[epochs[i] for i in sorted(set(k[rows].tolist()))],
        messages_sent=sent,
        t_measure=start_at + LIVE_WARMUP_S,
        late_ms_max=json.loads(out.decode().strip().splitlines()[-1])["late_ms_max"],
        live=(start_at, spec),
        notes={"epoch_latency_ms": [round((ep.body_end - start_at) * 1000) for ep in epochs]},
    )


# --------------------------------------------------------------------------
# per-layer metrics of a traced run
# --------------------------------------------------------------------------


def _p50(xs) -> float:
    return float(percentile(xs, 50)) if len(xs) else 0.0


def _p90(xs) -> float:
    return float(percentile(xs, 90)) if len(xs) else 0.0


def _epoch_of(epochs: list[Epoch], t: float) -> Epoch | None:
    """The epoch whose trigger (or, lacking progress, body) interval holds `t`."""
    for ep in epochs:
        lo = ep.trigger_start if ep.durations else ep.body_start
        hi = lo + ep.durations["triggerExecution"] / 1000 if ep.durations else ep.body_end
        if lo <= t <= hi:
            return ep
    return None


def layer_metrics(h: Harness, res: RunResult) -> dict[str, float]:
    measured = res.epochs
    worker = [s for s in read_worker_spans(h.trace_dir) if _epoch_of(measured, s.start)]
    plan = [s for s in worker if s.name == "source.plan"]
    reads = [s for s in worker if s.name == "source.read_task"]
    fetch = [s for s in worker if s.name == "source.fetch"]
    publish = h.log.named("pipeline.publish")
    sets = h.log.named("cursors.set")

    pub_ms, collect_ms, epoch_self, gaps, files, skew = [], [], [], [], [], []
    for i, ep in enumerate(measured):
        body = Span("pipeline.body", ep.body_start, ep.body_end)
        inside = [s for s in publish + sets if ep.body_start <= s.start <= ep.body_end]
        pub_ms += [s.ms for s in inside if s.name == "pipeline.publish"]
        collect_ms.append(self_ms(body, inside))
        epoch_self.append(ep.durations["triggerExecution"] - sum(ep.durations.get(p, 0) for p in PHASES))
        follows = i > 0 and measured[i - 1].batch_id == ep.batch_id - 1
        if follows:
            gaps.append((ep.body_start - measured[i - 1].body_end) * 1000)
        if follows or ep.batch_id == 0:
            prev = measured[i - 1].queue_sizes if follows else {}
            grown = [n - prev.get(f, 0) for f, n in ep.queue_sizes.items() if n > prev.get(f, 0)]
            files.append(len(grown))
            if grown:
                skew.append(max(grown) * len(grown) / sum(grown))

    def phase(name: str) -> list[float]:
        return [ep.durations.get(name, 0) for ep in measured]

    lag_rows = []
    cursor_lag = res.cursor_lag_ms
    if res.live is not None:
        start_at, spec = res.live
        for s in fetch:
            # feed lines already due when the fetch returned, minus its end
            due_changes = min(spec.n_changes, int((s.end - start_at) * spec.rate) + 1)
            lag_rows.append(max(0, due_changes + due_changes // spec.block - s.attrs["pos_to"]))
        cursor_lag = []
        for j in range(spec.block, spec.n_lines, spec.block + 1):
            t_due = start_at + spec.due_us(j) / 1e6
            if t_due < res.t_measure:
                continue
            hlc = parse_hlc(spec.resolved_hlc(j))
            held = [s.end for s in sets if parse_hlc(s.attrs["cursor"]) >= hlc]
            if held:
                cursor_lag.append((min(held) - t_due) * 1000)

    rows_read = sum(s.attrs["rows"] for s in reads + fetch)
    lines = sum(ep.pos_end - ep.pos_start for ep in measured)
    fetched = sum(s.attrs["rows"] for s in fetch)
    scanned = sum(s.attrs["scanned"] for s in fetch)
    measured_sets = [s for s in sets if _epoch_of(measured, s.start)]
    c = res.check
    return {
        "source.plan_ms": _p50([s.ms for s in plan]),
        "source.read_task_ms": _p50([s.ms for s in reads]),
        "source.rows": float(rows_read),
        # each Spark job of an epoch re-reads the source unless the batch is
        # cached: rows read per feed line of the measured epochs
        "source.reads_per_line": rows_read / lines if lines else 0.0,
        "source.fetch_ms": _p50([s.ms for s in fetch]),
        "source.scan_ratio": fetched / scanned if scanned else 0.0,
        "source.latest_offset_ms": _p50(phase("latestOffset")),
        "source.lag_rows_p90": _p90(lag_rows),
        "pipeline.epochs": float(len(measured)),
        # latency samples of one epoch share its confirm time: the p90 is an
        # honest tail only with at least ten epochs beyond it
        "pipeline.epochs_beyond_p90": float(samples_beyond(len(measured), 90)),
        "pipeline.epoch_ms_p50": _p50(phase("triggerExecution")),
        "pipeline.add_batch_ms_p50": _p50(phase("addBatch")),
        "pipeline.publish_ms_p50": _p50(pub_ms),
        "pipeline.cursor_collect_ms_p50": _p50(collect_ms),
        "pipeline.planning_ms_p50": _p50(phase("queryPlanning")),
        "pipeline.commit_ms_p50": _p50([a + b for a, b in zip(phase("walCommit"), phase("commitOffsets"))]),
        "pipeline.epoch_self_ms_p50": _p50(epoch_self),
        "pipeline.epoch_gap_ms_p50": _p50(gaps),
        "pipeline.jobs_per_epoch": _p50([ep.jobs for ep in measured]),
        "pipeline.tasks_per_epoch": _p50([ep.tasks for ep in measured]),
        "queues.messages": float(c.published),
        "queues.bytes": float(c.bytes),
        "queues.files_per_epoch": _p50(files),
        "queues.partition_skew": _p50(skew),
        "queues.duplicates": float(c.duplicates),
        "cursors.set_ms_p50": _p50([s.ms for s in measured_sets]),
        "cursors.sets": float(len(measured_sets)),
        "cursors.lag_ms_p50": _p50(cursor_lag),
        "cursors.lag_ms_p90": _p90(cursor_lag),
        "metrics.messages_sent": float(res.messages_sent),
        "generator.late_ms_max": float(res.late_ms_max),
    }


def all_spans(h: Harness, res: RunResult) -> list[dict]:
    """Every span of a traced run. Progress phases are laid out in Spark's
    order inside each epoch's trigger span; other spans get the trace id of
    the measured epoch they fall in, if any."""
    out = []
    for ep in res.epochs:
        trace = f"epoch-{ep.batch_id}"
        out.append(Span("pipeline.body", ep.body_start, ep.body_end, trace, "pipeline.addBatch",
                        {"jobs": ep.jobs, "tasks": ep.tasks}))
        t = ep.trigger_start
        out.append(Span("pipeline.epoch", t, t + ep.durations["triggerExecution"] / 1000, trace))
        for p in PHASES:
            dt = ep.durations.get(p, 0) / 1000
            out.append(Span(f"pipeline.{p}", t, t + dt, trace, "pipeline.epoch"))
            t += dt
    parents = {
        "pipeline.publish": "pipeline.body",
        "cursors.set": "pipeline.body",
        "source.fetch": "pipeline.latestOffset",
        "source.plan": "pipeline.queryPlanning",
        "source.read_task": "pipeline.body",
    }
    for s in h.log.spans + read_worker_spans(h.trace_dir):
        ep = _epoch_of(res.epochs, s.start)
        s.trace = f"epoch-{ep.batch_id}" if ep else None
        s.parent = parents.get(s.name)
        out.append(s)
    return to_dicts(out)
