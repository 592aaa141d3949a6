"""Tracing hooks, all outside the program: data-source reader subclasses
registered under a benchmark-owned name, a module-attribute wrapper on
``pipeline.publish_batch`` and a timing ``CursorStore`` wrapper. Used only by
``--trace 1`` runs; untraced runs use the program as the CLI wires it.

The reader subclasses run in Spark's Python processes, so their spans go
through ``spans.emit_worker_span`` to the directory named by the
``perfbench_trace_dir`` reader option.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterator

from crdb_changefeed_publisher_spark.sources.crdb_changefeed import (
    ChangefeedPartitionedStreamReader,
    ChangefeedSimpleStreamReader,
    CrdbChangefeedDataSource,
    FeedRangePartition,
)
from crdb_changefeed_publisher_spark.streaming import pipeline
from crdb_changefeed_publisher_spark.streaming.cursors import CursorStore
from perfbench.spans import SpanLog, emit_worker_span

SOURCE_NAME = "perfbench_changefeed"


class TracedPartitionedReader(ChangefeedPartitionedStreamReader):
    def __init__(self, options: dict) -> None:
        super().__init__(options)
        self.trace_dir = options["perfbench_trace_dir"]

    def partitions(self, start: dict, end: dict):
        t0 = time.time()
        parts = super().partitions(start, end)
        emit_worker_span(
            self.trace_dir, "source.plan", t0, time.time(), n=len(parts), pos_from=start["pos"], pos_to=end["pos"]
        )
        return parts

    def read(self, partition: FeedRangePartition) -> Iterator[tuple]:
        t0 = time.time()
        n = 0
        for row in super().read(partition):
            n += 1
            yield row
        emit_worker_span(self.trace_dir, "source.read_task", t0, time.time(), rows=n)


class TracedSimpleReader(ChangefeedSimpleStreamReader):
    def __init__(self, options: dict) -> None:
        super().__init__(options)
        self.trace_dir = options["perfbench_trace_dir"]

    def _timed(self, name: str, call: Callable[[], tuple[list, dict | None]], start: dict):
        scanned0 = getattr(self.conn, "lines_scanned", 0)
        t0 = time.time()
        rows, end = call()
        emit_worker_span(
            self.trace_dir,
            name,
            t0,
            time.time(),
            rows=len(rows),
            scanned=getattr(self.conn, "lines_scanned", 0) - scanned0,
            pos_from=start["pos"],
            pos_to=(end or {}).get("pos"),
        )
        return rows, end

    def read(self, start: dict):
        def call():
            it, end = super(TracedSimpleReader, self).read(start)
            return list(it), end

        rows, end = self._timed("source.fetch", call, start)
        return iter(rows), end

    def readBetweenOffsets(self, start: dict, end: dict):  # noqa: N802 (Spark API)
        def call():
            return list(super(TracedSimpleReader, self).readBetweenOffsets(start, end)), end

        rows, _ = self._timed("source.fetch", call, start)
        return iter(rows)


class TracedChangefeedDataSource(CrdbChangefeedDataSource):
    @classmethod
    def name(cls) -> str:
        return SOURCE_NAME

    def streamReader(self, schema):  # noqa: N802 (Spark API)
        super().streamReader(schema)  # raises when the options select the simple reader
        return TracedPartitionedReader(dict(self.options))

    def simpleStreamReader(self, schema):  # noqa: N802 (Spark API)
        return TracedSimpleReader(dict(self.options))


class TimedCursorStore:
    """CursorStore wrapper that records each ``set`` as a span."""

    def __init__(self, inner: CursorStore, log: SpanLog) -> None:
        self.inner = inner
        self.log = log

    def get(self) -> str | None:
        return self.inner.get()

    def set(self, cursor: str) -> None:
        t0 = time.time()
        self.inner.set(cursor)
        self.log.add("cursors.set", t0, time.time(), attrs={"cursor": cursor})


class PublishTracer:
    """Swaps ``pipeline.publish_batch`` for a timing wrapper while active.

    After each publish it calls `after_publish()` (outside the span) so the
    caller can snapshot the queue files per epoch."""

    def __init__(self, log: SpanLog, after_publish: Callable[[], None]) -> None:
        self.log = log
        self.after_publish = after_publish
        self._orig = pipeline.publish_batch

    def __enter__(self) -> PublishTracer:
        orig = self._orig

        def traced_publish_batch(*args, **kwargs):
            t0 = time.time()
            orig(*args, **kwargs)
            t1 = time.time()
            self.log.add("pipeline.publish", t0, t1)
            self.after_publish()

        pipeline.publish_batch = traced_publish_batch
        return self

    def __exit__(self, *exc) -> None:
        pipeline.publish_batch = self._orig
