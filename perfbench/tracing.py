"""Spans recorded from outside the program, around its public calls.

``install()`` wraps, before the daemon's ``main`` runs:

- the MQTT reader, as a data-source subclass registered under the same
  name, so the wrapper also runs in Spark's Python source worker;
- ``DemuxSink.foreach_batch`` and ``write_batch`` and
  ``SchemaRegistry.save``;
- Spark's ``DataFrame.collect``, ``DataFrame.count`` and
  ``DataFrameWriter.save`` while a batch is in the sink (the sink's
  census, its reject count and its writes, keyed by target path);
- ``session.get_spark``.

Driver spans stay in memory and are written to ``driver.json`` in
``$PERFBENCH_TRACE_DIR`` when the daemon returns.  The source worker is
stopped by Spark without notice, so it appends one line per call to
``reader-<pid>.jsonl`` instead.  Times are ``time.monotonic()``.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import threading
import time

from mqtt2clickhouse_spark.streaming.mqtt_source import (
    LiveMqttStreamReader,
    MqttDataSource,
)


def _trace_dir() -> str:
    return os.environ["PERFBENCH_TRACE_DIR"]


def _append(rec: dict) -> None:
    path = os.path.join(_trace_dir(), f"reader-{os.getpid()}.jsonl")
    with open(path, "a") as fh:
        fh.write(json.dumps(rec) + "\n")


class TracedReader(LiveMqttStreamReader):
    """The live reader with a span around each ``read`` and replay."""

    def read(self, start: dict):
        depth = self.buffer.qsize() if hasattr(self, "buffer") else -1
        t = time.monotonic()
        rows, end = super().read(start)
        rows = list(rows)
        _append({"name": "source.read", "start": t, "end": time.monotonic(),
                 "rows": len(rows), "buffer_depth": depth, "offset": end.get("seq")})
        return iter(rows), end

    def readBetweenOffsets(self, start: dict, end: dict):
        t = time.monotonic()
        rows = list(super().readBetweenOffsets(start, end))
        _append({"name": "source.replay", "start": t, "end": time.monotonic(),
                 "rows": len(rows)})
        return iter(rows)


class TracedMqttDataSource(MqttDataSource):
    def simpleStreamReader(self, schema):
        return TracedReader(self.options)


class Tracer:
    """Driver-side span store.  Batches run one at a time, so the batch
    id is held here; a thread-local stack gives each span its parent."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.batch: int | None = None
        self.root: int | None = None
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def wrap(self, fn, name: str, *, in_batch_only=False, is_root=False, key=None, result=None):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if in_batch_only and tracer.batch is None:
                return fn(*args, **kwargs)
            stack = tracer._local.__dict__.setdefault("stack", [])
            sid = next(tracer._ids)
            parent = stack[-1] if stack else tracer.root
            if is_root:
                tracer.root = sid
            span = {"id": sid, "parent": parent, "name": name, "batch": tracer.batch,
                    "start": time.monotonic()}
            if key is not None:
                span["key"] = key(*args, **kwargs)
            stack.append(sid)
            try:
                out = fn(*args, **kwargs)
                if result is not None:
                    span["result"] = result(out)
                return out
            finally:
                stack.pop()
                span["end"] = time.monotonic()
                with tracer._lock:
                    tracer.spans.append(span)

        return wrapper

    def wrap_batch(self, fn):
        tracer = self
        inner = self.wrap(fn, "sink.foreach_batch", is_root=True)

        @functools.wraps(fn)
        def wrapper(sink, batch_df, epoch_id):
            tracer.batch = int(epoch_id)
            tracer.root = None
            try:
                return inner(sink, batch_df, epoch_id)
            finally:
                tracer.batch = None

        return wrapper

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans}, fh)


def _save_path(writer, path=None, *args, **kwargs) -> str:
    return os.path.basename(str(path).rstrip("/")) if path else ""


def install() -> Tracer:
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter

    import mqtt2clickhouse_spark.session as session
    from mqtt2clickhouse_spark.ingest import sink
    from mqtt2clickhouse_spark.streaming import mqtt_source

    tracer = Tracer()
    session.get_spark = tracer.wrap(session.get_spark, "session.get_spark")
    mqtt_source.register_mqtt_source = lambda spark: spark.dataSource.register(
        TracedMqttDataSource
    )
    sink.DemuxSink.foreach_batch = tracer.wrap_batch(sink.DemuxSink.foreach_batch)
    sink.DemuxSink.write_batch = tracer.wrap(
        sink.DemuxSink.write_batch, "sink.write_batch",
        result=lambda r: dict(r) if isinstance(r, dict) else None,
    )
    sink.SchemaRegistry.save = tracer.wrap(sink.SchemaRegistry.save, "sink.registry_save")
    DataFrame.collect = tracer.wrap(DataFrame.collect, "spark.collect", in_batch_only=True)
    DataFrame.count = tracer.wrap(DataFrame.count, "spark.count", in_batch_only=True)
    DataFrameWriter.save = tracer.wrap(
        DataFrameWriter.save, "spark.save", in_batch_only=True, key=_save_path
    )
    return tracer


def run(argv: list[str]) -> int:
    """Install the wrappers, then run the daemon's own ``main``."""
    tracer = install()
    from mqtt2clickhouse_spark.__main__ import main

    try:
        return main(argv)
    finally:
        tracer.dump(os.path.join(_trace_dir(), "driver.json"))
