"""Per-stream StreamingQuery lifecycle management.

The reference arbitrates "at most one live consumer per stream" through a
memcached knock-out cell checked on every message (/root/reference/app/
app.py:320-344,451-462). Spark's model makes that protocol unnecessary:
the control plane owns exactly one StreamingQuery handle per stream
(SURVEY §1.4) — starting a new consumer stops the previous query first,
and DELETE stops it synchronously (better than the reference, where an
idle consumer lingers until the next message or a POISON pill,
app/app.py:677-717; SURVEY §3.4).

Delivery: each query runs `foreachBatch` → an in-process hub queue that the
socket layer drains (the WebSocket-sink pattern of SURVEY §2.7 K1):
websocket.py drains the hub into RFC 6455 frames on the stdlib alone.
"""

from __future__ import annotations

import queue
import threading
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from ..sources.eventstream import EventStreamDataSource
from .pipeline import annotate


@dataclass
class Delivery:
    """One enriched message handed to the socket layer."""

    key: str
    offset: int
    out: str


# The hub hands the socket layer CHUNKS (lists of Delivery), one queue
# item per micro-batch slice, so a 20k-message replay batch costs ~10
# queue operations instead of 20k — per-row Queue.put/get was the
# per-connection delivery ceiling (round-6 task #6). Backpressure:
# maxsize counts chunks, so the bound is CHUNK_ROWS x maxsize = 32k
# buffered messages per connection (vs 10k before — same order).
CHUNK_ROWS = 2048
HUB_MAX_CHUNKS = 16


@dataclass
class ConsumerHandle:
    stream: str
    hub: "queue.Queue[list[Delivery] | None]"
    query: object = None
    stats: dict = field(default_factory=lambda: {"received": 0, "sent": 0})


class StreamManager:
    def __init__(self, spark: SparkSession, log_root: str, checkpoint_root: str):
        self.spark = spark
        self.log_root = log_root
        self.checkpoint_root = checkpoint_root
        self._consumers: dict[str, ConsumerHandle] = {}
        self._lock = threading.Lock()
        spark.dataSource.register(EventStreamDataSource)

    def start_consumer(
        self,
        stream: str,
        starting_ordinal: int | None = None,
        starting_timestamp_ms: int | None = None,
        starting_datetime: str | None = None,
    ) -> ConsumerHandle:
        """Start (or replace) the single consumer for a stream."""
        with self._lock:
            old = self._consumers.pop(stream, None)
        if old is not None:
            self.stop_consumer_handle(old)

        hub: queue.Queue = queue.Queue(maxsize=HUB_MAX_CHUNKS)
        handle = ConsumerHandle(stream=stream, hub=hub)

        reader = self.spark.readStream.format("eventstream").option(
            "path", self.log_root
        ).option("stream", stream)
        if starting_ordinal is not None:
            reader = reader.option("startingOrdinal", starting_ordinal)
        if starting_timestamp_ms is not None:
            reader = reader.option("startingTimestampMs", starting_timestamp_ms)
        if starting_datetime is not None:
            reader = reader.option("startingDatetime", starting_datetime)

        # The whole relay transform (decode, filters, enrichment, poison
        # detection) runs JVM-side inside the streaming query; foreachBatch
        # collects only the final delivery rows (SURVEY §2.7 K1: delivery is
        # per-connection and driver-side, matching the reference's single
        # socket per stream).
        relayed = annotate(reader.load())

        manager = self

        def push_batch(batch_df, batch_id):  # runs on the driver per micro-batch
            # Arrow-batched collect (toPandas) + column lists: the old
            # Row-object loop with one hub.put per message was the
            # per-connection ceiling; now the whole batch crosses as a
            # few column .tolist() calls and ~batch/CHUNK_ROWS queue ops.
            pdf = batch_df.toPandas()
            if len(pdf) == 0:
                return
            pdf = pdf.sort_values("offset", ignore_index=True)
            keys = pdf["key"].tolist()
            offsets = pdf["offset"].tolist()
            outs = pdf["out"].tolist()
            poisons = pdf["is_poison"].tolist()
            try:
                # Never forwarded; stops the consumer
                # (app/app.py:463-467,520-524). Rows after the pill are
                # neither counted nor delivered, as before.
                cut = poisons.index(True)
                poisoned = True
            except ValueError:
                cut = len(outs)
                poisoned = False
            handle.stats["received"] += cut + (1 if poisoned else 0)
            chunk = [
                Delivery(key=k, offset=o, out=s)
                for k, o, s in zip(keys[:cut], offsets[:cut], outs[:cut])
                if s is not None
            ]
            for i in range(0, len(chunk), CHUNK_ROWS):
                piece = chunk[i : i + CHUNK_ROWS]
                hub.put(piece)
                handle.stats["sent"] += len(piece)
            if poisoned:
                hub.put(None)  # end-of-stream sentinel for the socket layer
                # Stop by handle identity, not by name: a reconnect may have
                # already replaced this stream's consumer, and a by-name stop
                # from this (stale) batch would kill the replacement.
                threading.Thread(
                    target=manager.stop_consumer_if_current,
                    args=(stream, handle),
                    daemon=True,
                ).start()

        query = (
            relayed.writeStream.foreachBatch(push_batch)
            .option(
                "checkpointLocation",
                f"{self.checkpoint_root}/{stream}-{id(handle):x}",
            )
            .trigger(processingTime="500 milliseconds")
            .start()
        )
        handle.query = query
        with self._lock:
            self._consumers[stream] = handle
        return handle

    def stop_consumer(self, stream: str) -> bool:
        with self._lock:
            handle = self._consumers.pop(stream, None)
        if handle is None:
            return False
        self.stop_consumer_handle(handle)
        return True

    def stop_consumer_if_current(self, stream: str, handle: ConsumerHandle) -> bool:
        """Stop `stream`'s consumer only if it is still `handle`.

        Teardown paths that captured a handle earlier (a finishing consume
        request, the poison-stop thread) must not stop a replacement
        consumer that a newer request has since registered under the same
        stream name; they still stop their own (now-unregistered) handle so
        its query and hub are released.
        """
        with self._lock:
            if self._consumers.get(stream) is handle:
                self._consumers.pop(stream)
        self.stop_consumer_handle(handle)
        return True

    @staticmethod
    def stop_consumer_handle(handle: ConsumerHandle) -> None:
        try:
            if handle.query is not None:
                handle.query.stop()
        finally:
            try:
                handle.hub.put_nowait(None)
            except queue.Full:
                pass

    def snapshot(self) -> dict[str, dict]:
        """Consistent per-stream health view (used by /event-stream/health/)."""
        with self._lock:
            handles = dict(self._consumers)
        return {
            stream: {
                "active": bool(h.query is not None and h.query.isActive),
                "received": h.stats["received"],
                "sent": h.stats["sent"],
            }
            for stream, h in handles.items()
        }

    def stop_all(self) -> None:
        with self._lock:
            handles = list(self._consumers.values())
            self._consumers.clear()
        for h in handles:
            self.stop_consumer_handle(h)
