"""The open-loop publisher, the retention worker and the delivery ledger.

The publisher is one process that appends to the streams' logs through
the service's own ``EventLogWriter.publish`` on a fixed schedule: message i
is due at ``t0 + i / rate`` whether or not earlier publishes were slow, so
a stall delays later messages and their latency counts from when they were
due.  How late the publisher itself ran is recorded.
"""

from __future__ import annotations

import multiprocessing
import threading
import time

import gen

# Children are forked, not spawned: a forked context unlinks its semaphores
# as soon as it makes them, so no resource-tracker process runs beside the
# benchmark and a killed run leaves nothing in /dev/shm.  Both children
# (publisher, retention worker) are forked before the benchmark starts any
# thread of its own.
MP = multiprocessing.get_context("fork")


class Ledger:
    """Prefix counts of deliverable ordinals, extended on demand.

    Bodies depend only on the ordinal, so one ledger serves every stream.
    """

    def __init__(self, messages: gen.Messages):
        self.messages = messages
        self.cum = [0, 0]  # cum[o] = deliverable ordinals in 1..o-1

    def deliverable(self, lo: int, hi: int) -> int:
        """Deliverable ordinals in lo..hi-1."""
        kind, cum = self.messages.kind, self.cum
        while len(cum) <= hi:
            o = len(cum) - 1
            cum.append(cum[-1] + (kind(o) not in gen.DROPPED_KINDS))
        return cum[hi] - cum[lo]


class Publisher:
    """Handle on the publisher process: publishes at ``rate`` messages/s in
    total, round-robin over ``streams``, each stream continuing from
    ordinal ``first``.

    It runs in a process of its own so that the clients' frame parsing in
    the benchmark process cannot delay it through the interpreter lock:
    publish latency and lateness then measure the service's log, not the
    benchmark.  ``last`` is live; the rest is filled in by ``stop``.
    """

    def __init__(self, log_root: str, streams: list[str], seed: int, rate: float, first: int):
        self._next = MP.Array("q", [first] * len(streams))
        self._ready, self._halt, self._out = MP.Event(), MP.Event(), MP.Queue()
        self._proc = MP.Process(
            target=_publish,
            args=(log_root, streams, seed, rate, self._next, self._ready, self._halt, self._out),
        )
        self.due: list[dict[int, float]] = []
        self.ts: list[dict[int, int]] = []
        # (due, seconds late when the publish started, publish seconds)
        self.samples: list[tuple[float, float, float]] = []
        self.errors: list[str] = []

    def samples_by_due(self) -> list[tuple[float, float]]:
        """(due time, publish seconds) of every publish."""
        return [(due, took) for due, _, took in self.samples]

    def start(self, timeout: float = 60.0) -> None:
        self._proc.start()
        if not self._ready.wait(timeout):
            raise RuntimeError("publisher did not start")

    def last(self, stream_index: int) -> int:
        """The last ordinal published to a stream."""
        return self._next[stream_index] - 1

    def stop(self) -> None:
        if not self._proc.is_alive():
            return
        self._halt.set()
        self.due, self.ts, self.samples, self.errors = self._out.get(timeout=60)
        self._proc.join()

    def kill(self) -> None:
        if self._proc.is_alive():
            self._proc.kill()
        if self._proc.pid is not None:
            self._proc.join()


def _publish(log_root, streams, seed, rate, next_ordinal, ready, halt, out) -> None:
    """One thread per stream, as independent producers: a stream whose
    log is locked (by retention) delays only its own messages."""
    from squonk2_fastapi_ws_event_stream_spark.sources.eventstream import EventLogWriter

    messages = gen.Messages(seed)
    n = len(streams)
    due_of: list[dict[int, float]] = [{} for _ in streams]
    ts_of: list[dict[int, int]] = [{} for _ in streams]
    samples: list[list[tuple[float, float, float]]] = [[] for _ in streams]
    errors: list[str] = []

    def produce(s: int) -> None:
        writer = EventLogWriter(log_root, streams[s])
        i = s  # message i of the whole schedule goes to stream i % n
        while not halt.is_set():
            due = t0 + i / rate
            wait = due - time.perf_counter()
            if wait > 0 and halt.wait(wait):
                break
            ordinal = next_ordinal[s]
            ts_ms = int(time.time() * 1000)
            started = time.perf_counter()
            try:
                got = writer.publish(messages.body(ordinal), timestamp_ms=ts_ms)
            except OSError as exc:
                errors.append(f"publish failed: {exc}")
                break
            ended = time.perf_counter()
            if got != ordinal:
                # Another writer touched the log: the oracle's bodies no
                # longer match, so the run cannot be checked.
                errors.append(f"stream {s}: expected ordinal {ordinal}, log assigned {got}")
                break
            due_of[s][ordinal] = due
            ts_of[s][ordinal] = ts_ms
            next_ordinal[s] = ordinal + 1
            samples[s].append((due, started - due, ended - started))
            i += n

    threads = [threading.Thread(target=produce, args=(s,)) for s in range(n)]
    t0 = time.perf_counter()
    for t in threads:
        t.start()
    ready.set()
    for t in threads:
        t.join()
    out.put((due_of, ts_of, sorted(x for per in samples for x in per), errors))


def retention_worker(log_root: str, streams: list[str], keep: int, commands, out) -> None:
    """Runs in its own process: for each ``True`` read from ``commands``,
    trim every stream to its newest ``keep`` messages; on ``None``, send
    back (start, end) of every call and exit.

    enforce_retention parses and rewrites the whole log in Python, so in
    the publisher's process it would hold the interpreter lock for most of
    a second and skew the publisher's clock.
    """
    from squonk2_fastapi_ws_event_stream_spark.sources.eventstream import enforce_retention

    calls = []
    while commands.get():
        for s in streams:
            start = time.perf_counter()
            enforce_retention(log_root, s, max_messages=keep)
            calls.append((start, time.perf_counter()))
    out.put(calls)
