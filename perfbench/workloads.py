"""The two workloads, run against the service as serve.py builds it.

live-tail (open loop): a publisher process appends LIVE_RATE messages/s in
total to LIVE_STREAMS streams (one thread per stream, as independent
producers), each stream holding LIVE_HISTORY events that a retention
worker keeps near constant; one WebSocket client per stream tails from
LATEST.  The per-micro-batch fixed cost and the whole-log tail read
dominate; writes and retention run beside the reads.

replay-catchup (closed loop): REPLAY_CLIENTS clients each repeat the
reference's job lifecycle -- POST a stream, connect with a seek (ordinal,
timestamp and datetime in turn) to a seeded position REPLAY_BEHIND events
before the end of a REPLAY_HISTORY history, drain to the end of history
with max_events, close, DELETE -- while the publisher appends to the same
streams at REPLAY_PUBLISH_RATE.  Every EARLY_CLOSE_EVERY-th job closes
after its first chunk, which exercises the disconnect path.  The client
count, the early-close share and the append rate are assumptions (see
their definitions below), not measured traffic.

Both report the same end-to-end metrics.  A message's latency counts from
when it was due: in live-tail, its slot in the publish schedule; in
replay-catchup, the connect that asked for it.  Faults are kept apart: a
wrong, duplicated, out-of-order or skipped frame is wrong output and fails
the run; a refused, timed-out or dead connection is a failed operation.
"""
from __future__ import annotations

import queue
import random
import selectors
import shutil
import threading
import time
import urllib.parse
from dataclasses import dataclass, field
from datetime import datetime, timezone

import gen
import layers
from load import MP, Ledger, Publisher, retention_worker
from service import Service, WsConn
from stats import percentile, windowed_percentile

WARMUP_STREAM = "warmup"
WARMUP_EVENTS = 5_000

# publish_p90_ms is the median of the p90s of this many slices of the
# window: a burst of load from outside the benchmark moves one slice.
PUBLISH_SLICES = 10

LIVE_STREAMS = 4
LIVE_HISTORY = 50_000
LIVE_RATE = 1000.0
# Retention passes start at fixed points of the window, so every run
# holds the same number of them.
RETENTION_PERIOD_S = 10.0
WARMUP_S = 1.0
# Rounds of fresh connects before the window, for connect -> first frame.
FIRST_FRAME_ROUNDS = 3
FIRST_FRAME_TIMEOUT_S = 30.0
# A consumer silent this long while deliverable messages wait is dead.
STALL_S = 10.0
DRAIN_TIMEOUT_S = 20.0
# The backlog may grow by this many seconds of input over the window
# before the run counts as unsustainable.
BACKLOG_GROWTH_S = 1.0
BACKLOG_SAMPLE_S = 0.1

# The next three values are assumptions, not measured client traffic:
# nothing in the repo records how many replay clients the reference serves
# at once, what share of them disconnect mid-backlog, or how fast a
# replayed stream is written to.  Later changes should not read the
# replay figures as a model of real load.
#
# Clients: at most nproc, as the workload is specified.  Each one's seek
# parses the whole history in a Spark Python worker; on the 4-core host
# the benchmark was sized on, three such seeds at once made every replay
# figure follow host load (IQR/median of first-frame and delivery times
# up to 0.25-0.30 over five seeds), two kept it near the spread of the
# bare service launch.
REPLAY_CLIENTS = 2
# One job in four closes after its first chunk, starting with client 0's
# first job: every run goes through the disconnect path (ROADMAP:
# "disconnects in the middle of a backlog"), while full drains carry most
# of the frames.
EARLY_CLOSE_EVERY = 4
REPLAY_HISTORY = 200_000
# How far behind the end of history each seek lands, drawn per op: far
# enough that a client closing after its first chunk leaves more than the
# hub holds (16 chunks of 2048) undelivered.
REPLAY_BEHIND = (40_000, 60_000)
# Appends during replay exist so that publish latency is measured on this
# workload too (every workload reports every end-to-end metric); the rate
# is low enough that the drains, not the appends, set the load.
REPLAY_PUBLISH_RATE = 150.0
# The service's idle close (``timeout_s``) for replay connections.  The
# client's socket waits twice as long, so a consumer that dies mid-drain
# always ends the same way: the service closes normally after
# OP_TIMEOUT_S without a frame, and the op counts as timed out (failed),
# not as wrong output.
OP_TIMEOUT_S = 15.0
CLIENT_TIMEOUT_S = 2 * OP_TIMEOUT_S
# A normal close this close to OP_TIMEOUT_S after the last frame (or the
# connect) is the service's idle close: its idle check ticks every 0.25 s.
IDLE_CLOSE_SLACK_S = 1.0
# Time for the service's handler threads to end after the last client
# closed, before they are counted.
THREADS_SETTLE_S = 1.0
SEEK_MODES = ("ordinal", "timestamp", "datetime")
# Frames an early-closing client reads before it closes: one hub chunk.
FIRST_CHUNK = 2048


@dataclass
class Outcome:
    setup_s: float
    deliver_s: list[float]
    first_frame_s: list[float]
    publish_s: list[float]
    publish_p90_s: float
    msgs_per_s: float
    attempted: int
    failed: int
    errors: list[str]
    notes: list[str]

    def end_to_end(self) -> dict[str, float]:
        return {
            "setup_s": self.setup_s,
            "deliver_p50_ms": percentile(self.deliver_s, 50) * 1000,
            "deliver_p99_ms": percentile(self.deliver_s, 99) * 1000,
            "first_frame_p50_ms": percentile(self.first_frame_s, 50) * 1000,
            "msgs_per_s": self.msgs_per_s,
            "publish_p90_ms": self.publish_p90_s * 1000,
        }


def write_histories(log_root, streams: list[str], messages: gen.Messages, n: int) -> None:
    """Every stream gets the same n-event history (bodies depend only on
    the ordinal), so it is generated once and copied."""
    first = log_root / streams[0]
    first.mkdir(parents=True, exist_ok=True)
    gen.write_history(str(first / "log.jsonl"), messages, n)
    for s in streams[1:]:
        (log_root / s).mkdir(parents=True, exist_ok=True)
        shutil.copyfile(first / "log.jsonl", log_root / s / "log.jsonl")


def start_service(ctx, streams: list[str], messages, history: int):
    """Launch the service, write the histories while it starts, and warm it
    up.  Returns (service, launch time)."""
    svc = Service(ctx.root, ctx.work, ctx.traced, ctx.cpus, ctx.driver_memory)
    ctx.services.append(svc)
    launched = time.perf_counter()
    svc.start()
    write_histories(svc.log_root, streams, messages, history)
    (svc.log_root / WARMUP_STREAM).mkdir()
    gen.write_history(str(svc.log_root / WARMUP_STREAM / "log.jsonl"), messages, WARMUP_EVENTS)
    svc.wait_ready()
    _warm_up(svc, messages)
    return svc, launched


def _warm_up(svc, messages) -> None:
    """Replay one short stream through one consumer before any others.

    Its first micro-batch runs the session's lazy set-up alone: concurrent
    first jobs on a fresh session have been seen to fail task
    deserialization (java.io.OptionalDataException) and leave the session
    unable to relay at all.
    """
    es_id, uuid = svc.create_stream(WARMUP_STREAM)
    expected = Ledger(messages).deliverable(1, WARMUP_EVENTS + 1)
    check = gen.StreamCheck(messages, 1, gen.history_ts)
    conn = WsConn(
        svc.ws_port,
        f"/event-stream/{uuid}?stream_from_ordinal=0&max_events={expected}&timeout_s={OP_TIMEOUT_S:g}",
        timeout=CLIENT_TIMEOUT_S,
    )
    try:
        while conn.closed_by_server is None:
            for p in conn.read()[1]:
                check.feed(p.decode())
        conn.send_close()
    finally:
        conn.close()
    svc.delete_stream(es_id)
    if check.errors or check.good != expected:
        raise RuntimeError(f"warm-up replay delivered {check.good} of {expected}: {check.errors[:3]}")


class _Receiver(threading.Thread):
    """Owns every live-tail connection and reads them all through one
    selector.  ``request(i)`` asks it to (re)connect stream i: a stream that
    has delivered before resumes just after its last ordinal, so a consumer
    that died is replaced without a gap or a duplicate."""

    def __init__(self, svc, uuids: list[str], tracer):
        super().__init__(daemon=True)
        n = len(uuids)
        self.svc, self.uuids, self.tracer = svc, uuids, tracer
        self.sel = selectors.DefaultSelector()
        self.conns: list[WsConn | None] = [None] * n
        self.generation = [0] * n  # fresh connects made per stream
        self.frames: list[list[tuple[float, list[bytes]]]] = [[] for _ in range(n)]
        self.count = [0] * n
        self.connected_at: list[float | None] = [None] * n  # the connect its first frame answers
        self.first_t: list[float | None] = [None] * n
        self.first_ordinal: list[int | None] = [None] * n
        self.last_t: list[float | None] = [None] * n
        self.last_ordinal: list[int | None] = [None] * n
        # Earlier fresh connections: (stream, first ordinal, frames), and
        # their connect -> first frame times.
        self.closed: list[tuple[int, int, list[tuple[float, list[bytes]]]]] = []
        self.closed_first_frame_s: list[float] = []
        self.handshakes: list[float] = []
        self.errors: list[str] = []
        self._requests: queue.SimpleQueue[tuple[int, bool]] = queue.SimpleQueue()
        self._halt = threading.Event()

    def request(self, i: int, fresh: bool = False) -> None:
        """(Re)connect stream i: resume after its last frame, or, when
        ``fresh``, start a new tail from LATEST."""
        self._requests.put((i, fresh))

    def first_frame_s(self) -> list[float]:
        """connect -> first frame of every fresh connection."""
        current = [ft - tc for ft, tc in zip(self.first_t, self.connected_at) if ft is not None]
        return self.closed_first_frame_s + current

    def stop(self) -> None:
        self._halt.set()
        self.join()
        for conn in self.conns:
            if conn is not None:
                conn.send_close()
                conn.close()

    def _connect(self, i: int, fresh: bool) -> None:
        old = self.conns[i]
        if old is not None:
            if old.fileno() in self.sel.get_map():
                self.sel.unregister(old.sock)
            old.send_close()
            old.close()
        if fresh:
            if self.first_t[i] is not None:
                self.closed.append((i, self.first_ordinal[i], self.frames[i]))
                self.closed_first_frame_s.append(self.first_t[i] - self.connected_at[i])
            self.frames[i], self.count[i] = [], 0
            self.first_t[i] = self.first_ordinal[i] = self.last_t[i] = self.last_ordinal[i] = None
            self.generation[i] += 1
        resume = self.last_ordinal[i]
        query = "" if resume is None else f"?stream_from_ordinal={resume}"
        started = time.perf_counter()
        with self.tracer.span("websocket.connect", stream=i, resume=resume):
            conn = WsConn(self.svc.ws_port, f"/event-stream/{self.uuids[i]}{query}", timeout=OP_TIMEOUT_S)
        self.handshakes.append(time.perf_counter() - started)
        if resume is None:
            self.connected_at[i] = started
        conn.sock.setblocking(False)
        self.sel.register(conn.sock, selectors.EVENT_READ, (i, conn))
        self.conns[i] = conn

    def run(self) -> None:
        while not self._halt.is_set():
            while not self._requests.empty():
                i, fresh = self._requests.get()
                try:
                    self._connect(i, fresh)
                except OSError as exc:
                    self.errors.append(f"stream {i}: connect failed: {exc}")
            for key, _ in self.sel.select(0.1):
                i, conn = key.data
                try:
                    t, payloads = conn.read()
                except BlockingIOError:
                    continue
                except OSError as exc:
                    self.errors.append(f"stream {i}: connection lost: {exc}")
                    self.sel.unregister(conn.sock)
                    continue
                if conn.closed_by_server is not None:
                    self.errors.append(f"stream {i}: server closed with {conn.closed_by_server}")
                    self.sel.unregister(conn.sock)
                if payloads:
                    if self.first_t[i] is None:
                        self.first_t[i] = t
                        self.first_ordinal[i] = gen.parse_frame(payloads[0].decode())[0]
                    self.last_t[i] = t
                    self.last_ordinal[i] = gen.parse_frame(payloads[-1].decode())[0]
                    self.frames[i].append((t, payloads))
                    self.count[i] += len(payloads)


class _Healer:
    """Reconnects live-tail streams whose consumer went quiet: no first
    frame within FIRST_FRAME_TIMEOUT_S of connecting, or no frame for
    STALL_S while deliverable messages wait.  Each reconnect is a failed
    operation; the streams it touched are listed for the backlog check."""

    def __init__(self, receiver: _Receiver, publisher, ledger: Ledger):
        self.receiver, self.publisher, self.ledger = receiver, publisher, ledger
        self.requested = [0.0] * len(receiver.uuids)
        self.reconnects: list[tuple[float, int, str]] = []

    def connect_all(self) -> None:
        """A fresh tail on every stream."""
        for i in range(len(self.requested)):
            self._request(i, fresh=True)

    def _request(self, i: int, fresh: bool = False) -> None:
        self.requested[i] = time.perf_counter()
        self.receiver.request(i, fresh)

    def check(self) -> None:
        r, now = self.receiver, time.perf_counter()
        for i, asked in enumerate(self.requested):
            last_t, last = r.last_t[i], r.last_ordinal[i]
            waiting = last is None or self.ledger.deliverable(last + 1, self.publisher.last(i) + 1)
            limit = FIRST_FRAME_TIMEOUT_S if last_t is None else STALL_S
            if waiting and now - max(last_t or asked, asked) > limit:
                why = "no first frame" if r.last_t[i] is None else "stalled"
                self.reconnects.append((now, i, why))
                self._request(i)


def live_tail(ctx) -> Outcome:
    tracer = ctx.tracer
    messages = gen.Messages(ctx.seed)
    ledger = Ledger(messages)
    streams = [f"live-{i}" for i in range(LIVE_STREAMS)]
    errors: list[str] = []
    notes: list[str] = []
    svc = publisher = retention = receiver = None
    retention_commands, retention_out = MP.Queue(), MP.Queue()
    try:
        svc, launched = start_service(ctx, streams, messages, LIVE_HISTORY)
        ids = []
        for s in streams:
            with tracer.span("api.create", stream=s):
                ids.append(svc.create_stream(s))
        setup_s = time.perf_counter() - launched

        retention = MP.Process(
            target=retention_worker,
            args=(str(svc.log_root), streams, LIVE_HISTORY, retention_commands, retention_out),
        )
        retention.start()
        publisher = Publisher(str(svc.log_root), streams, ctx.seed, LIVE_RATE, LIVE_HISTORY + 1)
        publisher.start()

        threads_before = svc.threads()
        receiver = _Receiver(svc, [uuid for _, uuid in ids], tracer)
        receiver.start()
        healer = _Healer(receiver, publisher, ledger)
        # Every round connects a fresh tail to each stream at once; the last
        # round's connections carry the window.
        for round_ in range(1, FIRST_FRAME_ROUNDS + 1):
            healer.connect_all()
            deadline = time.perf_counter() + 2 * FIRST_FRAME_TIMEOUT_S
            while time.perf_counter() < deadline and not all(
                g == round_ and t is not None for g, t in zip(receiver.generation, receiver.first_t)
            ):
                healer.check()
                time.sleep(BACKLOG_SAMPLE_S / 10)
            if None in receiver.first_t:
                raise RuntimeError(f"no first frame on some stream: {receiver.errors}")
        time.sleep(WARMUP_S)

        def backlog() -> list[int]:
            return [
                ledger.deliverable(receiver.first_ordinal[i], publisher.last(i) + 1) - receiver.count[i]
                for i in range(len(streams))
            ]

        w0 = time.perf_counter()
        w1 = w0 + ctx.seconds
        backlogs = []  # per-stream backlog, sampled through the window
        next_pass = w0 + RETENTION_PERIOD_S / 2
        while time.perf_counter() < w1:
            if time.perf_counter() >= next_pass:
                retention_commands.put(True)
                next_pass += RETENTION_PERIOD_S
            healer.check()
            backlogs.append(backlog())
            time.sleep(BACKLOG_SAMPLE_S)
        publisher.stop()
        retention_commands.put(None)
        retention_calls = retention_out.get(timeout=60)
        retention.join(timeout=30)

        deadline = time.perf_counter() + DRAIN_TIMEOUT_S
        while any(backlog()) and time.perf_counter() < deadline:
            healer.check()
            time.sleep(BACKLOG_SAMPLE_S)
        receiver.stop()

        # Mean backlog over the window's first and last quarters: a single
        # sample swings by a micro-batch's worth of input.  A stream that
        # was reconnected fell behind for a known reason, counted as a
        # failed operation, and is left out.
        healed = {i for t, i, _ in healer.reconnects if t >= w0}
        kept = [i for i in range(len(streams)) if i not in healed]
        quarter = max(1, len(backlogs) // 4)
        start = sum(b[i] for b in backlogs[:quarter] for i in kept) / quarter
        end = sum(b[i] for b in backlogs[-quarter:] for i in kept) / quarter
        notes.append(f"backlog {start:.0f} at window start, {end:.0f} at end, {sum(backlog())} after drain")
        if end - start > LIVE_RATE * len(kept) / len(streams) * BACKLOG_GROWTH_S:
            errors.append(f"unsustainable: backlog grew by {end - start:.0f} messages over the window")
        for t, i, why in healer.reconnects:
            notes.append(f"stream {i} {why}; reconnected {t - w0:+.1f} s from the window start")

        for es_id, _ in ids:
            with tracer.span("api.delete"):
                svc.delete_stream(es_id)
        if ctx.traced:
            time.sleep(THREADS_SETTLE_S)
            threads_leaked = svc.threads() - threads_before
            ctx.layers.update(layers.service_layers(svc, ctx, streams[0], messages))
            ctx.layers.update(layers.direct_layers(svc.log_root, streams[0], ctx.seed, LIVE_HISTORY, ctx.errors))
    finally:
        if receiver is not None and receiver.is_alive():
            receiver.stop()
        if publisher is not None:
            publisher.kill()
        if retention is not None and retention.is_alive():
            retention.terminate()
            retention.join()
        if svc is not None:
            svc.stop()

    errors += publisher.errors
    notes += [f"client: {e}" for e in receiver.errors]

    def checker(i: int, first: int) -> gen.StreamCheck | None:
        if first <= LIVE_HISTORY:
            errors.append(f"stream {i}: first frame ordinal {first} is not a live message")
            return None
        ts = publisher.ts[i]
        return gen.StreamCheck(messages, first, lambda o: ts.get(o, -1))

    for i, first, frames in receiver.closed:
        check = checker(i, first)
        for _, payloads in frames if check else []:
            for p in payloads:
                check.feed(p.decode())
        errors += [f"stream {i}, earlier connection: {e}" for e in (check.errors[:5] if check else [])]
    deliver, in_window_frames, good_in_window, undelivered = [], 0, 0, 0
    for i in range(len(streams)):
        check = checker(i, receiver.first_ordinal[i])
        if check is None:
            continue
        due = publisher.due[i]
        for t, payloads in receiver.frames[i]:
            if w0 <= t < w1:
                in_window_frames += len(payloads)
            for p in payloads:
                o = check.feed(p.decode())
                if o is not None and w0 <= due[o] < w1:
                    deliver.append(t - due[o])
                    good_in_window += 1
        errors += [f"stream {i}: {e}" for e in check.errors[:5]]
        undelivered += ledger.deliverable(check.next, publisher.last(i) + 1)
    if undelivered:
        notes.append(f"{undelivered} published messages not delivered by the end of the drain")
    expected_in_window = sum(
        1 for i in range(len(streams)) for o, d in publisher.due[i].items()
        if w0 <= d < w1 and messages.kind(o) not in gen.DROPPED_KINDS
    )
    window = [(late, took) for d, late, took in publisher.samples if w0 <= d < w1]
    notes.append(f"publisher max lateness {max(l for l, _ in window) * 1000:.1f} ms over {len(window)} publishes")
    if ctx.traced:
        ctx.layers.update({
            "eventstream.publish_us": percentile([t for _, t in window], 50) * 1e6,
            "eventstream.retention_ms": percentile([e - s for s, e in retention_calls], 50) * 1000,
            "manager.threads_leaked": threads_leaked,
            "websocket.handshake_ms": percentile(receiver.handshakes, 50) * 1000,
            "generator.max_late_ms": max(l for l, _ in window) * 1000,
        })
        ctx.layers.update(layers.client_frames(receiver.frames))
        for s, e in retention_calls:
            tracer.record("eventstream.enforce_retention", s, e)
    connects = len(streams) * FIRST_FRAME_ROUNDS + len(healer.reconnects)
    return Outcome(
        setup_s=setup_s,
        deliver_s=deliver,
        first_frame_s=receiver.first_frame_s(),
        publish_s=[t for _, t in window],
        publish_p90_s=windowed_percentile(publisher.samples_by_due(), w0, w1, PUBLISH_SLICES, 90),
        msgs_per_s=in_window_frames / (w1 - w0),
        attempted=expected_in_window + connects,
        failed=expected_in_window - good_in_window + len(healer.reconnects),
        errors=errors,
        notes=notes,
    )


def seek(mode: str, position: int) -> tuple[int, str]:
    """(first ordinal the seek should deliver, query string) for a seek
    just past history ordinal ``position``."""
    if mode == "ordinal":
        return position + 1, f"stream_from_ordinal={position}"
    if mode == "timestamp":
        return position + 1, f"stream_from_timestamp={gen.history_ts(position)}"
    # A whole-second cutoff: the service's float conversion is exact there.
    cutoff = gen.history_ts(position) // 1000 * 1000
    iso = datetime.fromtimestamp(cutoff // 1000, tz=timezone.utc).isoformat()
    first = (cutoff - gen.HISTORY_T0_MS) // gen.HISTORY_STEP_MS + 1
    return first, "stream_from_datetime=" + urllib.parse.quote(iso)


@dataclass
class Op:
    client: int
    mode: str
    first: int
    expected: int
    early: bool
    t_connect: float = 0.0
    t_first: float | None = None
    t_closed: float | None = None  # when the service's close frame arrived
    t_end: float = 0.0
    handshake_s: float = 0.0
    close_code: int | None = None
    frames: list[tuple[float, list[bytes]]] = field(default_factory=list)
    error: str | None = None


def _run_op(ctx, svc, publisher, ledger, stream: str, c: int, mode: str, position: int, early: bool) -> Op:
    """One job: POST, connect with a seek, drain (or close after the first
    chunk), DELETE.  A failed step is recorded on the op, not raised."""
    tracer = ctx.tracer
    end = publisher.last(c)
    first, query = seek(mode, position)
    op = Op(c, mode, first, ledger.deliverable(first, end + 1), early)
    step = "create"
    try:
        with tracer.span("replay.op", client=c, mode=mode) as op_span:
            with tracer.span("api.create", parent=op_span):
                es_id, uuid = svc.create_stream(stream)
            step = "connect"
            resource = (
                f"/event-stream/{uuid}?{query}&max_events={op.expected}&timeout_s={OP_TIMEOUT_S:g}"
            )
            op.t_connect = time.perf_counter()
            with tracer.span("websocket.connect", parent=op_span):
                conn = WsConn(svc.ws_port, resource, timeout=CLIENT_TIMEOUT_S)
            op.handshake_s = time.perf_counter() - op.t_connect
            step = "drain"
            got, closing = 0, False
            try:
                with tracer.span("websocket.drain", parent=op_span, early=early):
                    while conn.closed_by_server is None:
                        t, payloads = conn.read()
                        if payloads:
                            if op.t_first is None:
                                op.t_first = t
                            op.frames.append((t, payloads))
                            got += len(payloads)
                        if early and not closing and got >= min(FIRST_CHUNK, op.expected):
                            conn.send_close()
                            closing = True
                op.t_closed = t
                op.close_code = conn.closed_by_server
                if not closing:
                    conn.send_close()
            finally:
                conn.close()
                op.t_end = time.perf_counter()
            step = "delete"
            with tracer.span("api.delete", parent=op_span):
                svc.delete_stream(es_id, timeout=OP_TIMEOUT_S)
    except (OSError, RuntimeError) as exc:
        op.error = f"{step}: {type(exc).__name__}: {exc}"
        op.t_end = op.t_end or time.perf_counter()
    return op


def _verify_op(op: Op, messages, publisher) -> tuple[int, list[str]]:
    """Check an op's frames: (correct frames, wrong output found).  A
    refused, cut-short or idle-closed op that delivered nothing wrong only
    gets ``op.error``: it failed, but its output was not wrong.  A normal
    close short of ``max_events`` that was not the idle close is wrong."""
    ts = publisher.ts[op.client]
    check = gen.StreamCheck(
        messages, op.first,
        lambda o: gen.history_ts(o) if o <= REPLAY_HISTORY else ts.get(o, -1),
    )
    for _, payloads in op.frames:
        for p in payloads:
            check.feed(p.decode())
    wrong = list(check.errors)
    if op.error is None and not wrong:
        if op.close_code != 1000:
            op.error = f"closed with {op.close_code}"
        elif not op.early and check.good != op.expected:
            quiet = op.t_closed - (op.frames[-1][0] if op.frames else op.t_connect)
            if quiet >= OP_TIMEOUT_S - IDLE_CLOSE_SLACK_S:
                op.error = f"timed out: idle close after {check.good} of {op.expected} frames"
            else:
                wrong.append(f"closed normally after {check.good} of {op.expected} frames, {quiet:.1f} s after the last")
        elif op.early and check.good < min(FIRST_CHUNK, op.expected):
            op.error = f"closed early after {check.good} frames"
    return check.good, wrong


def replay_catchup(ctx) -> Outcome:
    tracer = ctx.tracer
    messages = gen.Messages(ctx.seed)
    ledger = Ledger(messages)
    streams = [f"replay-{c}" for c in range(REPLAY_CLIENTS)]
    ops: list[Op] = []
    errors: list[str] = []
    notes: list[str] = []
    svc = publisher = None
    try:
        svc, launched = start_service(ctx, streams, messages, REPLAY_HISTORY)
        ledger.deliverable(1, REPLAY_HISTORY + 1)
        setup_s = time.perf_counter() - launched

        publisher = Publisher(str(svc.log_root), streams, ctx.seed, REPLAY_PUBLISH_RATE, REPLAY_HISTORY + 1)
        threads_before = svc.threads()
        publisher.start()
        rngs = [random.Random(ctx.seed * 7919 + c) for c in range(REPLAY_CLIENTS)]
        lock = threading.Lock()

        def client(c: int, until: float) -> None:
            """Run ops back to back until ``until``."""
            k = 0
            while time.perf_counter() < until:
                mode = SEEK_MODES[(c + k) % len(SEEK_MODES)]
                # Offset by client, so that the first round of jobs already
                # holds an early close even when a slow host fits few rounds.
                early = (c + k) % EARLY_CLOSE_EVERY == 0
                position = REPLAY_HISTORY - rngs[c].randint(*REPLAY_BEHIND)
                k += 1
                op = _run_op(ctx, svc, publisher, ledger, streams[c], c, mode, position, early)
                with lock:
                    ops.append(op)

        w0 = time.perf_counter()
        w1 = w0 + ctx.seconds
        threads = [threading.Thread(target=client, args=(c, w1), daemon=True) for c in range(REPLAY_CLIENTS)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        publisher.stop()
        if ctx.traced:
            time.sleep(THREADS_SETTLE_S)
            threads_leaked = svc.threads() - threads_before
            ctx.layers.update(layers.service_layers(svc, ctx, streams[0], messages))
            ctx.layers.update(layers.direct_layers(svc.log_root, streams[0], ctx.seed, REPLAY_HISTORY, ctx.errors))
            ctx.layers.update(layers.retention_probe(svc.log_root, streams[0]))
    finally:
        if publisher is not None:
            publisher.kill()
        if svc is not None:
            svc.stop()

    errors += publisher.errors
    checked = time.perf_counter()
    deliver, first_frame, good_frames, failed = [], [], 0, 0
    for op in ops:
        good, wrong = _verify_op(op, messages, publisher)
        good_frames += good
        name = f"client {op.client} {op.mode} seek from {op.first}"
        errors += [f"{name}: {w}" for w in wrong[:3]]
        if op.error is not None or wrong:
            failed += 1
            notes.append(f"{name} failed: {op.error or wrong[0]}")
            continue
        if op.t_first is not None:
            first_frame.append(op.t_first - op.t_connect)
        for t, payloads in op.frames:
            deliver.extend([t - op.t_connect] * len(payloads))
    span_end = max(op.t_end for op in ops)
    window = [(late, took) for d, late, took in publisher.samples if w0 <= d < w1]
    notes += [
        f"{len(ops)} ops ({sum(op.early for op in ops)} closed early), "
        f"{good_frames} correct frames in {span_end - w0:.2f} s",
        f"publisher max lateness {max(l for l, _ in window) * 1000:.1f} ms over {len(window)} publishes",
        f"checking frames took {time.perf_counter() - checked:.1f} s",
    ]
    if ctx.traced:
        ctx.layers.update({
            "eventstream.publish_us": percentile([t for _, t in window], 50) * 1e6,
            "manager.threads_leaked": threads_leaked,
            "websocket.handshake_ms": percentile([op.handshake_s for op in ops if op.handshake_s], 50) * 1000,
            "generator.max_late_ms": max(l for l, _ in window) * 1000,
        })
        ctx.layers.update(layers.client_frames([op.frames for op in ops]))
    return Outcome(
        setup_s=setup_s,
        deliver_s=deliver,
        first_frame_s=first_frame,
        publish_s=[t for _, t in window],
        publish_p90_s=windowed_percentile(publisher.samples_by_due(), w0, w1, PUBLISH_SLICES, 90),
        msgs_per_s=good_frames / (span_end - w0),
        attempted=len(ops),
        failed=failed + (1 if publisher.errors else 0),
        errors=errors,
        notes=notes,
    )


WORKLOADS = {"live-tail": live_tail, "replay-catchup": replay_catchup}
