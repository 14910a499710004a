"""Per-layer metrics of a traced run.

The service's own layers are read from the traced launcher (spans around
manager and WebSocket entry points, Spark's per-batch ``durationMs``, hub
samples, an ``annotate`` probe) and from the benchmark's own spans around
its POST and DELETE requests.  Reads inside Spark's Python workers
cannot be wrapped from the service process, so the source layer is
measured by calling ``_read_log``, ``_last_offset``, ``_seek_start`` and
``enforce_retention`` directly on the run's own logs, at the length the
run left them.
"""

from __future__ import annotations

import json
import random
import shutil
import time
from datetime import datetime, timezone

import gen
from stats import percentile

TAIL_ROWS = 256  # about one micro-batch of one live-tail stream

DURATIONS = {
    "manager.trigger_ms": "triggerExecution",
    "manager.add_batch_ms": "addBatch",
    "manager.planning_ms": "queryPlanning",
    "manager.wal_commit_ms": "walCommit",
    "manager.commit_offsets_ms": "commitOffsets",
    "manager.latest_offset_ms": "latestOffset",
}


def _median_or_zero(values) -> float:
    return percentile(values, 50) if values else 0.0


def _span_ms(spans: list[dict], name: str) -> list[float]:
    return [(s["end"] - s["start"]) * 1000 for s in spans if s["name"] == name and s["end"] is not None]


def _log_range(log_root, stream: str) -> tuple[int, int, int]:
    """(first ordinal, last ordinal, records) of a stream's log file."""
    path = log_root / stream / "log.jsonl"
    with open(path, "rb") as f:
        first = json.loads(f.readline())["offset"]
        records = 1 + sum(1 for _ in f)
    return first, first + records - 1, records


def service_layers(svc, ctx, stream: str, messages: gen.Messages) -> dict[str, float]:
    status, trace = svc.request("GET", "/bench/trace", timeout=60)
    if status != 200:
        raise RuntimeError(f"/bench/trace returned {status}")
    spans = trace["spans"]
    ctx.service_spans = spans
    batches = [p for p in trace["progress"] if p["rows"] > 0]
    out = {
        name: _median_or_zero([p["durationMs"].get(key, 0) for p in batches])
        for name, key in DURATIONS.items()
    }
    out["manager.batches"] = len(batches)
    out["manager.rows_per_batch"] = sum(p["rows"] for p in batches) / max(1, len(batches))
    out["manager.start_consumer_ms"] = _median_or_zero(_span_ms(spans, "manager.start_consumer"))
    out["manager.stop_consumer_ms"] = _median_or_zero(_span_ms(spans, "manager.stop_consumer"))
    out["manager.stops_hung"] = sum(
        1 for s in spans if s["name"] == "manager.stop_consumer" and s["end"] is None
    )
    hub = trace["hub"]
    out["manager.hub_depth"] = sum(hub) / len(hub) if hub else 0.0
    out["websocket.send_ms"] = _median_or_zero(_span_ms(spans, "websocket.send"))
    # POST and DELETE are timed by the benchmark process, around its requests.
    client_spans = ctx.tracer.dump()
    out["api.create_ms"] = _median_or_zero(_span_ms(client_spans, "api.create"))
    out["api.delete_ms"] = _median_or_zero(_span_ms(client_spans, "api.delete"))

    status, probe = svc.request("GET", f"/bench/pipeline?stream={stream}", timeout=120)
    if status != 200:
        raise RuntimeError(f"/bench/pipeline returned {status}")
    out["pipeline.rows_per_s"] = probe["rows"] / probe["seconds"]
    out["pipeline.dropped.empty"] = probe["empty"]
    out["pipeline.dropped.malformed"] = probe["malformed"]
    lo, hi, _ = _log_range(svc.log_root, stream)
    kinds = [messages.kind(o) for o in range(lo, hi + 1)]
    want = (kinds.count(gen.KIND_EMPTY), kinds.count(gen.KIND_MALFORMED))
    if (probe["empty"], probe["malformed"]) != want or probe["rows"] != hi - lo + 1:
        ctx.errors.append(
            f"pipeline probe over {hi - lo + 1} records dropped "
            f"{probe['empty']} empty / {probe['malformed']} malformed of {probe['rows']} rows; "
            f"the generator made {want[0]} / {want[1]}"
        )
    return out


def _timed(fn, repeat: int) -> tuple[list[float], object]:
    times, result = [], None
    for _ in range(repeat):
        t0 = time.perf_counter()
        result = fn()
        times.append(time.perf_counter() - t0)
    return times, result


def direct_layers(log_root, stream: str, seed: int, history: int, errors: list[str]) -> dict[str, float]:
    from squonk2_fastapi_ws_event_stream_spark.sources.eventstream import (
        _last_offset, _read_log, _seek_start,
    )

    root = str(log_root)
    lo, hi, records = _log_range(log_root, stream)
    tail, rows = _timed(lambda: sum(b.num_rows for b in _read_log(root, stream, hi - TAIL_ROWS, hi)), 5)
    latest, _ = _timed(lambda: _last_offset(root, stream), 20)
    out = {
        "eventstream.tail_read_ms": percentile(tail, 50) * 1000,
        "eventstream.read_yield": rows / records,
        "eventstream.latest_offset_ms": percentile(latest, 50) * 1000,
    }
    position = random.Random(seed).randint(lo, min(history, hi) - 1)
    cutoff = gen.history_ts(position) // 1000 * 1000
    seeks = {
        "ordinal": ({"startingOrdinal": position}, position),
        "timestamp": ({"startingTimestampMs": gen.history_ts(position)}, position),
        "datetime": (
            {"startingDatetime": datetime.fromtimestamp(cutoff // 1000, tz=timezone.utc).isoformat()},
            max(lo - 1, (cutoff - gen.HISTORY_T0_MS) // gen.HISTORY_STEP_MS),
        ),
    }
    for mode, (options, want) in seeks.items():
        times, got = _timed(lambda: _seek_start(root, stream, options), 3)
        out[f"eventstream.seek_ms.{mode}"] = percentile(times, 50) * 1000
        # The source may resolve an expired position to any start before
        # the first retained record; only a start inside the log must match.
        if got != want and not (got < lo and want < lo):
            errors.append(f"{mode} seek to {options} resolved to {got}, expected {want}")
    return out


def retention_probe(log_root, stream: str) -> dict[str, float]:
    """enforce_retention on a copy of the stream's log, trimming 1%."""
    from squonk2_fastapi_ws_event_stream_spark.sources.eventstream import enforce_retention

    probe = f"{stream}-retention-probe"
    (log_root / probe).mkdir()
    shutil.copyfile(log_root / stream / "log.jsonl", log_root / probe / "log.jsonl")
    _, _, records = _log_range(log_root, probe)
    times, _ = _timed(lambda: enforce_retention(str(log_root), probe, max_messages=records * 99 // 100), 1)
    shutil.rmtree(log_root / probe)
    return {"eventstream.retention_ms": times[0] * 1000}


def client_frames(frame_lists) -> dict[str, float]:
    """Frames and payload bytes the clients received."""
    frames = nbytes = 0
    for frames_of_conn in frame_lists:
        for _, payloads in frames_of_conn:
            frames += len(payloads)
            nbytes += sum(map(len, payloads))
    return {"websocket.frames": frames, "websocket.bytes": nbytes}
