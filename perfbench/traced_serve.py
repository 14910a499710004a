"""serve.py with benchmark-side instrumentation, for traced runs.

Takes serve.py's arguments.  Before handing over to ``serve.main`` it
wraps the public entry points of the manager and WebSocket layers in
spans, samples every live consumer's hub depth, and adds two routes to
the control API:

    GET /bench/trace                  spans, per-query recentProgress, hub samples
    GET /bench/pipeline?stream=NAME   annotate -> noop over the stream's cached log

The service code itself is unchanged; only this launcher differs from an
untraced run.
"""

from __future__ import annotations

import threading
import time

import serve
from flask import jsonify, request
from pyspark.sql import functions as F

from squonk2_fastapi_ws_event_stream_spark.streaming import websocket as ws_mod
from squonk2_fastapi_ws_event_stream_spark.streaming.manager import StreamManager
from squonk2_fastapi_ws_event_stream_spark.streaming.pipeline import annotate
from spans import Tracer

HUB_SAMPLE_S = 0.05

tracer = Tracer("service", True)
_lock = threading.Lock()
_handles: list = []  # every ConsumerHandle started, in start order
_stopping: set[int] = set()
_hub_samples: list[int] = []


def _instrument() -> None:
    start_consumer = StreamManager.start_consumer
    stop_handle = StreamManager.stop_consumer_handle
    consume = ws_mod._WsHandler._consume
    send_many = ws_mod._WsHandler._send_text_many

    def traced_start(self, stream, *args, **kwargs):
        with tracer.span("manager.start_consumer", stream=stream):
            handle = start_consumer(self, stream, *args, **kwargs)
        with _lock:
            _handles.append(handle)
        return handle

    def traced_stop(handle):
        with _lock:
            _stopping.add(id(handle))
        with tracer.span("manager.stop_consumer", stream=handle.stream):
            stop_handle(handle)

    def traced_consume(self, es_uuid, query):
        with tracer.span("websocket.consume", uuid=es_uuid):
            consume(self, es_uuid, query)

    def traced_send(self, texts):
        with tracer.span("websocket.send", frames=len(texts)):
            send_many(self, texts)

    StreamManager.start_consumer = traced_start
    StreamManager.stop_consumer_handle = staticmethod(traced_stop)
    ws_mod._WsHandler._consume = traced_consume
    ws_mod._WsHandler._send_text_many = traced_send


def _sample_hubs() -> None:
    while True:
        time.sleep(HUB_SAMPLE_S)
        with _lock:
            live = [h for h in _handles if id(h) not in _stopping]
            _hub_samples.extend(h.hub.qsize() for h in live)


def _progress() -> list[dict]:
    with _lock:
        handles = list(_handles)
    out = []
    for h in handles:
        for p in h.query.recentProgress if h.query is not None else []:
            out.append({
                "stream": h.stream, "batch": p.batchId,
                "rows": p.numInputRows, "durationMs": dict(p.durationMs),
            })
    return out


def _pipeline_probe(spark, log_root: str, stream: str) -> dict:
    """annotate -> noop over the stream's whole log, plus the rows annotate
    drops, by reason.

    The envelope is read once and cached, so the timed passes (the second,
    warm one is reported) run annotate alone: the source read, which runs
    in a Python worker, is measured by the direct calls instead.
    """
    env = (
        spark.read.format("eventstream").option("path", log_root).option("stream", stream).load()
    ).cache()
    try:
        rows = env.count()
        relayed = annotate(env)
        seconds = []
        for _ in range(2):
            t0 = time.perf_counter()
            relayed.write.format("noop").mode("overwrite").save()
            seconds.append(time.perf_counter() - t0)
        dropped = (
            relayed.join(env.select("offset", F.col("value").cast("string").alias("v")), "offset")
            .where(F.col("out").isNull() & ~F.col("is_poison"))
            .agg(
                F.count("*").alias("rows"),
                F.sum(F.when(F.length("v") == 0, 1).otherwise(0)).alias("empty"),
                F.sum(F.when(F.col("v").startswith("{"), 1).otherwise(0)).alias("malformed"),
            )
            .collect()[0]
        )
    finally:
        env.unpersist()
    return {
        "rows": rows, "seconds": seconds[-1],
        "dropped": dropped["rows"], "empty": dropped["empty"] or 0,
        "malformed": dropped["malformed"] or 0,
    }


def _create_app(create_app):
    def create(spark, registry, manager):
        app = create_app(spark, registry, manager)

        @app.get("/bench/trace")
        def bench_trace():
            with _lock:
                samples = list(_hub_samples)
            return jsonify({"spans": tracer.dump(), "progress": _progress(), "hub": samples})

        @app.get("/bench/pipeline")
        def bench_pipeline():
            return jsonify(_pipeline_probe(spark, manager.log_root, request.args["stream"]))

        return app

    return create


if __name__ == "__main__":
    _instrument()
    serve.create_app = _create_app(serve.create_app)
    threading.Thread(target=_sample_hubs, daemon=True).start()
    serve.main()
