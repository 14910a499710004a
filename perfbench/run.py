#!/usr/bin/env python3
"""Service benchmark for the event-stream relay.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload live-tail --seed 1 --seconds 18 --trace 0

Workloads (see workloads.py): ``live-tail`` (open loop, tail from LATEST
while writes and retention run) and ``replay-catchup`` (closed loop of
POST / seek / drain / close / DELETE jobs).  Inputs are made from
``--seed``; the service runs as serve.py builds it, in a session of its
own, with its logs and checkpoints under ``.bench_scratch/`` in the
checkout, and is killed when the run ends; so is every other process the
run started (procs.py), and the run waits until each has ended.

End-to-end metrics (``--trace 0``), the same on both workloads; their names
and units, and the per-layer ones', are read from BENCHMARK.json:

    setup_s             service launch, seeded history, warm-up replay -> first timed op
    deliver_p50_ms      message due -> frame received, median
    deliver_p99_ms      the same, 99th percentile
    first_frame_p50_ms  WebSocket connect -> first frame, median
    msgs_per_s          correct frames received per second, all clients
    publish_p90_ms      EventLogWriter.publish latency, 90th percentile (median
                        over ten slices of the window)

``--trace 1`` runs the same workload with the traced launcher and prints
the per-layer metrics instead (see layers.py), writes its spans to
``.bench_scratch/traces/``, and prints its end-to-end figures beside the
last untraced run of the same workload and seed as the tracing overhead.

Every frame is checked against the seeded oracle (gen.py).  The last line
of stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``; the exit code is non-zero when any output was wrong.  An
operation that was refused, timed out or lost its consumer counts in
``failed`` without making the output wrong.
"""

from __future__ import annotations

import argparse
import atexit
import json
import os
import shutil
import signal
import sys
import traceback
from dataclasses import dataclass, field
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "squonk2_fastapi_ws_event_stream_spark"
SCRATCH = ROOT / ".bench_scratch"
# The service's JVM heap: sized for a small shared host (the package
# default is 16g).
DRIVER_MEMORY = "2g"


def declared_metrics(section: str) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec[section]}


@dataclass
class Context:
    root: Path
    work: Path
    seed: int
    seconds: float
    traced: bool
    cpus: int
    driver_memory: str
    tracer: object
    layers: dict = field(default_factory=dict)
    errors: list = field(default_factory=list)
    service_spans: list = field(default_factory=list)
    services: list = field(default_factory=list)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    import procs

    # A SIGTERM or SIGHUP, too, unwinds through every finally block (which
    # stop the service and the load processes) and then end_all.
    procs.adopt_orphans()
    atexit.register(procs.end_all)
    for sig in (signal.SIGTERM, signal.SIGHUP):
        signal.signal(sig, lambda signum, frame: sys.exit(128 + signum))

    if not (ROOT / "serve.py").is_file() or not (ROOT / PACKAGE).is_dir():
        print(f"error: {ROOT} holds no service to benchmark (serve.py, {PACKAGE}/)", file=sys.stderr)
        return 2
    sys.path.insert(1, str(ROOT))
    import stats
    import workloads
    from spans import Tracer, write_spans

    if args.workload not in workloads.WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    end_to_end_units = declared_metrics("end_to_end")
    per_layer_units = declared_metrics("per_layer")
    traced = bool(args.trace)
    tag = f"{args.workload}-seed{args.seed}"
    work = SCRATCH / "runs" / f"{tag}-{os.getpid()}"
    work.mkdir(parents=True)
    ctx = Context(
        root=ROOT, work=work, seed=args.seed, seconds=args.seconds, traced=traced,
        cpus=len(os.sched_getaffinity(0)), driver_memory=DRIVER_MEMORY,
        tracer=Tracer("bench", traced),
    )
    try:
        outcome = workloads.WORKLOADS[args.workload](ctx)
    except Exception:
        traceback.print_exc()
        print("error: the run did not complete", file=sys.stderr)
        return 1
    finally:
        for svc in ctx.services:
            svc.stop()
        _keep_log(work, tag)
    errors = outcome.errors + ctx.errors

    print(f"{args.workload} seed {args.seed}, {args.seconds:g} s window, {ctx.cpus} cpus, trace {args.trace}")
    for err in errors[:20]:
        print(f"  WRONG: {err}")
    if not (outcome.deliver_s and outcome.first_frame_s and outcome.publish_s):
        print("error: no frames or publishes to measure", file=sys.stderr)
        return 1
    e2e = outcome.end_to_end()
    if set(e2e) != set(end_to_end_units):
        print(f"error: the run measured {sorted(e2e)}, BENCHMARK.json declares {sorted(end_to_end_units)}", file=sys.stderr)
        return 1
    for name, value in e2e.items():
        print(f"  {name:20s} {value:12.3f} {end_to_end_units[name]}")
    print(f"  deliver: {stats.describe([s * 1000 for s in outcome.deliver_s], 'ms')}")
    print(f"  first frame: {stats.describe([s * 1000 for s in outcome.first_frame_s], 'ms')}")
    print(f"  publish: {stats.describe([s * 1000 for s in outcome.publish_s], 'ms')}")
    print(f"  error_rate {outcome.failed / outcome.attempted:.6f} ({outcome.failed} of {outcome.attempted})")
    for note in outcome.notes:
        print(f"  {note}")

    results = SCRATCH / "results"
    results.mkdir(parents=True, exist_ok=True)
    (results / f"{tag}-trace{args.trace}.json").write_text(json.dumps(e2e))
    if traced:
        untraced = results / f"{tag}-trace0.json"
        if untraced.exists():
            base = json.loads(untraced.read_text())
            print("  tracing overhead (traced / untraced, same workload and seed):")
            for name, value in e2e.items():
                print(f"    {name:20s} {value:12.3f} / {base[name]:12.3f} = {value / base[name]:.3f}")
        else:
            print("  tracing overhead: no untraced run of this workload and seed to compare")
        traces = SCRATCH / "traces"
        traces.mkdir(parents=True, exist_ok=True)
        write_spans(traces / f"{tag}.jsonl", ctx.tracer.dump() + ctx.service_spans)
        missing = sorted(set(per_layer_units) - set(ctx.layers))
        if missing:
            print(f"error: the traced run measured none of {missing}", file=sys.stderr)
            return 1
        metrics = {name: {"value": ctx.layers[name], "unit": unit} for name, unit in per_layer_units.items()}
    else:
        metrics = {name: {"value": value, "unit": end_to_end_units[name]} for name, value in e2e.items()}

    correct = not errors
    print(json.dumps({
        "correct": correct,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "metrics": metrics,
    }))
    return 0 if correct else 1


def _keep_log(work: Path, tag: str) -> None:
    """Keep the service log, drop the run's logs and checkpoints."""
    logs = SCRATCH / "logs"
    logs.mkdir(parents=True, exist_ok=True)
    if (work / "service.log").exists():
        shutil.move(work / "service.log", logs / f"{tag}-{os.getpid()}.log")
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
