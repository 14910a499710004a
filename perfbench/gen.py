"""Seeded message generator and the independent output oracle.

Every message body is a pure function of ``(seed, ordinal)``,
so a run never has to keep the bodies it published: the oracle rebuilds
the expected frame for any ordinal it receives.  The mix follows
FIXTURES.md A2/A3: JSON charge messages, protobuf-text charge messages and
a few percent of bodies the relay is designed to drop (empty bodies and
malformed JSON).  No POISON pill is generated: it would stop the consumer.

The oracle does not reuse the service's enrichment code.  A JSON frame is
parsed and compared as an object with the body plus ``ess_ordinal`` and
``ess_timestamp``; a protobuf-text frame must equal the body plus
``|ordinal: N|timestamp: M`` byte for byte.
"""

from __future__ import annotations

import json
import random
from datetime import datetime, timezone

M64 = (1 << 64) - 1

KIND_JSON, KIND_PROTO, KIND_EMPTY, KIND_MALFORMED = 0, 1, 2, 3
DROPPED_KINDS = (KIND_EMPTY, KIND_MALFORMED)
# Shares per 1000 messages: a few percent of each designed drop.
EMPTY_PER_MILLE = 20
MALFORMED_PER_MILLE = 20
PROTO_PER_MILLE = 300

# History timestamps: whole-second start, 10 ms apart, so a whole-second
# datetime seek lands exactly on an event boundary.
HISTORY_T0_MS = 1_700_000_000_000
HISTORY_STEP_MS = 10

_JSON_TYPES = (
    "accountserver.MerchantProcessingCharge",
    "accountserver.MerchantStorageCharge",
)
_OPERATIONS = ("OPERATION_ENUM_PROCESSING", "OPERATION_ENUM_STORAGE")
_KINDS = ("DATA_MANAGER", "ACCOUNT_SERVER")
_JSON_PREFIX = (
    '{"message_type": "%s", "message_body": {"timestamp": "%s", '
    '"merchant_kind": "%s", "merchant_name": "squonk", "merchant_id": %d, '
    '"operation": "%s", "auth_code": %d, "value": "%d.%02d", "sqn": '
)
_PROTO_PREFIX = (
    'accountserver.MerchantCharge|timestamp: "%s" merchant_kind: "%s" '
    'merchant_name: "squonk" merchant_id: %d operation: %s auth_code: %d '
    'value: "%d.%02d" sqn: '
)
_MALFORMED_PREFIX = '{"message_type": "%s", "message_body": {"sqn": '


def _mix(x: int) -> int:
    """splitmix64 finaliser: a fast, well-spread 64-bit hash."""
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & M64
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & M64
    return x ^ (x >> 31)


def _iso(ms: int) -> str:
    dt = datetime.fromtimestamp(ms // 1000, tz=timezone.utc)
    return dt.strftime("%Y-%m-%dT%H:%M:%S") + ".%03d+00:00" % (ms % 1000)


class Messages:
    """The seeded message source: ordinal -> body, the same in every stream.

    A body is a seeded variant with the ordinal spliced in as ``sqn``, so
    building one costs a hash and a string join, and a 200k-event history
    is written in well under a second.
    """

    VARIANTS = 1024

    def __init__(self, seed: int):
        rng = random.Random(seed)
        self.salt = rng.getrandbits(64)
        self.pool: dict[int, list[tuple[str, str]]] = {
            KIND_EMPTY: [("", "")] * self.VARIANTS
        }
        for kind in (KIND_JSON, KIND_PROTO, KIND_MALFORMED):
            self.pool[kind] = [self._variant(rng, kind) for _ in range(self.VARIANTS)]
        self._parsed: dict[int, dict] = {}
        # The same split pre-escaped for the log's JSON string field.
        self.escaped = {
            kind: [(json.dumps(pre)[1:-1], json.dumps(post)[1:-1]) for pre, post in variants]
            for kind, variants in self.pool.items()
        }

    @staticmethod
    def _variant(rng: random.Random, kind: int) -> tuple[str, str]:
        mtype = rng.choice(_JSON_TYPES)
        if kind == KIND_MALFORMED:
            return _MALFORMED_PREFIX % mtype, ""
        fields = (
            _iso(1_745_000_000_000 + rng.randrange(10_000_000_000)),
            rng.choice(_KINDS),
            rng.randint(1, 50),
            rng.choice(_OPERATIONS),
            rng.randint(100_000, 999_999),
            rng.randrange(20),
            rng.randrange(100),
        )
        if kind == KIND_PROTO:
            return _PROTO_PREFIX % fields, ""
        return _JSON_PREFIX % ((mtype,) + fields), "}}"

    def _pick(self, ordinal: int) -> tuple[int, int]:
        h = _mix(self.salt ^ ordinal)
        r = h % 1000
        if r < EMPTY_PER_MILLE:
            kind = KIND_EMPTY
        elif r < EMPTY_PER_MILLE + MALFORMED_PER_MILLE:
            kind = KIND_MALFORMED
        elif r < EMPTY_PER_MILLE + MALFORMED_PER_MILLE + PROTO_PER_MILLE:
            kind = KIND_PROTO
        else:
            kind = KIND_JSON
        return kind, (h >> 10) % self.VARIANTS

    def kind(self, ordinal: int) -> int:
        return self._pick(ordinal)[0]

    def body(self, ordinal: int) -> str:
        kind, variant = self._pick(ordinal)
        if kind == KIND_EMPTY:
            return ""
        pre, post = self.pool[kind][variant]
        return f"{pre}{ordinal}{post}"

    def log_line(self, ordinal: int, ts_ms: int) -> str:
        """The log record EventLogWriter.publish would append for this body."""
        kind, variant = self._pick(ordinal)
        if kind == KIND_EMPTY:
            return '{"offset": %d, "timestamp": %d, "value": ""}\n' % (ordinal, ts_ms)
        pre, post = self.escaped[kind][variant]
        return '{"offset": %d, "timestamp": %d, "value": "%s%d%s"}\n' % (
            ordinal, ts_ms, pre, ordinal, post
        )

    def body_object(self, ordinal: int) -> dict:
        """json.loads(body(ordinal)) for a JSON body, from a parsed copy of
        its variant (parsing every expected body would double the cost of
        checking a frame)."""
        _, variant = self._pick(ordinal)
        parsed = self._parsed.get(variant)
        if parsed is None:
            pre, post = self.pool[KIND_JSON][variant]
            parsed = self._parsed[variant] = json.loads(f"{pre}0{post}")
        obj = dict(parsed)
        obj["message_body"] = dict(parsed["message_body"], sqn=ordinal)
        return obj


def history_ts(ordinal: int) -> int:
    return HISTORY_T0_MS + ordinal * HISTORY_STEP_MS


def write_history(path: str, messages: Messages, n: int) -> None:
    """Write ordinals 1..n with history timestamps in one sequential pass."""
    with open(path, "w", encoding="utf-8") as f:
        for lo in range(1, n + 1, 10_000):
            hi = min(n + 1, lo + 10_000)
            f.write("".join(messages.log_line(o, history_ts(o)) for o in range(lo, hi)))


def parse_frame(frame: str) -> tuple[int | None, object]:
    """(claimed ordinal, parsed JSON object or None) of one frame."""
    if frame.startswith("{"):
        try:
            obj = json.loads(frame)
        except ValueError:
            return None, None
        ordinal = obj.get("ess_ordinal") if isinstance(obj, dict) else None
        return (ordinal if isinstance(ordinal, int) else None), obj
    parts = frame.rsplit("|", 2)
    if len(parts) == 3 and parts[1].startswith("ordinal: "):
        try:
            return int(parts[1][len("ordinal: "):]), None
        except ValueError:
            pass
    return None, None


def frame_matches(messages: Messages, frame: str, parsed: object, ordinal: int, ts_ms: int) -> bool:
    """True when ``frame`` (``parsed`` if it is JSON) is the enrichment of
    the body published at ``ordinal`` with broker timestamp ``ts_ms``."""
    if messages.kind(ordinal) == KIND_JSON:
        want = messages.body_object(ordinal)
        want["ess_ordinal"] = ordinal
        want["ess_timestamp"] = ts_ms
        return parsed == want
    return frame == f"{messages.body(ordinal)}|ordinal: {ordinal}|timestamp: {ts_ms}"


class StreamCheck:
    """Checks one connection's frames in arrival order.

    ``first`` is the first ordinal the connection should deliver; every
    later ordinal up to the last frame must arrive exactly once, in order,
    unless the generator made it a designed drop.  ``ts_of`` maps an
    ordinal to its broker timestamp.
    """

    def __init__(self, messages: Messages, first: int, ts_of):
        self.messages = messages
        self.next = first
        self.ts_of = ts_of
        self.good = 0
        self.errors: list[str] = []

    def feed(self, frame: str) -> int | None:
        """Check the next frame; returns its ordinal when it is correct."""
        ordinal, parsed = parse_frame(frame)
        if ordinal is None:
            return self._fail(f"frame without an ordinal: {frame[:80]!r}")
        if ordinal < self.next:
            return self._fail(f"ordinal {ordinal} duplicated or out of order")
        missing = self.missing_before(ordinal)
        self.next = ordinal + 1
        if missing is not None:
            return self._fail(f"ordinal {missing} missing")
        if self.messages.kind(ordinal) in DROPPED_KINDS:
            return self._fail(f"ordinal {ordinal} should have been dropped")
        if not frame_matches(self.messages, frame, parsed, ordinal, self.ts_of(ordinal)):
            return self._fail(f"ordinal {ordinal} enriched wrongly: {frame[:80]!r}")
        self.good += 1
        return ordinal

    def missing_before(self, end: int) -> int | None:
        """The first deliverable ordinal in [next, end) that was skipped."""
        for o in range(self.next, end):
            if self.messages.kind(o) not in DROPPED_KINDS:
                return o
        return None

    def _fail(self, why: str) -> None:
        self.errors.append(why)
        return None
