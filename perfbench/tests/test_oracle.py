"""The frame oracle accepts the reference enrichment and rejects a
corrupted, reordered, duplicated or missing frame."""

import json

import gen
import workloads

TS = 1_700_000_000_123


def enrich(m, o, ts=TS):
    """The reference's enrichment (app/app.py:472-494), written here from
    the contract rather than taken from the service."""
    body = m.body(o)
    if body.startswith("{"):
        obj = json.loads(body)
        obj["ess_ordinal"] = o
        obj["ess_timestamp"] = ts
        return json.dumps(obj)
    return f"{body}|ordinal: {o}|timestamp: {ts}"


def frames(m, lo, hi):
    return [enrich(m, o) for o in range(lo, hi) if m.kind(o) not in gen.DROPPED_KINDS]


def run(m, first, fs):
    check = gen.StreamCheck(m, first, lambda o: TS)
    for f in fs:
        check.feed(f)
    return check


def test_accepts_a_correct_stream_with_designed_drops():
    m = gen.Messages(4)
    fs = frames(m, 1, 3000)
    check = run(m, 1, fs)
    assert check.errors == []
    assert check.good == len(fs)
    assert len(fs) < 2999  # the designed drops were skipped, not missing
    assert check.missing_before(3000) is None


def test_json_frames_compare_as_objects():
    m = gen.Messages(4)
    o = next(o for o in range(1, 100) if m.kind(o) == gen.KIND_JSON)
    obj = json.loads(enrich(m, o))
    reordered = json.dumps(dict(reversed(list(obj.items()))), indent=1)
    assert run(m, o, [reordered]).errors == []


def _one_of(m, kind):
    return next(o for o in range(1, 1000) if m.kind(o) == kind)


def test_rejects_a_corrupted_frame():
    m = gen.Messages(4)
    for kind in (gen.KIND_JSON, gen.KIND_PROTO):
        o = _one_of(m, kind)
        bad = enrich(m, o).replace("squonk", "squank")
        assert run(m, o, [bad]).errors
        assert run(m, o, [enrich(m, o, ts=TS + 1)]).errors


def test_rejects_reordered_duplicated_and_missing_frames():
    m = gen.Messages(4)
    fs = frames(m, 1, 200)
    swapped = fs[:10] + [fs[11], fs[10]] + fs[12:]
    assert run(m, 1, swapped).errors
    assert run(m, 1, fs[:10] + [fs[9]] + fs[10:]).errors
    assert run(m, 1, fs[:10] + fs[11:]).errors
    check = run(m, 1, fs[:-1])
    assert check.errors == [] and check.missing_before(200) is not None


def test_rejects_a_delivered_drop():
    m = gen.Messages(4)
    o = _one_of(m, gen.KIND_EMPTY)
    assert run(m, o, [f"|ordinal: {o}|timestamp: {TS}"]).errors


def test_seek_first_ordinal_matches_exclusive_timestamp_semantics():
    for position in (1, 99, 100, 101, 12_345, 199_999):
        for mode in workloads.SEEK_MODES:
            first, query = workloads.seek(mode, position)
            if mode == "datetime":
                cutoff = gen.history_ts(position) // 1000 * 1000
                assert "%2B00%3A00" in query  # "+00:00", URL-encoded
            else:
                cutoff = gen.history_ts(position)
            # the first event strictly after the cutoff
            assert gen.history_ts(first) > cutoff >= gen.history_ts(first - 1)
