"""The seeded generator: determinism and the log format it writes."""

import json

import gen


def test_same_seed_same_messages():
    a, b = gen.Messages(5), gen.Messages(5)
    assert [a.body(o) for o in range(1, 3000)] == [b.body(o) for o in range(1, 3000)]
    assert [a.kind(o) for o in range(1, 3000)] == [b.kind(o) for o in range(1, 3000)]


def test_other_seed_other_messages():
    a, b = gen.Messages(5), gen.Messages(6)
    assert [a.body(o) for o in range(1, 200)] != [b.body(o) for o in range(1, 200)]


def test_history_file_is_deterministic(tmp_path):
    for name in ("a", "b"):
        gen.write_history(str(tmp_path / name), gen.Messages(9), 5000)
    assert (tmp_path / "a").read_bytes() == (tmp_path / "b").read_bytes()


def test_history_lines_are_what_publish_appends(tmp_path):
    m = gen.Messages(3)
    gen.write_history(str(tmp_path / "log"), m, 2000)
    lines = (tmp_path / "log").read_text(encoding="utf-8").splitlines()
    for o, line in enumerate(lines, start=1):
        # EventLogWriter.publish appends json.dumps of exactly this record.
        assert line == json.dumps(
            {"offset": o, "timestamp": gen.history_ts(o), "value": m.body(o)}
        )


def test_mix_holds_every_kind():
    m = gen.Messages(1)
    kinds = [m.kind(o) for o in range(1, 20001)]
    for kind, per_mille in (
        (gen.KIND_EMPTY, gen.EMPTY_PER_MILLE),
        (gen.KIND_MALFORMED, gen.MALFORMED_PER_MILLE),
        (gen.KIND_PROTO, gen.PROTO_PER_MILLE),
    ):
        assert abs(kinds.count(kind) / 20 - per_mille) < per_mille * 0.25
    for o in range(1, 2000):
        body = m.body(o)
        if m.kind(o) == gen.KIND_MALFORMED:
            assert body.startswith("{")
            try:
                json.loads(body)
            except ValueError:
                continue
            raise AssertionError(f"malformed body parses: {body}")
        if m.kind(o) == gen.KIND_JSON:
            assert m.body_object(o) == json.loads(body)
            assert json.loads(body)["message_body"]["sqn"] == o
