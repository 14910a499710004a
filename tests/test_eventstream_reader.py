"""The eventstream stream reader's contract, checked by calling it the way
the engine does (initialOffset / read / readBetweenOffsets), without a
streaming query."""

from __future__ import annotations

import copy

import pytest
from pyspark.sql.pandas.types import to_arrow_schema

from squonk2_fastapi_ws_event_stream_spark.sources.eventstream import (
    ENVELOPE,
    EventLogWriter,
    EventStreamSimpleReader,
    _read_log,
)

BASE_TS = 1_700_000_000_000


@pytest.fixture()
def root(tmp_path):
    root = str(tmp_path / "log")
    w = EventLogWriter(root, "s")
    for i in range(25):
        w.publish('{"n": %d}' % i, BASE_TS + i * 1000)
    return root


def reader(root, **options):
    return EventStreamSimpleReader({"path": root, "stream": "s", **options})


def rows(batches):
    return [
        (r["key"], r["value"], r["offset"], r["timestamp"])
        for b in batches
        for r in b.to_pylist()
    ]


def test_initial_offset_is_the_seek_start(root):
    assert reader(root).initialOffset() == {"offset": 25}  # LATEST
    assert reader(root, startingOrdinal=7).initialOffset() == {"offset": 7}
    ts = reader(root, startingTimestampMs=BASE_TS + 4500).initialOffset()
    assert ts == {"offset": 5}


def test_idle_read_keeps_the_offset_and_returns_no_rows(root, monkeypatch):
    from squonk2_fastapi_ws_event_stream_spark.sources import eventstream

    r = reader(root)
    start = r.initialOffset()

    def parse(*_):
        raise AssertionError("an idle trigger parsed the log")

    # an idle trigger stays O(1): it reads the tail offset, not the log
    monkeypatch.setattr(eventstream, "_read_log", parse)
    it, end = r.read(start)
    assert end == start
    assert list(it) == []


def test_read_returns_everything_after_start(root):
    it, end = reader(root).read({"offset": 20})
    assert end == {"offset": 25}
    assert [o for _, _, o, _ in rows(it)] == [21, 22, 23, 24, 25]


def test_max_offsets_per_trigger_caps_the_end_offset(root):
    r = reader(root, maxOffsetsPerTrigger=10)
    it, end = r.read({"offset": 3})
    assert end == {"offset": 13}
    assert [o for _, _, o, _ in rows(it)] == list(range(4, 14))
    # the last window stops at the log's end, not at start + cap
    it, end = r.read({"offset": 20})
    assert end == {"offset": 25}
    assert len(rows(it)) == 5


def test_read_between_offsets_matches_read(root):
    r = reader(root, maxOffsetsPerTrigger=8)
    it, end = r.read({"offset": 4})
    assert rows(r.readBetweenOffsets({"offset": 4}, end)) == rows(it)


def test_returned_iterator_survives_copy(root):
    # the engine copy.copy()s the cached iterator when it plans the batch;
    # a generator cannot be copied and would kill the query
    it, _ = reader(root).read({"offset": 0})
    copied = rows(copy.copy(it))
    assert len(copied) == 25
    assert rows(it) == copied


def test_batches_carry_sparks_arrow_schema(root):
    # a tz-less timestamp fails the JVM's check of the batches that come
    # back with the planned partition
    want = to_arrow_schema(ENVELOPE)
    it, _ = reader(root).read({"offset": 0})
    batches = list(it) + list(reader(root).readBetweenOffsets({"offset": 0}, {"offset": 9}))
    batches += list(_read_log(root, "s", 0, None))
    assert batches
    assert all(b.schema == want for b in batches)


def test_read_does_not_import_pandas(root):
    # every streaming query reads in a Python process of its own; pyarrow
    # imports pandas (~0.25 s) on its first conversion of a Python value,
    # which each new consumer would pay before its first frame
    import os
    import subprocess
    import sys

    code = (
        "import sys\n"
        "from squonk2_fastapi_ws_event_stream_spark.sources.eventstream import "
        "EventStreamSimpleReader\n"
        f"r = EventStreamSimpleReader({{'path': {root!r}, 'stream': 's'}})\n"
        "it, end = r.read({'offset': 0})\n"
        "assert end == {'offset': 25} and sum(b.num_rows for b in it) == 25\n"
        "print('pandas' in sys.modules)\n"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=repo, capture_output=True, text=True, timeout=120, check=True,
    )
    assert out.stdout.strip() == "False"
