"""Unit tests for the benchmark's scoring code.

    python3 -m pytest perfbench/test_scoring.py -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.layers import idle_s  # noqa: E402
from perfbench.listen_fanout import expected_event  # noqa: E402
from perfbench.outbox_pg import Model, event_key  # noqa: E402
from perfbench.scoring import Tally, latencies, out_of_order, percentile, tally  # noqa: E402


def test_percentile_interpolates_between_ranks():
    xs = [float(i) for i in range(1, 11)]
    assert percentile(xs, 50) == pytest.approx(5.5)
    assert percentile(xs, 90) == pytest.approx(9.1)
    assert percentile(list(reversed(xs)), 0) == 1.0
    assert percentile([3.0], 90) == 3.0
    with pytest.raises(ValueError):
        percentile([], 50)


def test_latencies_are_timed_from_due_stamps():
    due = {"a": 10.0, "b": 11.0}
    got = latencies(due, [("a", 12.5), ("b", 11.25), ("unstamped", 99.0)])
    assert got == [2.5, 0.25]


def test_batched_delivery_percentiles():
    # one event due every 10 ms; a poll every second delivers all that
    # came due since the previous poll, 0.5 s after the poll starts
    due = {i: i * 0.01 for i in range(1000)}
    delivered = [(i, (int(t) + 1) + 0.5) for i, t in due.items()]
    lat = latencies(due, delivered)
    assert percentile(lat, 50) == pytest.approx(1.0, abs=0.011)
    assert percentile(lat, 90) == pytest.approx(1.4, abs=0.011)


def test_tally_counts_missing_duplicate_and_wrong():
    expected = {1: "a", 2: "b", 3: "c", 4: "d"}
    delivered = [(1, "a"), (2, "b"), (2, "b"), (3, "X"), (9, "z")]
    t = tally(expected, delivered)
    assert (t.expected, t.ok, t.missing, t.duplicate, t.wrong) == (4, 2, 1, 1, 2)
    assert t.failed == 4


def test_tally_of_exact_delivery_has_no_failures():
    expected = {k: k * 2 for k in range(100)}
    t = tally(expected, list(expected.items()))
    assert t.ok == 100 and t.failed == 0


def test_out_of_order_counts_regressions_not_repeats():
    assert out_of_order([1, 2, 2, 3, 1, 4]) == 1
    assert out_of_order([5, 1, 2, 6]) == 2
    assert out_of_order([]) == 0


def test_tallies_add():
    t = Tally(expected=2, ok=1, missing=1) + Tally(expected=3, wrong=2)
    assert (t.expected, t.ok, t.missing, t.wrong, t.failed) == (5, 1, 1, 2, 3)


def test_outbox_model_expects_redacted_merge_patch():
    m = Model()
    row = {"id": 7, "rev": 0, "first_name": "f", "last_name": "l",
           "password": "p", "email": "e", "due_us": 5}
    m.insert("users", row)
    new = dict(row, rev=1, first_name="g", password="q", due_us=6)
    key = m.update("users", new)
    ev = m.expected[key]
    assert key == ("users", "UPDATE", "7", 1)
    # the redacted table arrives as a string map without the redacted
    # fields; changes carry the OLD value of each changed field
    assert ev["payload"] == {"id": "7", "rev": "1", "first_name": "g",
                             "last_name": "l", "due_us": "6"}
    assert ev["changes"] == {"rev": "0", "first_name": "f", "due_us": "5"}
    gone = m.delete("users", 7)
    assert gone == ("users", "DELETE", "7", 1)
    assert event_key(m.expected[gone]) == gone


def test_outbox_model_keeps_types_of_unredacted_tables():
    m = Model()
    key = m.insert("notes", {"id": 3, "rev": 0, "note": "n", "due_us": 9})
    assert m.expected[key]["payload"] == {"id": 3, "rev": 0, "note": "n",
                                          "due_us": 9}
    assert "changes" not in m.expected[key]


def test_listen_expected_event_follows_changelog_mapping():
    ev = expected_event({"event_id": 1, "user_id": 4, "event_type": "view",
                         "cents": 210, "k": 4})
    assert ev == {"schema": "public", "table": "notes", "op": "UPDATE",
                  "id": "4",
                  "payload": {"id": "4", "note": "note-4", "val": "2.10"},
                  "changes": {"note": "note-5", "val": "3.10"}}
    ev = expected_event({"event_id": 2, "user_id": 3, "event_type": "error",
                         "cents": 100, "k": 3})
    assert ev["table"] == "users" and ev["op"] == "DELETE"
    assert "changes" not in ev


def test_idle_is_loop_wall_time_outside_top_level_spans():
    spans = [
        {"name": "outbox_pg.read_batch", "thread": 1, "parent": None,
         "start": 1.0, "end": 2.0},
        {"name": "outbox_pg.psql", "thread": 1, "parent": "outbox_pg.read_batch",
         "start": 1.2, "end": 1.4},
        {"name": "streaming.sinks.write", "thread": 1, "parent": None,
         "start": 2.0, "end": 3.5},
        {"name": "outbox_pg.read_batch", "thread": 1, "parent": None,
         "start": 4.5, "end": 6.0},
        {"name": "streaming.sinks.write", "thread": 2, "parent": None,
         "start": 3.5, "end": 4.5},
    ]
    # window [0, 5]: busy 1.0-3.5 and 4.5-5.0 on the loop thread
    assert idle_s(spans, 0.0, 5.0) == pytest.approx(2.0)
    assert idle_s([], 0.0, 5.0) == 0.0
