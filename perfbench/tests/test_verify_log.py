"""Mock-API log verifier and sink figures on a tiny hand-written log."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import verify_log  # noqa: E402

T0 = 100.0
EXPECTED = {"a.md": (3, None), "b.md": (2, None), "p.md": (4, 1)}


def _log():
    # op, batch, idx, arrive, depart, status, conn, title
    return [
        ["page", "A", None, 100.1, 100.2, 200, 0, "file:///s/a.md"],
        ["block", "A", 0, 100.2, 100.3, 200, 0, None],
        ["block", "A", 1, 100.3, 100.4, 429, 0, None],
        ["block", "A", 1, 100.4, 100.5, 200, 0, None],
        ["block", "A", 2, 100.5, 100.6, 200, 0, None],
        ["page", "B", None, 100.1, 100.2, 200, 1, "file:///s/b.md"],
        ["block", "B", 0, 100.2, 100.3, 200, 1, None],
        ["block", "B", 1, 101.0, 101.5, 200, 1, None],
        ["page", "P", None, 100.1, 100.2, 200, 2, "file:///s/p.md"],
        ["block", "P", 0, 100.2, 100.3, 200, 2, None],
        ["block", "P", 1, 100.3, 100.4, 400, 2, None],
    ]


def test_clean_log_passes():
    v = verify_log.verify(_log(), EXPECTED, T0)
    assert v["problems"] == []
    assert v["pages_ok"] == 2 and v["pages_fail"] == 1
    assert sorted(round(x, 6) for x in v["done_s"]) == [0.6, 1.5]


def test_duplicate_and_out_of_order_appends_fail():
    log = _log()
    log.append(["block", "A", 2, 102.0, 102.1, 200, 0, None])      # duplicate
    log[6], log[7] = (["block", "B", 0, 101.0, 101.5, 200, 1, None],
                      ["block", "B", 1, 100.2, 100.3, 200, 1, None])  # reordered
    problems = verify_log.verify(log, EXPECTED, T0)["problems"]
    assert any("a.md: a block was appended twice" in p for p in problems)
    assert any("b.md: blocks appended out of order" in p for p in problems)


def test_poisoned_page_must_stop_at_its_block():
    log = _log() + [["block", "P", 2, 100.5, 100.6, 200, 2, None]]
    problems = verify_log.verify(log, EXPECTED, T0)["problems"]
    assert any(p.startswith("p.md: appended 2 of 1") for p in problems)
    missing = [r for r in _log() if not (r[1] == "P" and r[5] == 400)]
    problems = verify_log.verify(missing, EXPECTED, T0)["problems"]
    assert any("p.md: expected one 400 at block 1" in p for p in problems)


def test_missing_page_and_double_create():
    log = [r for r in _log() if r[1] != "B"]
    log.append(["page", "A", None, 103.0, 103.1, 200, 0, "file:///s/a.md"])
    problems = verify_log.verify(log, EXPECTED, T0)["problems"]
    assert "b.md: page never created" in problems
    assert "a.md: page created 2 times" in problems


def test_sink_figures():
    f = verify_log.sink_figures(_log(), 100.0, 102.0)
    assert f["requests"] == 11 and f["throttled"] == 1
    # in flight over [100.1, 100.6] and [101.0, 101.5]: idle 2.0 - 1.0
    assert abs(f["idle_s"] - 1.0) < 1e-9
    assert abs(f["shard_skew"] - 5 / (11 / 3)) < 1e-9
    assert abs(f["client_gap_ms"]) < 1e-6  # back-to-back on every connection
