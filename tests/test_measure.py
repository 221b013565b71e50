"""tools/measure.py: the shared idle gate and the mock Notion API."""

from __future__ import annotations

import pytest

from mediawiki_to_notion_spark.streaming.http_transport import (
    HAVE_URLLIB3,
    HttpTransport,
)
from tools import measure


def _fake_host(monkeypatch, loads: list[float]) -> list[float]:
    """Serve ``loads`` as successive 1-min load samples (the last one
    repeats); returns the list of sleeps taken."""
    it = iter(loads)
    last = [loads[-1]]

    def getloadavg():
        last[0] = next(it, last[0])
        return (last[0], 0.0, 0.0)

    sleeps: list[float] = []
    monkeypatch.setattr(measure.os, "getloadavg", getloadavg)
    monkeypatch.setattr(measure.time, "sleep", sleeps.append)
    return sleeps


def test_wait_idle_returns_at_once_when_idle(monkeypatch):
    sleeps = _fake_host(monkeypatch, [0.2])
    gate = measure.wait_idle()
    assert sleeps == []
    assert gate["idle_gate_waited_s"] == 0.0
    assert gate["idle_gate_timed_out"] is False


def test_wait_idle_waits_for_load_to_drop(monkeypatch):
    sleeps = _fake_host(monkeypatch, [3.0, 2.0, 0.5])
    gate = measure.wait_idle()
    assert sleeps == [measure.IDLE_POLL_S] * 2
    assert gate["idle_gate_waited_s"] == 2 * measure.IDLE_POLL_S
    assert gate["idle_gate_timed_out"] is False


def test_wait_idle_times_out_on_last_in_loop_sample(monkeypatch):
    n_polls = int(measure.IDLE_BUDGET_S / measure.IDLE_POLL_S)
    # busy through the final in-loop poll, idle right after it: the dip
    # comes too late and must not clear the timeout
    busy = [measure.IDLE_LOAD] * (n_polls + 1)
    _fake_host(monkeypatch, busy + [0.0])
    gate = measure.wait_idle()
    assert gate["idle_gate_waited_s"] == measure.IDLE_BUDGET_S
    assert gate["idle_gate_timed_out"] is True


def test_wait_idle_idle_on_final_poll_is_not_timed_out(monkeypatch):
    n_polls = int(measure.IDLE_BUDGET_S / measure.IDLE_POLL_S)
    _fake_host(monkeypatch, [5.0] * n_polls + [0.9])
    gate = measure.wait_idle()
    assert gate["idle_gate_waited_s"] == measure.IDLE_BUDGET_S
    assert gate["idle_gate_timed_out"] is False


@pytest.mark.skipif(not HAVE_URLLIB3, reason="urllib3 absent")
def test_make_server_answers_ok():
    srv = measure.make_server(0.0)
    try:
        tr = HttpTransport(srv.url)
        resp = tr.request("page:b1", {"batch_id": "b1", "title": "T"})
    finally:
        srv.shutdown()
        srv.server_close()
    assert resp == {"ok": True, "url": "http://notion.bench/v1/pages"}
