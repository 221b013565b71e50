"""Shared measurement helpers for bench.py and the tools/ harnesses.

- ``wait_idle()`` — the idle gate every timed capture passes first.  A
  non-idle box straggles the wide stages and fabricates 1.2-1.8x
  phantom regressions, so a capture blocks until the 1-min load is
  below ``IDLE_LOAD`` (absolute, not a cores fraction: any competing
  runnable thread straggles a timed stage), polling every
  ``IDLE_POLL_S`` for at most ``IDLE_BUDGET_S``.
- ``make_server(latency_s)`` — a local OK-everything mock of the
  Notion API for upload-drain measurements, serving in a daemon thread.
"""

from __future__ import annotations

import json
import os
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

IDLE_LOAD = 1.0
IDLE_POLL_S = 15.0
IDLE_BUDGET_S = 1800.0


def wait_idle() -> dict:
    """Block until the 1-min load average drops below ``IDLE_LOAD`` or
    the budget runs out; returns the gate record for the artifact.

    ``idle_gate_timed_out`` comes from the last sample taken inside the
    loop: re-sampling afterwards could label a budget-exhausted run
    not-timed-out if the load dipped after the final poll.  A capture
    with it true is not gradeable."""
    waited_s = 0.0
    last_load = os.getloadavg()[0]
    while last_load >= IDLE_LOAD and waited_s < IDLE_BUDGET_S:
        time.sleep(IDLE_POLL_S)
        waited_s += IDLE_POLL_S
        last_load = os.getloadavg()[0]
    return {
        "idle_gate_waited_s": waited_s,
        "idle_gate_load_threshold": IDLE_LOAD,
        "idle_gate_timed_out": waited_s >= IDLE_BUDGET_S
        and last_load >= IDLE_LOAD,
    }


class _OkHandler(BaseHTTPRequestHandler):
    server_version = "notion-bench/0"
    # keep-alive: HTTP/1.0's close-per-request forces one TCP accept per
    # API call through the single accept loop, and at p16/p32 connect
    # refusals masquerade as API failures.  The reference's urllib3
    # client holds keep-alive connections too.
    protocol_version = "HTTP/1.1"
    # TCP_NODELAY: the response is two socket writes (headers, then
    # body); with Nagle on, the body waits for the delayed ACK of the
    # header segment, a ~45 ms stall per request on loopback.
    disable_nagle_algorithm = True

    def _handle(self) -> None:
        length = int(self.headers.get("Content-Length", 0))
        self.rfile.read(length)
        if self.server.latency_s:
            time.sleep(self.server.latency_s)
        payload = json.dumps(
            {"ok": True, "url": f"http://notion.bench{self.path}"}
        ).encode()
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(payload)))
        self.end_headers()
        self.wfile.write(payload)

    do_POST = _handle
    do_PATCH = _handle

    def log_message(self, *args):  # noqa: D102 - quiet
        pass


class _Server(ThreadingHTTPServer):
    request_queue_size = 128  # the default 5 overflows at p16/p32

    def __init__(self, latency_s: float) -> None:
        self.latency_s = latency_s  # injected per-request service time
        super().__init__(("127.0.0.1", 0), _OkHandler)
        self.url = f"http://127.0.0.1:{self.server_address[1]}"


def make_server(latency_s: float = 0.0) -> _Server:
    """Start the mock API on a free loopback port (base URL in
    ``.url``); every POST/PATCH answers 200 ``{"ok": true}`` after
    ``latency_s``.  Stop it with ``shutdown()`` + ``server_close()``."""
    srv = _Server(latency_s)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv
