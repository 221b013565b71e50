"""Out-of-process mock Notion API with a per-request log.

Run as ``python3 perfbench/mock_notion.py --port-file P`` (the bound port
is written to P once the server listens).  It serves the two routes
``HttpTransport`` calls:

    POST  /v1/pages            create page
    PATCH /v1/blocks/children  append block

Behaviour: every request costs 2 ms of service time; every 50th request
(counted over the whole server) gets a 429 with ``Retry-After: 0``; an
append whose block text contains ``POISON`` gets a 400.  Each request is logged as one record

    [op, batch_id, block_index, t_arrive, t_depart, status, conn, title]

with wall-clock seconds, ``conn`` a per-connection serial number and
``title`` the page title of a create (None for an append).
``GET /_log`` returns the records so far as JSON and clears them; that
control route is not itself logged.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import signal
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

_LOCK = threading.Lock()
_LOG: list[list] = []
_COUNT = itertools.count()
_CONNS = itertools.count()


class Handler(BaseHTTPRequestHandler):
    protocol_version = "HTTP/1.1"  # keep-alive, as urllib3 pools expect
    disable_nagle_algorithm = True
    service_s = 0.002
    throttle_every = 50

    def setup(self) -> None:
        super().setup()
        self.conn_id = next(_CONNS)

    def _reply(self, status: int, payload: bytes,
               headers: dict[str, str] | None = None) -> None:
        self.send_response(status)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(payload)))
        for k, v in (headers or {}).items():
            self.send_header(k, v)
        self.end_headers()
        self.wfile.write(payload)

    def _api(self) -> None:
        t_arrive = time.time()
        length = int(self.headers.get("Content-Length", 0))
        body = json.loads(self.rfile.read(length) or b"{}")
        op = "page" if self.path.endswith("/pages") else "block"
        n = next(_COUNT)
        time.sleep(self.service_s)
        if n % self.throttle_every == self.throttle_every - 1:
            status, extra = 429, {"Retry-After": "0"}
        elif op == "block" and "POISON" in (body.get("block") or ""):
            status, extra = 400, None
        else:
            status, extra = 200, None
        payload = json.dumps(
            {"ok": status == 200,
             "url": f"http://notion.mock/{body.get('batch_id')}"}).encode()
        self._reply(status, payload, extra)
        record = [op, body.get("batch_id"), body.get("block_index"),
                  t_arrive, time.time(), status, self.conn_id, body.get("title")]
        with _LOCK:
            _LOG.append(record)

    do_POST = _api
    do_PATCH = _api

    def do_GET(self) -> None:  # noqa: N802 - http.server naming
        if self.path != "/_log":
            self._reply(404, b"{}")
            return
        with _LOCK:
            records = list(_LOG)
            _LOG.clear()
        self._reply(200, json.dumps(records).encode())

    def log_message(self, *args) -> None:
        pass


def fetch_log(base_url: str) -> list[list]:
    """Pull (and clear) the mock's request log."""
    import urllib.request

    with urllib.request.urlopen(f"{base_url}/_log", timeout=30) as resp:
        return json.loads(resp.read())


class Server(ThreadingHTTPServer):
    request_queue_size = 128
    daemon_threads = True


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--port-file", required=True)
    a = p.parse_args()
    srv = Server(("127.0.0.1", 0), Handler)
    signal.signal(signal.SIGTERM, lambda *_: threading.Thread(
        target=srv.shutdown, daemon=True).start())
    tmp = a.port_file + ".tmp"
    with open(tmp, "w") as f:
        f.write(str(srv.server_address[1]))
    os.replace(tmp, a.port_file)
    try:
        srv.serve_forever(poll_interval=0.1)
    finally:
        srv.server_close()


if __name__ == "__main__":
    main()
