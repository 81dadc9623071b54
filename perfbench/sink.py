"""Loopback REST endpoint for the EP1 sink, idempotent on ``reference``.

Speaks the protocol ``sources.rest.HttpJsonTransport`` expects: a POST
of a JSON array of documents answers a JSON array of per-document
statuses, ``OK`` the first time a reference is seen and ``SKIPPED``
after.  One handler thread per connection; connections come from the
Spark tasks running ``post_documents``, so there are never more of
them than task slots.

The caller names the delivery in progress with ``begin(round_key)``;
every status is filed under that round, which is how the benchmark
checks a delivery's reference set and that a redelivery was all
``SKIPPED``.
"""

from __future__ import annotations

import hashlib
import json
import threading
from collections import defaultdict
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer


class SinkStats:
    """Counters and per-round statuses, shared by the handler threads."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.accepted: set[str] = set()
        self.round = ""
        self.statuses: dict[str, dict[str, list[str]]] = defaultdict(lambda: defaultdict(list))
        self.bodies: dict[str, set[str]] = defaultdict(set)
        self.counts = {"posts": 0, "docs_ok": 0, "docs_skipped": 0, "retries": 0,
                       "failed": 0, "bytes": 0}

    def snapshot(self) -> dict[str, int]:
        with self.lock:
            return dict(self.counts)


class _Handler(BaseHTTPRequestHandler):
    stats: SinkStats  # set on the subclass made per server

    def do_POST(self) -> None:  # noqa: N802 - http.server naming
        body = self.rfile.read(int(self.headers.get("Content-Length") or 0))
        stats = self.stats
        try:
            docs = json.loads(body)
            refs = [str(d["reference"]) for d in docs]
        except (ValueError, KeyError, TypeError):
            with stats.lock:
                stats.counts["failed"] += 1
            self.send_error(400, "expected a JSON array of documents with a reference")
            return
        digest = hashlib.sha256(body).hexdigest()
        out = []
        with stats.lock:
            c = stats.counts
            c["posts"] += 1
            c["bytes"] += len(body)
            if digest in stats.bodies[stats.round]:
                c["retries"] += 1
            stats.bodies[stats.round].add(digest)
            for ref in refs:
                status = "SKIPPED" if ref in stats.accepted else "OK"
                stats.accepted.add(ref)
                c["docs_ok" if status == "OK" else "docs_skipped"] += 1
                stats.statuses[stats.round][status].append(ref)
                out.append({"reference": ref, "status": status})
        payload = json.dumps(out).encode()
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(payload)))
        self.end_headers()
        self.wfile.write(payload)

    def log_message(self, format: str, *args: object) -> None:  # noqa: A002
        pass  # one line per POST would bury the result line


class SinkServer:
    """Owns the server thread; use as a context manager."""

    def __init__(self) -> None:
        self.stats = SinkStats()
        handler = type("Handler", (_Handler,), {"stats": self.stats})
        self._httpd = ThreadingHTTPServer(("127.0.0.1", 0), handler)
        self._httpd.daemon_threads = False
        self._thread = threading.Thread(target=self._httpd.serve_forever, name="sink")
        self.url = f"http://127.0.0.1:{self._httpd.server_address[1]}"

    def begin(self, round_key: str) -> None:
        with self.stats.lock:
            self.stats.round = round_key

    def round_statuses(self, round_key: str) -> dict[str, list[str]]:
        with self.stats.lock:
            return {k: list(v) for k, v in self.stats.statuses[round_key].items()}

    def __enter__(self) -> SinkServer:
        self._thread.start()
        return self

    def __exit__(self, *exc: object) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()  # joins the handler threads
        self._thread.join()
