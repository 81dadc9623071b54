"""HttpJsonTransport against a real in-process HTTP server (stdlib
http.server on a loopback port): idempotent batched POST through the
Spark sink, a per-document rejection inside a 200 response, and the
5xx retry/backoff path."""

from __future__ import annotations

import json
import threading
from functools import partial
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest
from pyspark.sql import functions as F

from xero_api_etl_utilities_spark.sources.rest import HttpJsonTransport, post_documents


class _Handler(BaseHTTPRequestHandler):
    # class-level shared state (one server per test)
    posted: dict[str, dict] = {}
    rejected: set[str] = set()  # answered ERROR, as under summarizeErrors=false
    unanswered: set[str] = set()  # left out of the answer
    fail_next: int = 0
    retry_after: str | None = None

    def log_message(self, *a):  # keep pytest output clean
        pass

    def _send(self, obj, code=200):
        body = json.dumps(obj).encode()
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        if code >= 400 and _Handler.retry_after is not None:
            self.send_header("Retry-After", _Handler.retry_after)
        self.end_headers()
        self.wfile.write(body)

    def do_POST(self):
        if _Handler.fail_next > 0:
            _Handler.fail_next -= 1
            self._send({"error": "try later"}, code=503)
            return
        n = int(self.headers["Content-Length"])
        payloads = json.loads(self.rfile.read(n))
        out = []
        for p in payloads:
            ref = p.get("reference")
            if ref in _Handler.unanswered:
                continue
            if ref in _Handler.rejected:
                out.append({"reference": ref, "status": "ERROR"})
            elif ref in _Handler.posted:
                out.append({"reference": ref, "status": "SKIPPED"})
            else:
                _Handler.posted[ref] = p
                out.append({"reference": ref, "status": "OK"})
        self._send(out)


@pytest.fixture()
def server():
    _Handler.posted = {}
    _Handler.rejected = set()
    _Handler.unanswered = set()
    _Handler.fail_next = 0
    _Handler.retry_after = None
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


def test_http_post_idempotent_through_spark_sink(spark, server):
    docs = spark.createDataFrame(
        [("DD-9", json.dumps({"total": 1.5})), ("DD-10", json.dumps({"total": 2.0}))],
        "reference string, payload string",
    ).repartition(2)
    factory = partial(HttpJsonTransport, server)
    post_documents(docs, factory)
    assert set(_Handler.posted) == {"DD-9", "DD-10"}
    # re-running the sink (a "retry") double-posts nothing
    post_documents(docs, factory)
    assert len(_Handler.posted) == 2


def test_a_rejected_document_fails_the_sink(spark, server):
    """The endpoint answers 200 with a per-document ERROR status (the
    reference posts with summarizeErrors=false), and leaves another
    document out of its answer: the Spark job fails naming both
    references, and not the accepted one."""
    _Handler.rejected = {"DD-BAD"}
    _Handler.unanswered = {"DD-GONE"}
    docs = spark.createDataFrame(
        [(ref, json.dumps({"total": 1.0})) for ref in ("DD-OK", "DD-BAD", "DD-GONE")],
        "reference string, payload string",
    ).coalesce(1)
    with pytest.raises(Exception, match="rejected 2 document") as exc:
        post_documents(docs, partial(HttpJsonTransport, server))
    msg = str(exc.value)
    assert "DD-BAD: ERROR" in msg and "DD-GONE: None" in msg
    assert "DD-OK" not in msg
    assert set(_Handler.posted) == {"DD-OK"}


def test_http_post_retries_on_503(server):
    _Handler.fail_next = 2
    tr = HttpJsonTransport(server, backoff_s=0.01)
    out = tr.post("invoices", [{"reference": "R-1"}])
    assert out == [{"reference": "R-1", "status": "OK"}]
    # exhausting retries raises
    _Handler.fail_next = 99
    with pytest.raises(Exception):
        HttpJsonTransport(server, max_retries=1, backoff_s=0.01).post(
            "invoices", [{"reference": "R-2"}]
        )


def test_http_retry_after_http_date_not_a_crash(server):
    # RFC 9110: Retry-After may be an HTTP-date. A date in the past
    # (zero wait) must be honored as retryable, not crash on float().
    _Handler.fail_next = 1
    _Handler.retry_after = "Wed, 01 Jan 2020 00:00:00 GMT"
    tr = HttpJsonTransport(server, backoff_s=0.01)
    assert tr.post("invoices", [{"reference": "R-3"}]) == [
        {"reference": "R-3", "status": "OK"}
    ]
    # garbage Retry-After falls back to exponential backoff
    _Handler.fail_next = 1
    _Handler.retry_after = "soonish"
    assert tr.post("invoices", [{"reference": "R-4"}]) == [
        {"reference": "R-4", "status": "OK"}
    ]
