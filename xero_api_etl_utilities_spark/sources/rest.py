"""S8 — the REST sink that delivers the day's documents to Xero.

The reference POSTs batches of invoices/credit notes to the Xero REST
API with ``summarizeErrors=false`` and ``unitdp=2``, skipping empty
batches (reference src/apiFunctions.ts:58-80).  Under
``summarizeErrors=false`` a rejected document does not fail the
request: the response is a 200 carrying a per-document status, so the
sink reads every status and raises on a rejected document.

Engine design: ``post_documents`` is a ``foreachPartition`` sink of
batched POSTs through ``HttpJsonTransport`` (stdlib urllib), idempotent
on the document ``reference`` key (src/DataObject.ts:28,57,84) — the
endpoint answers SKIPPED for a reference it already accepted, so a task
retry or a rerun never double-posts.

Not built: the reference's filtered invoice fetch
(src/apiFunctions.ts:130-147) and its attachment upload
(src/apiFunctions.ts:90-119).  The fetch only feeds the attachment
upload, and no EP1 stage uploads attachments.
"""

from __future__ import annotations

import datetime
import email.utils
import json
from collections.abc import Iterator

from pyspark.sql import DataFrame, Row


class HttpJsonTransport:
    """HTTP transport (stdlib urllib — no extra dependency), in the
    reference client's shape (src/apiFunctions.ts:58-80):
    a POST of a JSON payload batch returns a JSON array of per-item
    statuses.

    Retry discipline: POSTs retry on 429/5xx/connection errors with
    exponential backoff (honoring Retry-After when present) — safe
    because the sink contract is idempotent on each payload's
    ``reference`` key (the server answers SKIPPED for a reference it
    already accepted), so a retry after an ambiguous failure cannot
    double-apply.
    """

    def __init__(
        self,
        base_url: str,
        timeout: float = 30.0,
        max_retries: int = 3,
        backoff_s: float = 0.5,
        headers: dict[str, str] | None = None,
    ):
        self.base_url = base_url.rstrip("/")
        self.timeout = timeout
        self.max_retries = max_retries
        self.backoff_s = backoff_s
        self.headers = {"Accept": "application/json", **(headers or {})}

    def _request(self, url: str, data: bytes) -> list[dict]:
        import time
        import urllib.error
        import urllib.request

        last_exc: Exception | None = None
        for attempt in range(self.max_retries + 1):
            req = urllib.request.Request(url, data=data, headers=self.headers)
            req.add_header("Content-Type", "application/json")
            try:
                with urllib.request.urlopen(req, timeout=self.timeout) as resp:
                    body = resp.read()
                return json.loads(body) if body else []
            except urllib.error.HTTPError as exc:
                retry_after = exc.headers.get("Retry-After") if exc.headers else None
                if exc.code not in (429, 500, 502, 503, 504) or attempt == self.max_retries:
                    raise
                last_exc = exc
                # RFC 9110 allows Retry-After as either delta-seconds or an
                # HTTP-date; a non-numeric value must not turn a retryable
                # 429/503 into a ValueError crash mid-loop.
                delay = self.backoff_s * (2**attempt)
                if retry_after:
                    try:
                        delay = float(retry_after)
                    except ValueError:
                        try:
                            parsed = email.utils.parsedate_to_datetime(retry_after)
                        except (TypeError, ValueError):
                            parsed = None
                        if parsed is not None:
                            if parsed.tzinfo is None:
                                parsed = parsed.replace(
                                    tzinfo=datetime.timezone.utc
                                )
                            delay = max(
                                0.0,
                                (
                                    parsed
                                    - datetime.datetime.now(datetime.timezone.utc)
                                ).total_seconds(),
                            )
            except (urllib.error.URLError, TimeoutError) as exc:
                if attempt == self.max_retries:
                    raise
                last_exc = exc
                delay = self.backoff_s * (2**attempt)
            time.sleep(delay)
        raise last_exc  # pragma: no cover - loop always returns/raises

    def post(self, resource: str, payloads: list[dict]) -> list[dict]:
        body = json.dumps(payloads, sort_keys=True).encode()
        return self._request(f"{self.base_url}/{resource}", body)


def post_documents(
    docs: DataFrame,
    transport_factory,
    resource: str = "invoices",
    batch_size: int = 100,
) -> None:
    """S8: batched idempotent REST sink via foreachPartition.

    ``transport_factory`` is a zero-arg callable built ON THE EXECUTOR
    (a transport is not assumed picklable). Empty partitions post
    nothing (the reference skips empty batches, src/apiFunctions.ts:68).

    Every posted reference must come back ``OK`` or ``SKIPPED``: a
    document the endpoint rejects, or one it answers no status for,
    fails the task with the references named, instead of being lost
    inside a 200 response."""

    def _send(transport, batch: list[dict]) -> None:
        status = {r.get("reference"): r.get("status") for r in transport.post(resource, batch)}
        bad = [
            f"{p['reference']}: {status.get(p['reference'])}"
            for p in batch
            if status.get(p["reference"]) not in ("OK", "SKIPPED")
        ]
        if bad:
            raise RuntimeError(f"POST {resource} rejected {len(bad)} document(s): {bad}")

    def _post(rows: Iterator[Row]) -> None:
        transport = transport_factory()
        batch: list[dict] = []
        for row in rows:
            batch.append(json.loads(row["payload"]) | {"reference": row["reference"]})
            if len(batch) >= batch_size:
                _send(transport, batch)
                batch = []
        if batch:
            _send(transport, batch)

    docs.foreachPartition(_post)
