"""REST transport tests: pushed-filter GET and idempotent POST through
the file-backed LocalJsonTransport."""

from __future__ import annotations

import json
import os


from xero_api_etl_utilities_spark.sources.rest import (
    LocalJsonTransport,
    fetch_invoices,
    post_documents,
)


def test_local_transport_get_filters(spark, tmp_path):
    root = str(tmp_path / "rest")
    os.makedirs(root)
    with open(os.path.join(root, "invoices.json"), "w") as f:
        json.dump(
            [
                {"invoice_id": "i1", "contact_name": "Day Dockets", "date_string": "2024-01-01", "status": "SUBMITTED", "reference": "T1/0001"},
                {"invoice_id": "i2", "contact_name": "Day Dockets", "date_string": "2024-01-02", "status": "DRAFT", "reference": "T1/0002"},
                {"invoice_id": "i3", "contact_name": "Other", "date_string": "2024-01-01", "status": "SUBMITTED", "reference": "T1/0003"},
            ],
            f,
        )
    t = LocalJsonTransport(root)
    df = fetch_invoices(spark, t, date_string="2024-01-01")
    rows = df.collect()
    # S7 pushed filters: contact name + date + SUBMITTED status
    assert [r["invoice_id"] for r in rows] == ["i1"]


def test_post_documents_idempotent(spark, tmp_path):
    root = str(tmp_path / "rest2")
    docs = spark.createDataFrame(
        [("ACCREC", "T1/0001", '{"a": 1}'), ("ACCREC", "T1/0002", '{"a": 2}')],
        "doc_type string, reference string, payload string",
    )
    post_documents(docs, lambda: LocalJsonTransport(root))
    post_documents(docs, lambda: LocalJsonTransport(root))  # retry: no dupes
    with open(os.path.join(root, "invoices.out.jsonl")) as f:
        lines = [json.loads(line) for line in f]
    assert sorted(p["reference"] for p in lines) == ["T1/0001", "T1/0002"]
