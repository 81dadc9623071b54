"""REST transport and multimodal plumbing tests: pushed-filter GET and
idempotent POST through the file-backed LocalJsonTransport, and the
multimodal feature, frame-sampling and resize operators."""

from __future__ import annotations

import json
import os

import pytest

from xero_api_etl_utilities_spark.operators.multimodal import (
    MEDIA_SCHEMA,
    extract_features,
    fake_decode_features,
    frame_sample_plan,
)
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


def test_multimodal_feature_extraction(spark):
    media = spark.createDataFrame(
        [
            (1, b"fake-image-bytes", ("image", "image/png", None, None, None, None)),
            (2, b"", ("audio", "audio/wav", None, None, 2500, 16000)),
        ],
        MEDIA_SCHEMA,
    )
    feats = {r["media_id"]: r for r in extract_features(media, dim=8).collect()}
    assert feats[1]["n_bytes"] == 16
    assert len(feats[1]["features"]) == 8
    # deterministic: same bytes → same features, independent of executor
    assert feats[1]["features"] == [pytest.approx(x) for x in fake_decode_features(b"fake-image-bytes", 8)]


def test_frame_sample_plan(spark):
    media = spark.createDataFrame(
        [(1, None, ("video", "video/mp4", None, None, 3500, None))], MEDIA_SCHEMA
    )
    frames = frame_sample_plan(media, every_ms=1000).collect()
    assert [(r["frame_no"], r["frame_ts_ms"]) for r in frames] == [(0, 0), (1, 1000), (2, 2000)]


def test_resize_media(spark):
    from xero_api_etl_utilities_spark.operators.multimodal import (
        fake_resize,
        resize_media,
    )

    media = spark.createDataFrame(
        [
            (1, b"img-a", ("image", "image/png", 640, 480, None, None)),
            (2, b"img-b", ("image", "image/png", None, None, None, None)),
        ],
        MEDIA_SCHEMA,
    )
    out = {r["media_id"]: r for r in resize_media(media, 64, 32).collect()}
    assert out[1]["meta"]["width"] == 64 and out[1]["meta"]["height"] == 32
    assert out[1]["meta"]["media_type"] == "image"  # other meta preserved
    assert len(out[1]["content"]) == (64 * 32) // 64
    # deterministic and content-dependent
    assert bytes(out[1]["content"]) == fake_resize(b"img-a", 64, 32)
    assert out[1]["content"] != out[2]["content"]
