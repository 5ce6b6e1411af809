"""Multimodal plumbing: binary payload columns, stubbed decode via
mapInPandas, metadata-arithmetic resize planning, frame sampling."""

from __future__ import annotations

from pyspark.sql import functions as F

from elb_pipeline.multimodal import (
    FRAME_STEP,
    MEDIA_KINDS,
    N_FEATURES,
    _decode_payload,
    decode_features,
    media_from_documents,
    sample_frames,
)

SF_DIR = "/root/testdata/sf0.001"


def test_decode_stub_deterministic():
    a = _decode_payload(b"hello world")
    b = _decode_payload(b"hello world")
    c = _decode_payload(b"other")
    assert a == b != c
    assert len(a) == N_FEATURES
    assert abs(sum(x * x for x in a) - 1.0) < 1e-6  # unit norm


def test_media_schema_and_features(spark):
    m = media_from_documents(spark, SF_DIR)
    assert set(m.columns) == {"media_id", "kind", "payload", "meta"}
    assert dict(m.dtypes)["payload"] == "binary"

    f = decode_features(m)
    rows = f.orderBy("media_id").limit(5).collect()
    assert all(len(r["features"]) == N_FEATURES for r in rows)
    assert all(r["kind"] in MEDIA_KINDS for r in rows)
    # payload bytes == document text UTF-8 length
    assert all(r["n_bytes"] > 0 for r in rows)
    # re-running yields identical features (stub is deterministic)
    again = f.orderBy("media_id").limit(5).collect()
    assert [r["features"] for r in rows] == [r["features"] for r in again]


def test_frame_sampling_bounds(spark):
    m = media_from_documents(spark, SF_DIR)
    s = sample_frames(m)
    bad = s.where(
        (F.col("frame_idx") < 0)
        | (F.col("frame_idx") >= F.col("n_frames"))
        | (F.col("frame_idx") % FRAME_STEP != 0)
    ).count()
    assert bad == 0
    assert s.count() > 0
