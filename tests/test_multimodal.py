"""Multimodal plumbing: schema, batching, determinism, and the 1->N
row-expansion contract of the stubbed decode/feature/resize/frame UDFs."""

import numpy as np
from pyspark.sql import functions as F

from occular_ocr_spark.queries_multimodal import (
    FEATURE_DIM,
    FRAME_BYTES,
    decode_meta,
    extract_features,
    resize_image,
    sample_frames,
)


def _payloads(spark, n=12):
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        # deterministic variable-length binary payloads
        F.encode(F.repeat(F.concat(F.lit("xyz-"), F.col("id").cast("string")),
                          (F.col("id") % 7 + 1).cast("int") * 60), "UTF-8").alias("payload"),
    )


def test_decode_meta_schema_and_determinism(spark):
    df = _payloads(spark)
    out1 = {r["doc_id"]: (r["n_bytes"], r["width"], r["height"], r["format"])
            for r in decode_meta(df).collect()}
    out2 = {r["doc_id"]: (r["n_bytes"], r["width"], r["height"], r["format"])
            for r in decode_meta(df).collect()}
    assert out1 == out2 and len(out1) == 12
    for n_bytes, w, h, fmt in out1.values():
        assert w == n_bytes % 640 and h == n_bytes % 480
        assert fmt in ("png", "jpeg")


def test_extract_features_normalized_fixed_dim(spark):
    rows = extract_features(_payloads(spark)).collect()
    assert len(rows) == 12
    for r in rows:
        v = np.array(r["features"], dtype=np.float64)
        assert v.shape == (FEATURE_DIM,)
        assert abs(v.sum() - 1.0) < 1e-5  # L1-normalized histogram
        assert (v >= 0).all()


def test_resize_passthrough_with_dims(spark):
    df = _payloads(spark, n=5)
    out = resize_image(df, 224, 224)
    rows = out.collect()
    src = {r["doc_id"]: bytes(r["payload"]) for r in df.collect()}
    for r in rows:
        assert (r["width"], r["height"]) == (224, 224)
        assert bytes(r["payload"]) == src[r["doc_id"]]  # stub passes bytes through


def test_sample_frames_row_expansion_and_order(spark):
    df = _payloads(spark, n=6)
    out = sample_frames(df, every_n=2).collect()
    src = {r["doc_id"]: bytes(r["payload"]) for r in df.collect()}
    per_doc = {}
    for r in sorted(out, key=lambda r: (r["doc_id"], r["frame_idx"])):
        per_doc.setdefault(r["doc_id"], []).append(r)
    assert set(per_doc) == set(src)  # every doc emits >= 1 frame
    for doc_id, frames in per_doc.items():
        buf = src[doc_id]
        n_frames = max(1, (len(buf) + FRAME_BYTES - 1) // FRAME_BYTES)
        assert [f["frame_idx"] for f in frames] == list(range(0, n_frames, 2))
        for f in frames:
            k = f["frame_idx"]
            assert bytes(f["frame"]) == buf[k * FRAME_BYTES : (k + 1) * FRAME_BYTES]
