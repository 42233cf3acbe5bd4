"""Multimodal plumbing tests (decode and frame-sampling UDFs)."""

from __future__ import annotations


def _media_df(spark, n=50):
    rows = [(f"m{i}", bytes([i % 256]) * (100 + i * 37)) for i in range(n)]
    return spark.createDataFrame(rows, "media_id string, payload binary")


def test_fake_decode_is_deterministic(spark):
    from job_crawler_spark.operators.multimodal import decode_image_features

    media = _media_df(spark, 40)
    a = {r.media_id: tuple(r) for r in decode_image_features(media).collect()}
    b = {r.media_id: tuple(r) for r in decode_image_features(media).collect()}
    assert a == b
    assert len(a) == 40
    for r in a.values():
        assert r[1] >= 16 and r[2] >= 16  # width/height
        assert 0.0 <= r[3] <= 1.0


def test_frame_sampling_caps_fanout(spark):
    from job_crawler_spark.operators.multimodal import sample_frames

    rows = [("big", bytes(range(256)) * 100), ("small", b"xy" * 10)]
    df = spark.createDataFrame(rows, "media_id string, payload binary")
    frames = sample_frames(df, every_n_bytes=1024, max_frames=8).collect()
    per_id = {}
    for r in frames:
        per_id.setdefault(r.media_id, []).append(r.frame_idx)
    assert len(per_id["big"]) == 8  # capped
    assert per_id["small"] == [0]  # at least one frame
