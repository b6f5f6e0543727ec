"""Multimodal plumbing tests: schema, Arrow batching, decode kernels."""

import pytest

from metastore_spark import multimodal as mm


@pytest.fixture(scope="module")
def media(spark):
    # synthetic 32x24 images; rows 17..19 share content with 0..2
    return spark.createDataFrame(
        [(i, mm.synth_image_bytes(i % 17, 32, 24)) for i in range(20)],
        "media_id bigint, content binary",
    )


def test_decode_features(media):
    feats = mm.decode_image_features(media)
    rows = {r["media_id"]: r for r in feats.collect()}
    assert len(rows) == 20
    assert rows[0]["width"] == 32 and rows[0]["height"] == 24
    assert rows[0]["n_bytes"] == len(mm.synth_image_bytes(0, 32, 24))
    assert 0.0 < rows[0]["mean_intensity"] < 255.0
    # deterministic: same content → same hash
    assert rows[17]["content_sha256"] == rows[0]["content_sha256"]


def test_decode_rejects_unknown_bytes(spark):
    df = spark.createDataFrame(
        [{"media_id": 0, "content": b"not an image"}],
        "media_id bigint, content binary",
    )
    with pytest.raises(Exception, match="NotImplementedError|no image decoder"):
        mm.decode_image_features(df).collect()


def test_audio_window_features_values(spark):
    """Pin the audio kernel against a hand-computed reference."""
    import numpy as np

    from metastore_spark import multimodal as mm

    n = 80  # 4 windows at window=32, hop=16
    df = spark.createDataFrame([(7, n)], "asset_id bigint, n_samples bigint")
    rows = {
        r["win_idx"]: (r["rms"], r["zero_crossings"])
        for r in mm.audio_window_features(df).collect()
    }
    s = np.asarray(mm.synth_pcm(7, n), dtype="float64")
    assert len(rows) == (n - 32) // 16 + 1
    for w, (rms, zc) in rows.items():
        seg = s[w * 16 : w * 16 + 32]
        assert rms == round(float(np.sqrt((seg * seg).mean())), 4)
        nonneg = seg >= 0
        assert zc == int((nonneg[1:] != nonneg[:-1]).sum())


def test_audio_short_signal_skipped(spark):
    from metastore_spark import multimodal as mm

    df = spark.createDataFrame(
        [(1, 10), (2, 32)], "asset_id bigint, n_samples bigint"
    )
    out = mm.audio_window_features(df).collect()
    assert {r["asset_id"] for r in out} == {2}  # sub-window signal drops
