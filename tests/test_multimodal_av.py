"""Audio/video multimodal plumbing: schemas, batch shapes, determinism,
failure tolerance — the decode step itself is stubbed (no codec libs)."""

from __future__ import annotations

import numpy as np
import pytest

from columbiaimagesearch_spark.multimodal import av


@pytest.fixture(scope="module")
def audio_df(spark):
    rows = [
        (f"clip{i}", bytes([i]) * 64, (16000, 16000 * (i + 1), 1))
        for i in range(6)
    ]
    return spark.createDataFrame(
        rows, f"media_id string, content binary, meta {av.AUDIO_META_SCHEMA}"
    )


@pytest.fixture(scope="module")
def video_df(spark):
    rows = [
        (f"vid{i}", bytes([100 + i]) * 64, (30.0, 25 * (i + 1), 640, 480))
        for i in range(4)
    ]
    return spark.createDataFrame(
        rows, f"media_id string, content binary, meta {av.VIDEO_META_SCHEMA}"
    )


def test_decode_stubs_raise():
    with pytest.raises(NotImplementedError):
        av.decode_audio(b"x")
    with pytest.raises(NotImplementedError):
        av.decode_video_frame(b"x", 0)


def test_fake_decoders_deterministic():
    a1, a2 = av.fake_decode_audio(b"abc"), av.fake_decode_audio(b"abc")
    np.testing.assert_array_equal(a1, a2)
    assert a1.dtype == np.float32
    f1 = av.fake_decode_video_frame(b"abc", 3)
    f2 = av.fake_decode_video_frame(b"abc", 3)
    np.testing.assert_array_equal(f1, f2)
    assert f1.shape == (8, 8, 3) and f1.dtype == np.uint8
    assert not np.array_equal(f1, av.fake_decode_video_frame(b"abc", 4))


def test_audio_features_schema_and_values(spark, audio_df):
    out = av.extract_audio_features(audio_df)
    assert out.columns == ["media_id", "duration_s", "rms", "n_windows", "feature"]
    rows = {r["media_id"]: r for r in out.collect()}
    assert len(rows) == 6
    for i in range(6):
        r = rows[f"clip{i}"]
        assert r["duration_s"] == pytest.approx(i + 1.0)  # n_samples/sr from meta
        assert r["n_windows"] == av.AUDIO_FEAT_DIM
        assert len(r["feature"]) == av.AUDIO_FEAT_DIM
        assert r["rms"] > 0
    # deterministic across runs
    again = {r["media_id"]: r for r in av.extract_audio_features(audio_df).collect()}
    assert again[f"clip0"]["feature"] == rows["clip0"]["feature"]


def test_audio_failure_tolerance(spark, audio_df):
    def broken_decode(data):
        raise ValueError("corrupt clip")

    out = av.extract_audio_features(audio_df, decode=broken_decode).collect()
    assert len(out) == 6  # every row survives
    for r in out:
        # NaN crosses the Arrow boundary as SQL NULL
        assert r["rms"] is None or np.isnan(r["rms"])
        assert r["n_windows"] == 0


def test_frame_sampling(spark, video_df):
    out = av.sample_frame_features(video_df, every_n=10)
    assert out.columns == ["media_id", "frame_idx", "feature"]
    rows = out.collect()
    # vid i has 25*(i+1) frames -> ceil(25*(i+1)/10) sampled frames
    expected = sum((25 * (i + 1) + 9) // 10 for i in range(4))
    assert len(rows) == expected
    for r in rows:
        assert r["frame_idx"] % 10 == 0
        v = np.array(r["feature"], dtype=np.float64)
        assert v.shape == (av.FRAME_FEAT_DIM,)
        assert np.linalg.norm(v) == pytest.approx(1.0, abs=1e-5)


def test_ingest_observed_metrics(spark, tmp_path):
    """A6: per-batch observed counters surface in StreamingQueryProgress."""
    import json

    from columbiaimagesearch_spark.streaming.ingest import run_ingest_stateful

    src = tmp_path / "msgs"
    src.mkdir()
    (src / "m1.json").write_text(
        "\n".join(
            json.dumps({"sha1": f"{i:040x}", "s3_url": f"s3://b/{i}"})
            for i in range(5)
        )
    )
    sink = run_ingest_stateful(
        spark,
        str(src),
        str(tmp_path / "ledger"),
        str(tmp_path / "ckpt"),
        batch_size=3,
    )
    metrics = [
        p["observedMetrics"]["ingest_metrics"]
        for p in sink.last_query.recentProgress
        if "ingest_metrics" in p.get("observedMetrics", {})
    ]
    assert metrics, "no observed metrics in query progress"
    assert sum(m["n_rows"] for m in metrics) == 5
    assert sum(m["n_corrupt"] for m in metrics) == 0
    assert sum(m["n_single"] for m in metrics) == 5


def test_frame_sampling_failure_tolerance(spark, video_df):
    """Review r14 (V17 parity with the audio pass): a media whose decode
    raises must yield ONE marker row (frame_idx=-1, NaN feature) instead of
    killing the Arrow task — and healthy media in the same batch are
    unaffected."""
    calls = {"n": 0}

    def sometimes_broken(data, frame_idx):
        # vid1's content bytes are [101]*64 (see video_df); fail it on its
        # SECOND sampled frame so already-decoded frames must discard too
        if len(data) and data[0] == 101 and frame_idx >= 10:
            raise ValueError("corrupt video")
        return av.fake_decode_video_frame(data, frame_idx)

    out = av.sample_frame_features(
        video_df, every_n=10, decode=sometimes_broken
    ).collect()
    by_media = {}
    for r in out:
        by_media.setdefault(r["media_id"], []).append(r)
    # vid1 = exactly its marker row
    assert len(by_media["vid1"]) == 1
    marker = by_media["vid1"][0]
    assert marker["frame_idx"] == -1
    feat = marker["feature"]
    assert feat is None or all(x is None or np.isnan(x) for x in feat)
    # the other three media keep their full sampled-frame sets
    for i in (0, 2, 3):
        n_frames = 25 * (i + 1)
        assert len(by_media[f"vid{i}"]) == (n_frames + 9) // 10
