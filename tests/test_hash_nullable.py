"""64-bit hash producers keep every bit when a batch also holds an error row.

Each producer builds one pandas frame per Arrow batch. A column built from
a plain list of int64 hashes and ``None`` (the quarantine row) becomes
float64, which rounds hashes above 2**53 to the nearest representable
double. Every test here coalesces a valid payload and a corrupt one into
ONE partition, so both rows share a batch, and compares the hash column
bit for bit with the pure-Python hash of the same payload.
"""

from __future__ import annotations

import numpy as np

from vectra_py_spark.operators import multimodal as mm


def _one_batch(spark, rows):
    return spark.createDataFrame(rows, ["media_id", "data"]).coalesce(1)


def test_media_phash_df_exact_next_to_error_row(spark):
    from vectra_py_spark.operators.imagehash import (
        _decode_pixels,
        dhash64,
        media_phash_df,
        phash64,
    )

    payload = mm.synth_gif(2, 24, 16)
    img = _decode_pixels(payload)
    want = (phash64(img), dhash64(img))
    assert max(abs(h) for h in want) > 2**53  # float64 would round it
    got = {
        r.media_id: r
        for r in media_phash_df(
            _one_batch(spark, [("ok", payload), ("bad", b"\xff\xd8broken")])
        ).collect()
    }
    assert (got["ok"].phash, got["ok"].dhash) == want
    assert (got["ok"].height, got["ok"].width) == img.shape[:2]
    assert got["bad"].phash is None and got["bad"].error


def test_audio_fingerprint_df_exact_next_to_error_row(spark):
    from vectra_py_spark.operators.audio import (
        decode_audio_payload,
        encode_audio_payload,
    )
    from vectra_py_spark.operators.audiofp import (
        audio_fingerprint_df,
        fingerprints,
    )

    rng = np.random.default_rng(3)
    pcm = (rng.uniform(-0.5, 0.5, 8000) * 32767).astype(np.int64)[:, None]
    payload = encode_audio_payload(pcm, 8000, "wav")
    samples, sr, _kind = decode_audio_payload(payload)
    want = sorted(fingerprints(samples.astype(np.float64).mean(axis=1) / 32768.0, sr))
    assert want
    rows = audio_fingerprint_df(
        _one_batch(spark, [("ok", payload), ("bad", b"RIFFnope")])
    ).collect()
    assert sorted((r.hash, r.t) for r in rows if r.media_id == "ok") == want
    assert [(r.hash, r.t) for r in rows if r.media_id == "bad"] == [(None, None)]


def test_video_phash_df_exact_next_to_error_row(spark):
    from vectra_py_spark.operators.avi import synth_avi
    from vectra_py_spark.operators.videohash import (
        video_frame_hashes,
        video_phash_df,
    )

    payload = synth_avi(5, 24, 16)
    want = sorted(video_frame_hashes(payload, 1))
    assert max(abs(h) for _i, h in want) > 2**53  # float64 would round it
    rows = video_phash_df(
        _one_batch(spark, [("ok", payload), ("bad", b"\x00\x01not-a-video")])
    ).collect()
    assert sorted((r.frame_idx, r.phash) for r in rows if r.media_id == "ok") == want
    assert [(r.frame_idx, r.phash) for r in rows if r.media_id == "bad"] == [(None, None)]
