"""Binary-column (multimodal) plumbing tests."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from .conftest import SF_SMOKE


@pytest.fixture(scope="module")
def docs_with_payload(spark):
    from ida_dataengineerproject_spark.multimodal.binary_ops import (
        attach_fake_payload,
    )
    from ida_dataengineerproject_spark.sources.tables import table

    return attach_fake_payload(table(spark, SF_SMOKE, "documents"))


def test_byte_features_match_text(spark, docs_with_payload):
    from ida_dataengineerproject_spark.multimodal.binary_ops import (
        extract_byte_features,
    )

    feats = extract_byte_features(docs_with_payload)
    joined = feats.join(
        docs_with_payload.select("doc_id", F.length("text").alias("text_len")),
        "doc_id",
    )
    bad = joined.filter(F.col("n_bytes") != F.col("text_len")).count()
    assert bad == 0  # ASCII corpus: bytes == chars


def test_bmp_encode_decode_roundtrip():
    from ida_dataengineerproject_spark.multimodal.binary_ops import (
        _bmp_decode,
        _bmp_encode,
    )

    for w, h, g in [(1, 1, 0), (3, 2, 255), (16, 8, 47), (5, 7, 128)]:
        data = _bmp_encode(w, h, g)
        assert data[:2] == b"BM"
        assert _bmp_decode(data) == (w, h, 3, float(g))


def test_decode_bmp_matches_formula(spark):
    from ida_dataengineerproject_spark.multimodal.binary_ops import (
        attach_bmp_payload,
        decode_bmp,
    )
    from ida_dataengineerproject_spark.sources.tables import table

    docs = table(spark, SF_SMOKE, "documents")
    out = decode_bmp(attach_bmp_payload(docs))
    joined = out.join(docs.select("doc_id", F.length("text").alias("n")), "doc_id")
    bad = joined.filter(
        (F.col("width") != F.col("n") % 16 + 1)
        | (F.col("height") != F.col("n") % 8 + 1)
        | (F.col("mean_pixel") != (F.col("n") % 256).cast("double"))
    ).count()
    assert bad == 0


def test_frame_sample_explosion_count(spark, docs_with_payload):
    from ida_dataengineerproject_spark.multimodal.binary_ops import (
        frame_sample_stub,
    )

    frames = frame_sample_stub(docs_with_payload, every_n_bytes=64)
    got = frames.groupBy("doc_id").count()
    want = docs_with_payload.select(
        "doc_id", F.ceil(F.length("text") / 64).alias("want")
    )
    bad = got.join(want, "doc_id").filter(F.col("count") != F.col("want")).count()
    assert bad == 0


def test_bmp_resize_roundtrip_nonuniform(spark):
    """Resize on a NON-uniform BMP: encode a checkerboard via the general
    pixel encoder, resize-by-half through the Spark op, and verify dims,
    container size, and the mean of the actually-sampled pixels against
    a numpy reference — the uniform-gray oracle can't see sampling bugs,
    this does."""
    import numpy as np
    import pyspark.sql.functions as F

    from ida_dataengineerproject_spark.multimodal.binary_ops import (
        _bmp_decode,
        _bmp_encode_pixels,
        _bmp_pixels,
        resize_bmp_half,
    )

    rng = np.random.default_rng(7)
    imgs = {}
    rows = []
    for doc_id, (w, h) in enumerate([(5, 3), (16, 8), (1, 1), (7, 4)]):
        arr = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        imgs[doc_id] = arr
        rows.append((doc_id, bytearray(_bmp_encode_pixels(arr))))
    df = spark.createDataFrame(rows, "doc_id long, payload binary")

    got = {r["doc_id"]: r for r in resize_bmp_half(df).collect()}
    for doc_id, arr in imgs.items():
        ref = arr[::2, ::2]
        r = got[doc_id]
        assert (r["src_width"], r["src_height"]) == (arr.shape[1], arr.shape[0])
        assert (r["out_width"], r["out_height"]) == (ref.shape[1], ref.shape[0])
        assert r["mean_pixel"] == ref.mean()
        # container round-trips: decode our own encoder's output
        w2, h2, _, mean2 = _bmp_decode(bytes(_bmp_encode_pixels(ref)))
        assert (w2, h2, mean2) == (ref.shape[1], ref.shape[0], ref.mean())
        # pixel-exact round-trip through the codec pair
        assert np.array_equal(_bmp_pixels(bytes(_bmp_encode_pixels(ref))), ref)


def test_wav_codec_roundtrip_params():
    """Encoder/decoder pair round-trips arbitrary (n_samples, rate)
    parameters exactly, and rejects non-WAV bytes."""
    import pytest

    from ida_dataengineerproject_spark.multimodal.binary_ops import (
        _wav_decode,
        _wav_encode,
    )

    for n, rate, amp in [(1, 8000, 0), (400, 16000, 999), (37, 44100, -5)]:
        ns, r, ch, dur = _wav_decode(_wav_encode(n, rate, amp))
        assert (ns, r, ch) == (n, rate, 1)
        assert dur == n * 1000.0 / rate
    with pytest.raises(ValueError):
        _wav_decode(b"BM not audio")


def test_audio_frame_energy_nonconstant_signal(spark):
    """The oracle only exercises constant-amplitude payloads; pin the
    kernel against numpy on a hand-built NON-constant WAV (ramp), where
    the last short window must divide by its true length."""
    import numpy as np

    from ida_dataengineerproject_spark.multimodal.binary_ops import (
        _wav_pcm_samples,
        audio_frame_energy,
    )
    import struct as _struct

    samples = np.arange(-120, 130, dtype="<i2")  # 250 samples, ramp
    data = samples.tobytes()
    wav = (
        _struct.pack("<4sI4s", b"RIFF", 36 + len(data), b"WAVE")
        + _struct.pack("<4sIHHIIHH", b"fmt ", 16, 1, 1, 8000, 16000, 2, 16)
        + _struct.pack("<4sI", b"data", len(data))
        + data
    )
    assert (_wav_pcm_samples(wav) == samples).all()
    df = spark.createDataFrame([(1, bytearray(wav))], "doc_id long, payload binary")
    row = audio_frame_energy(df, frame=100).collect()[0]
    s = samples.astype("float64")
    rms = [
        float(np.sqrt((s[i : i + 100] ** 2).mean()))
        for i in range(0, 250, 100)
    ]
    assert row["n_windows"] == 3
    assert abs(row["rms_min"] - min(rms)) < 1e-9
    assert abs(row["rms_max"] - max(rms)) < 1e-9
    assert not row["all_silent"]


def test_bmp_patch_tokens_nonuniform_partial_edges(spark):
    """The vectorized NaN-pad/reshape tiling must equal the naive
    per-tile mean on a NON-uniform image whose dims are not multiples of
    the patch size (7x10, patch 4 -> 2x3 grid with partial right/bottom
    edges) — the oracle's uniform images can't distinguish a padding bug
    from a correct partial-edge mean."""
    import numpy as np

    from ida_dataengineerproject_spark.multimodal.binary_ops import (
        _bmp_encode_pixels,
        bmp_patch_tokens,
    )

    rng = np.random.RandomState(7)
    arr = rng.randint(0, 256, size=(7, 10, 3), dtype=np.uint8)
    df = spark.createDataFrame(
        [(1, bytearray(_bmp_encode_pixels(arr)))],
        "doc_id long, payload binary",
    )
    got = {
        (r.patch_row, r.patch_col): r.mean_pixel
        for r in bmp_patch_tokens(df, patch=4).collect()
    }
    assert set(got) == {(r, c) for r in range(2) for c in range(3)}
    for (r, c), m in got.items():
        tile = arr[r * 4 : (r + 1) * 4, c * 4 : (c + 1) * 4]
        assert abs(m - float(np.mean(tile))) < 1e-9, (r, c)
