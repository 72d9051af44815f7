"""Multimodal plumbing: schema, Arrow batching, stub behavior."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def media(spark):
    df = spark.createDataFrame(
        [(1, b"\x00\x01\x02\x03" * 300), (2, b"\xff" * 10), (3, b"")],
        "media_id long, blob binary",
    )
    from youtubeanalyzerproject_big_data__spark.operators.multimodal import attach_media_metadata

    return attach_media_metadata(df, "media_id", "blob", "image")


def test_metadata_schema(media):
    row = {r["media_id"]: r for r in media.collect()}
    assert row["1"]["n_bytes"] == 1200 and row["3"]["n_bytes"] == 0
    assert row["2"]["modality"] == "image"
    assert len(row["1"]["content_md5"]) == 32


def test_fail_stub_raises(media):
    from youtubeanalyzerproject_big_data__spark.operators.multimodal import extract_features

    with pytest.raises(Exception, match="NotImplementedError|codecs"):
        extract_features(media, decode_stub="fail").collect()


def test_fake_features_deterministic(media):
    from youtubeanalyzerproject_big_data__spark.operators.multimodal import extract_features

    a = {r["media_id"]: r["feat_mean"] for r in extract_features(media, decode_stub="fake").collect()}
    b = {r["media_id"]: r["feat_mean"] for r in extract_features(media, decode_stub="fake").collect()}
    assert a == b
    assert a["1"] == pytest.approx(sum([0, 1, 2, 3, 0, 1, 2, 3]) / (255.0 * 8))
    assert a["3"] == 0.0  # empty blob guarded


def test_frame_sampler_row_counts(media):
    from youtubeanalyzerproject_big_data__spark.operators.multimodal import sample_video_frames

    out = sample_video_frames(media, every_n_bytes=500, decode_stub="fake").collect()
    per = {}
    for r in out:
        per[r["media_id"]] = per.get(r["media_id"], 0) + 1
    assert per["1"] == 3  # 1200 bytes / 500 -> chunks at 0,500,1000
    assert per["2"] == 1 and per["3"] == 1


def test_transform_media_resize_chains_into_features(spark):
    """attach -> transform(resize) -> extract_features: the transform emits
    a fresh MEDIA_SCHEMA table (content re-hashed, sizes recomputed), so
    downstream stages chain unchanged; the fail stub stays honest."""
    import hashlib

    import pytest
    from pyspark.sql import functions as F

    from youtubeanalyzerproject_big_data__spark.operators import multimodal

    df = spark.createDataFrame([(1, "abcdefghij"), (2, "x"), (3, "")], "doc_id long, text string")
    media = multimodal.attach_media_metadata(
        df.select("doc_id", F.encode("text", "utf-8").alias("blob")), "doc_id", "blob", "image"
    )
    small = multimodal.transform_media(media, op="resize", factor=4, decode_stub="fake")
    rows = {r["media_id"]: r for r in small.collect()}
    assert bytes(rows["1"]["content"]) == b"aei" and rows["1"]["n_bytes"] == 3
    assert rows["1"]["content_md5"] == hashlib.md5(b"aei").hexdigest()
    assert bytes(rows["3"]["content"]) == b"" and rows["3"]["n_bytes"] == 0

    feats = {r["media_id"]: r for r in multimodal.extract_features(small, decode_stub="fake", feat_dim=8).collect()}
    assert feats["1"]["feat_mean"] == sum(b"aei") / (255.0 * 3)
    assert feats["3"]["feat_mean"] == 0.0  # empty media -> 0.0, never NULL
    assert feats["1"]["content_md5"] == rows["1"]["content_md5"]

    with pytest.raises(Exception, match="NotImplementedError|codecs"):
        multimodal.transform_media(media, factor=4).collect()


def _make_bmp(pixels):
    """Hand-packed 24-bpp bottom-up BMP from rows of (r, g, b) tuples --
    stdlib struct only, so the real-decode test runs in codec-less
    environments."""
    import struct

    h, w = len(pixels), len(pixels[0])
    stride = (w * 3 + 3) // 4 * 4
    img = b""
    for row in reversed(pixels):  # positive height = bottom-up row order
        line = b"".join(bytes((b, g, r)) for (r, g, b) in row)
        img += line + b"\x00" * (stride - len(line))
    pix_off = 14 + 40
    header = struct.pack("<2sIHHI", b"BM", pix_off + len(img), 0, 0, pix_off)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(img), 2835, 2835, 0, 0)
    return header + info + img


def test_real_image_decode_stdlib_bmp(spark):
    """decode_stub='stdlib' REALLY parses bytes -- a hand-packed 24-bpp BMP
    (3 wide: exercises the 4-byte row-stride padding) must decode to its
    true ITU-R 601-2 luma stats.  No PIL required; when PIL ships, the
    'auto' route must agree on the same blob to within a luma-rounding ulp."""
    import pytest

    from youtubeanalyzerproject_big_data__spark.operators import multimodal

    pixels = [
        [(255, 0, 0), (0, 255, 0), (0, 0, 255)],
        [(10, 20, 30), (128, 128, 128), (0, 0, 0)],
    ]
    expected_lumas = [(299 * r + 587 * g + 114 * b) // 1000 for row in pixels for (r, g, b) in row]
    blob = _make_bmp(pixels)
    df = spark.createDataFrame([(1, bytearray(blob))], "doc_id long, blob binary")
    media = multimodal.attach_media_metadata(df, "doc_id", "blob", "image")

    feats = multimodal.extract_features(media, decode_stub="stdlib").collect()
    assert feats[0]["feat_dim"] == 6
    assert feats[0]["feat_mean"] == sum(expected_lumas) / (255.0 * 6)

    if multimodal.codec_available("image"):  # PIL rounds luma; stdlib truncates
        auto = multimodal.extract_features(media, decode_stub="auto").collect()
        assert auto[0]["feat_dim"] == 6
        assert auto[0]["feat_mean"] == pytest.approx(feats[0]["feat_mean"], abs=6 / (255.0 * 6))


def test_auto_codec_raises_honestly_when_absent(spark):
    """Where no codec ships, 'auto' must fail loudly like 'fail' -- never
    silently fall back to fake features."""
    import pytest

    from youtubeanalyzerproject_big_data__spark.operators import multimodal

    if multimodal.codec_available("image"):
        pytest.skip("PIL present; the absent-codec path can't be exercised")
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(1, "abc")], "doc_id long, text string")
    media = multimodal.attach_media_metadata(
        df.select("doc_id", F.encode("text", "utf-8").alias("blob")), "doc_id", "blob", "image"
    )
    with pytest.raises(Exception, match="NotImplementedError|codec"):
        multimodal.extract_features(media, decode_stub="auto").collect()


def test_real_audio_decode_stdlib_wav(spark):
    """decode_stub='stdlib' REALLY walks RIFF chunks -- a generated 16-bit
    PCM WAV (stdlib wave module) must decode to its exact amplitude stats.
    No ffmpeg required; when ffmpeg ships, the 'auto' route must agree on
    the same mono blob."""
    import io
    import struct
    import wave

    import pytest

    from youtubeanalyzerproject_big_data__spark.operators import multimodal

    amps = [1000] * 60 + [-2000] * 40
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(struct.pack("<100h", *amps))
    df = spark.createDataFrame([(1, bytearray(buf.getvalue()))], "doc_id long, blob binary")
    media = multimodal.attach_media_metadata(df, "doc_id", "blob", "audio")

    feats = multimodal.extract_features(media, decode_stub="stdlib").collect()
    assert feats[0]["feat_dim"] == 100
    assert feats[0]["feat_mean"] == sum(abs(a) for a in amps) / (32768.0 * 100)

    if multimodal.codec_available("audio"):
        auto = multimodal.extract_features(media, decode_stub="auto").collect()
        assert auto[0]["feat_dim"] == 100
        assert auto[0]["feat_mean"] == pytest.approx(feats[0]["feat_mean"], rel=1e-3)


def test_stdlib_decode_rejects_garbage_and_video(spark):
    """The stdlib route must fail loudly on bytes that aren't a BMP / PCM
    WAV / raw-DIB AVI -- never silently emit fake features."""
    import pytest

    from youtubeanalyzerproject_big_data__spark.operators import multimodal

    df = spark.createDataFrame([(1, bytearray(b"not media at all"))], "doc_id long, blob binary")
    for modality, msg in (("image", "BMP"), ("audio", "RIFF"), ("video", "AVI")):
        media = multimodal.attach_media_metadata(df, "doc_id", "blob", modality)
        with pytest.raises(Exception, match=msg):
            multimodal.extract_features(media, decode_stub="stdlib").collect()


def _make_avi(n_frames=15, width=4, height=2, rate=5):
    """Deterministic raw-DIB AVI: frame k's BGR bytes count up from 10*k.
    Width 4 x 24bpp = stride 12, no padding; height 2 exercises rows."""
    from youtubeanalyzerproject_big_data__spark.operators.multimodal import pack_raw_avi

    frames = [bytes((10 * k + j) % 256 for j in range(width * 3 * height)) for k in range(n_frames)]
    return pack_raw_avi(frames, width=width, height=height, rate=rate, scale=1), frames


def test_real_video_decode_stdlib_avi(spark):
    """decode_stub='stdlib' REALLY walks the AVI container -- frame
    payload hashes and the frame-rate subsampling (stream 5 fps sampled at
    1 fps -> every 5th frame) must match a direct computation, and the
    feature stats must equal the exact ITU-R 601-2 luma mean over all
    frames.  No ffmpeg anywhere."""
    import hashlib

    from youtubeanalyzerproject_big_data__spark.operators import multimodal

    blob, frames = _make_avi(n_frames=15, width=4, height=2, rate=5)
    df = spark.createDataFrame([(1, bytearray(blob))], "doc_id long, blob binary")
    media = multimodal.attach_media_metadata(df, "doc_id", "blob", "video")

    out = sorted(multimodal.sample_video_frames(media, decode_stub="stdlib", fps=1.0).collect(),
                 key=lambda r: r["frame_no"])
    assert [r["frame_no"] for r in out] == [0, 1, 2]
    assert [r["frame_md5"] for r in out] == [hashlib.md5(frames[k]).hexdigest() for k in (0, 5, 10)]

    feats = multimodal.extract_features(media, decode_stub="stdlib").collect()
    lumas = [
        (299 * f[o + 2] + 587 * f[o + 1] + 114 * f[o]) // 1000
        for f in frames
        for o in (3 * c + 12 * r for r in range(2) for c in range(4))
    ]
    assert feats[0]["feat_dim"] == 4 * 2 * 15
    assert feats[0]["feat_mean"] == sum(lumas) / (255.0 * len(lumas))


def test_auto_codec_samples_video_frames_via_ffmpeg(spark):
    """Real video frame sampling in EVERY environment (r5 advice: no
    environmental skip).  With ffmpeg: decode_stub='auto' on a 3-second
    synthetic clip at fps=1 yields 3 real frames with distinct hashes.
    Without it: the stdlib raw-AVI route proves the same contract (real
    container parse, fps subsampling, distinct per-frame hashes) on a
    15-frame 5 fps clip."""
    import pytest

    from youtubeanalyzerproject_big_data__spark.operators import multimodal

    if not multimodal.codec_available("video"):
        blob, frames = _make_avi(n_frames=15, width=4, height=2, rate=5)
        df = spark.createDataFrame([(1, bytearray(blob))], "doc_id long, blob binary")
        media = multimodal.attach_media_metadata(df, "doc_id", "blob", "video")
        out = multimodal.sample_video_frames(media, decode_stub="stdlib", fps=1.0).collect()
        assert len(out) == 3
        assert sorted(r["frame_no"] for r in out) == [0, 1, 2]
        assert len({r["frame_md5"] for r in out}) == 3  # counting frames differ
        vid_feats = multimodal.extract_features(media, decode_stub="stdlib").collect()
        assert vid_feats[0]["feat_dim"] == 4 * 2 * 15  # w*h*frames, the ffmpeg convention
        assert 0.0 < vid_feats[0]["feat_mean"] < 1.0
        return
    import subprocess
    import tempfile

    with tempfile.NamedTemporaryFile(suffix=".mp4") as f:
        subprocess.run(
            ["ffmpeg", "-v", "error", "-y", "-f", "lavfi", "-i", "testsrc=duration=3:size=64x64:rate=5", f.name],
            check=True,
        )
        blob = open(f.name, "rb").read()
    df = spark.createDataFrame([(1, bytearray(blob))], "doc_id long, blob binary")
    media = multimodal.attach_media_metadata(df, "doc_id", "blob", "video")

    frames = multimodal.sample_video_frames(media, decode_stub="auto", fps=1.0).collect()
    assert len(frames) == 3
    assert [r["frame_no"] for r in sorted(frames, key=lambda r: r["frame_no"])] == [0, 1, 2]
    assert len({r["frame_md5"] for r in frames}) == 3  # testsrc frames differ

    vid_feats = multimodal.extract_features(media, decode_stub="auto").collect()
    assert vid_feats[0]["feat_dim"] == 64 * 64 * 15  # gray rawvideo: w*h*frames
    assert 0.0 < vid_feats[0]["feat_mean"] < 1.0

    # real spatial downscale: re-encoded clip decodes to quarter dimensions
    small = multimodal.transform_media(media, op="resize", factor=2, decode_stub="auto").collect()
    assert 0 < small[0]["n_bytes"] < len(blob) * 2  # re-encoded, sane size
    df2 = spark.createDataFrame([(2, bytearray(bytes(small[0]["content"])))], "doc_id long, blob binary")
    media2 = multimodal.attach_media_metadata(df2, "doc_id", "blob", "video")
    feats2 = multimodal.extract_features(media2, decode_stub="auto").collect()
    assert feats2[0]["feat_dim"] == 32 * 32 * 15  # (64/2)^2 per frame


def test_perceptual_hash_pairs_cluster_and_block(spark):
    from pyspark.sql import functions as F

    from youtubeanalyzerproject_big_data__spark.operators import multimodal as mm

    rows = [(1, "abcdefgh" * 8), (2, "abcdefgh" * 8), (3, "zzzzyyyy" * 8)]
    docs = spark.createDataFrame(rows, "doc_id long, text string").select(
        "doc_id", F.encode("text", "utf-8").alias("blob")
    )
    media = mm.attach_media_metadata(docs, "doc_id", "blob", "image")
    h = mm.perceptual_hashes(media, decode_stub="fake", n_bits=32)
    pairs = {(r["id1"], r["id2"]): r["hamming"] for r in mm.phash_near_dup_pairs(h, 32, 3).collect()}
    assert pairs[("1", "2")] == 0  # identical blobs hash identically
    assert ("1", "3") not in pairs and ("2", "3") not in pairs


def test_perceptual_hash_exact_integer_mean_rule(spark):
    from youtubeanalyzerproject_big_data__spark.operators.multimodal import _ahash_bits

    # bytes [1, 2, 3]: mean 2; only 3 is strictly greater -> bit 2 only
    assert _ahash_bits([1, 2, 3], 32) == 0b100
    assert _ahash_bits([], 32) == 0
    assert _ahash_bits([5, 5, 5], 32) == 0  # nothing strictly above the mean


def test_phash_pairs_rejects_unblockable_distance(spark):
    import pytest as _pytest

    from youtubeanalyzerproject_big_data__spark.operators import multimodal as mm

    df = spark.createDataFrame([("1", 0)], "media_id string, phash long")
    with _pytest.raises(ValueError):
        mm.phash_near_dup_pairs(df, n_bits=32, max_distance=4)


def test_audio_features_exact_dsp_on_known_samples(spark):
    import io
    import struct
    import wave

    from youtubeanalyzerproject_big_data__spark.operators import multimodal

    samples = [100, -200, 300, 0, -50, 50]  # 3 sign-change pairs (0 breaks one)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(struct.pack(f"<{len(samples)}h", *samples))
    df = spark.createDataFrame([(7, bytearray(buf.getvalue()))], "media_id long, blob binary")
    media = multimodal.attach_media_metadata(df, "media_id", "blob", "audio")
    out = multimodal.audio_features(media).collect()[0]
    assert out["media_id"] == "7" and out["n_samples"] == 6
    assert out["energy"] == sum(s * s for s in samples)
    # crossings: (100,-200), (-200,300), (-50,50); (0,-50) product is 0
    assert out["zero_crossings"] == 3
    assert out["peak"] == 300
    expected = round((sum(s * s for s in samples) / 6) ** 0.5 / 32768.0, 6)
    assert abs(out["rms_level"] - expected) < 1e-9
