"""Multimodal (image/audio/video) column plumbing.

Design: media lives as opaque ``binary`` columns with typed metadata
(modality, byte length, content hash).  Decode / feature-extract / resize /
frame-sample run as Arrow-batched ``mapInPandas`` stages -- the only place
in this engine where Python touches row data, because codec work genuinely
cannot be a Catalyst expression.

The actual codecs (PIL/librosa/ffmpeg) are NOT in this container, so the
decode kernels are stubbed: ``decode_stub='fail'`` raises
NotImplementedError (the honest production default until codecs ship);
``decode_stub='fake'`` produces deterministic pseudo-features derived from
the bytes so the Spark-side plumbing (schema, batching, partitioning) is
fully testable.

Scale notes: mapInPandas streams Arrow batches, so executor memory is
bounded by spark.sql.execution.arrow.maxRecordsPerBatch regardless of blob
size distribution; repartition upstream by a content-hash so hot uploaders
don't skew a partition full of 4K video.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Literal

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from youtubeanalyzerproject_big_data__spark.functions.precision import micro_round
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("modality", T.StringType(), False),  # image|audio|video
        T.StructField("content", T.BinaryType(), True),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("content_md5", T.StringType(), True),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("modality", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("content_md5", T.StringType(), True),
        T.StructField("feat_mean", T.DoubleType(), True),
        T.StructField("feat_dim", T.IntegerType(), True),
    ]
)


def codec_available(modality: str = "image") -> bool:
    """Feature-detect real codecs at call time: PIL for images, an ffmpeg
    binary for audio/video.  Lets ``decode_stub='auto'`` route to real
    decoding in environments that ship codecs while this container (which
    ships neither) keeps the deterministic fake kernel as the oracle path.
    """
    if modality == "image":
        try:
            import PIL.Image  # noqa: F401

            return True
        except ImportError:
            return False
    import shutil

    return shutil.which("ffmpeg") is not None


def _require_auto_codec(modality: str) -> None:
    if not codec_available(modality):
        raise NotImplementedError(
            f"decode_stub='auto' but no real codec for {modality!r} in this environment "
            "(PIL for image, ffmpeg for audio/video); use decode_stub='fake' for plumbing tests"
        )


def _ffmpeg_decode_stats(blob: bytes, modality: str) -> tuple[float, int]:
    """Real audio/video decode via the ffmpeg CLI: normalized mean level +
    sample/pixel count, the (feat_mean, feat_dim) pair of the fake kernel.

    audio -> mono s16le PCM, feat_mean = mean |amplitude| / 32768;
    video -> gray rawvideo,  feat_mean = mean pixel / 255.
    Decodes from a pipe (no temp files), output capped by the blob itself.
    """
    import subprocess

    if modality == "audio":
        args = ["-f", "s16le", "-ac", "1"]
    elif modality == "video":
        args = ["-f", "rawvideo", "-pix_fmt", "gray"]
    else:  # pragma: no cover - guarded by callers
        raise ValueError(modality)
    proc = subprocess.run(
        ["ffmpeg", "-v", "error", "-i", "pipe:0", *args, "pipe:1"],
        input=blob,
        capture_output=True,
        check=False,
    )
    if proc.returncode != 0 or not proc.stdout:
        raise ValueError(f"ffmpeg failed to decode {modality} blob: {proc.stderr.decode(errors='replace')[:200]}")
    raw = proc.stdout
    if modality == "audio":
        import array

        samples = array.array("h")
        samples.frombytes(raw[: len(raw) - (len(raw) % 2)])
        n = len(samples)
        return (sum(abs(s) for s in samples) / (32768.0 * max(n, 1)), n)
    n = len(raw)
    return (sum(raw) / (255.0 * max(n, 1)), n)


def _bmp_pixels(blob: bytes) -> list[int]:
    """Pure-stdlib BMP decode: struct-unpack of BITMAPFILEHEADER +
    BITMAPINFOHEADER, uncompressed 8-bpp (paletted) / 24-bpp / 32-bpp.
    Returns the luma pixel list (stored row order) with the ITU-R 601-2 integer
    luma (299R+587G+114B)//1000 -- PIL's convert('L') formula -- so the
    stdlib route reports the same statistic family as the PIL route.
    This is a REAL byte-parsing decoder (no PIL needed): padded row
    strides, bottom-up vs top-down heights, and palette indirection are
    all honored (mean is row-order-invariant anyway)."""
    import struct

    if len(blob) < 54 or blob[:2] != b"BM":
        raise ValueError("not a BMP blob (missing BM magic / truncated header)")
    pix_off = struct.unpack_from("<I", blob, 10)[0]
    hdr_size = struct.unpack_from("<I", blob, 14)[0]
    if hdr_size < 40:
        raise ValueError(f"unsupported BMP header size {hdr_size} (need BITMAPINFOHEADER+)")
    width, height = struct.unpack_from("<ii", blob, 18)
    bpp = struct.unpack_from("<H", blob, 28)[0]
    compression = struct.unpack_from("<I", blob, 30)[0]
    if compression != 0 or bpp not in (8, 24, 32) or width <= 0 or height == 0:
        raise ValueError(f"unsupported BMP: bpp={bpp} compression={compression} {width}x{height}")
    stride = (width * (bpp // 8) + 3) // 4 * 4  # rows pad to 4-byte words
    pal_base = 14 + hdr_size
    px = []
    for r in range(abs(height)):
        base = pix_off + r * stride
        for c in range(width):
            if bpp == 8:
                entry = pal_base + 4 * blob[base + c]  # BGRA palette entry
                b8, g8, r8 = blob[entry], blob[entry + 1], blob[entry + 2]
            else:
                o = base + c * (bpp // 8)
                b8, g8, r8 = blob[o], blob[o + 1], blob[o + 2]
            px.append((299 * r8 + 587 * g8 + 114 * b8) // 1000)
    return px


def _bmp_decode_stats(blob: bytes) -> tuple[float, int]:
    """(mean gray / 255, pixel count) via _bmp_pixels."""
    px = _bmp_pixels(blob)
    return (sum(px) / (255.0 * max(len(px), 1)), len(px))


def _wav_samples(blob: bytes) -> list[int]:
    """Pure-stdlib WAV decode: RIFF chunk walk (word-aligned), fmt chunk
    validation (PCM, 16-bit), int16 data chunk.  Returns the raw int16
    sample list (all channels interleaved); the stats wrapper reports
    (mean |amplitude| / 32768, sample count across channels) -- identical
    to the ffmpeg route for mono input (ffmpeg's -ac 1 downmixes
    multichannel; this decoder counts every channel's samples instead,
    documented divergence)."""
    import array
    import struct

    if len(blob) < 12 or blob[:4] != b"RIFF" or blob[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE blob")
    fmt = data = None
    pos = 12
    while pos + 8 <= len(blob):
        cid = blob[pos : pos + 4]
        csz = struct.unpack_from("<I", blob, pos + 4)[0]
        body = blob[pos + 8 : pos + 8 + csz]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + csz + (csz & 1)
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    audio_fmt = struct.unpack_from("<H", fmt, 0)[0]
    bits = struct.unpack_from("<H", fmt, 14)[0]
    if audio_fmt != 1 or bits != 16:
        raise ValueError(f"only 16-bit PCM supported (fmt={audio_fmt}, bits={bits})")
    samples = array.array("h")
    samples.frombytes(data[: len(data) - (len(data) % 2)])
    return list(samples)


def _wav_decode_stats(blob: bytes) -> tuple[float, int]:
    """(mean |amplitude| / 32768, sample count) via _wav_samples."""
    samples = _wav_samples(blob)
    n = len(samples)
    return (sum(abs(s) for s in samples) / (32768.0 * max(n, 1)), n)


def _avi_parse(blob: bytes) -> tuple[list[bytes], int, int, int, int, int]:
    """Pure-stdlib AVI parse: the _wav_samples RIFF walk applied to the
    two-level AVI LIST tree (hdrl -> strl stream headers; movi -> frame
    chunks).  Supports what a codec-less environment can honestly decode:
    uncompressed DIB video ('00db'/'00dc' chunks, strf biCompression == 0,
    24/32 bpp).  Returns (frames, width, height, bpp, rate, scale) where
    frames are the raw bottom-up BGR DIB payloads and rate/scale give the
    stream frame rate (strh dwRate/dwScale)."""
    import struct

    if len(blob) < 12 or blob[:4] != b"RIFF" or blob[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI blob (missing RIFF/AVI magic)")
    meta = {"width": None, "height": None, "bpp": None, "compression": None,
            "rate": None, "scale": None, "in_vids": False}
    frames: list[bytes] = []

    def walk(pos: int, end: int) -> None:
        while pos + 8 <= end:
            cid = blob[pos : pos + 4]
            csz = struct.unpack_from("<I", blob, pos + 4)[0]
            body, body_end = pos + 8, min(pos + 8 + csz, len(blob))
            if cid == b"LIST":
                walk(body + 4, body_end)  # skip the 4-byte list type
            elif cid == b"strh":
                meta["in_vids"] = blob[body : body + 4] == b"vids"
                if meta["in_vids"]:
                    meta["scale"] = struct.unpack_from("<I", blob, body + 20)[0]
                    meta["rate"] = struct.unpack_from("<I", blob, body + 24)[0]
            elif cid == b"strf" and meta["in_vids"] and meta["width"] is None:
                _, w, h, _, bpp, comp = struct.unpack_from("<IiiHHI", blob, body)
                meta.update(width=w, height=h, bpp=bpp, compression=comp)
            elif cid[2:4] in (b"db", b"dc"):
                frames.append(blob[body:body_end])
            pos = body + csz + (csz & 1)  # chunks are word-aligned

    walk(12, len(blob))
    if meta["width"] is None:
        raise ValueError("AVI has no video ('vids') stream header")
    if meta["compression"] != 0 or meta["bpp"] not in (24, 32):
        raise ValueError(
            f"unsupported AVI: compression={meta['compression']} bpp={meta['bpp']} "
            "(stdlib decodes raw-DIB 24/32 bpp only)"
        )
    return frames, meta["width"], meta["height"], meta["bpp"], meta["rate"] or 1, max(meta["scale"] or 1, 1)


def _dib_lumas(frame: bytes, width: int, height: int, bpp: int) -> list[int]:
    """Luma pixels of one raw DIB frame: padded row strides and the same
    ITU-R 601-2 integer luma as _bmp_pixels (the frame payload IS a
    headerless BMP pixel array)."""
    stride = (width * (bpp // 8) + 3) // 4 * 4
    px = []
    for r in range(abs(height)):
        base = r * stride
        for c in range(width):
            o = base + c * (bpp // 8)
            b8, g8, r8 = frame[o], frame[o + 1], frame[o + 2]
            px.append((299 * r8 + 587 * g8 + 114 * b8) // 1000)
    return px


def _avi_decode_stats(blob: bytes) -> tuple[float, int]:
    """(mean gray / 255, total pixel count across frames) via _avi_parse --
    the same statistic family as the ffmpeg gray-rawvideo route."""
    frames, w, h, bpp, _, _ = _avi_parse(blob)
    px = [l for f in frames for l in _dib_lumas(f, w, h, bpp)]
    return (sum(px) / (255.0 * max(len(px), 1)), len(px))


def _avi_sample_frames(blob: bytes, fps: float) -> list[tuple[int, str]]:
    """Stdlib twin of _ffmpeg_sample_frames: keep every round(stream_fps /
    fps)-th stored frame (stream rate from strh dwRate/dwScale), renumber
    the sampled frames 0..n-1, hash the raw DIB payload."""
    import hashlib

    frames, _, _, _, rate, scale = _avi_parse(blob)
    stream_fps = rate / scale
    step = max(1, round(stream_fps / max(fps, 1e-9)))
    return [(i, hashlib.md5(f).hexdigest()) for i, f in enumerate(frames[::step])]


def pack_raw_avi(frames: list[bytes], width: int, height: int, rate: int = 2, scale: int = 1) -> bytes:
    """Minimal UNCOMPRESSED AVI writer: RIFF('AVI ') -> LIST hdrl (avih +
    LIST strl (strh 'vids' + strf BITMAPINFOHEADER)) -> LIST movi with one
    '00db' chunk per raw bottom-up BGR24 DIB frame.  Real container bytes
    (word-aligned chunks, honest headers): _avi_parse round-trips it, and
    tests/gate queries use it to exercise REAL video decode without
    ffmpeg.  Frames must already be stride-padded DIB payloads."""
    import struct

    def chunk(cid: bytes, body: bytes) -> bytes:
        return cid + struct.pack("<I", len(body)) + body + (b"\x00" if len(body) & 1 else b"")

    def lst(ltype: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", ltype + body)

    n = len(frames)
    us_per_frame = int(1_000_000 * scale / max(rate, 1))
    avih = chunk(b"avih", struct.pack("<14I", us_per_frame, 0, 0, 0, n, 0, 1, 0, width, height, 0, 0, 0, 0))
    strh = chunk(
        b"strh",
        b"vids" + b"\x00" * 4  # fccType + fccHandler(raw)
        + struct.pack("<IHHIIIIIIII", 0, 0, 0, 0, scale, rate, 0, n, 0, 0, 0)
        + struct.pack("<hhhh", 0, 0, width, height),
    )
    strf = chunk(b"strf", struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0, max(len(f) for f in frames) if frames else 0, 0, 0, 0, 0))
    hdrl = lst(b"hdrl", avih + lst(b"strl", strh + strf))
    movi = lst(b"movi", b"".join(chunk(b"00db", f) for f in frames))
    return chunk(b"RIFF", b"AVI " + hdrl + movi)


def attach_media_metadata(df: DataFrame, id_col: str, content_col: str, modality: str) -> DataFrame:
    """Wrap a raw binary column in the typed media schema (Catalyst-only:
    length + md5 are built-ins; no Python in this path)."""
    return df.select(
        F.col(id_col).cast("string").alias("media_id"),
        F.lit(modality).alias("modality"),
        F.col(content_col).alias("content"),
        F.length(F.col(content_col)).cast("long").alias("n_bytes"),
        F.md5(F.col(content_col)).alias("content_md5"),
    )


def extract_features(
    media: DataFrame,
    decode_stub: Literal["fail", "fake", "auto", "stdlib"] = "fail",
    feat_dim: int = 8,
) -> DataFrame:
    """Decode + feature-extract via mapInPandas (Arrow batches).

    'fake' kernel: deterministic features from the first ``feat_dim`` bytes
    (mean normalized to [0,1]) -- stands in for an image-embedding or
    audio-MFCC kernel with the identical dataflow shape.  'auto' decodes
    for real when the codec is present (PIL for image: feat_mean = mean
    pixel intensity / 255, feat_dim = pixel count; ffmpeg for audio/video:
    mean |PCM amplitude| / 32768 over decoded samples, resp. mean gray
    pixel / 255 over decoded frames) and raises otherwise.  'stdlib'
    decodes for real with NO external codec: struct-unpacked BMP for
    images (_bmp_decode_stats) and RIFF-walked 16-bit PCM WAV for audio
    (_wav_decode_stats) -- the in-gate real byte-parsing route for
    codec-less environments (driver query mm4); video still needs ffmpeg.
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if decode_stub == "fail":
                raise NotImplementedError(
                    "media codecs (PIL/librosa/ffmpeg) not available in this environment; "
                    "use decode_stub='fake' for plumbing tests"
                )
            if decode_stub == "stdlib":
                feats, dims = [], []
                for modality, content in zip(pdf["modality"], pdf["content"]):
                    blob = bytes(content) if content is not None else b""
                    if modality == "image":
                        m, d = _bmp_decode_stats(blob)
                    elif modality == "audio":
                        m, d = _wav_decode_stats(blob)
                    elif modality == "video":
                        m, d = _avi_decode_stats(blob)
                    else:
                        raise NotImplementedError(
                            "decode_stub='stdlib' covers BMP images, 16-bit PCM WAV audio, "
                            f"and raw-DIB AVI video; no pure-stdlib decoder for {modality!r}"
                        )
                    feats.append(m)
                    dims.append(d)
                yield pd.DataFrame(
                    {
                        "media_id": pdf["media_id"],
                        "modality": pdf["modality"],
                        "n_bytes": pdf["n_bytes"],
                        "content_md5": pdf["content_md5"],
                        "feat_mean": feats,
                        "feat_dim": pd.array(dims, dtype="int32"),
                    }
                )
                continue
            if decode_stub == "auto":
                import io as _io

                feats, dims = [], []
                for modality, content in zip(pdf["modality"], pdf["content"]):
                    _require_auto_codec(modality)
                    if modality in ("audio", "video"):
                        m, d = _ffmpeg_decode_stats(bytes(content), modality)
                        feats.append(m)
                        dims.append(d)
                        continue
                    from PIL import Image

                    img = Image.open(_io.BytesIO(bytes(content))).convert("L")
                    px = list(img.getdata())
                    feats.append(sum(px) / (255.0 * max(len(px), 1)))
                    dims.append(len(px))
                yield pd.DataFrame(
                    {
                        "media_id": pdf["media_id"],
                        "modality": pdf["modality"],
                        "n_bytes": pdf["n_bytes"],
                        "content_md5": pdf["content_md5"],
                        "feat_mean": feats,
                        "feat_dim": pd.array(dims, dtype="int32"),
                    }
                )
                continue
            feats = []
            for content in pdf["content"]:
                head = bytes(content[:feat_dim]) if content is not None else b""
                feats.append(sum(head) / (255.0 * max(len(head), 1)))
            out = pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "modality": pdf["modality"],
                    "n_bytes": pdf["n_bytes"],
                    "content_md5": pdf["content_md5"],
                    "feat_mean": feats,
                    "feat_dim": feat_dim,
                }
            )
            yield out

    return media.mapInPandas(kernel, schema=FEATURE_SCHEMA)


def transform_media(
    media: DataFrame,
    op: Literal["resize"] = "resize",
    factor: int = 4,
    decode_stub: Literal["fail", "fake", "auto", "stdlib"] = "fail",
) -> DataFrame:
    """Decode -> transform -> re-encode stage (resize / transcode shape).

    Output is AGAIN a MEDIA_SCHEMA table (content + recomputed n_bytes /
    content_md5), so transform stages CHAIN: attach -> transform ->
    extract_features / sample_video_frames is the full media-pipeline
    dataflow users expect (mirrors reference GUI's media handling surface,
    guiV5.py, which this engine reproduces compute-side).

    'fake' kernel: keeps every ``factor``-th byte -- a deterministic
    stand-in for spatial downscaling with identical schema/batch shape.
    'auto' decodes/resizes/re-encodes for real via PIL (image) or ffmpeg
    (video).  'stdlib' is the REAL no-codec image route: uncompressed BMP
    in, ``factor``x``factor`` box filter with exact integer channel means,
    BMP out (_bmp_downsample -- bit-replayable on any engine; driver
    query mm8 gates the round trip).
    """
    if op != "resize":
        raise ValueError(f"unsupported transform op: {op!r}")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            if decode_stub == "fail":
                raise NotImplementedError(
                    "media codecs (PIL/ffmpeg) not available in this environment; "
                    "use decode_stub='fake' for plumbing tests"
                )
            contents, sizes, digests = [], [], []
            if decode_stub == "stdlib":
                for modality, content in zip(pdf["modality"], pdf["content"]):
                    if modality != "image":
                        raise NotImplementedError(
                            "decode_stub='stdlib' resize covers uncompressed BMP images only"
                        )
                    small = _bmp_downsample(bytes(content), factor)
                    contents.append(small)
                    sizes.append(len(small))
                    digests.append(hashlib.md5(small).hexdigest())
                yield pd.DataFrame(
                    {
                        "media_id": pdf["media_id"],
                        "modality": pdf["modality"],
                        "content": contents,
                        "n_bytes": sizes,
                        "content_md5": digests,
                    }
                )
                continue
            if decode_stub == "auto":
                import io as _io

                for modality, content in zip(pdf["modality"], pdf["content"]):
                    _require_auto_codec(modality)
                    if modality == "video":
                        small = _ffmpeg_resize_video(bytes(content), factor)
                    elif modality == "image":
                        from PIL import Image

                        img = Image.open(_io.BytesIO(bytes(content)))
                        small_img = img.resize((max(img.width // factor, 1), max(img.height // factor, 1)))
                        buf = _io.BytesIO()
                        small_img.save(buf, format="PNG")
                        small = buf.getvalue()
                    else:
                        raise NotImplementedError("auto resize implemented for image and video only")
                    contents.append(small)
                    sizes.append(len(small))
                    digests.append(hashlib.md5(small).hexdigest())
                yield pd.DataFrame(
                    {
                        "media_id": pdf["media_id"],
                        "modality": pdf["modality"],
                        "content": contents,
                        "n_bytes": sizes,
                        "content_md5": digests,
                    }
                )
                continue
            for content in pdf["content"]:
                blob = bytes(content) if content is not None else b""
                small = blob[::factor]
                contents.append(small)
                sizes.append(len(small))
                digests.append(hashlib.md5(small).hexdigest())
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "modality": pdf["modality"],
                    "content": contents,
                    "n_bytes": sizes,
                    "content_md5": digests,
                }
            )

    return media.mapInPandas(kernel, schema=MEDIA_SCHEMA)


def sample_video_frames(
    media: DataFrame,
    every_n_bytes: int = 1024,
    decode_stub: Literal["fail", "fake", "auto", "stdlib"] = "fail",
    fps: float = 1.0,
) -> DataFrame:
    """Frame-sampling plumbing: one output row per sampled 'frame'.

    The fake kernel emits a row per ``every_n_bytes`` chunk with a
    deterministic chunk hash -- same 1->N fan-out shape as real frame
    extraction (row explosion happens inside Arrow batches, not via
    Python-row UDFs).  'auto' extracts REAL frames at ``fps`` frames/sec
    via the ffmpeg CLI when the binary ships (one PNG per sampled frame,
    md5-hashed) and raises otherwise; 'stdlib' decodes REAL frames from
    uncompressed-DIB AVI containers with the in-module RIFF walk
    (_avi_sample_frames -- no external codec; driver query mm7 gates it);
    the fake kernel stays the byte-chunk oracle path either way.
    """
    schema = T.StructType(
        [
            T.StructField("media_id", T.StringType(), False),
            T.StructField("frame_no", T.IntegerType(), False),
            T.StructField("frame_md5", T.StringType(), True),
        ]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            if decode_stub == "fail":
                raise NotImplementedError("video codecs unavailable; use decode_stub='fake'")
            rows: list[tuple[str, int, str]] = []
            if decode_stub == "auto":
                for mid, modality, content in zip(pdf["media_id"], pdf["modality"], pdf["content"]):
                    _require_auto_codec(modality)
                    for frame_no, digest in _ffmpeg_sample_frames(bytes(content), fps):
                        rows.append((mid, frame_no, digest))
                yield pd.DataFrame(rows, columns=["media_id", "frame_no", "frame_md5"])
                continue
            if decode_stub == "stdlib":
                for mid, content in zip(pdf["media_id"], pdf["content"]):
                    for frame_no, digest in _avi_sample_frames(bytes(content), fps):
                        rows.append((mid, frame_no, digest))
                yield pd.DataFrame(rows, columns=["media_id", "frame_no", "frame_md5"])
                continue
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                blob = bytes(content) if content is not None else b""
                for i in range(0, max(len(blob), 1), every_n_bytes):
                    chunk = blob[i : i + every_n_bytes]
                    rows.append((mid, i // every_n_bytes, hashlib.md5(chunk).hexdigest()))
            yield pd.DataFrame(rows, columns=["media_id", "frame_no", "frame_md5"])

    return media.mapInPandas(kernel, schema=schema)


def _ffmpeg_sample_frames(blob: bytes, fps: float) -> list[tuple[int, str]]:
    """Extract frames at ``fps`` via ffmpeg into a temp dir (one PNG per
    frame, deleted after hashing); returns [(frame_no, md5)].  Temp files
    are unavoidable here: ffmpeg's image2 muxer needs seekable per-frame
    outputs, and frames-in-a-pipe would need PNG-boundary parsing."""
    import hashlib
    import os as _os
    import subprocess
    import tempfile

    with tempfile.TemporaryDirectory(prefix="frames_") as d:
        src = _os.path.join(d, "in.bin")
        with open(src, "wb") as f:
            f.write(blob)
        proc = subprocess.run(
            ["ffmpeg", "-v", "error", "-i", src, "-vf", f"fps={fps}", _os.path.join(d, "f_%06d.png")],
            capture_output=True,
            check=False,
        )
        frames = sorted(p for p in _os.listdir(d) if p.startswith("f_") and p.endswith(".png"))
        if proc.returncode != 0 and not frames:
            raise ValueError(f"ffmpeg failed to extract frames: {proc.stderr.decode(errors='replace')[:200]}")
        out = []
        for i, name in enumerate(frames):
            with open(_os.path.join(d, name), "rb") as f:
                out.append((i, hashlib.md5(f.read()).hexdigest()))
        return out


def _ffmpeg_resize_video(blob: bytes, factor: int) -> bytes:
    """Real video spatial downscale via the ffmpeg CLI: scale=iw/f:ih/f
    (dimensions forced even for yuv420p), re-encoded to MP4.  Temp files on
    both ends: the mp4 muxer needs a seekable output."""
    import os as _os
    import subprocess
    import tempfile

    with tempfile.TemporaryDirectory(prefix="resize_") as d:
        src, dst = _os.path.join(d, "in.bin"), _os.path.join(d, "out.mp4")
        with open(src, "wb") as f:
            f.write(blob)
        proc = subprocess.run(
            [
                "ffmpeg", "-v", "error", "-y", "-i", src,
                "-vf", f"scale=trunc(iw/{factor}/2)*2:trunc(ih/{factor}/2)*2",
                "-an", dst,
            ],
            capture_output=True,
            check=False,
        )
        if proc.returncode != 0 or not _os.path.exists(dst):
            raise ValueError(f"ffmpeg failed to resize video: {proc.stderr.decode(errors='replace')[:200]}")
        with open(dst, "rb") as f:
            return f.read()


PHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("phash", T.LongType(), True),
    ]
)


def _ahash_bits(samples: list[int], n_bits: int) -> int:
    """Average-hash bit packing: bit i set iff sample_i * n > sum(samples)
    -- the strictly-greater-than-mean rule in EXACT integer arithmetic
    (no float mean, so every engine replays it bit-for-bit)."""
    window = samples[:n_bits]
    w = len(window)
    if w == 0:
        return 0
    total = sum(window)
    h = 0
    for i, b in enumerate(window):
        if b * w > total:
            h |= 1 << i
    return h


def perceptual_hashes(
    media: DataFrame,
    decode_stub: Literal["fail", "fake", "auto", "stdlib"] = "fail",
    n_bits: int = 32,
) -> DataFrame:
    """Per-blob perceptual hash (aHash family): sample intensities, set bit
    i when sample i exceeds the window mean.  'fake' samples the first
    ``n_bits`` raw bytes (deterministic, oracle-replayable); 'stdlib'
    decodes BMP pixel rows / WAV amplitudes first; 'auto' routes through
    PIL/ffmpeg.  The greater-than-mean rule runs in exact integer
    arithmetic (see _ahash_bits), so fake-path hashes replay in SQL.
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if decode_stub == "fail":
                raise NotImplementedError(
                    "media codecs not available; use decode_stub='fake' for plumbing tests"
                )
            hashes = []
            for modality, content in zip(pdf["modality"], pdf["content"]):
                blob = bytes(content) if content is not None else b""
                if decode_stub == "fake":
                    samples = list(blob[:n_bits])
                elif decode_stub == "stdlib":
                    if modality == "image":
                        samples = _bmp_pixels(blob)[:n_bits]
                    elif modality == "audio":
                        samples = [abs(s) for s in _wav_samples(blob)[:n_bits]]
                    else:
                        raise NotImplementedError(f"no stdlib decoder for {modality!r}")
                else:
                    _require_auto_codec(modality)
                    import io as _io

                    from PIL import Image

                    img = Image.open(_io.BytesIO(blob)).convert("L")
                    samples = list(img.getdata())[:n_bits]
                hashes.append(_ahash_bits(samples, n_bits))
            yield pd.DataFrame({"media_id": pdf["media_id"], "phash": pd.array(hashes, dtype="int64")})

    return media.mapInPandas(kernel, schema=PHASH_SCHEMA)


def phash_near_dup_pairs(
    hashes: DataFrame,
    n_bits: int = 32,
    max_distance: int = 3,
) -> DataFrame:
    """Near-duplicate media pairs by perceptual-hash Hamming distance --
    the media twin of d4's SimHash text dedup, same pigeonhole blocking:
    split each hash into 4 equal bit chunks; any pair within
    ``max_distance < 4`` bit flips shares at least one identical
    chunk, so candidates meet in (chunk_idx, chunk_value) buckets and the
    exact bit_count(xor) check runs on candidates only -- never O(n^2).

    Scale (the d4 lesson, re-learned here by the sf10 sweep): candidate
    volume is quadratic in bucket occupancy, so the per-chunk value space
    must exceed the corpus -- 8-bit chunks over 500k hashes put ~2000 ids
    in every one of the 1024 buckets (~2e9 pairs; the engine spilled 64 GB
    of shuffle before being killed).  Size ``n_bits`` so chunk_bits =
    n_bits/4 keeps buckets sparse (60 bits -> 15-bit chunks for a
    500k corpus; 128-bit/32-bit at 100 TB), with a 2000-member cap
    (dedup.DEFAULT_MAX_BUCKET) as the degenerate-bucket backstop (drop semantics, the _pairs_from_groups
    convention, mirrored in the oracle).  The one-shuffle collect_set
    blocking replaces the former chunk self-join, so pairs expand in-task
    from each bucket instead of through a join.

    Returns (id1, id2, hamming) with id1 < id2, distance <= max_distance.
    """
    from youtubeanalyzerproject_big_data__spark.operators.dedup import DEFAULT_MAX_BUCKET, _ordered_pairs

    n_chunks = 4
    if max_distance >= n_chunks:
        raise ValueError("pigeonhole blocking needs max_distance < n_chunks")
    chunk_bits = n_bits // n_chunks
    mask = (1 << chunk_bits) - 1
    blocked = hashes.select(
        F.struct("media_id", "phash").alias("mp"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("ci"),
                        F.shiftright("phash", j * chunk_bits).bitwiseAND(F.lit(mask)).alias("cv"),
                    )
                    for j in range(n_chunks)
                ]
            )
        ).alias("c"),
    ).select(F.col("c.ci").alias("ci"), F.col("c.cv").alias("cv"), "mp")
    groups = (
        blocked.groupBy("ci", "cv")
        .agg(F.sort_array(F.collect_set("mp")).alias("ms"))
        .where((F.size("ms") >= 2) & (F.size("ms") <= DEFAULT_MAX_BUCKET))
    )
    xor = F.col("h1").bitwiseXOR(F.col("h2"))
    return (
        groups.select(F.explode(_ordered_pairs(F.col("ms"))).alias("p"))
        .select(
            F.col("p.doc1.media_id").alias("id1"),
            F.col("p.doc1.phash").alias("h1"),
            F.col("p.doc2.media_id").alias("id2"),
            F.col("p.doc2.phash").alias("h2"),
        )
        # filter BEFORE the distinct so the dedup shuffle carries only
        # true near-dups (the d4 shape)
        .withColumn("hamming", F.bit_count(xor).cast("long"))
        .where(F.col("hamming") <= max_distance)
        .select("id1", "id2", "hamming")
        .distinct()
    )


def audio_features(media: DataFrame) -> DataFrame:
    """Audio DSP features from REAL byte-parsed WAV blobs (the
    _wav_samples stdlib decoder -- no external codec): per clip the exact
    int64 energy (sum of squared samples), zero-crossing count
    (sign-change pairs), peak amplitude, sample count, plus the derived
    RMS level (sqrt(energy/n)/32768, rounded) -- the clip-level screen an
    audio-curation pipeline runs for silence/clipping detection.

    All kernel outputs are exact integers (Arrow-batched mapInPandas, the
    extract_features dataflow), so cross-engine determinism reduces to
    one correctly-rounded sqrt on the Catalyst side.  Expects
    attach_media_metadata framing with modality='audio'.
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n_s, energy, zc, peak = [], [], [], []
            for content in pdf["content"]:
                samples = _wav_samples(bytes(content) if content is not None else b"")
                n_s.append(len(samples))
                energy.append(sum(s * s for s in samples))
                zc.append(sum(1 for a, b in zip(samples, samples[1:]) if a * b < 0))
                peak.append(max((abs(s) for s in samples), default=0))
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "n_samples": n_s, "energy": energy,
                 "zero_crossings": zc, "peak": peak}
            )

    out = media.mapInPandas(
        kernel, schema="media_id string, n_samples long, energy long, zero_crossings long, peak long"
    )
    return out.select(
        "media_id",
        "n_samples",
        "energy",
        "zero_crossings",
        "peak",
        micro_round(
            F.sqrt(F.col("energy").cast("double") / F.col("n_samples")) / F.lit(32768.0), "rms_level"
        ),
    )


def _bmp_rgb(blob: bytes) -> tuple[int, int, list[tuple[int, int, int]]]:
    """(width, height, pixels row-major top-down as (r, g, b)) from an
    uncompressed 24/32-bpp BMP -- the channel-preserving sibling of
    _bmp_pixels (which collapses to luma)."""
    import struct

    if len(blob) < 54 or blob[:2] != b"BM":
        raise ValueError("not a BMP blob (missing BM magic / truncated header)")
    pix_off = struct.unpack_from("<I", blob, 10)[0]
    hdr_size = struct.unpack_from("<I", blob, 14)[0]
    width, height = struct.unpack_from("<ii", blob, 18)
    bpp = struct.unpack_from("<H", blob, 28)[0]
    compression = struct.unpack_from("<I", blob, 30)[0]
    if compression != 0 or bpp not in (24, 32) or width <= 0 or height == 0:
        raise ValueError(f"unsupported BMP for RGB decode: bpp={bpp} compression={compression}")
    stride = (width * (bpp // 8) + 3) // 4 * 4
    rows: list[list[tuple[int, int, int]]] = []
    for r in range(abs(height)):
        base = pix_off + r * stride
        row = []
        for c in range(width):
            o = base + c * (bpp // 8)
            row.append((blob[o + 2], blob[o + 1], blob[o]))  # stored BGR
        rows.append(row)
    if height > 0:  # positive height = bottom-up storage; normalize top-down
        rows.reverse()
    return width, abs(height), [px for row in rows for px in row]


def pack_bmp(width: int, height: int, pixels: list[tuple[int, int, int]]) -> bytes:
    """Minimal 24-bpp bottom-up BMP writer from top-down row-major (r,g,b)
    pixels -- the test/gate fixture generator and the re-encode half of the
    stdlib resize path (_bmp_downsample)."""
    import struct

    stride = (width * 3 + 3) // 4 * 4
    body = b""
    for r in range(height - 1, -1, -1):  # bottom-up
        row = b"".join(bytes((b, g, rr)) for (rr, g, b) in pixels[r * width : (r + 1) * width])
        body += row + b"\x00" * (stride - len(row))
    header = struct.pack("<2sIHHI", b"BM", 54 + len(body), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(body), 2835, 2835, 0, 0)
    return header + info + body


def _bmp_downsample(blob: bytes, factor: int = 2) -> bytes:
    """Real stdlib spatial downscale: ``factor``x``factor`` box filter with
    EXACT integer channel means (sum DIV factor^2 -- no float anywhere, so
    the result replays bit-for-bit on any engine), re-encoded as 24-bpp
    BMP.  Output dims floor(w/f) x floor(h/f); trailing rows/cols that
    don't fill a block are dropped (standard box-filter crop)."""
    w, h, px = _bmp_rgb(blob)
    ow, oh = w // factor, h // factor
    if ow < 1 or oh < 1:
        raise ValueError(f"image {w}x{h} too small for factor {factor}")
    out = []
    f2 = factor * factor
    for oy in range(oh):
        for ox in range(ow):
            rs = gs = bs = 0
            for dy in range(factor):
                for dx in range(factor):
                    r, g, b = px[(oy * factor + dy) * w + (ox * factor + dx)]
                    rs += r; gs += g; bs += b
            out.append((rs // f2, gs // f2, bs // f2))
    return pack_bmp(ow, oh, out)
