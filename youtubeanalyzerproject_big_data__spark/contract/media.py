"""Multimodal media queries (mm)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from youtubeanalyzerproject_big_data__spark.functions import precision
from youtubeanalyzerproject_big_data__spark.io import load_events, load_table
from youtubeanalyzerproject_big_data__spark.operators import multimodal, textanalysis as text
from youtubeanalyzerproject_big_data__spark.contract import _utc, query
from youtubeanalyzerproject_big_data__spark.contract._sql import _dmicro


@query("mm1_media_features", oracle=f"""
            SELECT CAST(doc_id AS VARCHAR) AS media_id, 'text_blob' AS modality,
                   CAST(strlen(text) AS BIGINT) AS n_bytes,
                   {_dmicro("COALESCE(list_sum(list_transform(generate_series(1, least(strlen(text), 8)), i -> ascii(substring(text, i, 1)))), 0) / (255.0 * greatest(least(strlen(text), 8), 1))")} AS feat_mean,
                   CAST(8 AS INTEGER) AS feat_dim
            FROM documents
        """)
def q_mm1(spark: SparkSession, sf: str) -> DataFrame:
    """Multimodal plumbing: binary wrap -> mapInPandas feature extraction
    (deterministic fake decode; real codecs stubbed, see operators/multimodal.py)."""
    docs = load_table(spark, sf, "documents").select("doc_id", F.encode("text", "utf-8").alias("blob"), "text")
    media = multimodal.attach_media_metadata(docs, "doc_id", "blob", "text_blob")
    feats = multimodal.extract_features(media, decode_stub="fake", feat_dim=8)
    return feats.select("media_id", "modality", "n_bytes", precision.micro_round("feat_mean", "feat_mean"), "feat_dim")


# Frame sampling: one md5 per 256-byte chunk; documents are pure
# ASCII (verified), so VARCHAR substring == byte slicing and
# md5(VARCHAR) == md5 of the utf-8 bytes.  Empty text -> one empty
# chunk, mirroring the kernel's max(len, 1).
@query("mm2_frame_samples", oracle="""
            SELECT CAST(doc_id AS VARCHAR) AS media_id,
                   CAST(i AS INTEGER) AS frame_no,
                   md5(substring(text, CAST(i * 256 + 1 AS BIGINT), 256)) AS frame_md5
            FROM documents,
                 unnest(generate_series(0, CAST(floor((greatest(length(text), 1) - 1) / 256) AS BIGINT))) AS t(i)
        """)
def q_mm2(spark: SparkSession, sf: str) -> DataFrame:
    """Multimodal 1->N fan-out: per-blob frame sampling via mapInPandas
    (fake kernel, deterministic chunk hashes).  Oracle: DuckDB md5 over the
    same byte chunks."""
    docs = load_table(spark, sf, "documents").select("doc_id", F.encode("text", "utf-8").alias("blob"))
    media = multimodal.attach_media_metadata(docs, "doc_id", "blob", "video")
    return multimodal.sample_video_frames(media, every_n_bytes=256, decode_stub="fake")


# Resize fake-kernel: every 4th byte; documents are pure ASCII, so
# char subsetting == byte slicing and md5(VARCHAR) == md5(bytes).
# Feature guard mirrors mm1 (empty -> 0.0, never NULL).
@query("mm3_resized_features", oracle=f"""
            WITH r AS (
              SELECT CAST(doc_id AS VARCHAR) AS media_id,
                     array_to_string(
                       list_transform(generate_series(1, CAST(ceil(strlen(text) / 4.0) AS BIGINT)),
                                      i -> substring(text, (i - 1) * 4 + 1, 1)), '') AS rs
              FROM documents
            )
            SELECT media_id, 'image' AS modality,
                   CAST(strlen(rs) AS BIGINT) AS n_bytes,
                   md5(rs) AS content_md5,
                   {_dmicro("COALESCE(list_sum(list_transform(generate_series(1, least(strlen(rs), 8)), i -> ascii(substring(rs, i, 1)))), 0) / (255.0 * greatest(least(strlen(rs), 8), 1))")} AS feat_mean,
                   CAST(8 AS INTEGER) AS feat_dim
            FROM r
        """)
def q_mm3(spark: SparkSession, sf: str) -> DataFrame:
    """Multimodal full chain: attach -> transform (resize, fake byte-
    subsample kernel) -> feature extraction.  The transform emits a fresh
    media table (recomputed n_bytes/content_md5), so the oracle checks the
    TRANSFORMED metadata and features, not just plumbing."""
    docs = load_table(spark, sf, "documents").select("doc_id", F.encode("text", "utf-8").alias("blob"))
    media = multimodal.attach_media_metadata(docs, "doc_id", "blob", "image")
    small = multimodal.transform_media(media, op="resize", factor=4, decode_stub="fake")
    feats = multimodal.extract_features(small, decode_stub="fake", feat_dim=8)
    return feats.select(
        "media_id", "modality", "n_bytes", "content_md5", precision.micro_round("feat_mean", "feat_mean"), "feat_dim"
    )


def _wav_media(spark: SparkSession, sf: str) -> DataFrame:
    """Shared mm4/mm6 fixture: every event row becomes a 16-sample 16-bit
    PCM WAV (stdlib wave module, samples a pure function of event_id --
    sample_j = ((event_id*7919 + j*104729) % 20000) - 10000), framed by
    attach_media_metadata.  Oracles replay the formula, so any decoder
    byte-offset bug breaks the hash.  Repartitions before the
    construction kernel (per-row CPU; small parquet arrives
    single-partition)."""
    ev_ids = (
        load_events(spark, sf)
        .select(F.col("event_id").cast("long").alias("event_id"))
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def build(batches):
        import io as _io
        import struct
        import wave

        import pandas as pd

        for pdf in batches:
            blobs = []
            for eid in pdf["event_id"]:
                samples = [((int(eid) * 7919 + j * 104729) % 20000) - 10000 for j in range(16)]
                buf = _io.BytesIO()
                with wave.open(buf, "wb") as w:
                    w.setnchannels(1)
                    w.setsampwidth(2)
                    w.setframerate(8000)
                    w.writeframes(struct.pack("<16h", *samples))
                blobs.append(buf.getvalue())
            yield pd.DataFrame({"event_id": pdf["event_id"], "blob": blobs})

    raw = ev_ids.mapInPandas(build, schema="event_id long, blob binary")
    return multimodal.attach_media_metadata(raw, "event_id", "blob", "audio")


@query("mm6_audio_features", oracle=f"""
            WITH s AS (
              SELECT event_id, t.j, CAST(((event_id * 7919 + t.j * 104729) % 20000) - 10000 AS BIGINT) AS v
              FROM events, range(16) t(j)),
            p AS (
              SELECT a.event_id, a.v AS v1, b.v AS v2
              FROM s a JOIN s b ON a.event_id = b.event_id AND b.j = a.j + 1),
            agg AS (
              SELECT event_id, CAST(16 AS BIGINT) AS n_samples,
                     CAST(SUM(v * v) AS BIGINT) AS energy,
                     CAST(MAX(ABS(v)) AS BIGINT) AS peak
              FROM s GROUP BY event_id),
            zc AS (
              SELECT event_id, CAST(SUM(CASE WHEN v1 * v2 < 0 THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
              FROM p GROUP BY event_id)
            SELECT CAST(a.event_id AS VARCHAR) AS media_id, n_samples, energy, zero_crossings, peak,
                   {_dmicro('sqrt(CAST(energy AS DOUBLE) / n_samples) / 32768.0')} AS rms_level
            FROM agg a JOIN zc USING (event_id)
        """)
def q_mm6(spark: SparkSession, sf: str) -> DataFrame:
    """Audio DSP features over real byte-parsed WAVs
    (multimodal.audio_features): exact int64 energy / zero-crossings /
    peak per clip + one correctly-rounded RMS; oracle replays the sample
    formula, never touching bytes."""
    return multimodal.audio_features(_wav_media(spark, sf))


# mm4: decode(encode(x)) == x -- the oracle aggregates the WAV
# sample formula directly, no RIFF parser needed; /2^19 is FP-exact.
@query("mm4_stdlib_wav_decode", oracle=f"""
            SELECT CAST(event_id AS VARCHAR) AS media_id,
                   {_dmicro('SUM(ABS(((event_id * 7919 + t.j * 104729) % 20000) - 10000)) / (32768.0 * 16)')} AS feat_mean,
                   CAST(16 AS BIGINT) AS feat_dim
            FROM events, range(16) t(j)
            GROUP BY event_id
        """)
def q_mm4(spark: SparkSession, sf: str) -> DataFrame:
    """REAL byte-parsing decode in-gate, no external codec: every event row
    becomes a 16-sample 16-bit PCM WAV (struct-packed via the stdlib wave
    module, samples a pure function of event_id), and
    extract_features(decode_stub='stdlib') walks the RIFF/fmt/data chunks
    back out.  decode(encode(x)) == x, so the oracle needs no WAV parser --
    it aggregates the sample formula directly; any header-offset or
    byte-order bug in the decoder breaks the hash.  Division is by 2^19
    (exact in binary FP), so no libm residual.  Repartitions before the
    construction kernel (per-row CPU; small parquet arrives
    single-partition)."""
    media = _wav_media(spark, sf)
    feats = multimodal.extract_features(media, decode_stub="stdlib")
    return feats.select(
        "media_id",
        precision.micro_round("feat_mean", "feat_mean"),
        F.col("feat_dim").cast("long").alias("feat_dim"),
    )


def _docs_as_avi(spark: SparkSession, sf: str) -> DataFrame:
    """Shared mm7/mm9 corpus: each document's first <= 3 12-byte ASCII
    slices become 4x1 BGR24 DIB frames of an uncompressed RIFF/AVI
    (stride = width*3 = 12, so each frame payload IS the text slice
    bytes), packed by multimodal.pack_raw_avi in one Arrow kernel.  Docs
    under 12 chars contribute no video.  Repartitions before the per-row
    pack kernel (dedup._shingles rule)."""
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    docs = docs.repartition(spark.sparkContext.defaultParallelism)

    def pack(batches):
        import pandas as pd

        from youtubeanalyzerproject_big_data__spark.operators.multimodal import pack_raw_avi

        for pdf in batches:
            ids, blobs = [], []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                raw = (text or "").encode("utf-8")
                frames = [raw[12 * k : 12 * (k + 1)] for k in range(min(3, len(raw) // 12))]
                if not frames:
                    continue
                ids.append(int(did))
                blobs.append(pack_raw_avi(frames, width=4, height=1, rate=2, scale=1))
            yield pd.DataFrame({"doc_id": ids, "blob": blobs})

    packed = docs.mapInPandas(pack, schema="doc_id long, blob binary")
    return multimodal.attach_media_metadata(packed, "doc_id", "blob", "video")


# mm7: frame payload == text slice bytes by construction (ASCII
# docs, stride 12 = width*3 so no padding), so the oracle never
# parses a container -- md5 over the slice IS the frame hash.
# generate_series(0, -1) is empty, so <12-char docs emit no rows.
@query("mm7_avi_frame_samples", bench=True, stdout=True, oracle="""
            SELECT CAST(doc_id AS VARCHAR) AS media_id,
                   CAST(i AS INTEGER) AS frame_no,
                   md5(substring(text, CAST(12 * i + 1 AS BIGINT), 12)) AS frame_md5
            FROM documents,
                 unnest(generate_series(0, CAST(least(floor(strlen(text) / 12), 3) AS BIGINT) - 1)) AS t(i)
            ORDER BY media_id, frame_no
        """)
def q_mm7(spark: SparkSession, sf: str) -> DataFrame:
    """In-gate REAL video decode with NO external codec (VERDICT r5 item
    5): the _docs_as_avi corpus decoded back by the stdlib RIFF walk
    (sample_video_frames decode_stub='stdlib', fps = stream rate -> every
    stored frame kept).  The oracle recomputes each frame md5 from the
    SAME text slice directly -- one wrong byte in EITHER the container
    writer or the parser breaks the hash."""
    media = _docs_as_avi(spark, sf)
    return multimodal.sample_video_frames(media, decode_stub="stdlib", fps=2.0).orderBy(
        "media_id", "frame_no"
    )


# u6: full-table recompute; equality with the partition-selective
# refresh is the maintenance proof (i1's idiom for replacement).
# mm9: frame hashes recomputed from the generative text slices
# (the mm7 oracle), then the d1 dedup shape on top.
@query("mm9_frame_dedup", bench=True, oracle="""
            WITH fr AS (
              SELECT CAST(doc_id AS VARCHAR) AS media_id,
                     md5(substring(text, CAST(12 * i + 1 AS BIGINT), 12)) AS frame_md5
              FROM documents,
                   unnest(generate_series(0, CAST(least(floor(strlen(text) / 12), 3) AS BIGINT) - 1)) AS t(i))
            SELECT frame_md5,
                   CAST(COUNT(DISTINCT media_id) AS BIGINT) AS n_videos,
                   CAST(COUNT(*) AS BIGINT) AS n_frames,
                   MIN(media_id) AS first_media
            FROM fr GROUP BY 1 HAVING COUNT(DISTINCT media_id) >= 2
            ORDER BY frame_md5
        """)
def q_mm9(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-video duplicate-frame detection -- the keyframe-dedup
    pipeline composed end-to-end: pack (_docs_as_avi) -> REAL stdlib AVI
    decode (multimodal.sample_video_frames) -> frame-content hash ->
    distributed exact dedup (one hash groupBy, the d1 shape applied to
    decoded media).  Keeps frame contents appearing in >= 2 DISTINCT
    videos; the corpus's duplicate-document structure guarantees real
    hits.  Scale: the only shuffle carries (frame_md5, media_id) -- never
    pixels; counts/mins are order-free.  Oracle recomputes frame hashes
    from the generative text slices."""
    media = _docs_as_avi(spark, sf)
    frames = multimodal.sample_video_frames(media, decode_stub="stdlib", fps=2.0)
    return (
        frames.groupBy("frame_md5")
        .agg(
            F.countDistinct("media_id").cast("long").alias("n_videos"),
            F.count(F.lit(1)).cast("long").alias("n_frames"),
            F.min("media_id").alias("first_media"),
        )
        .where(F.col("n_videos") >= 2)
        .orderBy("frame_md5")
    )


# mm8: the two downsampled pixels' luma recomputed from the
# generative channel formulas -- integer DIV box means and luma,
# so the whole pack -> box-filter -> re-encode -> parse chain is
# byte-sensitive.  n_bytes 62 = 54-byte headers + 2px*3B + 2B pad.
@query("mm8_bmp_box_downsample", bench=True, stdout=True, oracle="""
            WITH px AS (
              SELECT event_id, t.i,
                     (event_id * 7 + t.i * 13) % 256 AS r,
                     (event_id * 11 + t.i * 17) % 256 AS g,
                     (event_id * 13 + t.i * 19) % 256 AS b
              FROM events, unnest(generate_series(0, 7)) AS t(i)),
            blk AS (
              SELECT event_id, (i % 4) // 2 AS ox,
                     SUM(r) // 4 AS rr, SUM(g) // 4 AS gg, SUM(b) // 4 AS bb
              FROM px GROUP BY 1, 2),
            lum AS (SELECT event_id, (299 * rr + 587 * gg + 114 * bb) // 1000 AS l FROM blk)
            SELECT CAST(event_id AS VARCHAR) AS media_id,
                   CAST(62 AS BIGINT) AS n_bytes,
                   CAST(2 AS BIGINT) AS n_pixels,
                   CAST(SUM(l) AS BIGINT) AS luma_sum
            FROM lum GROUP BY event_id
        """)
def q_mm8(spark: SparkSession, sf: str) -> DataFrame:
    """In-gate REAL image resize with no codec (multimodal._bmp_downsample
    via transform_media decode_stub='stdlib'): every event becomes a 4x2
    BMP whose channels are pure functions of (event_id, pixel index),
    box-downsampled 2x with EXACT integer channel means, then re-decoded
    by the stdlib BMP parser.  The oracle recomputes the two output
    pixels' luma straight from the generative formula -- one wrong byte
    in the writer, the box filter, or the parser breaks the hash.  The
    luma sum returns as an exact integer (round(feat_mean * 255 * n):
    feat_mean = S/510 in doubles reconstructs S exactly for S <= 510).
    Repartitions before the per-row pack kernel (dedup._shingles rule)."""
    _utc(spark)
    e = load_events(spark, sf).select("event_id").repartition(spark.sparkContext.defaultParallelism)

    def pack(batches):
        import pandas as pd

        from youtubeanalyzerproject_big_data__spark.operators.multimodal import pack_bmp

        for pdf in batches:
            ids, blobs = [], []
            for eid in pdf["event_id"]:
                eid = int(eid)
                px = [
                    ((eid * 7 + i * 13) % 256, (eid * 11 + i * 17) % 256, (eid * 13 + i * 19) % 256)
                    for i in range(8)
                ]
                ids.append(eid)
                blobs.append(pack_bmp(4, 2, px))
            yield pd.DataFrame({"event_id": ids, "blob": blobs})

    packed = e.mapInPandas(pack, schema="event_id long, blob binary")
    media = multimodal.attach_media_metadata(packed, "event_id", "blob", "image")
    small = multimodal.transform_media(media, op="resize", factor=2, decode_stub="stdlib")
    feats = multimodal.extract_features(small, decode_stub="stdlib")
    return feats.select(
        "media_id",
        "n_bytes",
        F.col("feat_dim").cast("long").alias("n_pixels"),
        F.round(F.col("feat_mean") * 255 * F.col("feat_dim")).cast("long").alias("luma_sum"),
    )


# COALESCE + greatest(..., 1) mirror the kernel's max(len, 1) guard:
# an empty document yields feat_mean 0.0, not NULL (no-NULLs-in-
# outputs invariant).
# pHash replay: exact-integer aHash bits over the first 32 ascii
# bytes (documents are pure ASCII, verified for mm2), chunk-blocked
# candidates, bit_count(xor) verify.
# mm5: 60-bit aHash, 15-bit pigeonhole chunks, bucket cap 2000 --
# the d4 scale recipe, mirrored exactly from phash_near_dup_pairs.
@query("mm5_phash_near_dups", bench=True, stdout=True, oracle="""
            WITH b AS (SELECT doc_id, text,
                              unnest(generate_series(1, least(strlen(text), 60))) AS i
                       FROM documents),
            v AS (SELECT doc_id, i,
                         CAST(ascii(substring(text, CAST(i AS INT), 1)) AS BIGINT) AS bv,
                         CAST(least(strlen(text), 60) AS BIGINT) AS w
                  FROM b),
            tot AS (SELECT doc_id, CAST(SUM(bv) AS BIGINT) AS total FROM v GROUP BY doc_id),
            bits AS (SELECT v.doc_id,
                            CAST(SUM(CASE WHEN v.bv * v.w > tot.total
                                          THEN 1::BIGINT << CAST(v.i - 1 AS INT) ELSE 0 END) AS BIGINT) AS phash
                     FROM v JOIN tot USING (doc_id) GROUP BY v.doc_id),
            ph AS (SELECT CAST(d.doc_id AS VARCHAR) AS media_id, COALESCE(bits.phash, 0) AS phash
                   FROM documents d LEFT JOIN bits ON d.doc_id = bits.doc_id),
            ch AS (SELECT media_id, phash, j AS ci, (phash >> CAST(15 * j AS INT)) & 32767 AS cv
                   FROM ph, generate_series(0, 3) AS t(j)),
            okb AS (SELECT ci, cv FROM ch GROUP BY ci, cv
                    HAVING COUNT(*) >= 2 AND COUNT(*) <= 2000),
            chf AS (SELECT ch.* FROM ch JOIN okb USING (ci, cv)),
            cand AS (SELECT DISTINCT a.media_id AS id1, b.media_id AS id2, a.phash AS h1, b.phash AS h2
                     FROM chf a JOIN chf b ON a.ci = b.ci AND a.cv = b.cv AND a.media_id < b.media_id)
            SELECT id1, id2, CAST(bit_count(xor(h1, h2)) AS BIGINT) AS hamming
            FROM cand WHERE bit_count(xor(h1, h2)) <= 3
            ORDER BY id1, id2
        """)
def q_mm5(spark: SparkSession, sf: str) -> DataFrame:
    """Perceptual-hash media near-dup pairs (multimodal.perceptual_hashes
    + phash_near_dup_pairs): aHash bits by exact-integer greater-than-mean
    rule over the fake-decode samples, d4-style pigeonhole chunk blocking
    (60-bit hash -> 15-bit chunks so buckets stay sparse at 500k+ media;
    the r7 sf10 sweep caught the former 32-bit/8-bit config going
    quadratic exactly like d4 did), bucket cap 2000 mirrored in the
    oracle, bit_count(xor) verify on candidates only -- the media-dedup
    twin of SimHash, decode-kernel pluggable (fake/stdlib/auto)."""
    docs = load_table(spark, sf, "documents").select("doc_id", F.encode("text", "utf-8").alias("blob"))
    media = multimodal.attach_media_metadata(docs, "doc_id", "blob", "image")
    h = multimodal.perceptual_hashes(media, decode_stub="fake", n_bits=60)
    return multimodal.phash_near_dup_pairs(h, n_bits=60, max_distance=3).orderBy("id1", "id2")
