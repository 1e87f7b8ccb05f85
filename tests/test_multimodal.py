"""Multimodal plumbing: real PNM decode/resize/frame-sample over Spark,
stub contracts for codec-less formats."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from ocr_spark.kernels import fixtures, pnm, scale
from ocr_spark.operators import multimodal as mm


@pytest.fixture(scope="module")
def media(spark):
    return mm.media_corpus(spark, 16).cache()


def test_media_corpus_schema(media):
    assert set(media.columns) >= {"url", "media", "kind", "media_meta"}
    kinds = {r.kind for r in media.select("kind").distinct().collect()}
    assert kinds == {
        "pnm", "ocrv", "png", "jpeg", "wav", "gif", "bmp", "tiff",
    }


def test_image_features_across_codecs(media):
    """image_features decodes PNM, PNG, JPEG, GIF, BMP and TIFF rows
    through one dispatch; PNG/GIF/BMP/TIFF are lossless (exact dims +
    mean), JPEG approximate."""
    imgs = media.where(
        F.col("kind").isin("png", "jpeg", "gif", "bmp", "tiff")
    )
    rows = {r.url: r for r in mm.image_features(imgs).collect()}
    assert rows and all(r.error is None for r in rows.values())
    for r in imgs.select("url", "media", "kind").collect():
        got = rows[r.url]
        arr = mm.decode_image(bytes(r.media), r.kind)
        assert (got.height, got.width) == arr.shape
        assert got.mean == pytest.approx(float(arr.mean()))


def test_audio_features_wav_rows(media):
    wavs = media.where(F.col("kind") == "wav")
    out = mm.audio_features(wavs).collect()
    assert len(out) == wavs.count() * mm.N_AUDIO_BANDS
    assert all(r.energy >= 0 for r in out)


def test_image_features_match_numpy(media):
    imgs = media.where(F.col("kind") == "pnm")
    rows = {r.url: r for r in mm.image_features(imgs).collect()}
    for r in imgs.select("url", "media").collect():
        arr = pnm.decode_gray(bytes(r.media))
        got = rows[r.url]
        assert (got.height, got.width) == arr.shape
        assert got.mean == pytest.approx(float(arr.mean()))
        assert got.p_dark == pytest.approx(float((arr < 128).mean()))


def test_resize_half_is_reference_exact(media):
    imgs = media.where(F.col("kind") == "pnm")
    out = {r.url: r for r in mm.resize_images(imgs, "half").collect()}
    for r in imgs.select("url", "media").collect():
        arr = pnm.decode_gray(bytes(r.media))
        want = pnm.encode_gray(scale.half(arr))
        assert bytes(out[r.url].media) == want


def test_frame_sampling_fanout(media):
    vids = media.where(F.col("kind") == "ocrv")
    n_vids = vids.count()
    frames = mm.sample_frames(vids, every_k=2)
    got = frames.collect()
    # 4 frames per container, every 2nd -> 2 rows per video
    assert len(got) == 2 * n_vids
    assert {r.frame_idx for r in got} == {0, 2}
    # each sampled frame is itself a decodable PNM
    some = got[0]
    arr = pnm.decode_gray(bytes(some.frame))
    assert arr.ndim == 2 and arr.dtype == np.float32


def test_frame_roundtrip_exact():
    frames = [fixtures.shaded(16, 24, 42, j) for j in range(3)]
    buf = mm.encode_ocrv(frames)
    back = [pnm.decode_gray(b) for b in mm.decode_ocrv(buf)]
    for a, b in zip(frames, back):
        # encode clamps/rounds to u8 — decode(encode(x)) is the fixpoint
        assert np.array_equal(pnm.decode_gray(pnm.encode_gray(a)), b)


def test_audio_stub_contract(spark, media):
    # wav is REAL now: garbage bytes are a format error, not a stub
    with pytest.raises(ValueError, match="RIFF"):
        mm.decode_audio(b"\x00\x01", "wav")
    # compressed audio stays stubbed with the production call named
    with pytest.raises(NotImplementedError, match="soundfile"):
        mm.decode_audio(b"\x00\x01", "mp3")
    # jpeg is REAL now (kernels/jpeg.py): truncated stream = format error
    with pytest.raises(ValueError, match="jpeg"):
        mm.decode_image(b"\xff\xd8", "jpeg")


def test_image_features_permissive_dead_letter(spark, media):
    from pyspark.sql import functions as F

    imgs = media.where(F.col("kind") == "pnm").limit(2)
    bad = imgs.limit(1).withColumn("media", F.lit(b"garbage"))
    null = imgs.limit(1).withColumn("media", F.lit(None).cast("binary"))
    mixed = imgs.unionByName(bad).unionByName(null)
    rows = mm.image_features(mixed).collect()
    errs = [r for r in rows if r.error is not None]
    oks = [r for r in rows if r.error is None]
    assert len(errs) == 2 and len(oks) == 2
    assert all(r.mean is None for r in errs)


def test_payload_rows_drops_and_fans_out_in_batch_order(spark):
    """The one payload stage: the key is the schema's first field, read
    from the input column of that name; parse gets the payload bytes
    and the extra columns' values; 0 results drop the row, several fan
    it out, in batch order."""
    from pyspark.sql.types import IntegerType, StringType, StructField
    from pyspark.sql.types import StructType

    schema = StructType(
        [
            StructField("doc_id", IntegerType()),
            StructField("part", IntegerType()),
            StructField("text", StringType()),
        ]
    )
    # one partition, so one Arrow batch carries the rows in this order
    df = spark.createDataFrame(
        [("p", bytearray(b""), 7), ("q", bytearray(b"a"), 3),
         ("r", bytearray(b"xyz"), 5)],
        "tag string, media binary, doc_id int",
    ).coalesce(1)

    def parse(buf, tag):
        return [(j, tag + buf[j:j + 1].decode()) for j in range(len(buf))]

    out = mm._payload_rows(df, schema, parse, "media", "tag")
    assert out.columns == ["doc_id", "part", "text"]
    assert [tuple(r) for r in out.collect()] == [
        (3, 0, "qa"), (5, 0, "rx"), (5, 1, "ry"), (5, 2, "rz"),
    ]
    dropped = mm._payload_rows(df, schema, lambda buf, tag: [], "media", "tag")
    pdf = dropped.toPandas()
    assert list(pdf.columns) == ["doc_id", "part", "text"] and pdf.empty


def test_phash_invariance_and_separation():
    import numpy as np

    from ocr_spark.kernels import fixtures
    from ocr_spark.kernels.phash import hamming64, phash

    base = fixtures.shaded(64, 96, 42, 1).astype(np.float32)
    h0 = phash(base)
    # perceptual edits stay close
    assert hamming64(h0, phash(np.clip(base + 9, 0, 255))) <= 4
    assert hamming64(h0, phash(np.clip(base * 1.08, 0, 255))) <= 4
    # a true 2x upscale of the SAME content is near-identical
    up = np.kron(base, np.ones((2, 2), dtype=np.float32))
    assert hamming64(h0, phash(up)) <= 4
    # different content is far
    other = fixtures.shaded(64, 96, 42, 5).astype(np.float32)
    assert hamming64(h0, phash(other)) >= 12


def test_phash_pairs_spark(spark):
    import numpy as np

    from ocr_spark.kernels import fixtures
    from ocr_spark.operators.multimodal import phash_pairs
    from ocr_spark.operators.stages import img_to_bytes

    rows = []
    for k in range(4):
        base = fixtures.shaded(48, 64, 42, k).astype(np.float32)
        rows.append((k, img_to_bytes(base), 48, 64))
        rows.append((k + 10, img_to_bytes(np.clip(base + 6, 0, 255)), 48, 64))
    df = spark.createDataFrame(rows, "key int, img binary, h int, w int")
    got = {(r.img_a, r.img_b) for r in phash_pairs(df).collect()}
    assert got == {(k, k + 10) for k in range(4)}


CODEC_QUERIES = (
    "png_decode_features", "jpeg_decode_features", "wav_audio_features",
    "gif_decode_features", "bmp_decode_features", "tiff_decode_features",
    "ico_decode_features", "jpeg_exif_extract", "png_text_chunks",
    "gif_animation_features", "wav_silence_segments",
    "jpeg_quality_estimate", "mp3_id3_tags", "webp_avif_sniff",
    "epub_container_list", "flac_streaminfo_parse", "mp4_container_boxes",
    "ogg_opus_head_parse", "jpeg_exif_gps",
)


@pytest.mark.parametrize("name", CODEC_QUERIES)
def test_codec_query_input_fills_every_partition(spark, monkeypatch, name):
    """Each partition of a codec query's input is a Python task of the
    payload stage; an empty one costs a worker task for no rows."""
    from ocr_spark.qparts import part02
    from ocr_spark.queries import QUERIES

    media_frame, frames = part02._media_frame, []

    def capture(*args):
        frames.append(media_frame(*args))
        return frames[-1]

    monkeypatch.setattr(part02, "_media_frame", capture)
    QUERIES[name](spark, "")  # codec queries read synthesized corpora
    (df,) = frames
    filled = df.select(F.spark_partition_id()).distinct().count()
    assert filled == df.rdd.getNumPartitions() == min(df.count(), 8)
