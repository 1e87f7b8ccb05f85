"""Multimodal columns: opaque binary payloads + typed metadata.

Model (SURVEY.md §2.12 extension layer): a media column is
``binary`` bytes plus a ``media_meta`` struct
``(kind string, width int, height int, n_frames int, sample_rate int)``.
Rows stay the unit of parallelism; payloads never leave the Arrow batch
path, and every transform below is ``mapInPandas`` over bounded batches
(session caps Arrow batches by row so a batch of frames stays tens of
MB — the same cap that protects the html path).

What's REAL here (tested end-to-end):
- image decode/encode for PNM payloads (kernels/pnm — the reference's
  own format, image.c:115-261), feature extraction, and resize via the
  reference-exact half/double kernels (scale.c:108-113, 272-323);
- frame sampling over the OCRV fake video container (deterministic,
  length-prefixed PNM frames): real 1->N row fan-out, real schema,
  real batch shapes.

Also REAL (round 3): PNG decode/encode (kernels/png.py — stdlib zlib
+ numpy, all five color types and row filters, 1/2/4/8-bit, Adam7),
JPEG decode/encode (kernels/jpeg.py — T.81 baseline AND progressive
incl. AC successive approximation, restart intervals, 4:2:0/4:2:2
subsampling on read), and WAV/PCM audio decode (stdlib ``wave``,
8/16-bit, any channel count) with integer band features — all public
specs needing no external codec.

What's STUBBED (decodes that need a compressed-media codec library):
compressed audio (mp3/ogg/flac) and non-huffman JPEG (arithmetic/
12-bit/hierarchical) raise with the production call or offending
marker named. Their containers still yield metadata (ID3, FLAC
STREAMINFO, Ogg id headers, ISO-BMFF boxes) without a decode.

Every extractor is a parse function behind one Arrow-batched stage,
``_payload_rows``: parse maps one payload's bytes to the extractor's
output rows, and ``_payload_rows`` owns the batch loop, the key column
and the output frame. ``with_phash`` keeps its own pass-through stage
because it appends a column to the input rows.
"""

from __future__ import annotations

import io
import struct
import wave
import zipfile
from typing import Callable, Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ocr_spark.kernels import bmp, gif, ico, jpeg, png, pnm, scale
# aliased: the EXIF code below names its TIFF byte buffers `tiff`
from ocr_spark.kernels import tiff as _tiff
from ocr_spark.kernels.util import rgb_mean_gray

MEDIA_META = StructType(
    [
        StructField("kind", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("sample_rate", IntegerType()),
    ]
)

_OCRV_MAGIC = b"OCRV"


# ---------------------------------------------------------------------------
# fake video container (deterministic): OCRV | u32 n | (u32 len | PNM)*n
# ---------------------------------------------------------------------------

def encode_ocrv(frames: list[np.ndarray]) -> bytes:
    out = [_OCRV_MAGIC, struct.pack("<I", len(frames))]
    for f in frames:
        b = pnm.encode_gray(f)
        out.append(struct.pack("<I", len(b)))
        out.append(b)
    return b"".join(out)


def decode_ocrv(buf: bytes) -> list[bytes]:
    """Split an OCRV container into raw PNM frame payloads."""
    if buf[:4] != _OCRV_MAGIC:
        raise ValueError("not an OCRV container")
    (n,) = struct.unpack_from("<I", buf, 4)
    off, frames = 8, []
    for _ in range(n):
        (ln,) = struct.unpack_from("<I", buf, off)
        off += 4
        frames.append(buf[off : off + ln])
        off += ln
    return frames


# ---------------------------------------------------------------------------
# decoders: PNM real; everything else stubbed with the production call
# ---------------------------------------------------------------------------

def decode_image(payload: bytes, kind: str) -> np.ndarray:
    if kind == "pnm":
        return pnm.decode_gray(payload)
    if kind == "png":
        # real decode: stdlib zlib + numpy (kernels/png.py) — the same
        # format the reference reaches through `pngtopam -quiet
        # [-alphapam]` pipes (image.c:265-296). Alpha is dropped here
        # (features read luminance); use png.to_planar for the full
        # planar dict with alpha in chan[0].
        d = png.to_planar(png.decode(payload), png.sniff_color_type(payload))
        if d["chan"][2] is None:
            return d["chan"][1]
        return (d["chan"][1] + d["chan"][2] + d["chan"][3]) / np.float32(3.0)
    if kind == "jpeg":
        # real decode: T.81 in pure numpy (kernels/jpeg.py), baseline
        # AND progressive — the format the reference reaches via
        # `jpegtopnm` pipes (image.c:265,280). Arithmetic/12-bit/
        # hierarchical streams raise with the marker named; a
        # production build would route those through Pillow.
        px = jpeg.decode(payload).astype(np.float32)
        if px.ndim == 2:
            return px
        return rgb_mean_gray(px)
    if kind in ("gif", "bmp"):
        # real decode: pure stdlib + numpy (kernels/gif.py: LSB-first
        # LZW, interlace, transparency; kernels/bmp.py: BI_RGB
        # 8/24/32-bit). Both return (H,W,3) uint8 RGB; luminance is the
        # same 3-channel mean as the PNG/JPEG paths.
        return rgb_mean_gray((gif if kind == "gif" else bmp).decode(payload))
    if kind == "tiff":
        # real decode: TIFF 6.0 baseline (kernels/tiff.py: both byte
        # orders, strips, PackBits, gray/RGB/palette). Gray comes back
        # (H,W) u8; RGB/palette collapse via the shared 3-channel mean.
        px = _tiff.decode(payload)
        if px.ndim == 2:
            return px.astype(np.float32)
        return rgb_mean_gray(px)
    raise ValueError(f"unknown image kind: {kind}")


def decode_audio(payload: bytes, kind: str) -> tuple[np.ndarray, int]:
    """Decode audio -> (samples (n, channels) int16, sample_rate).

    WAV/PCM is REAL: stdlib ``wave`` + numpy (public RIFF format, no
    codec needed) — 8-bit unsigned and 16-bit signed PCM, any channel
    count. 8-bit is recentered to signed (v - 128) so both widths share
    the signed convention. Compressed formats (mp3/ogg/flac) stay
    stubbed with the production call named.
    """
    if kind == "wav":
        if payload[:4] != b"RIFF":
            raise ValueError("wav: bad RIFF magic")
        with wave.open(io.BytesIO(payload)) as w:
            ch = w.getnchannels()
            sw = w.getsampwidth()
            rate = w.getframerate()
            raw = w.readframes(w.getnframes())
        if sw == 2:
            a = np.frombuffer(raw, dtype="<i2").astype(np.int16)
        elif sw == 1:
            a = np.frombuffer(raw, dtype=np.uint8).astype(np.int16) - 128
        else:
            raise ValueError(f"wav: unsupported sample width {sw * 8}-bit")
        return a.reshape(-1, ch), rate
    # PRODUCTION: soundfile.read(io.BytesIO(payload)) -> (samples, rate)
    raise NotImplementedError(
        f"{kind} audio decode needs soundfile; not available in this sandbox"
    )


def encode_wav(samples: np.ndarray, rate: int = 8000) -> bytes:
    """16-bit PCM WAV from (n,) or (n, channels) int16 (stdlib wave)."""
    a = np.asarray(samples, dtype="<i2")
    if a.ndim == 1:
        a = a[:, None]
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(a.shape[1])
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(a.tobytes())
    return buf.getvalue()


# ---------------------------------------------------------------------------
# Spark stages: one Arrow-batched payload stage, one parse per extractor
# ---------------------------------------------------------------------------

def _payload_rows(
    df: DataFrame,
    schema: StructType,
    parse: Callable[..., Iterable[tuple]],
    payload_col: str = "media",
    *extra: str,
) -> DataFrame:
    """The Arrow-batched Python stage behind every payload extractor.

    Each output row is ``(key, *fields)``. The key is ``schema``'s first
    field, read from the input column of the same name; ``fields`` come
    from ``parse(payload, *extra_values)``, where the payload arrives
    from Arrow as ``bytes`` (None when NULL) and the extra values are
    the row's ``extra`` columns. An empty result drops the input row,
    several fan it out in order — inside the batch, so the plan gains
    no explode or shuffle.
    """
    key = schema.fields[0].name
    columns = [f.name for f in schema.fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                (k, *fields)
                for k, payload, *vals in zip(
                    pdf[key], pdf[payload_col], *(pdf[c] for c in extra)
                )
                for fields in parse(payload, *vals)
            ]
            yield pd.DataFrame(rows, columns=columns)

    return df.mapInPandas(run, schema)


def _dict_rows(
    parse: Callable[[bytes], dict | None], schema: StructType
) -> Callable[[bytes], list[tuple]]:
    """Adapt a parser that returns a {field: value} dict, or None for
    no row, to ``_payload_rows``: the dict's values in schema order."""
    names = [f.name for f in schema.fields[1:]]

    def rows(buf: bytes) -> list[tuple]:
        m = parse(buf)
        return [] if m is None else [tuple(m[n] for n in names)]

    return rows


IMAGE_FEATURES_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("mean", DoubleType()),
        StructField("std", DoubleType()),
        StructField("p_dark", DoubleType()),
        StructField("error", StringType()),
    ]
)


def image_features(df: DataFrame, payload_col: str = "media") -> DataFrame:
    """Decode image payloads (the row's ``kind`` picks the decoder, see
    decode_image) and emit per-image features; pixel math is numpy.

    A payload that does not decode yields NULL features and an error
    string (dead-letter channel) instead of failing the stage.
    """

    def parse(buf: bytes, kind: str) -> list[tuple]:
        try:
            img = decode_image(buf, kind)
        except Exception as exc:  # noqa: BLE001 — dead-letter
            return [(None,) * 5 + (f"{type(exc).__name__}: {exc}"[:200],)]
        return [(img.shape[1], img.shape[0], float(img.mean()),
                 float(img.std()), float((img < 128).mean()), None)]

    return _payload_rows(
        df, IMAGE_FEATURES_SCHEMA, parse, payload_col, "kind"
    )


RESIZED_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("media", BinaryType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
    ]
)


def resize_images(
    df: DataFrame, factor: str = "half", payload_col: str = "media"
) -> DataFrame:
    """Resize PNM payloads with the reference-exact scale kernels.

    factor: 'half' (scale.c:108-113) or 'double' (scale.c:272-323).
    """

    def parse(buf: bytes) -> list[tuple]:
        img = pnm.decode_gray(buf)
        out = scale.half(img) if factor == "half" else scale.double(img, 0.5)
        return [(pnm.encode_gray(out), out.shape[1], out.shape[0])]

    return _payload_rows(df, RESIZED_SCHEMA, parse, payload_col)


FRAMES_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("frame_idx", IntegerType()),
        StructField("frame", BinaryType()),
    ]
)


def sample_frames(
    df: DataFrame, every_k: int = 2, payload_col: str = "media"
) -> DataFrame:
    """1->N fan-out: emit every k-th frame of each OCRV container — or
    of each animated GIF (payloads sniffed by magic; each GIF image
    block renders via its own palette to a gray PNM frame, so both
    container kinds shred to the same per-frame payload contract).

    At scale this is the standard video shredder: fan-out happens
    executor-side (no driver involvement), and the output is typically
    repartitioned by hash(url, frame_idx) before per-frame work so one
    long video cannot pin a partition.
    """

    def parse(buf: bytes) -> list[tuple]:
        if buf[:4] == _OCRV_MAGIC:
            frames = decode_ocrv(buf)
        elif buf[:4] == b"GIF8":
            frames = [
                pnm.encode_gray(rgb_mean_gray(fr["palette"][fr["indices"]]))
                for fr in gif.decode_frames(buf)
            ]
        else:
            raise ValueError("sample_frames: not an OCRV or GIF container")
        return [(i, fb) for i, fb in enumerate(frames) if i % every_k == 0]

    return _payload_rows(df, FRAMES_SCHEMA, parse, payload_col)


AUDIO_FEATURES_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("band", IntegerType()),
        StructField("energy", DoubleType()),
    ]
)


def audio_features(df: DataFrame, payload_col: str = "media") -> DataFrame:
    """Per-band energies of 8/16-bit PCM WAV payloads (stdlib
    ``wave``): the mean |amplitude| of channel 0 over 8 contiguous
    time bands."""

    def parse(buf: bytes) -> list[tuple]:
        samples, _ = decode_audio(buf, "wav")
        feats = wav_band_abs_sums(samples) / np.maximum(
            1, _band_lengths(samples.shape[0])
        )
        return [(i, float(v)) for i, v in enumerate(feats)]

    return _payload_rows(df, AUDIO_FEATURES_SCHEMA, parse, payload_col)


def media_corpus(spark, n: int, seed: int = 42) -> DataFrame:
    """Deterministic mixed-media corpus for tests/bench: PNM, PNG,
    baseline-JPEG, GIF and BMP images, OCRV fake videos, and WAV clips
    keyed by url, with typed metadata — one row per kind the engine
    decodes."""
    from ocr_spark.kernels import fixtures

    rows = []
    for i in range(n):
        h, w = 32 + (i % 3) * 16, 48 + (i % 2) * 16
        m = i % 9
        if m == 2:
            frames = [
                fixtures.shaded(h, w, seed, i * 10 + j) for j in range(4)
            ]
            payload = encode_ocrv(frames)
            meta = ("ocrv", w, h, 4, 0)
        elif m == 3:
            u8 = np.clip(fixtures.shaded(h, w, seed, i), 0, 255).astype(
                np.uint8
            )
            # (i // 6) % 2, not i % 2: this branch is taken when
            # i % 6 == 3 (always odd), so i % 2 made EVERY corpus PNG
            # Adam7 and left the sequential path unexercised here
            # (ADVICE r3 — coverage, not correctness)
            payload = png.encode(u8, 0, interlace=((i // 6) % 2 == 1))
            meta = ("png", w, h, 1, 0)
        elif m == 4:
            u8 = np.clip(fixtures.shaded(h, w, seed, i), 0, 255).astype(
                np.uint8
            )
            payload = jpeg.encode(u8, 92)
            meta = ("jpeg", w, h, 1, 0)
        elif m == 5:
            t = np.arange(400 + 40 * (i % 3), dtype=np.int64)
            tri = (np.abs((t + i) % 22 - 11) * 300 - 1500).astype(np.int16)
            payload = encode_wav(tri, 8000)
            meta = ("wav", 0, 0, 0, 8000)
        elif m == 6:
            u8 = np.clip(fixtures.shaded(h, w, seed, i), 0, 255).astype(
                np.uint8
            )
            payload = gif.encode(
                u8 % len(_PNG_PALETTE),
                _PNG_PALETTE,
                interlace=((i // 8) % 2 == 1),
            )
            meta = ("gif", w, h, 1, 0)
        elif m == 7:
            u8 = np.clip(fixtures.shaded(h, w, seed, i), 0, 255).astype(
                np.uint8
            )
            payload = bmp.encode(
                np.stack([u8, u8, u8], axis=-1),
                top_down=((i // 8) % 2 == 1),
            )
            meta = ("bmp", w, h, 1, 0)
        elif m == 8:
            u8 = np.clip(fixtures.shaded(h, w, seed, i), 0, 255).astype(
                np.uint8
            )
            payload = _tiff.encode(
                u8,
                byte_order=("<" if (i // 9) % 2 == 0 else ">"),
                compression=(1 if (i // 18) % 2 == 0 else 32773),
                rows_per_strip=(None if (i // 9) % 3 == 0 else 8),
            )
            meta = ("tiff", w, h, 1, 0)
        else:
            payload = pnm.encode_gray(fixtures.shaded(h, w, seed, i))
            meta = ("pnm", w, h, 1, 0)
        rows.append((f"https://media.example/{i}", payload, *meta))
    df = spark.createDataFrame(
        rows,
        "url string, media binary, kind string, width int, height int,"
        " n_frames int, sample_rate int",
    )
    return df.withColumn(
        "media_meta",
        F.struct("kind", "width", "height", "n_frames", "sample_rate"),
    )


# ---------------------------------------------------------------------------
# perceptual-hash image near-dup (the multimodal tier of the dedup family)
# ---------------------------------------------------------------------------

def with_phash(
    df: DataFrame, img_col: str = "img", h_col: str = "h", w_col: str = "w"
) -> DataFrame:
    """Add a 64-bit perceptual hash column (`ph`, long) per image row.

    One Arrow batch pass (raw float32 frames decoded worker-side); the
    hash itself is kernels/phash.phash — deterministic float64 DCT, so
    downstream plans can carry literal oracles.
    """
    from ocr_spark.kernels.phash import phash

    out_schema = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                           for f in df.schema.fields) + ", ph long"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hs = []
            for buf, hh, ww in zip(pdf[img_col], pdf[h_col], pdf[w_col]):
                arr = np.frombuffer(bytes(buf), np.float32).reshape(
                    int(hh), int(ww)
                )
                hs.append(phash(arr))
            pdf = pdf.copy()
            pdf["ph"] = pd.Series(hs, dtype="int64")
            yield pdf

    return df.mapInPandas(run, out_schema)


PHASH_BANDS = 8
PHASH_BAND_BITS = 8


def phash_pairs(
    df: DataFrame,
    id_col: str = "key",
    img_col: str = "img",
    max_hamming: int = 7,
) -> DataFrame:
    """Image near-dup pairs by perceptual hash: (img_a, img_b, hamming)
    with hamming <= max_hamming.

    Same pigeonhole banding as text SimHash (operators/dedup): 8
    eight-bit bands over the 64-bit hash — any pair within Hamming 7
    shares at least one exact band, so the bucket equi-join has no
    false negatives at the threshold; exact Hamming verifies. The UDF
    runs once per image; all pair mining is JVM codegen.
    """
    hashed = with_phash(df, img_col=img_col).select(
        F.col(id_col).alias("id"), "ph"
    )
    bands = hashed.select(
        "id",
        "ph",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("ph"), b * PHASH_BAND_BITS)
                        .bitwiseAND(F.lit((1 << PHASH_BAND_BITS) - 1))
                        .alias("nib"),
                    )
                    for b in range(PHASH_BANDS)
                ]
            )
        ).alias("bn"),
    ).select("id", "ph", F.col("bn.band").alias("band"), F.col("bn.nib").alias("nib"))
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.nib") == F.col("b.nib"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("img_a"),
            F.col("b.id").alias("img_b"),
            F.col("a.ph").alias("pa"),
            F.col("b.ph").alias("pb"),
        )
        .distinct()
    )
    return (
        cand.select(
            "img_a",
            "img_b",
            F.bit_count(F.col("pa").bitwiseXOR(F.col("pb"))).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# PNG: synthetic corpus + distributed decode features (kernels/png.py)
# ---------------------------------------------------------------------------

_PNG_PALETTE = np.array(
    [
        [0, 0, 0], [255, 0, 0], [0, 255, 0], [7, 8, 9],
        [1, 2, 3], [250, 128, 3], [9, 9, 9], [100, 200, 50],
    ],
    np.uint8,
)


def synth_png_corpus(n: int = 20) -> list[dict]:
    """Deterministic tiny PNG corpus cycling EVERY color type (0, 2, 3,
    4, 6) with EVERY row filter (0-4) in rotation — the full unfilter
    surface. Pixels come from an integer recurrence, so the expected
    decoded array (``px``, always (H,W,C)) is known BY CONSTRUCTION —
    the oracle never runs the decoder.
    """
    out = []
    for i in range(n):
        ct = (0, 2, 3, 4, 6)[i % 5]
        h, w = 6 + i % 5, 5 + i % 3
        c = png._CHANNELS[ct]
        flat = ((np.arange(h * w * c, dtype=np.int64) * 17 + i * 31) % 256)
        arr = flat.astype(np.uint8).reshape(h, w, c)
        if ct == 3:
            arr = arr % len(_PNG_PALETTE)
        a2 = arr[:, :, 0] if c == 1 else arr
        payload = png.encode(
            a2,
            ct,
            filters=[(i + y) % 5 for y in range(h)],
            palette=_PNG_PALETTE if ct == 3 else None,
            interlace=(i % 5 == 2),  # Adam7 through the same oracle
        )
        px = _PNG_PALETTE[arr[:, :, 0]] if ct == 3 else arr
        out.append(
            {"img_id": i, "color_type": ct, "payload": payload, "px": px}
        )
    return out


PNG_FEATURES_SCHEMA = StructType(
    [
        StructField("img_id", IntegerType()),
        StructField("color_type", IntegerType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        # LongType: a pandas int64 sum silently WRAPS under Spark's
        # unsafe Arrow cast if the declared type is 32-bit — any image
        # over ~8.4M samples (12MP photo x 255) corrupts px_sum with
        # no error (ADVICE r3). WAV's abs_sum already used LongType.
        StructField("px_sum", LongType()),
    ]
)


def png_features(df: DataFrame, payload_col: str = "media") -> DataFrame:
    """Decode PNG payloads (stdlib+numpy) and emit integer features;
    pixel math is numpy. Same payload stage as image_features, so the
    real-codec path and the PNM path share plumbing.
    """

    def parse(buf: bytes) -> list[tuple]:
        px = png.decode(buf)
        ct = int(png.sniff_color_type(buf))
        return [(ct, px.shape[1], px.shape[0], int(px.sum()))]

    return _payload_rows(df, PNG_FEATURES_SCHEMA, parse, payload_col)


# ---------------------------------------------------------------------------
# WAV: synthetic corpus + distributed integer band features
# ---------------------------------------------------------------------------

N_AUDIO_BANDS = 8


def _band_lengths(n: int, n_bands: int = N_AUDIO_BANDS) -> np.ndarray:
    """Contiguous band lengths: first ``n % n_bands`` bands get the
    extra sample (numpy array_split convention, mirrored exactly in the
    oracle construction)."""
    base, extra = divmod(n, n_bands)
    return np.array(
        [base + (1 if b < extra else 0) for b in range(n_bands)], np.int64
    )


def wav_band_abs_sums(
    samples: np.ndarray, n_bands: int = N_AUDIO_BANDS
) -> np.ndarray:
    """Integer sum of |channel-0 samples| per contiguous time band —
    integer-exact, so oracles can pin it bit-for-bit."""
    ch0 = samples[:, 0].astype(np.int64)
    return np.array(
        [int(np.abs(b).sum()) for b in np.array_split(ch0, n_bands)],
        np.int64,
    )


def synth_wav_corpus(n: int = 16) -> list[dict]:
    """Deterministic PCM clips: integer triangle-ish waveforms (no
    trig — the expected samples are exact by construction), varying
    length / channels / rate. ``samples`` is the (len, ch) int16 array
    the decoder must reproduce from the WAV payload."""
    out = []
    for i in range(n):
        length = 64 + 17 * (i % 5)
        ch = 1 + (i % 2)
        rate = (8000, 16000, 22050, 44100)[i % 4]
        t = np.arange(length, dtype=np.int64)
        chans = []
        for c in range(ch):
            period = 9 + 2 * ((i + c) % 4)
            tri = np.abs((t + i * 3) % (2 * period) - period) * 137 - 4000
            chans.append(tri)
        samples = np.stack(chans, axis=1).astype(np.int16)
        out.append(
            {
                "clip_id": i,
                "rate": rate,
                "samples": samples,
                "payload": encode_wav(samples, rate),
            }
        )
    return out


WAV_FEATURES_SCHEMA = StructType(
    [
        StructField("clip_id", IntegerType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_channels", IntegerType()),
        StructField("band", IntegerType()),
        StructField("abs_sum", LongType()),
    ]
)


def wav_features(df: DataFrame, payload_col: str = "media") -> DataFrame:
    """Decode WAV payloads (stdlib) -> one row per (clip, band) with
    the integer |amplitude| sum."""

    def parse(buf: bytes) -> list[tuple]:
        samples, rate = decode_audio(buf, "wav")
        return [
            (int(rate), samples.shape[1], b, int(s))
            for b, s in enumerate(wav_band_abs_sums(samples))
        ]

    return _payload_rows(df, WAV_FEATURES_SCHEMA, parse, payload_col)


# ---------------------------------------------------------------------------
# JPEG: flat-block corpus with closed-form exact decode (kernels/jpeg.py)
# ---------------------------------------------------------------------------

def synth_jpeg_corpus(n: int = 12, quality: int = 90) -> list[dict]:
    """Deterministic baseline-JPEG corpus whose decode is EXACTLY
    predictable: every 8x8 block is constant, so the only nonzero DCT
    coefficient is the DC term and the decoded block is
    clip(round(round(8(v-128)/q0)*q0/8 + 128)) — closed form, no
    decoder involved (tests/test_jpeg.py pins the closed form against
    the decoder for every v in 0..255). Blocks whose reconstruction
    would land exactly on a .5 rounding boundary are nudged by +1 so
    float-assoc noise can never flip the oracle.

    ``px`` is the expected decoded array; ``payload`` the JPEG bytes.
    Every fourth clip carries a restart interval and every third is
    encoded PROGRESSIVE (SOF2) — the quantized coefficients are
    identical either way, so the same closed-form oracle covers the
    multi-scan successive-approximation decode path too.
    """
    q0 = int(jpeg._quality_scale(jpeg.QUANT_LUMA, quality)[0])

    def closed(v: int) -> int:
        qd = float(np.round(8.0 * (v - 128.0) / q0)) * q0
        return int(np.clip(np.round(qd / 8.0 + 128.0), 0, 255))

    def safe(v: int) -> int:
        qd = float(np.round(8.0 * (v - 128.0) / q0)) * q0
        return v if (qd / 8.0) % 1.0 != 0.5 else (v + 1) % 256

    out = []
    for i in range(n):
        bh, bw = 2 + i % 3, 3 + i % 2
        vals = np.array(
            [[safe((y * bw + x) * 37 + i * 11) % 256 for x in range(bw)]
             for y in range(bh)],
            np.int64,
        )
        vals = np.vectorize(safe)(vals)
        img = np.repeat(np.repeat(vals, 8, 0), 8, 1).astype(np.uint8)
        if i % 3 == 1:
            payload = jpeg.encode_progressive(img, quality)
        else:
            payload = jpeg.encode(
                img, quality, restart_interval=2 if i % 4 == 0 else 0
            )
        px = np.repeat(
            np.repeat(np.vectorize(closed)(vals), 8, 0), 8, 1
        ).astype(np.uint8)
        out.append({"img_id": i, "payload": payload, "px": px})
    return out


JPEG_FEATURES_SCHEMA = StructType(
    [
        StructField("img_id", IntegerType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        # LongType for the same int64-wrap reason as PNG_FEATURES_SCHEMA
        StructField("px_sum", LongType()),
    ]
)


def jpeg_features(df: DataFrame, payload_col: str = "media") -> DataFrame:
    """Decode baseline JPEG payloads -> integer features (same payload
    stage as png_features)."""

    def parse(buf: bytes) -> list[tuple]:
        px = jpeg.decode(buf)
        return [(px.shape[1], px.shape[0], int(px.sum()))]

    return _payload_rows(df, JPEG_FEATURES_SCHEMA, parse, payload_col)


# ---------------------------------------------------------------------------
# GIF + BMP: synthetic corpora + distributed integer features
# ---------------------------------------------------------------------------


def synth_gif_corpus(n: int = 16) -> list[dict]:
    """Deterministic GIF corpus cycling the decode surface: palette
    sizes that cross LZW width boundaries, Adam-style interlace (the
    GIF 4-pass row shuffle), transparency (composited as black over
    the logical screen), and one extra frame every 4th image (multi-
    image blocks with placement). Pixels come from an integer
    recurrence, so the expected composited RGB array (``px``, (H,W,3))
    is known BY CONSTRUCTION — the oracle never runs the decoder."""
    out = []
    for i in range(n):
        n_pal = (4, 8, 37, 256)[i % 4]
        h, w = 7 + i % 5, 6 + i % 4
        idx = (
            (np.arange(h * w, dtype=np.int64) * 13 + i * 7) % n_pal
        ).astype(np.uint8).reshape(h, w)
        pal = (
            (np.arange(n_pal * 3, dtype=np.int64) * 29 + i * 11) % 256
        ).astype(np.uint8).reshape(n_pal, 3)
        transparent = (i % n_pal) if i % 3 == 2 else None
        extra = None
        n_frames = 1
        if i % 4 == 3:
            fh, fw = 3, 4
            f2 = (
                (np.arange(fh * fw, dtype=np.int64) * 5 + i) % n_pal
            ).astype(np.uint8).reshape(fh, fw)
            extra = [(1, 2, f2)]
            n_frames = 2
        payload = gif.encode(
            idx,
            pal,
            interlace=(i % 2 == 1),
            transparent=transparent,
            extra_frames=extra,
        )
        px = pal[idx].copy()
        if transparent is not None:
            px[idx == transparent] = 0
        out.append(
            {
                "img_id": i,
                "n_frames": n_frames,
                "payload": payload,
                "px": px,
            }
        )
    return out


def synth_bmp_corpus(n: int = 12) -> list[dict]:
    """Deterministic BMP corpus cycling bit depth (8-bit paletted /
    24-bit BGR / 32-bit BGRX) and row order (bottom-up / top-down),
    with widths chosen to hit every 4-byte row-padding residue.
    Expected RGB pixels are known by construction."""
    out = []
    for i in range(n):
        h, w = 5 + i % 4, 4 + i % 5  # w*3 % 4 covers all pad residues
        depth = (8, 24, 32)[i % 3]
        top_down = (i // 3) % 2 == 1
        if depth == 8:
            n_pal = 16 + i
            idx = (
                (np.arange(h * w, dtype=np.int64) * 19 + i * 3) % n_pal
            ).astype(np.uint8).reshape(h, w)
            pal = (
                (np.arange(n_pal * 3, dtype=np.int64) * 23 + i) % 256
            ).astype(np.uint8).reshape(n_pal, 3)
            payload = bmp.encode(idx, palette=pal, top_down=top_down)
            px = pal[idx]
        else:
            px = (
                (np.arange(h * w * 3, dtype=np.int64) * 31 + i * 17) % 256
            ).astype(np.uint8).reshape(h, w, 3)
            payload = bmp.encode(px, top_down=top_down, bpp=depth)
        out.append(
            {"img_id": i, "depth": depth, "payload": payload, "px": px}
        )
    return out


def synth_tiff_corpus(n: int = 18) -> list[dict]:
    """Deterministic TIFF corpus cycling the decode surface: gray
    BlackIsZero / gray WhiteIsZero (stored inverted) / RGB / palette,
    both byte orders, uncompressed vs PackBits, and strip heights that
    leave a short last strip. Pixels come from an integer recurrence,
    so the expected array (``px``: (H,W) gray or (H,W,3) RGB) is known
    BY CONSTRUCTION — the oracle never runs the decoder."""
    out = []
    for i in range(n):
        h, w = 6 + i % 5, 5 + i % 4
        bo = "<" if i % 2 == 0 else ">"
        comp = 1 if (i // 2) % 2 == 0 else 32773
        rps = (None, 1, 4)[i % 3]
        mode = i % 4  # gray / white-is-zero gray / rgb / palette
        if mode == 2:
            px = (
                (np.arange(h * w * 3, dtype=np.int64) * 41 + i * 13) % 256
            ).astype(np.uint8).reshape(h, w, 3)
            payload = _tiff.encode(
                px, byte_order=bo, compression=comp, rows_per_strip=rps
            )
            depth = 24
        elif mode == 3:
            n_pal = 11 + i
            idx = (
                (np.arange(h * w, dtype=np.int64) * 7 + i * 5) % n_pal
            ).astype(np.uint8).reshape(h, w)
            pal = (
                (np.arange(n_pal * 3, dtype=np.int64) * 37 + i) % 256
            ).astype(np.uint8).reshape(n_pal, 3)
            payload = _tiff.encode(
                idx,
                byte_order=bo,
                compression=comp,
                rows_per_strip=rps,
                palette=pal,
            )
            px = pal[idx]
            depth = 8
        else:
            px = (
                (np.arange(h * w, dtype=np.int64) * 23 + i * 3) % 256
            ).astype(np.uint8).reshape(h, w)
            payload = _tiff.encode(
                px,
                byte_order=bo,
                compression=comp,
                rows_per_strip=rps,
                white_is_zero=(mode == 1),
            )
            depth = 8
        out.append(
            {"img_id": i, "depth": depth, "payload": payload, "px": px}
        )
    return out


GIF_FEATURES_SCHEMA = StructType(
    [
        StructField("img_id", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        # LongType for the same int64-wrap reason as PNG_FEATURES_SCHEMA
        StructField("px_sum", LongType()),
    ]
)


def gif_features(df: DataFrame, payload_col: str = "media") -> DataFrame:
    """Decode GIF payloads (kernels/gif.py) and emit integer features:
    frame count plus dimensions and pixel sum of the first frame
    composited onto the logical screen."""

    def parse(buf: bytes) -> list[tuple]:
        # one container parse: decode_frames runs the LZW once; the
        # first-frame composite reuses the decoded list
        frames = gif.decode_frames(buf)
        px = gif.composite_first(frames)
        return [(len(frames), px.shape[1], px.shape[0], int(px.sum()))]

    return _payload_rows(df, GIF_FEATURES_SCHEMA, parse, payload_col)


BMP_FEATURES_SCHEMA = StructType(
    [
        StructField("img_id", IntegerType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("px_sum", LongType()),
    ]
)


def bmp_features(df: DataFrame, payload_col: str = "media") -> DataFrame:
    """Decode BMP payloads (kernels/bmp.py) and emit integer features."""

    def parse(buf: bytes) -> list[tuple]:
        px = bmp.decode(buf)
        return [(px.shape[1], px.shape[0], int(px.sum()))]

    return _payload_rows(df, BMP_FEATURES_SCHEMA, parse, payload_col)


TIFF_FEATURES_SCHEMA = StructType(
    [
        StructField("img_id", IntegerType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_channels", IntegerType()),
        StructField("px_sum", LongType()),
    ]
)


def tiff_features(df: DataFrame, payload_col: str = "media") -> DataFrame:
    """Decode TIFF payloads (kernels/tiff.py) and emit integer
    features; n_channels distinguishes the gray (1) and RGB/palette
    (3) decode contracts."""

    def parse(buf: bytes) -> list[tuple]:
        px = _tiff.decode(buf)
        n_channels = 1 if px.ndim == 2 else px.shape[2]
        return [(px.shape[1], px.shape[0], n_channels, int(px.sum()))]

    return _payload_rows(df, TIFF_FEATURES_SCHEMA, parse, payload_col)


def synth_ico_corpus(n: int = 10) -> list[dict]:
    """Deterministic ICO corpus cycling entry count (1-3 per icon) and
    payload kind (PNG stream / 24-bit DIB / 32-bit DIB / 8-bit
    paletted DIB), each DIB carrying a deterministic AND transparency
    mask. Expected per-entry RGB pixels and mask popcounts are known
    BY CONSTRUCTION — the oracle never runs the decoder."""
    out = []
    for i in range(n):
        k = 1 + i % 3
        entries: list[dict] = []
        expected: list[dict] = []
        for j in range(k):
            h = 4 + (i + j) % 5
            w = 3 + (2 * i + j) % 6
            kind = (i + j) % 4  # png / bmp24 / bmp32 / bmp8
            if kind == 0:
                px = (
                    (np.arange(h * w * 3, dtype=np.int64) * 13
                     + i * 7 + j * 3) % 256
                ).astype(np.uint8).reshape(h, w, 3)
                entries.append({"fmt": "png", "px": px})
                expected.append({"fmt": "png", "px": px, "and_bits": 0})
                continue
            mask = (
                (np.arange(h * w, dtype=np.int64) * 3 + i + j) % 4 == 0
            ).reshape(h, w)
            if kind == 3:
                n_pal = 12 + i
                idx = (
                    (np.arange(h * w, dtype=np.int64) * 5 + j) % n_pal
                ).astype(np.uint8).reshape(h, w)
                pal = (
                    (np.arange(n_pal * 3, dtype=np.int64) * 29 + i) % 256
                ).astype(np.uint8).reshape(n_pal, 3)
                entries.append(
                    {"fmt": "bmp", "idx": idx, "palette": pal, "mask": mask}
                )
                px = pal[idx]
            else:
                depth = 24 if kind == 1 else 32
                px = (
                    (np.arange(h * w * 3, dtype=np.int64) * 31
                     + i * 17 + j * 5) % 256
                ).astype(np.uint8).reshape(h, w, 3)
                entries.append(
                    {"fmt": "bmp", "px": px, "depth": depth, "mask": mask}
                )
            expected.append(
                {"fmt": "bmp", "px": px, "and_bits": int(mask.sum())}
            )
        out.append(
            {"img_id": i, "payload": ico.encode(entries),
             "entries": expected}
        )
    return out


ICO_FEATURES_SCHEMA = StructType(
    [
        StructField("img_id", IntegerType()),
        StructField("entry_idx", IntegerType()),
        StructField("n_entries", IntegerType()),
        StructField("fmt", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("px_sum", LongType()),
        StructField("and_bits", LongType()),
    ]
)


def ico_features(df: DataFrame, payload_col: str = "media") -> DataFrame:
    """Decode ICO containers (kernels/ico.py) and emit one row per
    directory entry: payload kind (png/bmp), decoded dimensions, the
    RGB pixel sum, and the AND-mask popcount. The container fan-out
    (1 input row -> n_entries output rows) happens inside the batch,
    so no explode/shuffle is added to the plan."""

    def parse(buf: bytes) -> list[tuple]:
        entries = ico.decode(buf)
        return [
            (j, len(entries), e["fmt"], e["px"].shape[1], e["px"].shape[0],
             int(e["px"].sum()), int(e["and_bits"]))
            for j, e in enumerate(entries)
        ]

    return _payload_rows(df, ICO_FEATURES_SCHEMA, parse, payload_col)


# ---------------------------------------------------------------------------
# EXIF (JPEG APP1 / TIFF IFD) metadata
# ---------------------------------------------------------------------------

_EXIF_TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8}


def _exif_app1(
    byte_order: bytes,
    orientation: int,
    make: str,
    datetime_s: str,
    exif_w: int,
    exif_h: int,
) -> bytes:
    """Serialize a minimal EXIF APP1 segment (TIFF 6.0 layout): IFD0
    with Make / Orientation / DateTime / ExifIFD-pointer entries
    (ascending tag order per spec) and an Exif sub-IFD carrying
    PixelXDimension / PixelYDimension. Both byte orders ('II' little,
    'MM' big) serialize through the same code path."""
    e = "<" if byte_order == b"II" else ">"
    make_b = make.encode("ascii") + b"\x00"
    if len(make_b) % 2:
        make_b += b"\x00"
    dt_b = datetime_s.encode("ascii") + b"\x00"  # 20 bytes
    make_off = 8 + 2 + 4 * 12 + 4  # header + IFD0(4 entries)
    dt_off = make_off + len(make_b)
    exif_off = dt_off + len(dt_b) + (len(dt_b) % 2)

    def entry(tag: int, typ: int, count: int, val4: bytes) -> bytes:
        return struct.pack(e + "HHI", tag, typ, count) + val4

    ifd0 = struct.pack(e + "H", 4)
    ifd0 += entry(0x010F, 2, len(make_b), struct.pack(e + "I", make_off))
    ifd0 += entry(0x0112, 3, 1, struct.pack(e + "H", orientation) + b"\x00\x00")
    ifd0 += entry(0x0132, 2, len(dt_b), struct.pack(e + "I", dt_off))
    ifd0 += entry(0x8769, 4, 1, struct.pack(e + "I", exif_off))
    ifd0 += struct.pack(e + "I", 0)
    sub = struct.pack(e + "H", 2)
    sub += entry(0xA002, 4, 1, struct.pack(e + "I", exif_w))
    sub += entry(0xA003, 4, 1, struct.pack(e + "I", exif_h))
    sub += struct.pack(e + "I", 0)
    tiff = (
        byte_order + struct.pack(e + "H", 42) + struct.pack(e + "I", 8)
        + ifd0 + make_b + dt_b + (b"\x00" if len(dt_b) % 2 else b"") + sub
    )
    body = b"Exif\x00\x00" + tiff
    return b"\xff\xe1" + struct.pack(">H", len(body) + 2) + body


def _exif_read_value(
    tiff: bytes, e: str, typ: int, count: int, val4: bytes
):
    size = _EXIF_TYPE_SIZE.get(typ, 1) * count
    raw = val4[:size] if size <= 4 else tiff[
        struct.unpack(e + "I", val4)[0]:
        struct.unpack(e + "I", val4)[0] + size
    ]
    if typ == 2:
        return raw.split(b"\x00", 1)[0].decode("ascii", "replace")
    if typ == 3:
        return struct.unpack(e + "H", raw[:2])[0]
    if typ == 4:
        return struct.unpack(e + "I", raw[:4])[0]
    return raw


def _exif_walk_ifd(tiff: bytes, e: str, off: int) -> dict:
    n = struct.unpack(e + "H", tiff[off:off + 2])[0]
    out: dict = {"n_entries": n}
    for k in range(n):
        base = off + 2 + 12 * k
        tag, typ, count = struct.unpack(e + "HHI", tiff[base:base + 8])
        out[tag] = _exif_read_value(tiff, e, typ, count, tiff[base + 8:base + 12])
    return out


def parse_exif(buf: bytes) -> dict | None:
    """Scan JPEG segments for an EXIF APP1 and decode IFD0 + the Exif
    sub-IFD. Independent of the serializer above (reads only the
    spec-mandated offsets), so construction-derived oracles are
    non-circular. Returns None when no EXIF APP1 exists."""
    if buf[:2] != b"\xff\xd8":
        return None
    pos = 2
    while pos + 4 <= len(buf):
        if buf[pos] != 0xFF:
            break
        marker = buf[pos + 1]
        if marker == 0x01 or 0xD0 <= marker <= 0xD8:
            pos += 2
            continue
        if marker == 0xDA:
            break
        seglen = int.from_bytes(buf[pos + 2:pos + 4], "big")
        if marker == 0xE1 and buf[pos + 4:pos + 10] == b"Exif\x00\x00":
            tiff = buf[pos + 10:pos + 2 + seglen]
            bo = tiff[:2]
            if bo not in (b"II", b"MM"):
                return None
            e = "<" if bo == b"II" else ">"
            if struct.unpack(e + "H", tiff[2:4])[0] != 42:
                return None
            ifd0_off = struct.unpack(e + "I", tiff[4:8])[0]
            ifd0 = _exif_walk_ifd(tiff, e, ifd0_off)
            sub = (
                _exif_walk_ifd(tiff, e, ifd0[0x8769])
                if 0x8769 in ifd0 else {}
            )
            return {
                "byte_order": bo.decode("ascii"),
                "orientation": int(ifd0.get(0x0112, 0)),
                "make": ifd0.get(0x010F, ""),
                "datetime": ifd0.get(0x0132, ""),
                "exif_w": int(sub.get(0xA002, 0)),
                "exif_h": int(sub.get(0xA003, 0)),
                "n_ifd0_entries": int(ifd0["n_entries"]),
            }
        pos += 2 + seglen
    return None


def synth_exif_corpus(n: int = 12) -> list[dict]:
    """Deterministic JPEG-with-EXIF corpus: real baseline JPEGs from
    the native encoder with an APP1 spliced after SOI, alternating
    byte order (II/MM), cycling all 8 orientations and varying
    Make/DateTime/pixel-dimension fields. Expected fields are known BY
    CONSTRUCTION — the oracle never runs the parser."""
    out = []
    for i in range(n):
        h, w = 16 + (i % 3) * 8, 16 + (i % 2) * 8
        img = (
            (np.arange(h * w, dtype=np.int64) * 11 + i * 5) % 256
        ).astype(np.uint8).reshape(h, w)
        base = jpeg.encode(img, quality=80)
        fields = {
            "byte_order": "II" if i % 2 == 0 else "MM",
            "orientation": 1 + i % 8,
            "make": f"Cam{i % 12}",
            "datetime": f"20{10 + i % 15:02d}:{i % 9 + 1:02d}:15 "
                        f"12:{i % 60:02d}:00",
            "exif_w": 100 + i * 3,
            "exif_h": 80 + i * 2,
            "n_ifd0_entries": 4,
        }
        app1 = _exif_app1(
            fields["byte_order"].encode("ascii"),
            fields["orientation"], fields["make"], fields["datetime"],
            fields["exif_w"], fields["exif_h"],
        )
        payload = base[:2] + app1 + base[2:]
        out.append({"img_id": i, "payload": payload, **fields})
    return out


EXIF_FEATURES_SCHEMA = StructType(
    [
        StructField("img_id", IntegerType()),
        StructField("byte_order", StringType()),
        StructField("orientation", IntegerType()),
        StructField("make", StringType()),
        StructField("datetime", StringType()),
        StructField("exif_w", LongType()),
        StructField("exif_h", LongType()),
        StructField("n_ifd0_entries", LongType()),
    ]
)


def exif_features(df: DataFrame, payload_col: str = "media") -> DataFrame:
    """Parse EXIF APP1 metadata out of JPEG payloads (parse_exif) and
    emit one row per image that carries it; EXIF-free JPEGs drop
    inside the batch (no separate filter stage)."""
    return _payload_rows(
        df, EXIF_FEATURES_SCHEMA,
        _dict_rows(parse_exif, EXIF_FEATURES_SCHEMA), payload_col,
    )


# ---------------------------------------------------------------------------
# PNG ancillary chunks (tEXt / iTXt / pHYs)
# ---------------------------------------------------------------------------


def synth_png_meta_corpus(n: int = 12) -> list[dict]:
    """Deterministic PNGs carrying ancillary metadata chunks spliced
    before IEND: tEXt Title/Author pairs on every image, an
    uncompressed iTXt with language tag on odd ids, and a pHYs
    physical-dimensions chunk on every third id. Expected (kind,
    keyword, value) rows are known BY CONSTRUCTION."""
    out = []
    for i in range(n):
        h, w = 5 + i % 3, 4 + i % 2
        arr = (
            (np.arange(h * w, dtype=np.int64) * 7 + i) % 256
        ).astype(np.uint8).reshape(h, w)
        base = png.encode(arr, 0, filters=[0] * h)
        expected = [("tEXt", "Title", f"Page {i}"),
                    ("tEXt", "Author", f"Bot {i % 4}")]
        meta = png._chunk(b"tEXt", f"Title\x00Page {i}".encode())
        meta += png._chunk(b"tEXt", f"Author\x00Bot {i % 4}".encode())
        if i % 2 == 1:
            note = f"note {i % 7}"
            meta += png._chunk(
                b"iTXt",
                b"Comment\x00\x00\x00en\x00\x00" + note.encode(),
            )
            expected.append(("iTXt", "Comment", note))
        if i % 3 == 0:
            ppu = 2835 + i * 100  # px per metre
            meta += png._chunk(b"pHYs", struct.pack(">IIB", ppu, ppu, 1))
            expected.append(("pHYs", "", f"{ppu}:{ppu}:1"))
        payload = base[:-12] + meta + base[-12:]
        out.append({"img_id": i, "payload": payload, "expected": expected})
    return out


PNG_META_SCHEMA = StructType(
    [
        StructField("img_id", IntegerType()),
        StructField("chunk_idx", IntegerType()),
        StructField("kind", StringType()),
        StructField("keyword", StringType()),
        StructField("value", StringType()),
    ]
)


def png_meta_features(df: DataFrame, payload_col: str = "media") -> DataFrame:
    """Walk the PNG chunk table and emit one row per metadata chunk:
    tEXt keyword/value, iTXt (uncompressed) keyword/text, and pHYs as
    'x:y:unit'. Reads the container directly (length-prefixed chunk
    walk from offset 8) — no pixel decode, so metadata extraction at
    corpus scale never pays the unfilter cost."""

    def parse(buf: bytes) -> list[tuple]:
        chunks, pos = [], 8
        while pos + 8 <= len(buf):
            ln = int.from_bytes(buf[pos:pos + 4], "big")
            tag = buf[pos + 4:pos + 8]
            data = buf[pos + 8:pos + 8 + ln]
            if tag == b"tEXt":
                kw, _, val = data.partition(b"\x00")
                chunks.append(
                    ("tEXt", kw.decode("latin-1"), val.decode("latin-1"))
                )
            elif tag == b"iTXt":
                kw, _, rest = data.partition(b"\x00")
                # comp flag + comp method, then lang\0trans\0text
                if len(rest) >= 2 and rest[0] == 0:
                    rest = rest[2:]
                    _lang, _, rest = rest.partition(b"\x00")
                    _trans, _, text = rest.partition(b"\x00")
                    chunks.append(
                        ("iTXt", kw.decode("latin-1"), text.decode("utf-8"))
                    )
            elif tag == b"pHYs" and ln == 9:
                x, y, unit = struct.unpack(">IIB", data)
                chunks.append(("pHYs", "", f"{x}:{y}:{unit}"))
            if tag == b"IEND":
                break
            pos += 12 + ln
        return [(k, *c) for k, c in enumerate(chunks)]

    return _payload_rows(df, PNG_META_SCHEMA, parse, payload_col)


# ---------------------------------------------------------------------------
# GIF animation timing
# ---------------------------------------------------------------------------


def synth_gif_anim_corpus(n: int = 10) -> list[dict]:
    """Deterministic animated-GIF corpus: 1-4 frames per image with
    per-frame centisecond delays, alternating finite and infinite
    NETSCAPE loop counts, plus a timing-free static GIF every fifth
    id. Expected frame counts / delays / loop counts are known BY
    CONSTRUCTION — the oracle never runs the decoder."""
    out = []
    for i in range(n):
        n_frames = 1 + i % 4
        pal = (
            (np.arange(24, dtype=np.int64) * 9 + i) % 256
        ).astype(np.uint8).reshape(8, 3)
        h, w = 5 + i % 3, 4 + i % 2
        first = (
            (np.arange(h * w, dtype=np.int64) * 5 + i) % 8
        ).astype(np.uint8).reshape(h, w)
        extra = []
        for j in range(1, n_frames):
            fh, fw = 2 + j % 2, 3
            extra.append((
                j % 2, j % 3,
                ((np.arange(fh * fw, dtype=np.int64) * 7 + j) % 8)
                .astype(np.uint8).reshape(fh, fw),
            ))
        if i % 5 == 4:
            delays: list[int] | None = None
            loop: int | None = None
        else:
            delays = [10 + 5 * ((i + j) % 6) for j in range(n_frames)]
            loop = 0 if i % 2 == 0 else 1 + i % 7
        payload = gif.encode(
            first, pal, extra_frames=extra,
            frame_delays=delays, loop_count=loop,
        )
        out.append({
            "img_id": i,
            "payload": payload,
            "n_frames": n_frames,
            "delays": delays or [0] * n_frames,
            "loop_count": -1 if loop is None else loop,
        })
    return out


GIF_ANIM_SCHEMA = StructType(
    [
        StructField("img_id", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("loop_count", IntegerType()),
        StructField("total_delay_cs", LongType()),
        StructField("min_delay_cs", LongType()),
        StructField("max_delay_cs", LongType()),
    ]
)


def gif_anim_features(df: DataFrame, payload_col: str = "media") -> DataFrame:
    """Decode GIF frame timing (kernels/gif.py decode_frames) and emit
    per-image animation features: frame count, NETSCAPE loop count
    (-1 when the extension is absent, i.e. a static GIF), and the
    delay sum/min/max in centiseconds."""

    def parse(buf: bytes) -> list[tuple]:
        frames = gif.decode_frames(buf)
        delays = [f["delay_cs"] for f in frames]
        loop = frames[0].get("loop_count")
        return [(len(frames), -1 if loop is None else int(loop),
                 int(sum(delays)), int(min(delays)), int(max(delays)))]

    return _payload_rows(df, GIF_ANIM_SCHEMA, parse, payload_col)


# ---------------------------------------------------------------------------
# WAV silence segmentation
# ---------------------------------------------------------------------------


def synth_silence_corpus(n: int = 10) -> list[dict]:
    """Deterministic mono PCM clips alternating exact-zero silence
    runs and loud ramp runs of construction-known lengths (2-4
    segments per clip, one clip all-silence, one all-tone). Expected
    (kind, start, length) segments exist before encode."""
    out = []
    for i in range(n):
        if i % 5 == 4:
            segs = [("silence", 120 + i)]
        elif i % 5 == 3:
            segs = [("tone", 90 + i)]
        else:
            lens = [40 + i * 3, 25 + (i * 7) % 30, 35 + (i * 5) % 20,
                    20 + (i * 11) % 25]
            k = 2 + i % 3  # 2-4 segments
            segs = [
                ("silence" if (j + i) % 2 == 0 else "tone", lens[j])
                for j in range(k)
            ]
        chunks, expected, pos = [], [], 0
        for kind, ln in segs:
            if kind == "silence":
                chunks.append(np.zeros(ln, np.int16))
            else:
                ramp = (1000 + (np.arange(ln, dtype=np.int64) * 37) % 2000)
                chunks.append(ramp.astype(np.int16))
            expected.append((kind, pos, ln))
            pos += ln
        samples = np.concatenate(chunks).reshape(-1, 1)
        out.append(
            {
                "clip_id": i,
                "payload": encode_wav(samples, 16000),
                "expected": expected,
            }
        )
    return out


WAV_SILENCE_SCHEMA = StructType(
    [
        StructField("clip_id", IntegerType()),
        StructField("seg_idx", IntegerType()),
        StructField("kind", StringType()),
        StructField("start_sample", LongType()),
        StructField("n_samples", LongType()),
    ]
)


def wav_silence_segments(
    df: DataFrame, payload_col: str = "media", threshold: int = 8
) -> DataFrame:
    """Run-length silence segmentation over decoded PCM (|sample| <=
    threshold on channel 0) — the pause structure a speech pipeline
    cuts on (utterance boundaries, VAD supervision) computed without
    any DSP dependency. One row per run in clip order; vectorized
    numpy run-length inside the Arrow batch."""

    def parse(buf: bytes) -> list[tuple]:
        samples, _rate = decode_audio(buf, "wav")
        x = samples[:, 0].astype(np.int64)
        quiet = np.abs(x) <= threshold
        # run boundaries where the quiet flag changes
        change = np.flatnonzero(np.diff(quiet)) + 1
        starts = np.concatenate(([0], change))
        ends = np.concatenate((change, [len(x)]))
        return [
            (j, "silence" if quiet[s] else "tone", int(s), int(e - s))
            for j, (s, e) in enumerate(zip(starts, ends))
        ]

    return _payload_rows(df, WAV_SILENCE_SCHEMA, parse, payload_col)


# ---------------------------------------------------------------------------
# JPEG quality-factor estimation (DQT forensics)
# ---------------------------------------------------------------------------


def parse_jpeg_dqt(buf: bytes) -> list[tuple[int, np.ndarray]]:
    """Collect (table_id, raw 64 bytes in stored zigzag order) from
    every DQT segment before SOS. 8-bit precision only (Pq=0), which
    is what baseline/extended-sequential JPEG uses."""
    if buf[:2] != b"\xff\xd8":
        return []
    out: list[tuple[int, np.ndarray]] = []
    pos = 2
    while pos + 4 <= len(buf):
        if buf[pos] != 0xFF:
            break
        marker = buf[pos + 1]
        if marker == 0x01 or 0xD0 <= marker <= 0xD8:
            pos += 2
            continue
        if marker == 0xDA:
            break
        seglen = int.from_bytes(buf[pos + 2:pos + 4], "big")
        if marker == 0xDB:
            data = buf[pos + 4:pos + 2 + seglen]
            k = 0
            while k + 65 <= len(data) + 1 and k < len(data):
                pq, tq = data[k] >> 4, data[k] & 0x0F
                if pq != 0:
                    raise NotImplementedError("16-bit DQT")
                out.append(
                    (tq, np.frombuffer(
                        data[k + 1:k + 65], np.uint8
                    ).astype(np.int64))
                )
                k += 65
        pos += 2 + seglen
    return out


def estimate_jpeg_quality(buf: bytes) -> dict | None:
    """Estimate the libjpeg quality factor from the LUMA quant table
    by exhaustive match against the 100 candidate tables the
    jcparam.c scaling produces from the Annex K base table. Exact
    when the encoder used standard tables (err == 0); otherwise the
    nearest candidate with is_standard = 0."""
    tables = parse_jpeg_dqt(buf)
    luma = next((t for tid, t in tables if tid == 0), None)
    if luma is None:
        return None
    best_q, best_err = 1, None
    for q in range(1, 101):
        cand = jpeg._quality_scale(jpeg.QUANT_LUMA, q)[jpeg.ZIGZAG]
        err = int(np.abs(cand - luma).sum())
        if best_err is None or err < best_err:
            best_q, best_err = q, err
    return {
        "quality_est": best_q,
        "n_tables": len(tables),
        "is_standard": 1 if best_err == 0 else 0,
    }


JPEG_QUALITY_SCHEMA = StructType(
    [
        StructField("img_id", IntegerType()),
        StructField("quality_est", IntegerType()),
        StructField("n_tables", IntegerType()),
        StructField("is_standard", IntegerType()),
    ]
)


def jpeg_quality_features(
    df: DataFrame, payload_col: str = "media"
) -> DataFrame:
    """Per-image quality-factor estimate from DQT alone — compression
    provenance (a 95 re-saved at 70 keeps 70's tables) without any
    entropy decode; images without a luma table drop."""
    return _payload_rows(
        df, JPEG_QUALITY_SCHEMA,
        _dict_rows(estimate_jpeg_quality, JPEG_QUALITY_SCHEMA), payload_col,
    )


def synth_jpeg_quality_corpus(n: int = 12) -> list[dict]:
    """Deterministic JPEGs cycling quality {35,50,62,75,80,90,95,98},
    gray vs RGB payloads (1 vs 2 DQT tables by construction) and a
    progressive stream every third id. Quality and table count exist
    before encode."""
    qs = (35, 50, 62, 75, 80, 90, 95, 98)
    out = []
    for i in range(n):
        q = qs[i % len(qs)]
        h, w = 16 + (i % 2) * 8, 16 + (i % 3) * 8
        gray = i % 2 == 0
        if gray:
            img = (
                (np.arange(h * w, dtype=np.int64) * 13 + i) % 256
            ).astype(np.uint8).reshape(h, w)
        else:
            img = (
                (np.arange(h * w * 3, dtype=np.int64) * 7 + i) % 256
            ).astype(np.uint8).reshape(h, w, 3)
        if i % 3 == 2 and gray:
            payload = jpeg.encode_progressive(img, quality=q)
        else:
            payload = jpeg.encode(img, quality=q)
        out.append(
            {
                "img_id": i,
                "payload": payload,
                "quality": q,
                "n_tables": 1 if gray else 2,
            }
        )
    return out


# ---------------------------------------------------------------------------
# ID3v2 tags (MP3 metadata without audio decode)
# ---------------------------------------------------------------------------


def _syncsafe(n: int) -> bytes:
    return bytes(
        [(n >> 21) & 0x7F, (n >> 14) & 0x7F, (n >> 7) & 0x7F, n & 0x7F]
    )


def _id3_frame(fid: str, text: str, enc: int) -> bytes:
    if enc == 0:
        body = bytes([0]) + text.encode("latin-1")
    else:  # UTF-16 with BOM
        body = bytes([1]) + text.encode("utf-16")  # includes BOM
    return fid.encode("ascii") + len(body).to_bytes(4, "big") + b"\x00\x00" + body


def synth_id3_corpus(n: int = 10) -> list[dict]:
    """Deterministic ID3v2.3 containers ahead of an opaque (gated)
    MPEG body: TIT2/TPE1/TALB/TRCK text frames cycling latin-1 and
    UTF-16 encodings, one tagless clip. Expected fields exist before
    the tag is assembled; the audio payload itself stays undecodable
    by design (compressed-audio decode is the named production
    call)."""
    out = []
    for i in range(n):
        fields = {
            "title": f"Track {i % 40}",
            "artist": f"Artist {i % 7}",
            "album": f"Album {i % 5}",
            "track_no": 1 + i % 12,
        }
        if i % 5 == 4:
            payload = b"\xff\xfb\x90\x00" + bytes(64)  # bare MPEG frame
            out.append({
                "clip_id": i, "payload": payload, "has_id3": 0,
                "title": "", "artist": "", "album": "", "track_no": -1,
                "enc": "",
            })
            continue
        enc = 0 if i % 2 == 0 else 1
        frames = (
            _id3_frame("TIT2", fields["title"], enc)
            + _id3_frame("TPE1", fields["artist"], enc)
            + _id3_frame("TALB", fields["album"], enc)
            + _id3_frame("TRCK", str(fields["track_no"]), 0)
        )
        tag = b"ID3\x03\x00\x00" + _syncsafe(len(frames)) + frames
        payload = tag + b"\xff\xfb\x90\x00" + bytes(48 + i)
        out.append({
            "clip_id": i, "payload": payload, "has_id3": 1,
            "enc": "latin-1" if enc == 0 else "utf-16", **fields,
        })
    return out


ID3_SCHEMA = StructType(
    [
        StructField("clip_id", IntegerType()),
        StructField("has_id3", IntegerType()),
        StructField("title", StringType()),
        StructField("artist", StringType()),
        StructField("album", StringType()),
        StructField("track_no", IntegerType()),
        StructField("enc", StringType()),
    ]
)


def parse_id3(buf: bytes) -> dict:
    """Walk an ID3v2.3 tag's text frames. Returns empty fields (and
    has_id3=0) when no tag leads the stream — the audio body is never
    touched, so tag harvest over a gated-codec corpus costs only
    header bytes."""
    out = {
        "has_id3": 0, "title": "", "artist": "", "album": "",
        "track_no": -1, "enc": "",
    }
    if buf[:3] != b"ID3" or len(buf) < 10:
        return out
    size = (
        (buf[6] << 21) | (buf[7] << 14) | (buf[8] << 7) | buf[9]
    )
    out["has_id3"] = 1
    pos, end = 10, 10 + size
    names = {"TIT2": "title", "TPE1": "artist", "TALB": "album"}
    while pos + 10 <= end:
        fid = buf[pos:pos + 4].decode("latin-1")
        flen = int.from_bytes(buf[pos + 4:pos + 8], "big")
        body = buf[pos + 10:pos + 10 + flen]
        if not fid.strip("\x00"):
            break
        if body[:1] == b"\x00":
            text, enc = body[1:].decode("latin-1"), "latin-1"
        else:
            text, enc = body[1:].decode("utf-16"), "utf-16"
        if fid in names:
            out[names[fid]] = text
            out["enc"] = enc
        elif fid == "TRCK":
            out["track_no"] = int(text)
        pos += 10 + flen
    return out


def id3_features(df: DataFrame, payload_col: str = "media") -> DataFrame:
    """Per-clip ID3 text-frame extraction — the metadata face of the
    otherwise-gated compressed-audio family (decode stays behind the
    named soundfile call)."""
    return _payload_rows(
        df, ID3_SCHEMA, _dict_rows(parse_id3, ID3_SCHEMA), payload_col
    )


# ---------------------------------------------------------------------------
# WebP/AVIF container sniffing (dims without decode) and EPUB/ZIP listing
# ---------------------------------------------------------------------------


def synth_webimg_corpus(n: int = 12) -> list[dict]:
    """Deterministic modern-image containers: extended WebP (VP8X
    canvas dims), lossless WebP (VP8L 14-bit header dims), AVIF and
    HEIC ftyp brands, plus a JPEG negative. Expected kind/dims exist
    before the bytes are assembled; pixel DECODE for these formats
    stays gated (the named production calls), but routing and
    dimensions must not wait for it."""
    out = []
    for i in range(n):
        v = i % 5
        w, h = 64 + i * 16, 48 + i * 8
        if v == 0:
            vp8x = (
                b"VP8X" + struct.pack("<I", 10) + bytes(4)
                + (w - 1).to_bytes(3, "little")
                + (h - 1).to_bytes(3, "little")
            )
            body = b"WEBP" + vp8x
            payload = b"RIFF" + struct.pack("<I", len(body)) + body
            out.append({"img_id": i, "payload": payload,
                        "kind": "webp", "variant": "VP8X",
                        "width": w, "height": h})
        elif v == 1:
            w2, h2 = (w - 1) % 16384 + 1, (h - 1) % 16384 + 1
            bits = (w2 - 1) | ((h2 - 1) << 14)
            hdr = bytes([0x2F]) + struct.pack("<I", bits)[:4]
            chunk = b"VP8L" + struct.pack("<I", len(hdr)) + hdr
            body = b"WEBP" + chunk
            payload = b"RIFF" + struct.pack("<I", len(body)) + body
            out.append({"img_id": i, "payload": payload,
                        "kind": "webp", "variant": "VP8L",
                        "width": w2, "height": h2})
        elif v == 2 or v == 3:
            brand = b"avif" if v == 2 else b"heic"
            box = b"ftyp" + brand + struct.pack(">I", 0) + b"mif1miaf"
            payload = struct.pack(">I", 8 + len(box)) + box
            out.append({"img_id": i, "payload": payload,
                        "kind": brand.decode(), "variant": "ftyp",
                        "width": 0, "height": 0})
        else:
            img = (
                (np.arange(16 * 16, dtype=np.int64) * 3 + i) % 256
            ).astype(np.uint8).reshape(16, 16)
            out.append({"img_id": i, "payload": jpeg.encode(img, 80),
                        "kind": "other", "variant": "",
                        "width": 0, "height": 0})
    return out


WEBIMG_SCHEMA = StructType(
    [
        StructField("img_id", IntegerType()),
        StructField("kind", StringType()),
        StructField("variant", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
    ]
)


def sniff_webimg(buf: bytes) -> tuple[str, str, int, int]:
    """Header-only sniff: WebP VP8X canvas dims (24-bit LE minus
    one), VP8L 14-bit packed dims, ISOBMFF ftyp brands. Anything
    else routes 'other' — the decode gate's dispatcher."""
    if buf[:4] == b"RIFF" and buf[8:12] == b"WEBP":
        kind = buf[12:16]
        if kind == b"VP8X" and len(buf) >= 30:
            w = int.from_bytes(buf[24:27], "little") + 1
            h = int.from_bytes(buf[27:30], "little") + 1
            return ("webp", "VP8X", w, h)
        if kind == b"VP8L" and len(buf) >= 25 and buf[20] == 0x2F:
            bits = int.from_bytes(buf[21:25], "little")
            return (
                "webp", "VP8L",
                (bits & 0x3FFF) + 1, ((bits >> 14) & 0x3FFF) + 1,
            )
        return ("webp", kind.decode("latin-1").strip(), 0, 0)
    if len(buf) >= 12 and buf[4:8] == b"ftyp":
        brand = buf[8:12].decode("latin-1")
        return (brand if brand in ("avif", "heic") else "isobmff",
                "ftyp", 0, 0)
    return ("other", "", 0, 0)


def webimg_features(df: DataFrame, payload_col: str = "media") -> DataFrame:
    """Per-image container sniff — the router in front of the gated
    webp/avif decoders."""
    return _payload_rows(
        df, WEBIMG_SCHEMA, lambda buf: [sniff_webimg(buf)], payload_col
    )


def synth_epub_corpus(n: int = 8) -> list[dict]:
    """Deterministic EPUB-shaped ZIP containers (stored mimetype
    member first, container.xml, 1-3 XHTML chapters) plus a plain
    non-EPUB zip and a non-zip payload. Member lists and sizes are
    recorded at construction; timestamps pinned to the DOS epoch so
    the bytes are reproducible."""
    out = []
    for i in range(n):
        if i % 4 == 3:
            out.append({"doc_id": i, "payload": b"%PDF-1.4 not a zip",
                        "is_zip": 0, "is_epub": 0, "n_members": 0,
                        "n_chapters": 0, "total_uncompressed": 0})
            continue
        bio = io.BytesIO()
        members = []
        with zipfile.ZipFile(bio, "w") as z:
            def put(name: str, data: str, method: int) -> None:
                zi = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
                zi.compress_type = method
                z.writestr(zi, data)
                members.append((name, len(data)))

            is_epub = i % 4 != 2
            if is_epub:
                put("mimetype", "application/epub+zip",
                    zipfile.ZIP_STORED)
                put("META-INF/container.xml",
                    '<container version="1.0"><rootfiles><rootfile '
                    'full-path="OEBPS/content.opf"/></rootfiles>'
                    "</container>", zipfile.ZIP_DEFLATED)
                for c in range(1 + i % 3):
                    put(f"OEBPS/ch{c}.xhtml",
                        f"<html><body>Chapter {c} of book {i} "
                        + "prose " * (10 + i) + "</body></html>",
                        zipfile.ZIP_DEFLATED)
            else:
                put("data.csv", "a,b\n1,2\n", zipfile.ZIP_DEFLATED)
        out.append({
            "doc_id": i, "payload": bio.getvalue(), "is_zip": 1,
            "is_epub": 1 if is_epub else 0,
            "n_members": len(members),
            "n_chapters": sum(1 for m, _ in members
                              if m.endswith(".xhtml")),
            "total_uncompressed": sum(sz for _, sz in members),
        })
    return out


EPUB_SCHEMA = StructType(
    [
        StructField("doc_id", IntegerType()),
        StructField("is_zip", IntegerType()),
        StructField("is_epub", IntegerType()),
        StructField("n_members", IntegerType()),
        StructField("n_chapters", IntegerType()),
        StructField("total_uncompressed", LongType()),
    ]
)


def epub_features(df: DataFrame, payload_col: str = "media") -> DataFrame:
    """ZIP central-directory listing without member inflation (except
    the tiny STORED mimetype read for EPUB identification) — routes
    book containers into the document pipeline and sizes the extract
    before any decompression budget is spent."""

    def parse(buf: bytes) -> list[tuple]:
        if buf[:2] != b"PK":
            return [(0, 0, 0, 0, 0)]
        with zipfile.ZipFile(io.BytesIO(buf)) as z:
            infos = z.infolist()
            is_epub = 0
            if infos and infos[0].filename == "mimetype":
                if z.read("mimetype") == b"application/epub+zip":
                    is_epub = 1
        return [
            (
                1, is_epub, len(infos),
                sum(1 for x in infos if x.filename.endswith(".xhtml")),
                int(sum(x.file_size for x in infos)),
            )
        ]

    return _payload_rows(df, EPUB_SCHEMA, parse, payload_col)


# ---------------------------------------------------------------------------
# FLAC STREAMINFO (audio properties without any frame decode)
# ---------------------------------------------------------------------------


def synth_flac_corpus(n: int = 10) -> list[dict]:
    """Deterministic FLAC containers: 'fLaC' magic + a STREAMINFO
    metadata block (the mandatory first block: blocksize/framesize
    bounds, then the packed 64-bit sample-rate/channels/bps/
    total-samples word) and, on alternating clips, a VORBIS_COMMENT
    block — audio FRAMES are absent by design (frame decode is the
    gated production call; the properties ride in the header).
    Expected fields exist before the bytes are assembled."""
    out = []
    rates = [44100, 48000, 96000]
    for i in range(n):
        if i % 5 == 4:
            out.append({
                "clip_id": i, "payload": b"\xffnotflac" + bytes(32),
                "is_flac": 0, "sample_rate": -1, "channels": -1,
                "bits_per_sample": -1, "total_samples": -1,
                "duration_ms": -1, "n_blocks": 0, "has_tags": 0,
            })
            continue
        sr = rates[i % 3]
        ch = 1 + i % 2
        bps = 16 if i % 2 == 0 else 24
        total = sr * (2 + i % 4) + i  # a few seconds, non-round
        word = (sr << 44) | ((ch - 1) << 41) | ((bps - 1) << 36) | total
        si = (
            (4096).to_bytes(2, "big") + (4096).to_bytes(2, "big")
            + (14).to_bytes(3, "big") + (14).to_bytes(3, "big")
            + word.to_bytes(8, "big") + bytes(16)
        )
        has_tags = 1 if i % 2 == 1 else 0
        blocks = b""
        if has_tags:
            vendor = b"ocr_spark"
            vc = (
                len(vendor).to_bytes(4, "little") + vendor
                + (0).to_bytes(4, "little")
            )
            blocks = (
                bytes([0x00]) + len(si).to_bytes(3, "big") + si
                + bytes([0x84]) + len(vc).to_bytes(3, "big") + vc
            )
        else:
            blocks = bytes([0x80]) + len(si).to_bytes(3, "big") + si
        out.append({
            "clip_id": i, "payload": b"fLaC" + blocks,
            "is_flac": 1, "sample_rate": sr, "channels": ch,
            "bits_per_sample": bps, "total_samples": total,
            "duration_ms": total * 1000 // sr,
            "n_blocks": 1 + has_tags, "has_tags": has_tags,
        })
    return out


FLAC_SCHEMA = StructType(
    [
        StructField("clip_id", IntegerType()),
        StructField("is_flac", IntegerType()),
        StructField("sample_rate", IntegerType()),
        StructField("channels", IntegerType()),
        StructField("bits_per_sample", IntegerType()),
        StructField("total_samples", LongType()),
        StructField("duration_ms", LongType()),
        StructField("n_blocks", IntegerType()),
        StructField("has_tags", IntegerType()),
    ]
)


def parse_flac_streaminfo(buf: bytes) -> dict:
    """Walk FLAC metadata blocks; decode STREAMINFO's packed word.
    Returns is_flac=0 sentinels for non-FLAC payloads. Audio frames
    (everything past the last metadata block) are never touched."""
    out = {
        "is_flac": 0, "sample_rate": -1, "channels": -1,
        "bits_per_sample": -1, "total_samples": -1, "duration_ms": -1,
        "n_blocks": 0, "has_tags": 0,
    }
    if buf[:4] != b"fLaC":
        return out
    out["is_flac"] = 1
    pos = 4
    while pos + 4 <= len(buf):
        hdr = buf[pos]
        btype = hdr & 0x7F
        blen = int.from_bytes(buf[pos + 1:pos + 4], "big")
        body = buf[pos + 4:pos + 4 + blen]
        out["n_blocks"] += 1
        if btype == 0 and len(body) >= 18:
            word = int.from_bytes(body[10:18], "big")
            sr = word >> 44
            ch = ((word >> 41) & 0x7) + 1
            bps = ((word >> 36) & 0x1F) + 1
            total = word & ((1 << 36) - 1)
            out.update(
                sample_rate=sr, channels=ch, bits_per_sample=bps,
                total_samples=total,
                duration_ms=total * 1000 // sr if sr else -1,
            )
        elif btype == 4:
            out["has_tags"] = 1
        pos += 4 + blen
        if hdr & 0x80:
            break
    return out


def flac_features(df: DataFrame, payload_col: str = "media") -> DataFrame:
    """Per-clip FLAC STREAMINFO harvest — header bytes only; the
    (gated) frame decoder is never invoked."""
    return _payload_rows(
        df, FLAC_SCHEMA, _dict_rows(parse_flac_streaminfo, FLAC_SCHEMA),
        payload_col,
    )


# ---------------------------------------------------------------------------
# MP4 / ISO-BMFF box structure (container routing without codec decode)
# ---------------------------------------------------------------------------


def _box(btype: bytes, body: bytes) -> bytes:
    return (8 + len(body)).to_bytes(4, "big") + btype + body


def synth_mp4_corpus(n: int = 10) -> list[dict]:
    """Deterministic ISO-BMFF containers: ftyp (major brand + 
    compatibles), moov holding an mvhd fullbox (timescale + duration)
    and 1-2 empty trak shells, and a small mdat. Sample data inside
    trak is absent by design — A/V codec decode is the gated
    production call; the container walk is what routing needs.
    Expected fields exist before the bytes are assembled."""
    out = []
    for i in range(n):
        if i % 5 == 4:
            out.append({
                "clip_id": i, "payload": b"RIFF\x10\x00\x00\x00WAVE",
                "is_bmff": 0, "major_brand": "", "timescale": -1,
                "duration_ms": -1, "n_traks": 0, "has_mdat": 0,
                "top_boxes": "",
            })
            continue
        brand = b"isom" if i % 2 == 0 else b"mp42"
        ftyp = _box(b"ftyp", brand + bytes(4) + b"isommp42")
        timescale = 1000 if i % 2 == 0 else 90000
        dur_units = timescale * (5 + i % 7) + i * (timescale // 1000)
        mvhd = _box(
            b"mvhd",
            bytes(4) + bytes(8)
            + timescale.to_bytes(4, "big") + dur_units.to_bytes(4, "big")
            + bytes(80),
        )
        n_traks = 1 + i % 2
        traks = b"".join(_box(b"trak", bytes(8)) for _ in range(n_traks))
        moov = _box(b"moov", mvhd + traks)
        mdat = _box(b"mdat", bytes(16 + i))
        out.append({
            "clip_id": i, "payload": ftyp + moov + mdat,
            "is_bmff": 1, "major_brand": brand.decode(),
            "timescale": timescale,
            "duration_ms": dur_units * 1000 // timescale,
            "n_traks": n_traks, "has_mdat": 1,
            "top_boxes": "ftyp|moov|mdat",
        })
    return out


MP4_SCHEMA = StructType(
    [
        StructField("clip_id", IntegerType()),
        StructField("is_bmff", IntegerType()),
        StructField("major_brand", StringType()),
        StructField("timescale", IntegerType()),
        StructField("duration_ms", LongType()),
        StructField("n_traks", IntegerType()),
        StructField("has_mdat", IntegerType()),
        StructField("top_boxes", StringType()),
    ]
)


def parse_mp4_boxes(buf: bytes) -> dict:
    """Walk top-level ISO-BMFF boxes; descend into moov for mvhd
    (timescale/duration) and trak counting. mdat bodies and every
    sample table are skipped — container facts only."""
    out = {
        "is_bmff": 0, "major_brand": "", "timescale": -1,
        "duration_ms": -1, "n_traks": 0, "has_mdat": 0, "top_boxes": "",
    }
    if len(buf) < 12 or buf[4:8] != b"ftyp":
        return out
    out["is_bmff"] = 1
    tops = []
    pos = 0
    while pos + 8 <= len(buf):
        size = int.from_bytes(buf[pos:pos + 4], "big")
        btype = buf[pos + 4:pos + 8]
        if size < 8 or pos + size > len(buf):
            break
        tops.append(btype.decode("ascii", "replace"))
        body = buf[pos + 8:pos + size]
        if btype == b"ftyp":
            out["major_brand"] = body[:4].decode("ascii", "replace")
        elif btype == b"mdat":
            out["has_mdat"] = 1
        elif btype == b"moov":
            ip = 0
            while ip + 8 <= len(body):
                isz = int.from_bytes(body[ip:ip + 4], "big")
                ityp = body[ip + 4:ip + 8]
                if isz < 8 or ip + isz > len(body):
                    break
                if ityp == b"mvhd":
                    fb = body[ip + 8:ip + isz]
                    ts = int.from_bytes(fb[12:16], "big")
                    du = int.from_bytes(fb[16:20], "big")
                    out["timescale"] = ts
                    out["duration_ms"] = du * 1000 // ts if ts else -1
                elif ityp == b"trak":
                    out["n_traks"] += 1
                ip += isz
        pos += size
    out["top_boxes"] = "|".join(tops)
    return out


def mp4_features(df: DataFrame, payload_col: str = "media") -> DataFrame:
    """Per-clip ISO-BMFF structure harvest — box headers only, no
    sample decode."""
    return _payload_rows(
        df, MP4_SCHEMA, _dict_rows(parse_mp4_boxes, MP4_SCHEMA), payload_col
    )


# ---------------------------------------------------------------------------
# Ogg identification headers (Opus/Vorbis properties without audio decode)
# ---------------------------------------------------------------------------


def synth_ogg_corpus(n: int = 10) -> list[dict]:
    """Deterministic first Ogg pages: OpusHead and Vorbis
    identification packets behind a real page header (BOS flag, one
    segment). CRC is zero — this parser reads structure and does not
    validate page checksums (a production demuxer would; the fields
    it returns ride before any audio packet either way). Expected
    fields exist before the bytes are assembled."""
    out = []
    for i in range(n):
        if i % 5 == 4:
            out.append({
                "clip_id": i, "payload": b"NotAnOggStream" + bytes(16),
                "kind": "other", "channels": -1, "sample_rate": -1,
                "pre_skip": -1, "serial": -1,
            })
            continue
        serial = 1000 + i
        if i % 2 == 0:
            ch, rate, preskip = 1 + i % 2, 48000, 312 + i
            pkt = (
                b"OpusHead" + bytes([1, ch])
                + preskip.to_bytes(2, "little")
                + rate.to_bytes(4, "little") + bytes(2) + bytes([0])
            )
            kind = "opus"
        else:
            ch, rate, preskip = 2, 44100 if i % 4 == 1 else 22050, -1
            pkt = (
                b"\x01vorbis" + bytes(4) + bytes([ch])
                + rate.to_bytes(4, "little") + bytes(12)
                + bytes([0xB8, 0x01])
            )
            kind = "vorbis"
        page = (
            b"OggS" + bytes([0, 0x02]) + bytes(8)
            + serial.to_bytes(4, "little") + bytes(4) + bytes(4)
            + bytes([1, len(pkt)]) + pkt
        )
        out.append({
            "clip_id": i, "payload": page, "kind": kind,
            "channels": ch, "sample_rate": rate, "pre_skip": preskip,
            "serial": serial,
        })
    return out


OGG_SCHEMA = StructType(
    [
        StructField("clip_id", IntegerType()),
        StructField("kind", StringType()),
        StructField("channels", IntegerType()),
        StructField("sample_rate", IntegerType()),
        StructField("pre_skip", IntegerType()),
        StructField("serial", LongType()),
    ]
)


def parse_ogg_head(buf: bytes) -> dict:
    """Read the first Ogg page's identification packet: OpusHead
    (channels, pre-skip, input sample rate) or the Vorbis id header
    (channels, rate). Audio packets are never touched."""
    out = {
        "kind": "other", "channels": -1, "sample_rate": -1,
        "pre_skip": -1, "serial": -1,
    }
    if buf[:4] != b"OggS" or len(buf) < 28:
        return out
    out["serial"] = int.from_bytes(buf[14:18], "little")
    nseg = buf[26]
    seg_table = buf[27:27 + nseg]
    pkt = buf[27 + nseg:27 + nseg + sum(seg_table)]
    if pkt[:8] == b"OpusHead" and len(pkt) >= 19:
        out.update(
            kind="opus", channels=pkt[9],
            pre_skip=int.from_bytes(pkt[10:12], "little"),
            sample_rate=int.from_bytes(pkt[12:16], "little"),
        )
    elif pkt[:7] == b"\x01vorbis" and len(pkt) >= 16:
        out.update(
            kind="vorbis", channels=pkt[11],
            sample_rate=int.from_bytes(pkt[12:16], "little"),
        )
    return out


def ogg_features(df: DataFrame, payload_col: str = "media") -> DataFrame:
    """Per-clip Ogg identification-header harvest — first page only,
    no audio decode."""
    return _payload_rows(
        df, OGG_SCHEMA, _dict_rows(parse_ogg_head, OGG_SCHEMA), payload_col
    )


# ---------------------------------------------------------------------------
# EXIF GPS IFD (location PII in image metadata)
# ---------------------------------------------------------------------------


def _exif_gps_app1(
    byte_order: bytes,
    lat_dms: tuple[int, int, int, int],
    lat_ref: str,
    lon_dms: tuple[int, int, int, int],
    lon_ref: str,
) -> bytes:
    """Serialize an EXIF APP1 whose IFD0 carries only the GPS-IFD
    pointer (0x8825); the GPS IFD holds LatitudeRef/Latitude/
    LongitudeRef/Longitude with the latitude/longitude as the
    spec's three RATIONALs (deg/1, min/1, sec_num/sec_den)."""
    e = "<" if byte_order == b"II" else ">"

    def entry(tag: int, typ: int, count: int, val4: bytes) -> bytes:
        return struct.pack(e + "HHI", tag, typ, count) + val4

    gps_off = 8 + 2 + 1 * 12 + 4
    lat_off = gps_off + 2 + 4 * 12 + 4
    lon_off = lat_off + 24

    def rat3(dms: tuple[int, int, int, int]) -> bytes:
        d, m, sn, sd = dms
        return struct.pack(e + "6I", d, 1, m, 1, sn, sd)

    ifd0 = struct.pack(e + "H", 1)
    ifd0 += entry(0x8825, 4, 1, struct.pack(e + "I", gps_off))
    ifd0 += struct.pack(e + "I", 0)
    gps = struct.pack(e + "H", 4)
    gps += entry(0x0001, 2, 2, lat_ref.encode("ascii") + b"\x00\x00\x00")
    gps += entry(0x0002, 5, 3, struct.pack(e + "I", lat_off))
    gps += entry(0x0003, 2, 2, lon_ref.encode("ascii") + b"\x00\x00\x00")
    gps += entry(0x0004, 5, 3, struct.pack(e + "I", lon_off))
    gps += struct.pack(e + "I", 0)
    tiff = (
        byte_order + struct.pack(e + "H", 42) + struct.pack(e + "I", 8)
        + ifd0 + gps + rat3(lat_dms) + rat3(lon_dms)
    )
    body = b"Exif\x00\x00" + tiff
    return b"\xff\xe1" + struct.pack(">H", len(body) + 2) + body


def _gps_microdeg(dms: tuple[int, int, int, int], ref: str) -> int:
    d, m, sn, sd = dms
    v = d * 1_000_000 + (m * 1_000_000) // 60 + (sn * 1_000_000) // (
        sd * 3600)
    return -v if ref in ("S", "W") else v


def synth_gps_corpus(n: int = 10) -> list[dict]:
    """Deterministic JPEGs with GPS EXIF: both byte orders, all four
    hemisphere refs, fractional-second rationals (sub-second
    precision is the building-level PII case), and a GPS-less
    control. Expected micro-degrees exist before any bytes are
    assembled (exact integer DMS fold, floor division)."""
    out = []
    for i in range(n):
        img = (
            (np.arange(256, dtype=np.int64) * 7 + i) % 256
        ).astype(np.uint8).reshape(16, 16)
        base = jpeg.encode(img, quality=80)
        if i % 5 == 4:
            out.append({
                "img_id": i, "payload": base, "has_gps": 0,
                "byte_order": "", "lat_microdeg": 0, "lon_microdeg": 0,
            })
            continue
        bo = b"II" if i % 2 == 0 else b"MM"
        lat = (37 + i % 3, 46 + i % 10, 3000 + i * 7, 100)
        lon = (122 + i % 2, 25, 1500 + i * 11, 100)
        lat_ref = "N" if i % 4 < 2 else "S"
        lon_ref = "W" if i % 4 in (0, 3) else "E"
        payload = base[:2] + _exif_gps_app1(
            bo, lat, lat_ref, lon, lon_ref) + base[2:]
        out.append({
            "img_id": i, "payload": payload, "has_gps": 1,
            "byte_order": bo.decode(),
            "lat_microdeg": _gps_microdeg(lat, lat_ref),
            "lon_microdeg": _gps_microdeg(lon, lon_ref),
        })
    return out


def parse_exif_gps(buf: bytes) -> dict:
    """Scan for the EXIF APP1, follow IFD0's GPS pointer (0x8825)
    and fold the DMS rationals into signed integer micro-degrees —
    the exact arithmetic twin of the construction, reached through
    the independent segment/IFD walk. has_gps=0 when the APP1 or
    the pointer is absent."""
    out = {
        "has_gps": 0, "byte_order": "", "lat_microdeg": 0,
        "lon_microdeg": 0,
    }
    if buf[:2] != b"\xff\xd8":
        return out
    pos = 2
    while pos + 4 <= len(buf):
        if buf[pos] != 0xFF:
            break
        marker = buf[pos + 1]
        if marker == 0x01 or 0xD0 <= marker <= 0xD8:
            pos += 2
            continue
        if marker == 0xDA:
            break
        seglen = int.from_bytes(buf[pos + 2:pos + 4], "big")
        if marker == 0xE1 and buf[pos + 4:pos + 10] == b"Exif\x00\x00":
            tiff = buf[pos + 10:pos + 2 + seglen]
            bo = tiff[:2]
            if bo not in (b"II", b"MM"):
                return out
            e = "<" if bo == b"II" else ">"
            ifd0_off = struct.unpack(e + "I", tiff[4:8])[0]
            ifd0 = _exif_walk_ifd(tiff, e, ifd0_off)
            if 0x8825 not in ifd0:
                return out
            gps = _exif_walk_ifd(tiff, e, int(ifd0[0x8825]))

            def rats(raw: bytes) -> list[tuple[int, int]]:
                return [
                    struct.unpack(e + "II", raw[k:k + 8])
                    for k in range(0, len(raw), 8)
                ]

            def microdeg(raw: bytes, ref: str) -> int:
                (d, dd), (m, md), (sn, sd) = rats(raw)
                v = (
                    (d * 1_000_000) // dd
                    + (m * 1_000_000) // (md * 60)
                    + (sn * 1_000_000) // (sd * 3600)
                )
                return -v if ref in ("S", "W") else v

            lat_ref = str(gps.get(0x0001, ""))
            lon_ref = str(gps.get(0x0003, ""))
            if 0x0002 in gps and 0x0004 in gps:
                out.update(
                    has_gps=1, byte_order=bo.decode(),
                    lat_microdeg=microdeg(gps[0x0002], lat_ref),
                    lon_microdeg=microdeg(gps[0x0004], lon_ref),
                )
            return out
        pos += 2 + seglen
    return out


GPS_SCHEMA = StructType(
    [
        StructField("img_id", IntegerType()),
        StructField("has_gps", IntegerType()),
        StructField("byte_order", StringType()),
        StructField("lat_microdeg", LongType()),
        StructField("lon_microdeg", LongType()),
    ]
)


def gps_features(df: DataFrame, payload_col: str = "media") -> DataFrame:
    """Per-image GPS-EXIF harvest — segment headers only, no entropy
    decode."""
    return _payload_rows(
        df, GPS_SCHEMA, _dict_rows(parse_exif_gps, GPS_SCHEMA), payload_col
    )
