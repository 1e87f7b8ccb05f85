"""WAV decode: roundtrips, 8-bit recentering, band sums, Spark stage."""

import io
import wave

import numpy as np
import pytest

from ocr_spark.operators import multimodal as mm


def test_roundtrip_16bit_stereo():
    rng = np.random.RandomState(5)
    a = rng.randint(-32768, 32768, size=(100, 2)).astype(np.int16)
    samples, rate = mm.decode_audio(mm.encode_wav(a, 22050), "wav")
    assert rate == 22050
    assert np.array_equal(samples, a)


def test_8bit_recentered_signed():
    # hand-write an 8-bit mono WAV via stdlib and check v-128 recentering
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(1)
        w.setframerate(8000)
        w.writeframes(bytes([0, 128, 255, 200]))
    samples, rate = mm.decode_audio(buf.getvalue(), "wav")
    assert rate == 8000
    assert samples[:, 0].tolist() == [-128, 0, 127, 72]


def test_band_abs_sums_matches_construction():
    corpus = mm.synth_wav_corpus()
    assert len(corpus) == 16
    for r in corpus:
        samples, rate = mm.decode_audio(r["payload"], "wav")
        assert rate == r["rate"]
        assert np.array_equal(samples, r["samples"])
        # uneven split: first n%8 bands get the extra sample
        n = r["samples"].shape[0]
        assert mm._band_lengths(n).sum() == n


def test_band_split_uneven_exact():
    a = np.arange(-5, 6, dtype=np.int16)[:, None]  # 11 samples
    sums = mm.wav_band_abs_sums(a)
    # array_split(11, 8) -> lens [2,2,2,1,1,1,1,1]; abs values
    # 5,4 | 3,2 | 1,0 | 1 | 2 | 3 | 4 | 5
    assert sums.tolist() == [9, 5, 1, 1, 2, 3, 4, 5]
    assert mm._band_lengths(11).tolist() == [2, 2, 2, 1, 1, 1, 1, 1]


def test_unsupported_width_rejected():
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(4)
        w.setframerate(8000)
        w.writeframes(b"\x00" * 16)
    with pytest.raises(ValueError, match="32-bit"):
        mm.decode_audio(buf.getvalue(), "wav")


def test_wav_features_stage(spark):
    corpus = mm.synth_wav_corpus(6)
    base = spark.createDataFrame(
        [(r["clip_id"], bytearray(r["payload"])) for r in corpus],
        "clip_id int, media binary",
    )
    out = mm.wav_features(base).collect()
    assert len(out) == 6 * mm.N_AUDIO_BANDS
    want = {
        (r["clip_id"], b): int(s)
        for r in corpus
        for b, s in enumerate(mm.wav_band_abs_sums(r["samples"]))
    }
    got = {(r.clip_id, r.band): r.abs_sum for r in out}
    assert got == want
    chans = {r.clip_id: r.n_channels for r in out}
    assert chans == {r["clip_id"]: r["samples"].shape[1] for r in corpus}


def test_audio_features_real_path(spark):
    corpus = mm.synth_wav_corpus(3)
    base = spark.createDataFrame(
        [(f"u{r['clip_id']}", bytearray(r["payload"])) for r in corpus],
        "url string, media binary",
    )
    out = mm.audio_features(base).collect()
    assert len(out) == 3 * mm.N_AUDIO_BANDS
    r0 = corpus[0]
    sums = mm.wav_band_abs_sums(r0["samples"])
    lens = mm._band_lengths(r0["samples"].shape[0])
    want0 = {b: s / max(1, ln) for b, (s, ln) in enumerate(zip(sums, lens))}
    got0 = {r.band: r.energy for r in out if r.url == "u0"}
    assert got0 == pytest.approx(want0)
