"""The OCR chain over same-shape stacks of scans.

`ocr_pages` runs each kernel once per (n, h, w) stack; these tests pin
that a stack gives, bit for bit, what each page gives alone, and that
a scan the chain cannot read becomes an all-null feature row instead
of failing the batch.
"""

from __future__ import annotations

import numpy as np
import pytest

from ocr_spark.kernels import fixtures, pnm, pointwise, stats
from ocr_spark.operators import stages

F32 = np.float32


def _scan(h: int, w: int, key: int, seed: int = 7) -> bytes:
    return pnm.encode_gray(fixtures.shaded(h, w, seed, key))


def _assert_same(got, want):
    assert len(got) == len(want)
    for (gf, gb), (wf, wb) in zip(got, want):
        assert gf == wf
        if wb is None:
            assert gb is None
        else:
            assert gb.dtype == wb.dtype and gb.shape == wb.shape
            assert gb.tobytes() == wb.tobytes()


def _mixed_batch() -> list[bytes | None]:
    bufs: list[bytes | None] = []
    for shape in ((8, 8), (13, 17), (97, 129), (96, 128)):
        bufs += [_scan(*shape, key) for key in range(3)]
    bufs.insert(5, None)
    # a blank page has no edges, so its skew angle is 0
    bufs.insert(2, pnm.encode_gray(np.full((96, 128), 255, F32)))
    # a black band: background 0 there, so divide gives NaN pixels
    band = fixtures.shaded(96, 128, 7, 9)
    band[40:48] = 0
    bufs.append(pnm.encode_gray(band))
    return bufs


@pytest.fixture
def shapes_seen(monkeypatch):
    """Record the shape of every stack the chain runs on."""
    seen = []
    inner = stages._ocr_stack

    def spy(pages, bg_d, do_deskew):
        seen.append(pages.shape)
        return inner(pages, bg_d, do_deskew)

    monkeypatch.setattr(stages, "_ocr_stack", spy)
    return seen


def test_ocr_pages_equals_ocr_page(shapes_seen):
    bufs = _mixed_batch()
    want = [stages.ocr_page(b) for b in bufs]
    del shapes_seen[:]
    got = stages.ocr_pages(bufs)
    _assert_same(got, want)
    feats = [f for f, _ in got if f is not None]
    assert any(f["skew_deg"] == 0.0 for f in feats)
    assert any(f["skew_deg"] != 0.0 for f in feats)
    assert got[bufs.index(None)] == (None, None)
    # one stack per shape: the batch really ran stacked
    assert sorted(shapes_seen) == [(3, 8, 8), (3, 13, 17), (3, 97, 129), (5, 96, 128)]


def test_group_larger_than_byte_cap_is_chunked(monkeypatch, shapes_seen):
    bufs = _mixed_batch()
    want = [stages.ocr_page(b) for b in bufs]
    monkeypatch.setattr(stages, "STACK_BYTES", 2 * 4 * 96 * 128)
    del shapes_seen[:]
    _assert_same(stages.ocr_pages(bufs), want)
    assert sorted(s for s in shapes_seen if s[1:] == (96, 128)) == [
        (1, 96, 128), (2, 96, 128), (2, 96, 128)
    ]
    # a page above the cap runs alone
    assert (1, 97, 129) in shapes_seen


def test_ocr_pages_equals_ocr_page_on_replay_path(monkeypatch):
    """Every calc_statistics bin goes down the float32 replay."""
    monkeypatch.setattr(stats, "F32_EXACT_LIMIT", 1)
    bufs = _mixed_batch()
    _assert_same(stages.ocr_pages(bufs), [stages.ocr_page(b) for b in bufs])


def test_stack_with_pixels_outside_0_255():
    """Decoded scans stay in [0, 255]; the chain itself takes any float
    page, and pages out of range take calc_statistics' general path."""
    rng = np.random.default_rng(11)
    pages = [fixtures.shaded(40, 56, 7, k) for k in range(3)]
    pages.append(rng.normal(100, 200, (40, 56)).astype(F32))  # both sides
    pages.append(fixtures.shaded(40, 56, 7, 5) * F32(1.7))  # above 255
    stack = np.stack(pages)
    want = [stages._ocr_stack(p[None], 8.0, True)[0] for p in stack]
    _assert_same(stages._ocr_stack(stack, 8.0, True), want)


def test_calc_statistics_stack_matches_pages(monkeypatch):
    rng = np.random.default_rng(3)
    stack = np.stack([
        rng.integers(0, 256, (33, 41)).astype(F32),
        rng.normal(128, 300, (33, 41)).astype(F32),
        fixtures.shaded(33, 41, 7, 1),
    ])
    for limit in (stats.F32_EXACT_LIMIT, 1, 5000):
        monkeypatch.setattr(stats, "F32_EXACT_LIMIT", limit)
        assert stats.calc_statistics(stack) == [stats.calc_statistics(p) for p in stack]


def test_binarize_takes_one_threshold_per_page():
    stack = np.stack([fixtures.shaded(21, 34, 7, k) for k in range(3)])
    thr = [0.5, 140.0, 1.0]
    got = pointwise.binarize(stack, thr)
    want = np.stack([pointwise.binarize(p, t) for p, t in zip(stack, thr)])
    assert got.dtype == want.dtype and got.tobytes() == want.tobytes()


def test_background_stack_with_negative_values():
    rng = np.random.default_rng(5)
    stack = np.stack([
        rng.normal(0, 100, (21, 34)).astype(F32),
        fixtures.shaded(21, 34, 7, 2),
        -fixtures.shaded(21, 34, 7, 3),
    ])
    got = stats.background(stack, 8.0)
    want = np.stack([stats.background(p, 8.0) for p in stack])
    assert got.dtype == want.dtype and got.tobytes() == want.tobytes()


CORRUPT_SCANS = {
    "truncated": b"P5\n10 10\n255\n" + bytes(50),
    "bad_magic": b"Q5\n10 10\n255\n" + bytes(100),
    "zero_by_zero": b"P5\n0 0\n255\n",
    "one_row": b"P5\n10 1\n255\n" + bytes(range(10)),
}


@pytest.mark.parametrize("name", sorted(CORRUPT_SCANS))
def test_corrupt_scan_is_a_null_page(name):
    assert stages.ocr_page(CORRUPT_SCANS[name]) == (None, None)


def test_corrupt_scans_become_null_feature_rows(spark):
    import base64

    from pyspark.sql.types import (
        BinaryType, StringType, StructField, StructType, TimestampType,
    )

    from ocr_spark.functions.html_extract import extract_embedded_pnm
    from ocr_spark.operators.pipeline import extract_pages
    from ocr_spark.sources.corpus import pages_pylist

    rows = pages_pylist(8, seed=42, embed_scan=True, scan_shape=(64, 96))
    bad = {}
    for i, (name, payload) in zip((1, 3, 4, 6), sorted(CORRUPT_SCANS.items())):
        b64 = base64.b64encode(payload).decode("ascii")
        rows[i]["html"] = rows[i]["html"].replace(
            b'base64,', b"base64," + b64.encode("ascii") + b'" data-x="', 1
        )
        bad[rows[i]["url"]] = name
    for r in rows:
        if r["url"] in bad:
            assert extract_embedded_pnm(r["html"]) == CORRUPT_SCANS[bad[r["url"]]]
    schema = StructType([
        StructField("url", StringType()), StructField("warc_ts", TimestampType()),
        StructField("html", BinaryType()), StructField("text", StringType()),
        StructField("lang", StringType()),
    ])
    df = spark.createDataFrame([tuple(r.values()) for r in rows], schema).coalesce(1)
    out = {r.url: r for r in extract_pages(df).collect()}
    assert len(out) == len(rows)
    cols = ("scan_width", "scan_height", "graythr", "black", "white", "thickness",
            "skew_deg", "n_lines", "n_glyphs", "ink_ratio")
    for r in rows:
        got = out[r["url"]]
        assert got.extracted == r["text"]
        if r["url"] in bad:
            assert all(getattr(got, c) is None for c in cols), bad[r["url"]]
        else:
            feats, _ = stages.ocr_page(extract_embedded_pnm(r["html"]))
            assert (got.scan_width, got.scan_height) == (feats["width"], feats["height"])
            assert got.graythr == feats["graythr"] and got.n_glyphs == feats["n_glyphs"]
