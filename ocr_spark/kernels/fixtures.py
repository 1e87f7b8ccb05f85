"""Deterministic synthetic page images (FIXTURES.md §2).

All float32, seeded via np.random.default_rng(SeedSequence([...])) so
any worker can regenerate a page from (seed, key) without coordination
— that property is what makes distributed corpus generation (and
golden regeneration) embarrassingly parallel.
"""

from __future__ import annotations

import numpy as np


def grad(h: int = 64, w: int = 48) -> np.ndarray:
    """Horizontal+vertical linear gradient covering 0..255."""
    y = np.linspace(0.0, 127.0, h, dtype=np.float32)[:, None]
    x = np.linspace(0.0, 128.0, w, dtype=np.float32)[None, :]
    return np.ascontiguousarray((y + x).astype(np.float32))


def glyphs(
    h: int = 96,
    w: int = 128,
    seed: int = 42,
    key: int = 0,
    n_lines: int | None = None,
) -> np.ndarray:
    """White page with black text-like glyph boxes on a line grid.

    Returns (page, boxes) ground truth via `glyphs_with_boxes`; this
    wrapper returns just the page.
    """
    return glyphs_with_boxes(h, w, seed, key, n_lines)[0]


def glyphs_with_boxes(
    h: int = 96,
    w: int = 128,
    seed: int = 42,
    key: int = 0,
    n_lines: int | None = None,
) -> tuple[np.ndarray, list[tuple[int, int, int, int]]]:
    rng = np.random.default_rng([seed, key, h, w])
    page = np.full((h, w), 235.0, dtype=np.float32)
    page += rng.integers(0, 18, size=(h, w)).astype(np.float32)
    line_h = max(8, h // 8)
    if n_lines is None:
        n_lines = max(1, (h - 8) // (line_h + 4))
    boxes: list[tuple[int, int, int, int]] = []
    y = 6
    for _ in range(n_lines):
        if y + line_h >= h - 2:
            break
        x = 4
        while x < w - 8:
            gw = int(rng.integers(3, 9))
            gap = int(rng.integers(2, 5))
            if x + gw >= w - 2:
                break
            gh = int(rng.integers(line_h - 3, line_h))
            shade = float(rng.integers(5, 60))
            page[y : y + gh, x : x + gw] = shade
            boxes.append((x, y, x + gw, y + gh))
            x += gw + gap
        y += line_h + 4
    return np.ascontiguousarray(page), boxes


def shading_field(h: int, w: int, seed: int = 42, key: int = 0) -> np.ndarray:
    """Smooth multiplicative illumination field in [0.55, 1.0]."""
    rng = np.random.default_rng([seed, key, 7])
    cy, cx = rng.uniform(0.2, 0.8, 2)
    yy = (np.arange(h, dtype=np.float32)[:, None] / h - cy) ** 2
    xx = (np.arange(w, dtype=np.float32)[None, :] / w - cx) ** 2
    r2 = yy + xx
    field = 1.0 - 0.45 * (r2 / float(r2.max() if r2.max() > 0 else 1.0))
    return field.astype(np.float32)


def shaded(h: int = 96, w: int = 128, seed: int = 42, key: int = 0) -> np.ndarray:
    """Glyph page multiplied by a smooth illumination field."""
    page = glyphs(h, w, seed, key)
    return np.ascontiguousarray(page * shading_field(h, w, seed, key))


def noise(h: int = 64, w: int = 48, seed: int = 42, key: int = 0) -> np.ndarray:
    rng = np.random.default_rng([seed, key, 13])
    return rng.uniform(0.0, 255.0, size=(h, w)).astype(np.float32)


def rgba(h: int = 32, w: int = 24, seed: int = 42) -> dict:
    """4-channel PAM-style image with an alpha hole in the middle."""
    rng = np.random.default_rng([seed, 99])
    chan = [None] * 5
    chan[0] = np.full((h, w), 255.0, dtype=np.float32)
    chan[0][h // 4 : h // 2, w // 4 : w // 2] = 0.0
    for z in (1, 2, 3):
        chan[z] = rng.uniform(0, 255, size=(h, w)).astype(np.float32)
    return {"chan": chan, "width": w, "height": h}


def twopage(h: int = 96, w: int = 256, seed: int = 42, key: int = 0) -> np.ndarray:
    """Two glyph pages side by side with a center gutter."""
    half = (w - 12) // 2
    left = glyphs(h, half, seed, key * 2 + 1)
    right = glyphs(h, half, seed, key * 2 + 2)
    page = np.full((h, w), 245.0, dtype=np.float32)
    page[:, :half] = left
    page[:, half + 12 :] = right[:, : w - half - 12]
    return np.ascontiguousarray(page)
