"""Pointwise pixel ops — transcriptions of the reference's scalar maps.

Single-channel form: each function takes/returns a float32 (h, w)
array; `apply_gray_channels` lifts any of them over an image dict's
color channels (z=1..3) the way the C loops do.

Cites: contrast_image misc.c:106-151; divide misc.c:70-84; diff
misc.c:272-286; patch misc.c:288-302; darker misc.c:180-194; quantize
dithering.c:22-37; histogram misc.c:86-104.
"""

from __future__ import annotations

import numpy as np

from ocr_spark.kernels.util import c_round

F32 = np.float32


def apply_gray_channels(img: dict, fn, *args, **kw) -> dict:
    """Apply fn to channels 1..3 in place-sematics (returns new dict)."""
    chan = list(img["chan"])
    for z in (1, 2, 3):
        if chan[z] is not None:
            chan[z] = fn(chan[z], *args, **kw)
    out = dict(img)
    out["chan"] = chan
    return out


def contrast(arr: np.ndarray, black: float, white: float) -> np.ndarray:
    """Linear stretch with clamps (misc.c:106-151).

    black == white -> hard binary threshold (misc.c:111-121), which also
    takes one threshold per page of an (n, h, w) stack;
    white < black -> inverted ramp (misc.c:139-150).
    """
    a = np.asarray(arr, dtype=F32)
    black = np.asarray(black, dtype=F32)
    white = np.asarray(white, dtype=F32)
    if (white == black).all():
        thr = black[..., None, None] if black.ndim else black
        return np.where(a <= thr, F32(0), F32(255))
    black, white = F32(black), F32(white)
    m = F32(np.float64(255.0) / (np.float64(white) - np.float64(black)))
    q = F32(-m * black)
    ramp = a * m + q
    if black < white:
        return np.where(a <= black, F32(0), np.where(a >= white, F32(255), ramp)).astype(F32)
    return np.where(a >= black, F32(0), np.where(a <= white, F32(255), ramp)).astype(F32)


def binarize(arr: np.ndarray, thr) -> np.ndarray:
    """CLI `bin` (grafix.c:189-200): x*=255 if x<=1, then threshold.

    `thr` is one threshold, or one per page of an (n, h, w) stack."""
    thr = np.array(thr, dtype=F32)
    thr[thr <= 1] *= F32(255)
    return contrast(arr, thr, thr)


def divide(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """a / b * 255 — flat-field / background removal (misc.c:70-84)."""
    return ((np.asarray(a, F32) / np.asarray(b, F32)) * F32(255)).astype(F32)


def diff(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """a - b + 128, signed diff biased at mid-gray (misc.c:272-286)."""
    return (np.asarray(a, F32) - np.asarray(b, F32) + F32(128)).astype(F32)


def patch(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """a + b - 128, inverse of diff (misc.c:288-302)."""
    return (np.asarray(a, F32) + np.asarray(b, F32) - F32(128)).astype(F32)


def darker(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Pixelwise min (misc.c:180-194)."""
    return np.minimum(np.asarray(a, F32), np.asarray(b, F32))


def quantize(arr: np.ndarray, steps: float) -> np.ndarray:
    """round((v-128)*steps)/steps + 128 (dithering.c:22-37).

    Note: multiplies by steps (quantize) vs divides (dither) —
    dithering.c:34 vs :53.
    """
    a = np.asarray(arr, dtype=F32)
    steps = F32(steps)
    return (c_round((a - F32(128)) * steps) / steps + F32(128)).astype(F32)


def histogram(arr: np.ndarray) -> np.ndarray:
    """256-bin histogram with the reference's quirky binning
    (misc.c:86-104): v<0 -> bin 0, v>1 -> bin 255, else bin (int)v —
    so on 0..255 data nearly everything lands in bin 255 (latent bug,
    replicated faithfully; see `histogram_corrected`)."""
    a = np.asarray(arr, dtype=F32)
    bins = np.where(a < 0, 0, np.where(a > 1, 255, a.astype(np.int64)))
    return np.bincount(bins.ravel(), minlength=256).astype(F32)


def histogram_corrected(arr: np.ndarray) -> np.ndarray:
    """What the reference presumably intended: clamp to [0,255], int bins."""
    a = np.asarray(arr, dtype=F32)
    bins = np.clip(a, 0, 255).astype(np.int64)
    return np.bincount(bins.ravel(), minlength=256).astype(F32)


def fill_selection(img: dict, v0: float, v1: float, v2: float, v3: float) -> dict:
    """Set channels to constants where SEL (select.c:99-128).

    SEL==0 skip, ==1 overwrite, else alpha-blend p += s*(t-p);
    NaN value -> skip that channel; no SEL -> whole image.
    """
    vals = [v0, v1, v2, v3]
    chan = list(img["chan"])
    sel = chan[4] if len(chan) > 4 else None
    for z in range(4):
        if chan[z] is None or np.isnan(vals[z]):
            continue
        t = F32(vals[z])
        p = np.asarray(chan[z], F32)
        if sel is None:
            chan[z] = np.full_like(p, t)
        else:
            s = np.asarray(sel, F32)
            blended = (p + s * (t - p)).astype(F32)
            chan[z] = np.where(s == 0, p, np.where(s == 1, np.full_like(p, t), blended))
    out = dict(img)
    out["chan"] = chan
    return out


def draw_grid(arr: np.ndarray, stepx: int, stepy: int) -> np.ndarray:
    """Ruled-grid overlay (draw.c:3-28)."""
    a = np.asarray(arr, F32).copy()
    h, w = a.shape
    y = np.arange(h)[:, None]
    x = np.arange(w)[None, :]
    mask = (
        (y % (stepy * 10) == 0)
        | (x % (stepx * 10) == 0)
        | ((x % stepx == 0) & ((y + stepy // 4) % stepy < stepy // 2))
        | ((y % stepy == 0) & ((x + stepx // 4) % stepx < stepx // 2))
    )
    a[mask] = np.where(a[mask] < 128, F32(1), F32(0))
    return a
