"""Geometry: rotate / crop / split / shear / skew / deskew / margin.

Cites: image_rotate_90 transform.c:3-38; rotate_image transform.c:40-46;
splitx/y transform.c:48-98; image_crop transform.c:100-124; skew_image
transform.c:126-134; skew_score transform.c:136-155; detect_skew_image
transform.c:157-201; shearx transform.c:203-240; sheary
transform.c:242-311; find_margin transform.c:313-356.
"""

from __future__ import annotations

import math

import numpy as np

F32 = np.float32


def rotate_90(arr: np.ndarray, angle: int) -> np.ndarray:
    if angle in (90, -270):
        return np.ascontiguousarray(np.rot90(arr, -1))
    if angle in (180, -180):
        return np.ascontiguousarray(np.rot90(arr, 2))
    if angle in (270, -90):
        return np.ascontiguousarray(np.rot90(arr, 1))
    raise ValueError(f"rotate_90: unsupported angle {angle}")  # assert(0) in C


def rotate(arr: np.ndarray, angle: float) -> np.ndarray:
    """Rounds to the nearest multiple of 90 (transform.c:40-46).

    n == 0 hits assert(0) in the reference; we raise instead.
    """
    n = int(np.floor(abs(angle) / 90 + 0.5)) * (1 if angle >= 0 else -1)
    n = (int(math.fmod(n, 4))) * 90  # C % truncates toward zero
    return rotate_90(arr, n)


def crop(arr: np.ndarray, x1: int, y1: int, x2: int, y2: int) -> np.ndarray:
    h, w = arr.shape
    if x1 < 0 or x2 <= x1 or x2 > w:
        raise ValueError("crop: wrong x parameters")
    if y1 < 0 or y2 <= y1 or y2 > h:
        raise ValueError("crop: wrong y parameters")
    return np.ascontiguousarray(np.asarray(arr, F32)[y1:y2, x1:x2])


def splitx(arr: np.ndarray, x: float) -> tuple[np.ndarray, np.ndarray]:
    """1 page -> 2 pages at fraction x (x>1 means 1/x), transform.c:48-73."""
    if x <= 0 or x == 1:
        raise ValueError("splitx: x must be > 0 and != 1")
    if x > 1:
        x = 1 / x
    h, w = arr.shape
    w1 = int(w * F32(x))
    a = np.asarray(arr, F32)
    return np.ascontiguousarray(a[:, :w1]), np.ascontiguousarray(a[:, w1:])


def splity(arr: np.ndarray, y: float) -> tuple[np.ndarray, np.ndarray]:
    if y <= 0 or y == 1:
        raise ValueError("splity: y must be > 0 and != 1")
    if y > 1:
        y = 1 / y
    h, w = arr.shape
    h1 = int(h * F32(y))
    a = np.asarray(arr, F32)
    return np.ascontiguousarray(a[:h1]), np.ascontiguousarray(a[h1:])


def _nonzero(mask: np.ndarray) -> tuple[np.ndarray, ...]:
    """np.nonzero of a bool mask, via flat indices: the same indices in
    the same order, 2-3x faster on a page or a stack of pages."""
    return np.unravel_index(np.flatnonzero(mask), mask.shape)


def _per_page(arr: np.ndarray, t) -> tuple[np.ndarray, np.ndarray]:
    """An (h, w) page or (n, h, w) stack as an (n, h, w) float32 stack,
    and a per-page float32 parameter as an (n, 1) column."""
    a = np.asarray(arr, dtype=F32)
    h, w = a.shape[-2:]
    t = np.asarray(t, dtype=F32).reshape(-1, 1)
    assert np.all(np.abs(t) <= 1)
    return a.reshape(-1, h, w), t


def shearx(arr: np.ndarray, t) -> np.ndarray:
    """Horizontal shear: row y shifts by (y - h/2)*t with linear interp
    and edge replication (transform.c:203-240).

    Vectorized over the whole image: each output row reads only its own
    source row, shifted by a whole number of pixels, so two row-window
    gathers from an edge-padded copy + one float32 madd reproduce the
    per-row C loop bit-for-bit (identical elementwise ops). An
    (n, h, w) stack takes one `t` per page.
    """
    src, t = _per_page(arr, t)
    n, h, w = src.shape
    ys = np.arange(h)
    # dr = float32((y - h//2) * t), same scalar promotion as the C
    dr = ((ys - h // 2).astype(F32) * t).astype(F32)  # (n, h)
    di = np.floor(dr).astype(np.int32)
    df = (dr.astype(np.float64) - di).astype(F32)
    cb = df[..., None]
    ca = (F32(1) - df).astype(F32)[..., None]

    # source x = clip(x + di, 0, w-1), read as window di + p of each
    # row padded by p copies of its end pixels
    p = int(np.abs(di).max()) + 1
    win = np.lib.stride_tricks.sliding_window_view(
        np.pad(src, ((0, 0), (0, 0), (p, p)), mode="edge"), w, axis=2
    )
    page, row = np.arange(n)[:, None], ys[None, :]
    out = cb * win[page, row, di + p]
    out += ca * win[page, row, di + p - 1]

    # valid interpolation span per row: [max(0, 1-di), w-1 - max(di, 0)];
    # outside it the C replicates the edge interpolated value
    lo = np.maximum(0, 1 - di)
    hi = (w - 1) - np.maximum(di, 0)
    xs = np.arange(w)
    lo_c, hi_c = np.minimum(lo, w - 1)[..., None], np.maximum(hi, 0)[..., None]
    left = np.take_along_axis(out, lo_c, axis=2)
    right = np.take_along_axis(out, hi_c, axis=2)
    np.copyto(out, left, where=xs < lo_c)
    np.copyto(out, right, where=xs > hi_c)
    # degenerate rows (lo > w-1 or hi < 0: shift exceeds the width, the
    # C would read OOB / write nothing) keep the original row, matching
    # the per-row loop's no-op branches
    degen = (lo > w - 1) | (hi < 0)
    if degen.any():
        out[degen] = src[degen]
    return out.reshape(np.shape(arr))


def sheary(arr: np.ndarray, t) -> np.ndarray:
    """Vertical shear about the center column, two sweeps (down for the
    side shifting from below, up for the other) so it's in-place safe
    (transform.c:242-311). An (n, h, w) stack takes one `t` per page.

    Vectorized over the whole grid. The per-row loop was in-place safe
    because the down pass only reads rows >= y (still pristine when row
    y is written) and the up pass only reads rows <= y on the
    complementary columns — so EVERY read sees the original image, and
    column-window gathers from the pristine input reproduce it
    bit-for-bit (identical elementwise float32 ops). Both passes share
    the interpolation; they differ only where the source row leaves
    the page.
    """
    src, t = _per_page(arr, t)
    n, h, w = src.shape
    xs = np.arange(w)
    dr = ((w // 2 - xs) * t).astype(F32)  # (n, w)
    dy = np.floor(dr).astype(np.int32)
    df = (dr - dy.astype(F32)).astype(F32)  # dr - floor(dr), float32
    down_cols = np.where(t > 0, xs < w // 2, xs >= w // 2)

    # source row y + dy, clipped to the page: window dy + p of each
    # column padded by p copies of its end pixels; the work runs on
    # the (n, w, h) transpose, where each column is a contiguous row
    p = int(np.abs(dy).max()) + 2
    srct = np.ascontiguousarray(src.transpose(0, 2, 1))
    win = np.lib.stride_tricks.sliding_window_view(
        np.pad(srct, ((0, 0), (0, 0), (p, p)), mode="edge"), h, axis=2
    )
    page, col = np.arange(n)[:, None], xs[None, :]
    cur = win[page, col, dy + p]
    nxt = win[page, col, dy + p + 1]
    f = df[..., None]
    out = cur * (F32(1) - f)
    out += nxt * f

    y = np.arange(h, dtype=np.int32)
    # y+dy+1 past the bottom: the down pass (transform.c:264-280) keeps
    # the source pixel, or reads *(p+d) past the page — UB in the
    # reference; observed through a zero-padded allocation it reads
    # 0.0, which is the semantics we define. The up pass
    # (transform.c:284-306) keeps the pixel (d==0 asserted in C).
    k, x, yy = _nonzero(y >= (h - 1 - dy)[..., None])
    keep = np.where(yy + dy[k, x] <= h - 1, cur[k, x, yy], F32(0))
    out[k, x, yy] = np.where(down_cols[k, x], keep, srct[k, x, yy])
    # y+dy < 0 on an up column reads *(p+d+w); transform.c:298 reads it
    # even when y+dy+1 < 0 — UB in the reference; zero-padded
    # observation reads 0.0
    k, x, yy = _nonzero((y < -dy[..., None]) & ~down_cols[..., None])
    out[k, x, yy] = np.where(yy + dy[k, x] + 1 >= 0, nxt[k, x, yy], F32(0))
    return np.ascontiguousarray(out.transpose(0, 2, 1)).reshape(np.shape(arr))


def skew(arr: np.ndarray, angle_deg) -> np.ndarray:
    """Small-angle rotation as three shears (Paeth), transform.c:126-134.

    An (n, h, w) stack takes one angle per page."""
    angs = np.asarray(angle_deg, dtype=np.float64).reshape(-1)
    if np.any(np.abs(angs) > 45):
        raise ValueError("skew: angle must be between -45 and 45")
    a, b = [], []
    for deg in angs:
        ang = F32(np.float64(F32(deg)) * (math.pi / 180))
        b.append(F32(math.sin(np.float64(ang))))
        a.append(F32(np.float64(b[-1]) / (1 + math.cos(np.float64(ang)))))
    out = shearx(arr, a)
    out = sheary(out, b)
    return shearx(out, a)


def _skew_score_sparse(
    d: int, h: int, w: int, yy: np.ndarray, xx: np.ndarray, vals: np.ndarray
) -> float:
    """Sum of squared projection profile after virtual shear by d px
    end-to-end (transform.c:136-155), over the NONZERO gated pixels
    only. Bit-exact vs the dense scan: the accumulator starts at +0.0
    and every value is >= 0, so adding the skipped 0.0 entries is an
    exact float32 no-op; (yy, xx) come from np.nonzero (row-major), so
    surviving adds keep the C's scan order. The RMS gate typically
    zeroes ~90% of the edge image, and detect_skew calls this ~13
    times, so the sparse form is the difference between ~24 ms and
    ~3 ms per page."""
    v = np.zeros(h + w, dtype=F32)
    ad = abs(d)
    # segment boundaries: x < w*(i+1)/(|d|+1)  (integer division)
    bounds = np.array([(w * (i + 1)) // (ad + 1) for i in range(ad + 1)])
    seg = np.searchsorted(bounds, np.arange(w), side="right")
    if d >= 0:
        j = yy + seg[xx]
    else:
        j = yy + (w - seg[xx])
    np.add.at(v, j, vals)
    vv = v.astype(F32) * v.astype(F32)
    return float(np.cumsum(vv, dtype=F32)[-1])


def _skew_score(d: int, test: np.ndarray) -> float:
    """Dense wrapper kept for parity tests (transform.c:136-155)."""
    h, w = test.shape
    a = np.abs(test, dtype=F32)
    yy, xx = np.nonzero(a)
    return _skew_score_sparse(d, h, w, yy, xx, a[yy, xx])


def detect_skew(arr: np.ndarray) -> float:
    """Deskew detection (transform.c:157-201): horizontal-edge image,
    RMS gate, bracketing search over displacement maximizing the
    squared profile; returns degrees."""
    p = np.asarray(arr, dtype=F32)
    h, w = p.shape
    t_img = np.abs(p[: h - 1] - p[1:]).astype(F32)
    tt = (t_img * t_img).astype(F32)
    s = np.cumsum(tt.ravel(), dtype=F32)[-1]  # float32 sequential sum
    s = F32(math.sqrt(np.float64(s) / w / (h - 1)))
    test = np.where(t_img < s, F32(0), t_img)
    # sparse gated-edge representation, shared by every score call
    yy, xx = _nonzero(test != 0)
    vals = test[yy, xx]
    hh = h - 1

    def score(d: int) -> float:
        return _skew_score_sparse(d, hh, w, yy, xx, vals)

    def trunc_div3(x: int) -> int:
        return x // 3 if x >= 0 else -((-x) // 3)

    a = w // 10
    b = -a
    sa = score(a)
    sb = score(b)
    while abs(a - b) > 1:
        if sa > sb:
            b = trunc_div3(5 * a - 2 * b)
            sb = score(b)
        else:
            a = trunc_div3(5 * b - 2 * a)
            sa = score(a)
    if sb > sa:
        sa, a = sb, b
    if a == 0:
        t = F32(0)
    elif a > 0:
        t = F32(a + 1)
    else:
        t = F32(a - 1)
    return float(F32(math.atan(np.float64(F32(t / F32(w)))) * 180 / math.pi))


def deskew(arr: np.ndarray) -> tuple[np.ndarray, float]:
    """CLI deskew = detect + skew (grafix.c:283-287)."""
    ang = detect_skew(arr)
    return skew(arr, ang), ang


def find_margin(v: np.ndarray, w: int) -> int:
    """Projection-profile margin cut (transform.c:313-356): log scale,
    2-pass adaptive threshold, run-length scores, best cut position."""
    p = np.asarray(v, dtype=F32).copy()
    l = len(p)
    if w < 0 or w > l:
        raise ValueError("find_margin: invalid width")
    p = np.log((p + F32(1)).astype(np.float64)).astype(F32)  # p[i]+1 adds in f32
    t = F32(np.cumsum(p, dtype=F32)[-1] / F32(l))
    low = p <= t
    n1 = F32(low.sum())
    t1 = F32(np.cumsum(np.where(low, p, F32(0)), dtype=F32)[-1])
    t = F32((t + t1 / n1) / F32(2))
    # forward run lengths; forbidden positions get l+1
    j = 0
    for i in range(l):
        if p[i] > t:
            j = 0
            p[i] = F32(l + 1)
        else:
            j += 1
            p[i] = F32(j)
    j = 0
    for i in range(l - 1, -1, -1):
        if p[i] > l:
            j = 0
        else:
            j += 1
            p[i] = F32(p[i] - j)
    t = -l
    j = 0
    for i in range(0, l - w - 1):
        a = int(p[i])
        if a > l:
            continue
        b = int(p[i + w + 1])
        if b > l:
            continue
        a -= b
        p[i] = F32(a)
        if a > t:
            t, j = a, i
    i = j
    while i < l and p[i] == t:
        i += 1
    return (j + i) // 2
