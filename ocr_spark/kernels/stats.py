"""Background estimation, vertical mean, and page statistics.

Cites: image_background misc.c:19-68; mean_y misc.c:153-178;
calc_statistics misc.c:196-270.

All recurrences are vectorized across the independent axis (whole rows
or columns move through numpy at once, for every page of a stack);
only the genuinely sequential axis is a Python loop, which is the same
asymptotic work the C does.
"""

from __future__ import annotations

import numpy as np

from ocr_spark.kernels.util import c_round

F32 = np.float32

# A float32 integer accumulation stays exact while |partial sum| < 2^24;
# bins whose total |increment| mass reaches this bound replay the C's
# sequential add order instead of using an exact bincount (patchable in
# tests to force the replay path on small images).
F32_EXACT_LIMIT = 2**24

# D[a, b] = (b - a)^2 over the 256x256 (lo, hi) pixel-pair grid
_PAIR_D2 = (np.arange(256, dtype=np.int64)[None, :] - np.arange(256)[:, None]) ** 2


def background(arr: np.ndarray, d: float) -> np.ndarray:
    """Morphological background by decaying max propagation (misc.c:19-68).

    Four sweeps: L->R and R->L per row, then top->down combine, then a
    bottom->up pass over the *rounded* intermediate. The decay factor
    follows the C float/double dance exactly: d = (float)(0.333/d);
    d = (float)exp(-d).

    Takes one (h, w) page or an (n, h, w) stack of same-shape pages:
    every sweep step is elementwise within a page, so a stack runs each
    sequential step once for all n pages, bit-exactly.
    """
    a = np.asarray(arr, dtype=F32)
    h, w = a.shape[-2:]
    dd = F32(np.float64(0.333) / np.float64(F32(d)))
    dec = F32(np.exp(-np.float64(dd)))

    # horizontal decaying max, both directions (misc.c:36-43);
    # vectorized over rows, sequential over x. Run on a (w, n, h) copy
    # so each step touches one contiguous slab instead of a strided
    # column — identical elementwise ops (bit-exact), ~20x less memory
    # latency.
    a3 = a.reshape(-1, h, w)
    n = len(a3)
    vt = np.ascontiguousarray(a3.transpose(2, 0, 1)).reshape(w, n * h)
    for x in range(1, w):
        np.maximum(vt[x], vt[x - 1] * dec, out=vt[x])
    for x in range(w - 2, -1, -1):
        np.maximum(vt[x], vt[x + 1] * dec, out=vt[x])
    # top->down combine with previous row's unrounded values
    # (misc.c:44-47), on an (h, n, w) copy for the same reason
    v = np.ascontiguousarray(vt.reshape(w, n, h).transpose(2, 1, 0)).reshape(h, n * w)
    for y in range(1, h):
        np.maximum(v[y], v[y - 1] * dec, out=v[y])
    out = c_round(v)
    # bottom->up pass (misc.c:53-64): v0 starts as the last row's
    # UNROUNDED values; each upper row re-reads its ROUNDED pass-1
    # output, maxes with below*dec, and is re-rounded. For non-negative
    # pages (every decoded scan) C round() == floor(x64 + 0.5), so the
    # sequential loop can skip c_round's sign branch — ~30% fewer numpy
    # launches on the one genuinely sequential axis. Both branches give
    # the same value on non-negative pixels, so one test per stack is
    # exact for every page in it.
    v0 = v[h - 1]
    if np.all(v[h - 1] >= 0) and np.all(out >= 0):
        for y in range(h - 2, -1, -1):
            v1 = np.maximum(out[y], v0 * dec)
            out[y] = np.floor(v1.astype(np.float64) + 0.5).astype(F32)
            v0 = v1
    else:
        for y in range(h - 2, -1, -1):
            v1 = np.maximum(out[y], v0 * dec)
            out[y] = c_round(v1)
            v0 = v1
    return np.ascontiguousarray(out.reshape(h, n, w).transpose(1, 0, 2), dtype=F32).reshape(a.shape)


def mean_y(arr: np.ndarray, d: int) -> np.ndarray:
    """Vertical running mean of window d via prefix sums (misc.c:153-178).

    Output row (y - d/2) = (S[y] - S[y-d]) / d for y >= d, where S is
    the float32 row prefix sum; other rows keep their original values.
    Operates on chan[1] only in the reference (misc.c:167).
    """
    a = np.asarray(arr, dtype=F32)
    h, w = a.shape
    out = a.copy()
    s = np.cumsum(a, axis=0, dtype=F32)  # S[y] = rows 0..y, float32 seq adds
    df = F32(d)
    for y in range(d, h):
        lo = s[y - d]  # ring slot holds S[y-d] (zeros-initialized ring)
        out[y - d // 2] = ((s[y] - lo) / df).astype(F32)
    return out


def _histograms(ai: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """calc_statistics' three float32 histograms (ha, hb, thr) of one
    (h, w) page of C `short` pixels.

    - the last row contributes w copies of its FIRST pixel to `ha`
      (the pointer never advances through the y==h-1 row, misc.c:223);
    - `thr`/`hb` accumulate in float32 in exact scan order
      (np.add.at applies updates sequentially).
    """
    h, w = ai.shape
    # area histogram: every pixel of rows 0..h-2 once, plus w copies of
    # the last row's first pixel
    ha = np.bincount(np.clip(ai[: h - 1].ravel(), 0, 255), minlength=256).astype(np.int64)
    ha[np.clip(ai[h - 1, 0], 0, 255)] += w
    ha = ha.astype(F32)

    # pair stats over (y,x) for y<h-1, x<w-1: horizontal then vertical
    ph, qh = ai[: h - 1, : w - 1], ai[: h - 1, 1:]
    pv, qv = ai[: h - 1, : w - 1], ai[1:, : w - 1]
    lo_h, hi_h = np.minimum(ph, qh), np.maximum(ph, qh)
    lo_v, hi_v = np.minimum(pv, qv), np.maximum(pv, qv)
    npairs = (h - 1) * (w - 1)

    _lazy: dict = {}

    def _interleaved():
        """(idx, thr_vals, hb_vals) in the C's exact per-pixel update
        order [h-lo, h-hi, v-lo, v-hi] — built only when needed (risky
        float32 bins, or pages with out-of-range pixel values)."""
        if _lazy:
            return _lazy["idx"], _lazy["thr"], _lazy["hb"]
        idx = np.empty(4 * npairs, dtype=np.int64)
        idx[0::4] = lo_h.ravel()
        idx[1::4] = hi_h.ravel()
        idx[2::4] = lo_v.ravel()
        idx[3::4] = hi_v.ravel()
        np.clip(idx, 0, 255, out=idx)
        dh = (hi_h.astype(np.int64) - lo_h) ** 2
        dv = (hi_v.astype(np.int64) - lo_v) ** 2
        thr_vals = np.empty(4 * npairs, dtype=F32)
        thr_vals[0::4] = dh.ravel()
        thr_vals[1::4] = -dh.ravel()
        thr_vals[2::4] = dv.ravel()
        thr_vals[3::4] = -dv.ravel()
        hb_vals = np.empty(4 * npairs, dtype=F32)
        hb_vals[0::4] = 1.0
        hb_vals[1::4] = -1.0
        hb_vals[2::4] = 1.0
        hb_vals[3::4] = -1.0
        _lazy.update(idx=idx, thr=thr_vals, hb=hb_vals)
        return idx, thr_vals, hb_vals

    # Exact integer accumulation, then float32 cast. hb gets +-1 at
    # (lo, hi); thr gets +-(hi-lo)^2 — BOTH are pure functions of the
    # (lo, hi) pair when every pixel is in [0, 255], so one 256x256
    # pair-count matrix M yields every histogram as a 256-element
    # marginal: hb = rowsum(M) - colsum(M), thr = rowsum(M.D) -
    # colsum(M.D) with D[a,b] = (b-a)^2. This replaces three
    # 4*npairs-element bincount passes with two npairs-element ones
    # (max |value| npairs*255^2 < 2^53: int64 exact). Out-of-range
    # pages (clip changes the bin but not d^2) take the general path.
    in_range = npairs == 0 or (
        int(ai.min()) >= 0 and int(ai.max()) <= 255
    )
    if in_range:
        code_h = lo_h.ravel().astype(np.int32) * 256 + hi_h.ravel()
        code_v = lo_v.ravel().astype(np.int32) * 256 + hi_v.ravel()
        m2 = (
            np.bincount(code_h, minlength=65536)
            + np.bincount(code_v, minlength=65536)
        ).reshape(256, 256)
        md = m2 * _PAIR_D2
        row_m, col_m = m2.sum(axis=1), m2.sum(axis=0)
        row_d, col_d = md.sum(axis=1), md.sum(axis=0)
        counts = row_m + col_m
        hb = (row_m - col_m).astype(F32)
        abs_sums = row_d + col_d
        thr = (row_d - col_d).astype(F32)
    else:
        idx, thr_vals, hb_vals = _interleaved()
        counts = np.bincount(idx, minlength=256)
        hb = np.bincount(
            idx, weights=hb_vals.astype(np.float64), minlength=256
        ).astype(F32)
        abs_sums = np.bincount(
            idx, weights=np.abs(thr_vals).astype(np.float64), minlength=256
        )
        thr = np.bincount(
            idx, weights=thr_vals.astype(np.float64), minlength=256
        ).astype(F32)

    def _ensure_idx16():
        """(npairs, 4) interleave of the pair bins in the C's exact
        per-pair update order [h-lo, h-hi, v-lo, v-hi] — one
        preallocated matrix with column assignments (measured ~40%
        cheaper than np.stack, which copies through a transposed
        intermediate). in_range-only callers, so the int16 lo/hi need
        no clip and index directly."""
        if "idx16m" not in _lazy:
            m = np.empty((npairs, 4), dtype=np.int16)
            m[:, 0] = lo_h.reshape(-1)
            m[:, 1] = hi_h.reshape(-1)
            m[:, 2] = lo_v.reshape(-1)
            m[:, 3] = hi_v.reshape(-1)
            _lazy["idx16m"] = m
            _lazy["idx16"] = m.reshape(-1)

    def _replay(slot_vals, nonzero_updates):
        """Sequential float32 replay, zero-pruned bit-exactly (r4,
        VERDICT r3 #5 — the replay was most of calc_statistics on
        text-edge pages): +-0.0 updates are exact identities under
        IEEE float32 add (partial sums here are never -0.0: they start
        at +0.0 and x + (-x) rounds to +0.0), so zero-valued d^2
        updates — every d==0 pair on a page's flat regions — drop out.
        Order among the SURVIVING updates is preserved because boolean
        compress of the raveled (npairs, 4) interleave keeps scan
        order. Pruning is by VALUE only: a risky-bin gather
        (risky[idx]) was measured costlier than the add.at it saved,
        and an argsort-based selective path lost even earlier — both
        removed. `nonzero_updates` is the exact survivor count (free
        from the m2 diagonal): below ~1/3 of the stream the compress
        pays for itself, above it the plain full replay is cheaper."""
        _ensure_idx16()
        vm = np.empty((npairs, 4), dtype=F32)
        for k, sv in enumerate(slot_vals):
            vm[:, k] = sv if np.isscalar(sv) else sv.reshape(-1)
        seq = np.zeros(256, dtype=F32)
        if nonzero_updates is not None and 3 * nonzero_updates < 4 * npairs:
            keepf = (vm != 0).reshape(-1)
            np.add.at(seq, _lazy["idx16"][keepf], vm.reshape(-1)[keepf])
        else:
            np.add.at(seq, _lazy["idx16"], vm.reshape(-1))
        return seq

    # float32 exactness guard (ADVICE r1): replay a bin in the C's
    # interleaved scan order when its sequential float32 adds could
    # round. The tight (in_range) trigger bounds the RUNNING sum, not
    # the total magnitude: bin b's prefix after k updates is
    # pos_k - neg_k with pos_k <= row[b] (all +updates: b as pair-lo)
    # and neg_k <= col[b] (all -updates: b as pair-hi), so every
    # partial is an integer with |.| <= max(row[b], col[b]); while
    # that bound is < 2^24 each float32 add is exact (two exact
    # integers, exact-representable sum), hence the sequential result
    # IS the integer marginal and no replay is needed — up to 2x
    # tighter than the old row+col total-magnitude test, and it is the
    # realistic-scan case (VERDICT r3 #5: the replay was ~10 of
    # calc_statistics' 16 ms on text-edge-heavy pages that the loose
    # trigger flagged spuriously). Out-of-range pages keep the
    # conservative totals form (no row/col split is computed there).
    if in_range:
        hb_risky = np.maximum(row_m, col_m) >= F32_EXACT_LIMIT
        thr_risky = np.maximum(row_d, col_d) >= F32_EXACT_LIMIT
    else:
        hb_risky = counts >= F32_EXACT_LIMIT
        thr_risky = abs_sums >= F32_EXACT_LIMIT
    if hb_risky.any() or thr_risky.any():
        if in_range:
            if thr_risky.any():
                # (hi-lo)^2 <= 255^2 is exact in float32, so the d^2
                # weights can be built float32-direct (no int64 pass)
                dh = hi_h.astype(F32)
                np.subtract(dh, lo_h, out=dh)
                np.multiply(dh, dh, out=dh)
                dv = hi_v.astype(F32)
                np.subtract(dv, lo_v, out=dv)
                np.multiply(dv, dv, out=dv)
                # exact survivor count: a d==0 pair has lo==hi, so its
                # two zero updates sit on the m2 diagonal
                surv = 4 * npairs - 2 * int(np.diagonal(m2).sum())
                seq = _replay((dh, -dh, dv, -dv), surv)
                thr[thr_risky] = seq[thr_risky]
            if hb_risky.any():
                # hb updates are +-1, never zero: full replay always
                seq = _replay((1.0, -1.0, 1.0, -1.0), None)
                hb[hb_risky] = seq[hb_risky]
        else:
            idx, thr_vals, hb_vals = _interleaved()
            if hb_risky.any():
                mask = hb_risky[idx]
                seq = np.zeros(256, dtype=F32)
                np.add.at(seq, idx[mask], hb_vals[mask])
                hb[hb_risky] = seq[hb_risky]
            if thr_risky.any():
                mask = thr_risky[idx]
                seq = np.zeros(256, dtype=F32)
                np.add.at(seq, idx[mask], thr_vals[mask])
                thr[thr_risky] = seq[thr_risky]
    return ha, hb, thr


def calc_statistics(arr: np.ndarray) -> dict | list[dict]:
    """The auto-threshold engine (misc.c:196-270).

    One pass over horizontally+vertically adjacent pixel pairs builds
    three histograms with a range-update trick (+1 at min bin, -1 at
    max bin, prefix-summed later): `ha` per-pixel area counts, `hb`
    border counts, `thr` squared-contrast-weighted counts. Returns
    {black, graythr, white, area, thickness, t}; pixel values are
    truncated to C `short` before binning.

    Takes one (h, w) page (returns the dict) or an (n, h, w) stack of
    same-shape pages (returns one dict per page). The histograms are
    built page by page (`_histograms`: its in-range test, fast path
    and replay gates are per-page decisions), and the threshold search
    and sums after them run across the stack.
    """
    a = np.asarray(arr, dtype=F32)
    h, w = a.shape[-2:]
    ai = a.reshape(-1, h, w).astype(np.int16)  # (short) truncation toward zero
    n = len(ai)
    pages = np.arange(n)
    ha, hb, thr = (np.stack(x) for x in zip(*(_histograms(p) for p in ai)))

    # prefix sums in float32 (cumul_vector, vector.c:72-78)
    thr_c = np.cumsum(thr, axis=1, dtype=F32)
    hb_c = np.cumsum(hb, axis=1, dtype=F32)
    t = np.argmax(thr_c, axis=1)  # index_of_max: first max (vector.c:214-222)

    graythr = (t / 255.0).astype(F32)
    border = hb_c[pages, t] * F32(0.8)
    ha_c = np.cumsum(ha, axis=1, dtype=F32)  # cumul_vector(ha) ran before use (misc.c:246)
    area = ha_c[pages, t]
    tf = t.astype(F32)
    with np.errstate(divide="ignore", invalid="ignore"):
        thickness = np.where(border != 0, F32(2) * area / border, F32(np.inf))
        # black sums the CUMULATIVE histogram over bins < t in float32
        # (misc.c:250-253): the float32 prefix sum at t, starting from 0
        black_acc = np.cumsum(np.c_[np.zeros((n, 1), F32), ha_c], axis=1, dtype=F32)[pages, t]
        # (t - black/area) evaluates in float, then /255.0 in double (misc.c:254)
        inner = np.where(area != 0, tf - black_acc / area, F32(0))
    black = (inner.astype(np.float64) / 255.0).astype(F32)
    # white subtracts the cumulative bins > t from 255*w*h - area*t in
    # float32 (misc.c:256-259): the same adds as one masked float32
    # cumsum (x - c == x + -c; the masked +0.0 adds are identities)
    white0 = (np.float64(255.0) * w * h - (area * tf).astype(np.float64)).astype(F32)
    tail = np.where(np.arange(256) > t[:, None], -ha_c, F32(0))
    white = np.cumsum(np.c_[white0, tail], axis=1, dtype=F32)[:, -1]
    denom = (w * h - area.astype(np.float64)) * 255.0
    with np.errstate(divide="ignore", invalid="ignore"):
        white = np.where(denom != 0, (white.astype(np.float64) / denom).astype(F32), F32(0))
    out = [
        {
            "black": float(black[i]),
            "graythr": float(graythr[i]),
            "white": float(white[i]),
            "area": float(area[i]),
            "thickness": float(thickness[i]),
            "t": int(t[i]),
        }
        for i in range(n)
    ]
    return out if a.ndim == 3 else out[0]
