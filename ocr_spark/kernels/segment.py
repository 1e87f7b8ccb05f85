"""Layout segmentation: projection-profile line cuts + glyph boxes.

Generalizes the reference's projection-profile machinery — skew_score
profiles (transform.c:136-155) and mean_y smoothing (misc.c:153-178) —
into line segmentation over a binarized page, plus CCL glyph boxes.
"""

from __future__ import annotations

import numpy as np

from ocr_spark.kernels import ccl


def dark_mask(binary_page: np.ndarray) -> np.ndarray:
    """After `bin auto` (contrast threshold) ink is 0, paper 255."""
    return np.asarray(binary_page) < 128


def line_bands(
    binary_page: np.ndarray, min_gap: int = 1, min_height: int = 3
) -> list[tuple[int, int]] | list[list[tuple[int, int]]]:
    """Text-line bands from the horizontal dark-pixel profile.

    A line is a maximal run of rows whose dark count exceeds 2% of the
    page width; bands separated by fewer than min_gap background rows
    are merged; bands shorter than min_height rows (shear/deskew edge
    artifacts, speckle) are dropped. An (n, h, w) stack returns one
    band list per page.
    """
    m = dark_mask(binary_page)
    h, w = m.shape[-2:]
    profile = m.reshape(-1, h, w).sum(axis=2)
    thr = max(1, int(0.02 * w))
    on = np.zeros((len(profile), h + 2), dtype=np.int8)
    on[:, 1:-1] = profile >= thr
    # the zero padding closes every band, so each page's edges
    # alternate start, end
    pg, y = np.nonzero(np.diff(on, axis=1))
    out: list[list[tuple[int, int]]] = [[] for _ in range(len(profile))]
    for k, y0, y1 in zip(pg[::2].tolist(), y[::2].tolist(), y[1::2].tolist()):
        out[k].append((y0, y1))
    for k, bands in enumerate(out):
        if min_gap > 1 and bands:
            merged = [bands[0]]
            for y0, y1 in bands[1:]:
                if y0 - merged[-1][1] < min_gap:
                    merged[-1] = (merged[-1][0], y1)
                else:
                    merged.append((y0, y1))
            bands = merged
        out[k] = [(y0, y1) for y0, y1 in bands if y1 - y0 >= min_height]
    return out if m.ndim == 3 else out[0]


def glyph_boxes(binary_page: np.ndarray, min_area: int = 2):
    """CCL bounding boxes of ink components (one list per page of a stack)."""
    return ccl.label_boxes(dark_mask(binary_page), min_area=min_area)


def page_layout(binary_page: np.ndarray) -> dict | list[dict]:
    """Full layout summary used by the pipeline output schema (one dict
    per page of an (n, h, w) stack)."""
    a = np.asarray(binary_page)
    stack = a.reshape(-1, *a.shape[-2:])
    bands = line_bands(stack)
    boxes = glyph_boxes(stack)
    ink = dark_mask(stack).sum(axis=(1, 2)) / stack[0].size  # == each page's mask.mean()
    out = [
        {
            "n_lines": len(bands[k]),
            "n_glyphs": len(boxes[k]),
            "ink_ratio": float(ink[k]),
            "bands": bands[k],
            "boxes": boxes[k],
        }
        for k in range(len(stack))
    ]
    return out if a.ndim == 3 else out[0]
