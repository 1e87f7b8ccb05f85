"""Arrow-UDF stages wrapping the numpy kernels.

Design rules:
- an image travels the DataFrame as (img: binary little-endian float32,
  h: int, w: int) — decoded to (h, w) arrays only inside workers;
- the full OCR chain runs FUSED in one Arrow batch pass
  (`scan_features_udf` / `process_scan_udf` -> `ocr_pages`): one
  JVM->Python crossing per batch, kernels composed in-process. Inside
  the batch the decoded scans are grouped by shape and each group runs
  the chain as (n, h, w) stacks of at most STACK_BYTES of
  float32 pixels, so each kernel step costs one numpy call per stack
  rather than per page, and large scans still run one at a time. Every
  per-page decision (threshold, float32 replay, skew angle) stays per
  page: the output is bit-identical to running each page alone. A scan
  that does not decode gets an all-null feature row;
- individual kernels are still exposed via `apply_kernel` for
  composable use and for golden tests of the Spark plumbing itself;
- 1 row -> 2 rows (splitx) uses mapInArrow; N-ary darker-fold uses
  applyInPandas over a group key.

Kernel cites live in ocr_spark/kernels/*.
"""

from __future__ import annotations

from typing import Iterable, Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    StructField,
    StructType,
)

from ocr_spark.kernels import dither as kdither
from ocr_spark.kernels import geometry as kgeo
from ocr_spark.kernels import pnm as kpnm
from ocr_spark.kernels import pointwise as kpoint
from ocr_spark.kernels import scale as kscale
from ocr_spark.kernels import segment as kseg
from ocr_spark.kernels import select as ksel
from ocr_spark.kernels import solvers as ksol
from ocr_spark.kernels import stats as kstats
from ocr_spark.kernels import stencil as ksten

F32 = np.float32


def img_to_bytes(arr: np.ndarray) -> bytes:
    return np.ascontiguousarray(arr, dtype=F32).tobytes()


def bytes_to_img(buf: bytes, h: int, w: int) -> np.ndarray:
    return np.frombuffer(buf, dtype=F32, count=h * w).reshape(h, w)


# registry: name -> (fn(arr, *params) -> arr)
KERNELS = {
    "contrast": kpoint.contrast,
    "binarize": kpoint.binarize,
    "quantize": kpoint.quantize,
    "draw_grid": lambda a, sx, sy: kpoint.draw_grid(a, int(sx), int(sy)),
    "background": kstats.background,
    "fix_bg": lambda a, d: kpoint.divide(a, kstats.background(a, d)),
    "mean_y": lambda a, d: kstats.mean_y(a, int(d)),
    "convolve_3x3": ksten.convolve_3x3,
    "laplacian": lambda a, k: ksten.laplacian(a, k),
    "half": lambda a: kscale.half(a),
    "half_x": lambda a: kscale.half_x(a),
    "half_y": lambda a: kscale.half_y(a),
    "redouble": lambda a, ox, oy: kscale.redouble(a, int(ox), int(oy)),
    "double": kscale.double,
    "rotate_90": lambda a, ang: kgeo.rotate_90(a, int(ang)),
    "crop": lambda a, x1, y1, x2, y2: kgeo.crop(a, int(x1), int(y1), int(x2), int(y2)),
    "shearx": kgeo.shearx,
    "sheary": kgeo.sheary,
    "skew": kgeo.skew,
    "deskew": lambda a: kgeo.deskew(a)[0],
    "dither_floyd": kdither.floyd_bidir,
    "dither_cumulative": kdither.cumulative,
    "dither_blue_noise": kdither.blue_noise,
    # §2.6 inverse filters & PDE solvers (kernels/solvers.py)
    "deconvolve_3x1": lambda a, p, q, r, b: ksol.deconvolve_3x1(a, p, q, r, int(b)),
    "deconvolve_1x3": lambda a, p, q, r, b: ksol.deconvolve_1x3(a, p, q, r, int(b)),
    "deconvolve_3x3": lambda a, p, q, r, s, st, me: ksol.deconvolve_3x3(
        a, p, q, r, s, int(st), me
    ),
    "solve_poisson": lambda a, k, st, me: ksol.solve_poisson(
        np.full_like(a, 128.0), a, k, int(st), me
    ),
    # s-paste flow (grafix.c:459-463): laplacian then gradient-domain solve
    "s_paste": lambda a, k, st: ksol.solve_poisson(
        a.copy(), ksten.laplacian(a.copy(), k), k, int(st), 0.0
    ),
    # §2.4 selection ops composed with fill (select.c; pointwise.py)
    "fill_rect": lambda a, v, x0, y0, x1, y1, fill: _fill_rect(
        a, v, int(x0), int(y0), int(x1), int(y1), fill
    ),
}


def _fill_rect(a, v, x0, y0, x1, y1, fill):
    sel = ksel.select_rectangle(None, a.shape, v, x0, y0, x1, y1)
    img = {
        "chan": [None, a.copy(), None, None, sel],
        "width": a.shape[1],
        "height": a.shape[0],
    }
    return kpoint.fill_selection(img, np.nan, fill, np.nan, np.nan)["chan"][1]

IMG_SCHEMA = StructType(
    [
        StructField("img", BinaryType()),
        StructField("h", IntegerType()),
        StructField("w", IntegerType()),
    ]
)


def apply_kernel(df: DataFrame, name: str, *params: float,
                 img_col: str = "img", h_col: str = "h", w_col: str = "w") -> DataFrame:
    """Apply one named kernel to the image columns (Arrow-batched).

    Emits new (img, h, w) replacing the originals; all other columns
    pass through untouched (mapInArrow with column passthrough).
    """
    fn = KERNELS[name]
    in_schema = df.schema
    out_fields = [f for f in in_schema.fields if f.name not in (img_col, h_col, w_col)]
    out_schema = StructType(out_fields + list(IMG_SCHEMA.fields))

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            tbl = batch.to_pydict()
            imgs = tbl.pop(img_col)
            hs = tbl.pop(h_col)
            ws = tbl.pop(w_col)
            out_img, out_h, out_w = [], [], []
            for buf, h, w in zip(imgs, hs, ws):
                arr = fn(bytes_to_img(buf, h, w), *params)
                out_img.append(img_to_bytes(arr))
                out_h.append(arr.shape[0])
                out_w.append(arr.shape[1])
            tbl["img"] = out_img
            tbl["h"] = out_h
            tbl["w"] = out_w
            yield pa.RecordBatch.from_pydict(
                {f.name: tbl[f.name] for f in out_schema.fields},
                schema=pa.schema(
                    [pa.field(f.name, _pa_type(f)) for f in out_schema.fields]
                ),
            )

    return df.mapInArrow(run, out_schema)


def _pa_type(field) -> pa.DataType:
    m = {
        "binary": pa.binary(),
        "integer": pa.int32(),
        "long": pa.int64(),
        "double": pa.float64(),
        "string": pa.string(),
        "timestamp": pa.timestamp("us", tz="UTC"),
    }
    return m[field.dataType.typeName()]


# ---------------------------------------------------------------------------
# fused per-page OCR stage
# ---------------------------------------------------------------------------

SCAN_FEATURES_SCHEMA = StructType(
    [
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("graythr", DoubleType()),
        StructField("black", DoubleType()),
        StructField("white", DoubleType()),
        StructField("area", DoubleType()),
        StructField("thickness", DoubleType()),
        StructField("skew_deg", DoubleType()),
        StructField("n_lines", IntegerType()),
        StructField("n_glyphs", IntegerType()),
        StructField("ink_ratio", DoubleType()),
    ]
)


# Pages stack only up to this many bytes of float32 pixels, so a batch
# of large real scans still runs one page at a time. On a 4-CPU Xeon
# (2 MiB L2 per core), 96x128 pages ran the chain ~8% faster per page
# in 1.5-2.25 MiB stacks than in 7 MiB ones.
STACK_BYTES = 2 << 20


def _decode_scan(pnm_bytes: bytes | None) -> np.ndarray | None:
    """The scan as an (h, w) page, or None for a missing scan, one that
    does not decode, or one too small for the chain (fewer than two
    rows or no columns)."""
    if pnm_bytes is None:
        return None
    try:
        page = kpnm.decode_gray(bytes(pnm_bytes))
    except (ValueError, KeyError):
        return None
    h, w = page.shape
    return page if h >= 2 and w >= 1 else None


def _ocr_stack(pages: np.ndarray, bg_d: float, do_deskew: bool) -> list[tuple[dict, np.ndarray]]:
    """The chain over an (n, h, w) stack of same-shape pages; every
    kernel keeps its per-page decisions (threshold, replay, angle)."""
    n, h, w = pages.shape
    flat = kpoint.divide(pages, kstats.background(pages, bg_d))
    stats = kstats.calc_statistics(flat)
    binp = kpoint.binarize(flat, [s["graythr"] for s in stats])
    angles = np.zeros(n)
    if do_deskew:
        # per page: stacking its bracketing search saved nothing on the
        # whole chain, and a lockstep search costs more at n = 1
        angles = np.array([kgeo.detect_skew(p) for p in binp])
        tilted = np.flatnonzero(angles != 0.0)
        if len(tilted):
            # re-threshold the interpolated gray
            binp[tilted] = kpoint.binarize(kgeo.skew(binp[tilted], angles[tilted]), 0.5)
    layouts = kseg.page_layout(binp)
    out = []
    for s, angle, lay, page in zip(stats, angles, layouts, binp):
        feats = {
            "width": w,
            "height": h,
            "graythr": s["graythr"],
            "black": s["black"],
            "white": s["white"],
            "area": s["area"],
            "thickness": s["thickness"],
            "skew_deg": float(angle),
            "n_lines": lay["n_lines"],
            "n_glyphs": lay["n_glyphs"],
            "ink_ratio": lay["ink_ratio"],
        }
        out.append((feats, page))
    return out


def ocr_pages(scans: Iterable[bytes | None], bg_d: float = 8.0,
              do_deskew: bool = True) -> list[tuple]:
    """The fused numeric chain over a batch of PNM scans (pure: the
    same result in any process):

    decode PNM -> fix-bg (background estimate + divide, misc.c:19-84)
    -> calc_statistics (misc.c:196-270) -> bin auto (grafix.c:189-200)
    -> detect_skew + skew (transform.c:126-201) -> re-binarize ->
    line bands + CCL glyph boxes.

    Returns one (features dict, binary page) per scan, in order, or
    (None, None) for a missing or undecodable scan. Decoded pages are
    grouped by shape and each group runs the chain as (n, h, w) stacks
    of at most STACK_BYTES, so the interpreter cost of each kernel
    step is paid per stack, not per page; the results are bit-identical
    to running each page alone.
    """
    pages = [_decode_scan(b) for b in scans]
    out: list[tuple] = [(None, None)] * len(pages)
    groups: dict[tuple[int, int], list[int]] = {}
    for i, page in enumerate(pages):
        if page is not None:
            groups.setdefault(page.shape, []).append(i)
    for (h, w), idx in groups.items():
        step = max(1, STACK_BYTES // (4 * h * w))
        for lo in range(0, len(idx), step):
            chunk = idx[lo : lo + step]
            stack = np.stack([pages[i] for i in chunk])
            for i, res in zip(chunk, _ocr_stack(stack, bg_d, do_deskew)):
                out[i] = res
    return out


def ocr_page(pnm_bytes: bytes | None, bg_d: float = 8.0, do_deskew: bool = True):
    """`ocr_pages` over one scan: (features dict, binary page), or
    (None, None) for a missing or undecodable scan."""
    return ocr_pages([pnm_bytes], bg_d, do_deskew)[0]


@F.pandas_udf(SCAN_FEATURES_SCHEMA)
def scan_features_udf(scan: pd.Series) -> pd.DataFrame:
    null = {f.name: None for f in SCAN_FEATURES_SCHEMA.fields}
    return pd.DataFrame([feats or null for feats, _ in ocr_pages(scan)])


@F.pandas_udf(BinaryType())
def process_scan_udf(scan: pd.Series) -> pd.Series:
    """Full chain, returning the processed page as PNM bytes (goldens)."""
    return pd.Series(
        [kpnm.encode_gray(binp) if binp is not None else None for _, binp in ocr_pages(scan)]
    )


# ---------------------------------------------------------------------------
# 1 -> 2 rows: double-page split (transform.c:48-73)
# ---------------------------------------------------------------------------

def split_scans(df: DataFrame, frac: float = 0.5,
                img_col: str = "img", h_col: str = "h", w_col: str = "w") -> DataFrame:
    """splitx every page at `frac`: each row becomes two rows with
    side = 0 (left, pag) and 1 (right, pag+1)."""
    in_fields = [f for f in df.schema.fields if f.name not in (img_col, h_col, w_col)]
    out_schema = StructType(
        in_fields + list(IMG_SCHEMA.fields) + [StructField("side", IntegerType())]
    )

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            tbl = batch.to_pydict()
            imgs = tbl.pop(img_col)
            hs = tbl.pop(h_col)
            ws = tbl.pop(w_col)
            out: dict[str, list] = {f.name: [] for f in out_schema.fields}
            for i, (buf, h, w) in enumerate(zip(imgs, hs, ws)):
                left, right = kgeo.splitx(bytes_to_img(buf, h, w), frac)
                for side, half in ((0, left), (1, right)):
                    for f in in_fields:
                        out[f.name].append(tbl[f.name][i])
                    out["img"].append(img_to_bytes(half))
                    out["h"].append(half.shape[0])
                    out["w"].append(half.shape[1])
                    out["side"].append(side)
            yield pa.RecordBatch.from_pydict(
                {f.name: out[f.name] for f in out_schema.fields},
                schema=pa.schema([pa.field(f.name, _pa_type(f)) for f in out_schema.fields]),
            )

    return df.mapInArrow(run, out_schema)


# ---------------------------------------------------------------------------
# N-ary darker fold (misc.c:180-194; CLI fold grafix.c:273-281)
# ---------------------------------------------------------------------------

def darker_fold(df: DataFrame, key_col: str,
                img_col: str = "img", h_col: str = "h", w_col: str = "w") -> DataFrame:
    """groupBy(key).pixelwise-min over same-shaped images (UDAF via
    applyInPandas; map-side nothing to combine — one shuffle on key)."""
    out_schema = StructType(
        [df.schema[key_col]] + list(IMG_SCHEMA.fields)
    )

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        h = int(pdf[h_col].iloc[0])
        w = int(pdf[w_col].iloc[0])
        acc = None
        for buf in pdf[img_col]:
            arr = bytes_to_img(buf, h, w)
            acc = arr if acc is None else kpoint.darker(acc, arr)
        return pd.DataFrame(
            {key_col: [pdf[key_col].iloc[0]], "img": [img_to_bytes(acc)], "h": [h], "w": [w]}
        )

    return df.groupBy(key_col).applyInPandas(fold, out_schema)
