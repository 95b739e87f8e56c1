"""Pixel-payload raster operators — the Arrow/mapInPandas tier.

The tile table carries packed pixel windows as ``binary`` columns
(row-major, dtype-tagged), the engine analog of the reference's
``Raster[MultibandTile]`` (SURVEY.md §1.1).

Two drivers. Every narrow per-tile operator here, in ``render.py`` and in
``local.py``, and every narrow loop over tile or tile-state rows of the
other raster operators (the contour fan-out, the region and vectorize
scans, viewshed's z planes and pair partials, cost_distance's round 0 and
rollup, ``focal``'s halo-piece cut and its flow / fill rollups, the
kriging surface, ``sources.geotiff.per_tile_checksum``) is a module-level
numpy kernel ``k_<op>(row, **params)`` bound with ``functools.partial``
and run by :func:`map_tiles` — ONE ``mapInPandas`` stage that owns the
Arrow batch loop, the ``px`` unpack/pack and the row assembly
(:func:`tile_batch`). The kernel gets a row as a dict with ``px``
unpacked and returns a dict (one row), a list of dicts (fan-out) or None
(no row). A payload unpacks to ``h`` x ``w`` when its row carries them (a
window), else to the square its byte length gives; a ``tile_size``
argument places keys and windows, never the unpack. Any other binary
state column (``cost``, ``chosen``, ``acc``, ...) reaches the kernel as
bytes and the kernel unpacks it. Kernels compose in Python, so a
reproject∘resample∘convert chain (:func:`k_warp`) costs a single Arrow
hop — the engine's version of GDAL warp-option fusion
(/root/reference/gdal/.../GDALRasterSource.scala:114-126, SURVEY.md §2.4).

Every operator that reduces a STACK of co-keyed tiles — the temporal
family over source_idx and the cross-band combiners of ``local.py`` —
is a module-level ``k_<op>(stack, valid, key, **params)`` run by
:func:`stack_tiles`, the grouped sibling: ONE ``groupBy(keys)
.applyInPandas`` stage whose group body (:func:`stack_group`) orders the
planes by ``source_idx``, unpacks them to a float64 ``(T, t, t)`` stack
with its :func:`valid_px` mask, and assembles the rows. ``key`` holds
each grouping column's value and, as an array in plane order, every
other column but ``px``. A stack kernel returns what a tile kernel
returns.

The eight scene-or-distributed operators solve small scenes on
``focal.scene_tiles``, the scene driver: ONE ``groupBy(source_id, band)
.applyInPandas`` stage whose group body (``focal.scene_group``) assembles
the scene's mosaic and runs a module-level ``k_<op>_scene(z, r0, c0,
key, **params)`` kernel; its rows go through :func:`_records`.

Grouped bodies that keep their own ``applyInPandas``: merge, the retile
and overview assembles (:func:`_paste`), the polygon burn and the point
stamps here; contour's grid assemble; ``focal_map``'s stencil, the
halo-round relax and the contraction resolve in ``focal`` (with the
halo-round strip cut, which ``halo_rounds`` owns); viewshed's per-tile
reduce; the vectorize ring trace.

One NoData rule (:func:`valid_px`): a pixel is valid iff it is not NaN
and not EXACTLY the tile's nodata — the rule the SQL oracles spell
``val <> nodata``. Every NoData test in ``operators/`` goes through it.

Semantics ported from observable reference behavior:
  - convert: dtype cast with unsigned-byte clamp+round
    (/root/reference/gdal/.../GDALRasterSource.scala:128-151).
  - resample: nearest-neighbor grid sampling, target grid given explicitly
    (/root/reference/vlm/.../geotiff/GeoTiffResampleRasterSource.scala:116-141).
  - reproject: per-window back-transform of target pixel centers into source
    coordinates, gather-sample (nearest), mask outside the source footprint
    (/root/reference/vlm/.../geotiff/GeoTiffReprojectRasterSource.scala:118-155).
  - merge: first-non-NoData wins per PIXEL, left-biased by source order
    (/root/reference/vlm/.../effect/MosaicRasterSource.scala:121-131).
  - read_cells checksum: force-evaluate every pixel and aggregate
    (/root/reference/gdal/src/it/.../SubsceneReadingIT.scala:51).
"""

from __future__ import annotations

import math
from collections.abc import Callable, Iterator
from functools import lru_cache, partial

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from geotrellis_contrib_spark import geom as GM
from geotrellis_contrib_spark import grid as G
from geotrellis_contrib_spark.grid import TILE_SIZE

DTYPES = {"uint8": np.uint8, "int16": np.int16, "int32": np.int32,
          "float32": np.float32, "float64": np.float64}

TILE_SCHEMA = ("source_id string, zoom int, col bigint, row bigint, band int, "
               "dtype string, nodata double, px binary")


def pack(arr: np.ndarray) -> bytes:
    return np.ascontiguousarray(arr).tobytes()


def unpack(blob: bytes, dtype: str, size: int = TILE_SIZE) -> np.ndarray:
    return np.frombuffer(blob, dtype=DTYPES[dtype]).reshape(size, size)


def valid_px(arr: np.ndarray, nodata: float) -> np.ndarray:
    """The raster tier's one NoData rule: valid iff not NaN and not
    exactly ``nodata`` (a NaN nodata leaves only the NaN test)."""
    return ~np.isnan(arr) & (arr != nodata)


def qsum(values: np.ndarray, mask: np.ndarray, scale: float = 1048576.0) -> int:
    """Quantize-first checksum over the ``mask`` cells: floor(v * scale
    + 0.5) as int64, then an INTEGER sum (order-independent)."""
    return int(np.floor(values[mask] * scale + 0.5).astype(np.int64).sum())


def pixel_centers(xmin: float, ymin: float, xmax: float, ymax: float,
                  t: int) -> tuple[np.ndarray, np.ndarray]:
    """(gx, gy) lon/lat grids of a t x t tile's pixel centers, linear in
    degrees within the tile (row 0 at ``ymax``)."""
    base = np.arange(t) + 0.5
    return np.meshgrid(xmin + base * (xmax - xmin) / t,
                       ymax - base * (ymax - ymin) / t)


# ---------------------------------------------------------------------------
# numpy kernels (pure; unit-tested against goldens)
# ---------------------------------------------------------------------------

def k_convert(arr: np.ndarray, nodata: float, target: str) -> np.ndarray:
    """Cell-type conversion with the GDAL byte rule: round then clamp to the
    target integer range (GDALRasterSource.scala:128-151 clamping caveat)."""
    t = DTYPES[target]
    if np.issubdtype(t, np.integer):
        info = np.iinfo(t)
        out = np.clip(np.rint(arr.astype(np.float64)), info.min, info.max)
        return out.astype(t)
    return arr.astype(t)


def k_resample_nearest(arr: np.ndarray, out_rows: int, out_cols: int) -> np.ndarray:
    """Nearest-neighbor resample to (out_rows, out_cols): sample source at
    target pixel centers mapped into source pixel space."""
    rows, cols = arr.shape
    rr = np.floor((np.arange(out_rows) + 0.5) * rows / out_rows).astype(np.int64)
    cc = np.floor((np.arange(out_cols) + 0.5) * cols / out_cols).astype(np.int64)
    rr = np.clip(rr, 0, rows - 1)
    cc = np.clip(cc, 0, cols - 1)
    return arr[np.ix_(rr, cc)]


def k_resample_bilinear(arr: np.ndarray, out_rows: int, out_cols: int) -> np.ndarray:
    """Bilinear resample (the reference's Bilinear ResampleMethod option,
    RasterSourceF.scala:45): sample at target pixel centers with 2x2
    neighborhood interpolation, edge-clamped. float64 out."""
    rows, cols = arr.shape
    a = arr.astype(np.float64)
    fr = (np.arange(out_rows) + 0.5) * rows / out_rows - 0.5
    fc = (np.arange(out_cols) + 0.5) * cols / out_cols - 0.5
    r0 = np.clip(np.floor(fr).astype(np.int64), 0, rows - 1)
    c0 = np.clip(np.floor(fc).astype(np.int64), 0, cols - 1)
    r1 = np.clip(r0 + 1, 0, rows - 1)
    c1 = np.clip(c0 + 1, 0, cols - 1)
    wr = np.clip(fr - r0, 0.0, 1.0).reshape(-1, 1)
    wc = np.clip(fc - c0, 0.0, 1.0).reshape(1, -1)
    top = a[np.ix_(r0, c0)] * (1 - wc) + a[np.ix_(r0, c1)] * wc
    bot = a[np.ix_(r1, c0)] * (1 - wc) + a[np.ix_(r1, c1)] * wc
    return top * (1 - wr) + bot * wr


def _sep_weights(frac: np.ndarray, kind: str) -> tuple[np.ndarray, np.ndarray]:
    """Separable convolution taps for one axis: given the fractional
    position ``frac`` in [0,1) relative to the left-of-center source
    pixel r0, return (offsets, weights) with shapes (n, taps). Kernels
    (all public formulas):

    * ``cubic`` — Keys (1981) cubic convolution, a = -0.5 (GDAL's
      'cubic'): w(x) = (a+2)|x|^3-(a+3)|x|^2+1 for |x|<=1,
      a(|x|^3-5|x|^2+8|x|-4) for 1<|x|<2. Interpolating (reproduces
      affine ramps exactly).
    * ``cubicspline`` — cubic B-spline basis (GDAL's 'cubicspline'):
      w(x) = (3|x|^3-6|x|^2+4)/6 for |x|<=1, (2-|x|)^3/6 for 1<|x|<2.
      Approximating (smooths), weights always sum to 1.
    * ``lanczos`` — Lanczos a=3 windowed sinc, 6 taps, weights
      normalized to sum 1 (the GDAL convention, which keeps constants
      constant).
    """
    if kind == "lanczos":
        offs = np.arange(-2, 4)  # r0-2 .. r0+3
        x = np.abs(frac[:, None] - offs[None, :])
        with np.errstate(invalid="ignore", divide="ignore"):
            w = np.where(x < 1e-12, 1.0,
                         3.0 * np.sin(np.pi * x) * np.sin(np.pi * x / 3.0)
                         / (np.pi * np.pi * x * x))
        w = np.where(x < 3.0, w, 0.0)
        w = w / w.sum(axis=1, keepdims=True)
        return offs, w
    offs = np.arange(-1, 3)  # r0-1 .. r0+2
    x = np.abs(frac[:, None] - offs[None, :])
    if kind == "cubic":
        a = -0.5
        w = np.where(
            x <= 1.0, (a + 2.0) * x ** 3 - (a + 3.0) * x ** 2 + 1.0,
            a * (x ** 3 - 5.0 * x ** 2 + 8.0 * x - 4.0))
        return offs, np.where(x < 2.0, w, 0.0)
    if kind == "cubicspline":
        w = np.where(x <= 1.0, (3.0 * x ** 3 - 6.0 * x ** 2 + 4.0) / 6.0,
                     (2.0 - x) ** 3 / 6.0)
        return offs, np.where(x < 2.0, w, 0.0)
    raise ValueError(f"unknown separable kernel {kind!r}")


def _k_resample_conv(kind: str):
    def kern(arr: np.ndarray, out_rows: int, out_cols: int) -> np.ndarray:
        """Separable 2-D convolution resample at target pixel centers,
        edge-clamped like bilinear (the reference's CubicConvolution /
        CubicSpline / Lanczos ResampleMethod options). float64 out;
        NoData cells participate numerically, matching the bilinear
        kernel's convention."""
        rows, cols = arr.shape
        a = arr.astype(np.float64)
        fr = (np.arange(out_rows) + 0.5) * rows / out_rows - 0.5
        fc = (np.arange(out_cols) + 0.5) * cols / out_cols - 0.5
        r0 = np.floor(fr).astype(np.int64)
        c0 = np.floor(fc).astype(np.int64)
        offs, wr = _sep_weights(fr - r0, kind)
        _, wc = _sep_weights(fc - c0, kind)
        ridx = np.clip(r0[:, None] + offs[None, :], 0, rows - 1)
        cidx = np.clip(c0[:, None] + offs[None, :], 0, cols - 1)
        # rows pass: (out_rows, taps) x (taps source rows) -> then cols
        tmp = np.einsum("rt,rtc->rc", wr, a[ridx, :])  # (out_rows, cols)
        return np.einsum("ct,rct->rc", wc, tmp[:, cidx])
    return kern


_AGG_REDUCERS = {
    "average": lambda v: np.nanmean(v, axis=(1, 3)),
    "median": lambda v: np.nanmedian(v, axis=(1, 3)),
    "max": lambda v: np.nanmax(v, axis=(1, 3)),
    "min": lambda v: np.nanmin(v, axis=(1, 3)),
    "sum": lambda v: np.nansum(v, axis=(1, 3)),
}


def _k_resample_agg(kind: str):
    def kern(arr: np.ndarray, out_rows: int, out_cols: int,
             nodata: float = np.nan) -> np.ndarray:
        """Aggregate downsample (the reference's Average / Mode / Median /
        Max / Min / Sum ResampleMethod options): every target cell
        reduces ALL its contributing source cells; NoData cells are
        EXCLUDED from the reduction and a target cell with no valid
        contributor is NoData. Requires an integer downscale factor
        (the overview/pyramid case these methods exist for) — fail-loud
        otherwise rather than silently approximating fractional-block
        membership."""
        rows, cols = arr.shape
        if (rows % out_rows) or (cols % out_cols) or out_rows > rows \
                or out_cols > cols:
            raise ValueError(
                f"aggregate resample needs an integer downscale factor: "
                f"{rows}x{cols} -> {out_rows}x{out_cols}")
        fr, fc = rows // out_rows, cols // out_cols
        a = arr.astype(np.float64)
        a = np.where(valid_px(a, nodata), a, np.nan)
        blocks = a.reshape(out_rows, fr, out_cols, fc)
        if kind == "mode":
            # most frequent valid value, smallest value on ties
            # (deterministic); all-NoData block -> NaN
            out = np.full((out_rows, out_cols), np.nan)
            flat = blocks.transpose(0, 2, 1, 3).reshape(out_rows,
                                                        out_cols, -1)
            for i in range(out_rows):
                for j in range(out_cols):
                    v = flat[i, j]
                    v = v[~np.isnan(v)]
                    if not v.size:
                        continue
                    vals, cnt = np.unique(v, return_counts=True)
                    out[i, j] = vals[np.argmax(cnt)]  # unique() sorts:
                    # argmax takes the FIRST max -> smallest value wins
            return out
        valid_any = (~np.isnan(blocks)).any(axis=(1, 3))
        import warnings
        with np.errstate(invalid="ignore"), warnings.catch_warnings():
            # all-NoData blocks are a LEGAL NoData result, not a warning
            warnings.filterwarnings(
                "ignore", message="All-NaN slice encountered")
            warnings.filterwarnings(
                "ignore", message="Mean of empty slice")
            out = _AGG_REDUCERS[kind](blocks)
        return np.where(valid_any, out, np.nan)
    return kern


RESAMPLE_KERNELS = {"nearest": k_resample_nearest,
                    "bilinear": k_resample_bilinear,
                    "cubic": _k_resample_conv("cubic"),
                    "cubicspline": _k_resample_conv("cubicspline"),
                    "lanczos": _k_resample_conv("lanczos")}
RESAMPLE_AGG_KERNELS = {k: _k_resample_agg(k) for k in
                        ("average", "mode", "median", "max", "min", "sum")}


def k_reproject_nearest(arr: np.ndarray, src_extent, dst_extent, dst_shape,
                        fwd: Callable, nodata: float) -> np.ndarray:
    """Region reproject: for every target pixel center (in dst CRS), inverse
    is the caller-provided ``fwd`` mapping dst->src coords; gather-sample the
    source window; outside-footprint pixels become nodata
    (GeoTiffReprojectRasterSource.scala:134-152 pipeline)."""
    sxmin, symin, sxmax, symax = src_extent
    dxmin, dymin, dxmax, dymax = dst_extent
    drows, dcols = dst_shape
    xs = dxmin + (np.arange(dcols) + 0.5) * (dxmax - dxmin) / dcols
    ys = dymax - (np.arange(drows) + 0.5) * (dymax - dymin) / drows
    gx, gy = np.meshgrid(xs, ys)
    sx, sy = fwd(gx, gy)  # dst-center coords expressed in src CRS
    rows, cols = arr.shape
    cw = (sxmax - sxmin) / cols
    ch = (symax - symin) / rows
    ci = np.floor((sx - sxmin) / cw).astype(np.int64)
    ri = np.floor((symax - sy) / ch).astype(np.int64)
    inside = (ci >= 0) & (ci < cols) & (ri >= 0) & (ri < rows)
    out = np.full(dst_shape, nodata, dtype=arr.dtype if arr.dtype.kind == "f" else np.float64)
    out[inside] = arr[ri[inside], ci[inside]]
    return out


def k_reproject_bilinear(arr: np.ndarray, src_extent, dst_extent, dst_shape,
                         fwd: Callable, nodata: float) -> np.ndarray:
    """Bilinear region reproject: like :func:`k_reproject_nearest` but each
    target pixel interpolates the 2x2 source-pixel neighborhood around its
    back-transformed center (the caller-chosen ResampleMethod of
    GeoTiffReprojectRasterSource.scala:43,143-152), edge-clamped to the
    window. Outside-footprint pixels become nodata. float64 out."""
    sxmin, symin, sxmax, symax = src_extent
    dxmin, dymin, dxmax, dymax = dst_extent
    drows, dcols = dst_shape
    xs = dxmin + (np.arange(dcols) + 0.5) * (dxmax - dxmin) / dcols
    ys = dymax - (np.arange(drows) + 0.5) * (dymax - dymin) / drows
    gx, gy = np.meshgrid(xs, ys)
    sx, sy = fwd(gx, gy)
    rows, cols = arr.shape
    cw = (sxmax - sxmin) / cols
    ch = (symax - symin) / rows
    # footprint ownership = the center's containing source pixel, the SAME
    # test k_reproject_nearest uses — per-tile reprojection then assigns
    # every target pixel to exactly one source tile (no boundary duplicates)
    ci = np.floor((sx - sxmin) / cw)
    ri = np.floor((symax - sy) / ch)
    inside = (ci >= 0) & (ci < cols) & (ri >= 0) & (ri < rows)
    fc = (sx - sxmin) / cw - 0.5
    fr = (symax - sy) / ch - 0.5
    a = arr.astype(np.float64)
    c0 = np.clip(np.floor(fc).astype(np.int64), 0, cols - 1)
    r0 = np.clip(np.floor(fr).astype(np.int64), 0, rows - 1)
    c1 = np.clip(c0 + 1, 0, cols - 1)
    r1 = np.clip(r0 + 1, 0, rows - 1)
    wc = np.clip(fc - np.floor(fc), 0.0, 1.0)
    wr = np.clip(fr - np.floor(fr), 0.0, 1.0)
    top = a[r0, c0] * (1 - wc) + a[r0, c1] * wc
    bot = a[r1, c0] * (1 - wc) + a[r1, c1] * wc
    out = np.where(inside, top * (1 - wr) + bot * wr, nodata)
    return out


REPROJECT_KERNELS = {"nearest": k_reproject_nearest, "bilinear": k_reproject_bilinear}


def k_merge(stack: list[np.ndarray], nodatas: list[float],
            strategy: str = "first") -> np.ndarray:
    """Per-pixel NoData-aware composite across sources.

    'first' — first non-NoData wins, left-biased by list order (the
    reference semantics, MosaicRasterSource.scala:121-131);
    'mean' / 'max' / 'min' — composites over the valid sources per pixel
    (engine extensions for cloud-free mosaicking-style pipelines)."""
    stack = [a.astype(np.float64) for a in stack]
    if strategy == "first":
        out = stack[0].copy()
        filled = valid_px(out, nodatas[0])
        for a, nd in zip(stack[1:], nodatas[1:]):
            good = valid_px(a, nd) & ~filled
            out[good] = a[good]
            filled |= good
        return out
    import warnings

    layers = np.stack([np.where(valid_px(a, nd), a, np.nan)
                       for a, nd in zip(stack, nodatas)])
    with np.errstate(invalid="ignore"), warnings.catch_warnings():
        # nanmean/max/min over an all-NoData pixel is a legal NoData
        # result, not a condition to report (r5 verdict minor #4)
        warnings.simplefilter("ignore", RuntimeWarning)
        if strategy == "mean":
            out = np.nanmean(layers, axis=0)
        elif strategy == "max":
            out = np.nanmax(layers, axis=0)
        elif strategy == "min":
            out = np.nanmin(layers, axis=0)
        else:
            raise ValueError(f"unknown merge strategy {strategy!r}")
    return np.where(np.isnan(out), nodatas[0], out)


# ---------------------------------------------------------------------------
# The per-tile driver (one Arrow hop per stage; kernels fused in Python)
# ---------------------------------------------------------------------------

def _payload(row: dict) -> np.ndarray:
    """A row's ``px`` as a read-only numpy view: (h, w) for a window row,
    square for a tile (its side follows from the byte length)."""
    a = np.frombuffer(row["px"], dtype=DTYPES[row["dtype"]])
    if "h" in row:
        return a.reshape(int(row["h"]), int(row["w"]))
    t = math.isqrt(a.size)
    return a.reshape(t, t)


def _records(res, base: dict, names: list[str]) -> list[dict]:
    """A kernel's result as output records: a dict is one row, a list
    fans out, None is no row. An output column the kernel does not set
    is taken from ``base`` by name; an array ``px`` is packed and names
    the ``dtype``."""
    out = []
    for r in [] if res is None else res if isinstance(res, list) else [res]:
        rec = {c: r[c] if c in r else base[c] for c in names}
        if isinstance(rec.get("px"), np.ndarray):
            if "dtype" in rec:
                rec["dtype"] = rec["px"].dtype.name
            rec["px"] = pack(rec["px"])
        out.append(rec)
    return out


def tile_batch(pdf: pd.DataFrame, kernel: Callable, names: list[str]) -> pd.DataFrame:
    """One Arrow batch through ``kernel`` — the body of :func:`map_tiles`,
    callable on any pandas frame. Each row reaches the kernel as a dict of
    its columns with ``px`` unpacked; the output columns it does not set
    are copied from that row (:func:`_records`)."""
    out = []
    for row in pdf.to_dict("records"):
        if "px" in row:
            row["px"] = _payload(row)
        out += _records(kernel(row), row, names)
    return pd.DataFrame(out, columns=names)


def _names(schema: StructType | str) -> list[str]:
    return (schema if isinstance(schema, StructType)
            else StructType.fromDDL(schema)).names


def map_tiles(tiles: DataFrame, kernel: Callable, schema: StructType | str) -> DataFrame:
    """THE narrow per-tile driver: ONE mapInPandas stage that runs
    ``kernel`` over every row (:func:`tile_batch`) and declares ``schema``
    (a StructType or a DDL string). Narrow, so Catalyst prunes upstream."""
    names = _names(schema)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield tile_batch(pdf, kernel, names)

    return tiles.mapInPandas(run, schema)


def stack_group(group: tuple, pdf: pd.DataFrame, kernel: Callable,
                keys: list[str], names: list[str]) -> pd.DataFrame:
    """One group through ``kernel`` — the body of :func:`stack_tiles`,
    callable on any pandas frame. The planes are ordered by
    ``source_idx`` (stable; input order without that column) and reach
    the kernel as a float64 ``(T, t, t)`` stack, its :func:`valid_px`
    mask and ``key``: each of ``keys`` mapped to its value in ``group``,
    every other column but ``px`` to an array in plane order.
    Output columns the kernel does not set are taken from ``key``."""
    if "source_idx" in pdf:
        pdf = pdf.sort_values("source_idx", kind="mergesort")
    stack = np.stack([_payload(r).astype(np.float64)
                      for r in pdf[["px", "dtype"]].to_dict("records")])
    valid = valid_px(stack, pdf["nodata"].to_numpy(np.float64)[:, None, None])
    key = {c: pdf[c].to_numpy() for c in pdf.columns if c != "px"}
    key.update(zip(keys, group))
    return pd.DataFrame(_records(kernel(stack, valid, key), key, names),
                        columns=names)


def stack_tiles(tiles: DataFrame, keys: tuple[str, ...], kernel: Callable,
                schema: StructType | str) -> DataFrame:
    """THE grouped per-tile driver, the sibling of :func:`map_tiles`: ONE
    ``groupBy(*keys).applyInPandas`` stage that runs ``kernel`` over every
    group's plane stack (:func:`stack_group`) and declares ``schema``."""
    keys, names = list(keys), _names(schema)

    def run(group: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        return stack_group(group, pdf, kernel, keys, names)

    return tiles.groupBy(*keys).applyInPandas(run, schema)


def k_warp(row: dict, target: str | None = None, out_size: int | None = None,
           method: str = "nearest", mercator: bool = False) -> dict:
    """convert -> resample -> region-reproject(4326->3857) of one tile,
    each step optional: ``target`` dtype (:func:`k_convert`), ``out_size``
    px by ResampleMethod ``method``, then with ``mercator`` the tile's own
    footprint (txmin..tymax) resampled uniformly in meters, each target
    center back-transformed to lon/lat and gather-sampled (nearest), with
    its mercator extent added as mx_min..my_max."""
    arr, nd = row["px"], row["nodata"]
    if target is not None:
        arr = k_convert(arr, nd, target)
    if out_size is not None:
        if method in RESAMPLE_AGG_KERNELS:
            arr = RESAMPLE_AGG_KERNELS[method](arr, out_size, out_size, nd)
        else:
            arr = RESAMPLE_KERNELS[method](arr, out_size, out_size)
    if not mercator:
        return {"px": arr}
    src = (row["txmin"], row["tymin"], row["txmax"], row["tymax"])
    x0, y0 = G.lonlat_to_mercator(src[0], src[1])
    x1, y1 = G.lonlat_to_mercator(src[2], src[3])
    dst = (float(x0), float(y0), float(x1), float(y1))
    out = k_reproject_nearest(arr.astype(np.float64), src, dst, arr.shape,
                              G.mercator_to_lonlat, nd)
    return {"px": out, "mx_min": dst[0], "my_min": dst[1],
            "mx_max": dst[2], "my_max": dst[3]}


def _known_method(method: str) -> str:
    """``method`` if it names a ResampleMethod: an unknown one fails at plan
    build, not in a Python worker."""
    if method not in RESAMPLE_KERNELS and method not in RESAMPLE_AGG_KERNELS:
        raise ValueError(f"unknown resample method {method!r}")
    return method


def convert(tiles: DataFrame, target: str, tile_size: int = TILE_SIZE) -> DataFrame:
    """Lazy cellType convert over the whole table (RasterSourceF.scala:165-184)."""
    return map_tiles(tiles, partial(k_warp, target=target), tiles.schema)


def resample(tiles: DataFrame, out_size: int, tile_size: int = TILE_SIZE,
             method: str = "nearest") -> DataFrame:
    """Per-tile resample to out_size x out_size pixels; ``method`` is the
    reference's ResampleMethod string — point-interpolating ('nearest' |
    'bilinear' | 'cubic' | 'cubicspline' | 'lanczos') or aggregate
    ('average' | 'mode' | 'median' | 'max' | 'min' | 'sum', integer
    downscale factors, NoData-excluding — aggregate results carry
    nodata=NaN since empty blocks come back NaN)."""
    out = map_tiles(tiles, partial(k_warp, out_size=out_size,
                                   method=_known_method(method)), tiles.schema)
    if method in RESAMPLE_AGG_KERNELS:
        return out.withColumn("nodata", F.lit(float("nan")))
    return out


def _merge_group(strategy: str, multires: bool) -> Callable:
    """The grouped body of merge_tiles and merge_tiles_multires: one tile
    key's per-pixel composite, sources ordered by source_idx;
    ``multires`` first resamples (nearest) every source onto the group's
    finest grid."""
    def merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("source_idx")
        arrs = [_payload(r) for r in pdf[["px", "dtype"]].to_dict("records")]
        first = pdf.iloc[0]
        out = {"zoom": first.zoom, "col": first.col, "row": first.row,
               "band": first.band, "dtype": "float64", "nodata": first.nodata}
        if multires:
            n = max(a.shape[0] for a in arrs)
            arrs = [a if a.shape[0] == n else k_resample_nearest(a, n, n)
                    for a in arrs]
            out["tile_size"] = n
        out["px"] = pack(k_merge(arrs, list(pdf.nodata), strategy))
        return pd.DataFrame([out])

    return merge_group


def merge_tiles(tiles: DataFrame, tile_size: int = TILE_SIZE,
                strategy: str = "first") -> DataFrame:
    """Pixel-level mosaic merge: groupBy SpatialKey+band, applyInPandas the
    per-pixel composite ordered by source_idx ('first' = reference
    semantics; 'mean'/'max'/'min' composites). One shuffle on the tile key —
    the cell-partitioned grouped-map pattern of the north_star
    raster<->vector paths."""
    return tiles.groupBy("zoom", "col", "row", "band").applyInPandas(
        _merge_group(strategy, multires=False),
        "zoom int, col bigint, row bigint, band int, dtype string, nodata double, px binary")


def merge_tiles_multires(tiles: DataFrame, strategy: str = "first") -> DataFrame:
    """Mixed-resolution mosaic merge: same-key tiles whose sources carry
    DIFFERENT cell sizes (a ``tile_size`` column) are first resampled
    (nearest) to the FINEST grid in the group, then composited per pixel —
    the reference's MosaicRasterSource behavior of resampling the coarser
    side onto the finer grid before the left-biased merge
    (MosaicRasterSource.scala:121-146; cell-size mismatch is resolved by
    resample, only EXTENT mismatch raises GeoAttrsError). One shuffle on the
    tile key. Output dtype float64, tile_size = the group's finest."""
    return tiles.groupBy("zoom", "col", "row", "band").applyInPandas(
        _merge_group(strategy, multires=True),
        "zoom int, col bigint, row bigint, band int, dtype string, "
        "nodata double, tile_size int, px binary")


def k_px_sum(row: dict) -> dict:
    """NoData-aware float64 pixel sum and count of one payload; a window
    (no nodata column) counts its non-NaN pixels."""
    arr = row["px"].astype(np.float64)
    m = valid_px(arr, row.get("nodata", np.nan))
    return {"px_sum": float(arr[m].sum()), "px_count": int(m.sum())}


def tile_stats(tiles: DataFrame, keys=("col", "row", "band"),
               tile_size_col: str = "tile_size") -> DataFrame:
    """Per-tile NoData-aware pixel sum/count keyed by ``keys`` — the
    readCells checksum at tile granularity (SubsceneReadingIT.scala:51
    generalized); one narrow mapInPandas, no shuffle."""
    key_schema = ", ".join(f"{k} bigint" for k in keys)
    return map_tiles(tiles, k_px_sum, f"{key_schema}, px_sum double, px_count bigint")


def reproject_to_mercator(tiles: DataFrame, tile_size: int = TILE_SIZE) -> DataFrame:
    """Region-reproject every tile EPSG:4326 -> EPSG:3857 on its own
    footprint: the target grid is the tile's mercator extent sampled
    uniformly in meters; each target pixel center back-transforms to lon/lat
    and gather-samples the source (nearest) — the
    GeoTiffReprojectRasterSource per-window pipeline (§2.4), one
    mapInPandas stage. Output schema: input + x/y mercator extent columns.
    The warp chain with an identity convert (float64) and resample
    (nearest, same size)."""
    return warp_chain_to_mercator(tiles, "float64", tile_size, "nearest")


def warp_chain_to_mercator(tiles: DataFrame, target_dtype: str, out_size: int,
                           method: str = "bilinear",
                           tile_size: int = TILE_SIZE) -> DataFrame:
    """FUSED convert -> resample -> region-reproject(4326->3857) in ONE
    mapInPandas stage — the engine analog of GDAL warp-option composition
    (GDALRasterSource.scala:114-126): three kernels composed in Python cost
    a single Arrow hop instead of three. Semantics identical to
    convert(target_dtype) |> resample(out_size, method) |>
    reproject_to_mercator. Output: input columns (px at out_size, dtype
    float64) + mercator extent columns."""
    from geotrellis_contrib_spark.operators.tiling import tile_extent_cols

    kernel = partial(k_warp, target=target_dtype, out_size=out_size,
                     method=_known_method(method), mercator=True)
    t = tile_extent_cols(tiles)
    schema = (", ".join(f"{f.name} {f.dataType.simpleString()}" for f in t.schema)
              + ", mx_min double, my_min double, mx_max double, my_max double")
    return map_tiles(t, kernel, schema)


_WINDOW_DDL = ("source_id string, band int, px_col_min bigint, px_row_min bigint, "
               "h int, w int, dtype string, px binary")


def k_reproject_grid(row: dict, target, kern: Callable, to_dst: Callable,
                     fwd: Callable) -> dict | None:
    """The target-grid window one tile owns (reproject_to_grid): its
    footprint's covered window, outset one pixel, its pixel centers
    back-transformed (``fwd``) and sampled by ``kern``; None when the
    footprint misses the target region."""
    tx0, ty0, tx1, ty1 = row["txmin"], row["tymin"], row["txmax"], row["tymax"]
    # Footprint bbox from the SAMPLED TILE BOUNDARY, not two corners: UTM
    # (and any non-axis-monotone dst) puts easting/northing extremes
    # mid-edge (min northing sits on the central meridian when the tile
    # crosses it), so a corner bbox can under-cover by more than the 1px
    # outset and drop owned pixels as NaN holes. Extremes of these
    # conformal projections over a lon/lat rectangle lie on its boundary,
    # so edge sampling + the outset is sufficient.
    es = np.linspace(0.0, 1.0, 9)
    bx = np.concatenate([tx0 + (tx1 - tx0) * es, tx0 + (tx1 - tx0) * es,
                         np.full(9, tx0), np.full(9, tx1)])
    by = np.concatenate([np.full(9, ty0), np.full(9, ty1),
                         ty0 + (ty1 - ty0) * es, ty0 + (ty1 - ty0) * es])
    fx, fy = to_dst(bx, by)
    fx0, fx1 = float(np.min(fx)), float(np.max(fx))
    fy0, fy1 = float(np.min(fy)), float(np.max(fy))
    cw, ch = target.cellwidth, target.cellheight
    c0 = max(int(np.floor((fx0 - target.xmin) / cw)) - 1, 0)
    c1 = min(int(np.floor((fx1 - target.xmin) / cw)) + 1, target.cols - 1)
    r0 = max(int(np.floor((target.ymax - fy1) / ch)) - 1, 0)
    r1 = min(int(np.floor((target.ymax - fy0) / ch)) + 1, target.rows - 1)
    if c0 > c1 or r0 > r1:
        return None
    win = kern(row["px"].astype(np.float64), (tx0, ty0, tx1, ty1),
               target.bounds_to_extent(c0, r0, c1, r1),
               (r1 - r0 + 1, c1 - c0 + 1), fwd, np.nan)
    return {"px_col_min": c0, "px_row_min": r0,
            "h": win.shape[0], "w": win.shape[1], "px": win}


def reproject_to_grid(tiles: DataFrame, target, method: str = "nearest",
                      tile_size: int = TILE_SIZE,
                      dst_crs: "int | str" = 3857) -> DataFrame:
    """Reproject the tile table onto an ARBITRARY caller-supplied target
    GridExtent — the reprojectToGrid / reprojectToRegion surface
    (RasterSourceF.scala:60-73): pass a grid produced by any of the five
    ResampleGrid strategies (grid.RESAMPLE_GRID_STRATEGIES). ``method`` is
    the ResampleMethod ('nearest' | 'bilinear',
    GeoTiffReprojectRasterSource.scala:43,143-152).

    Per-window pipeline (GeoTiffReprojectRasterSource.scala:118-155), one
    mapInPandas: each tile computes its footprint's covered target window,
    back-transforms those target pixel centers into source coords and
    gather-samples. A target pixel is OWNED by the tile containing its
    back-transformed center, so the per-tile outputs partition the target
    grid (no duplicates); non-owned pixels are NaN and drop out at
    assembly. Tile keys are 4326 (the engine's layout); dst_crs is an EPSG
    int (3857 | 4326 | UTM 326xx/327xx | grid.NAMED_CRS) or a proj4 STRING
    (grid.parse_proj4: longlat/merc/tmerc/laea/aea/lcc with arbitrary
    parallels/centers); 4326->4326 = pure regridding.

    Output rows in TARGET pixel space: (source_id, band, px_col_min,
    px_row_min, h, w, dtype='float64', px)."""
    from geotrellis_contrib_spark.operators.tiling import tile_extent_cols

    if isinstance(dst_crs, str):
        # proj4 string: arbitrary parallels/centers dispatched onto the
        # same Snyder/Krueger kernels the named registry uses
        to_dst, fwd = G.parse_proj4(dst_crs)
    elif dst_crs == 3857:
        fwd = G.mercator_to_lonlat        # dst -> src
        to_dst = G.lonlat_to_mercator     # src -> dst (footprint corners)
    elif dst_crs == 4326:
        fwd = to_dst = lambda x, y: (np.asarray(x, dtype=np.float64),
                                     np.asarray(y, dtype=np.float64))
    elif 32601 <= dst_crs <= 32760 and dst_crs % 100 <= 60:
        zone, south = dst_crs % 100, dst_crs >= 32701
        fn = 10000000.0 if south else 0.0
        fwd = lambda e, n: G.utm_to_lonlat(e, n, zone, northern=not south)  # noqa: E731
        def to_dst(lon, lat):
            e, n = G.lonlat_to_utm(lon, lat, zone)
            return e, n + fn
    elif dst_crs in G.NAMED_CRS:
        # LAEA/Albers/LCC (Snyder ellipsoidal forms, grid.NAMED_CRS)
        to_dst, fwd = G.NAMED_CRS[dst_crs][0], G.NAMED_CRS[dst_crs][1]
    else:
        raise ValueError(
            f"unsupported dst CRS {dst_crs} (4326-keyed tiles -> 3857 | 4326 | "
            f"UTM 326xx/327xx | {sorted(G.NAMED_CRS)})")
    kernel = partial(k_reproject_grid, target=target, kern=REPROJECT_KERNELS[method],
                     to_dst=to_dst, fwd=fwd)
    return map_tiles(tile_extent_cols(tiles), kernel, _WINDOW_DDL)


def window_stats(windows: DataFrame, keys=("source_id", "band")) -> DataFrame:
    """NaN-aware pixel sum/count over reproject_to_grid output windows,
    partial-aggregated per ``keys`` — NaN marks not-owned pixels (another
    tile's territory), so summing windows equals summing the assembled
    target exactly once. One narrow mapInPandas + one tiny shuffle."""
    key_schema = ", ".join(
        f"{k} string" if k == "source_id" else f"{k} bigint" for k in keys)
    per_win = map_tiles(windows, k_px_sum, f"{key_schema}, px_sum double, px_count bigint")
    return per_win.groupBy(*keys).agg(
        F.sum("px_sum").alias("px_sum"), F.sum("px_count").alias("px_count"))


def k_crop(row: dict, bounds: tuple[int, int, int, int], t: int) -> dict:
    """The part of one t-px tile inside the GLOBAL pixel window
    ``bounds`` (read_window)."""
    cmin, rmin, cmax, rmax = bounds
    gx0, gy0 = row["col"] * t, row["row"] * t
    c0, c1 = max(cmin - gx0, 0), min(cmax - gx0, t - 1)
    r0, r1 = max(rmin - gy0, 0), min(rmax - gy0, t - 1)
    sub = row["px"][r0:r1 + 1, c0:c1 + 1]
    return {"px_col_min": gx0 + c0, "px_row_min": gy0 + r0,
            "h": sub.shape[0], "w": sub.shape[1], "px": sub}


def read_window(tiles: DataFrame, bounds: tuple[int, int, int, int],
                grid_bounds: tuple[int, int, int, int] | None = None,
                tile_size: int = TILE_SIZE, clamp: bool = True) -> DataFrame:
    """Windowed pixel read over the tile table — the reference's
    ``read(bounds)`` contract (RasterSourceF.scala:100-112): the request is
    clamped to the footprint (or rejected when ``clamp=False`` and
    out-of-bounds), DISJOINT windows return empty, edge tiles are CROPPED to
    the window. ``bounds`` are GLOBAL pixel coords (tile (tc,tr) covers
    pixels [tc*ts, (tc+1)*ts) x [tr*ts, (tr+1)*ts)).

    Plan: key-range filter (partition/row-group prunable — the engine's
    window∩footprint pruning) then one mapInPandas crop of the edge tiles.
    Output rows: (source_id, band, px_col_min, px_row_min, h, w, dtype, px).
    """
    from geotrellis_contrib_spark.grid import bounds_intersection

    if grid_bounds is not None:
        inter = bounds_intersection(bounds, grid_bounds)
        if inter is None and not clamp:
            raise ValueError(f"window {bounds} is disjoint from footprint {grid_bounds}")
        bounds = inter if inter is not None else (0, 0, -1, -1)
    cmin, rmin, cmax, rmax = bounds
    if cmin > cmax or rmin > rmax:
        return tiles.sparkSession.createDataFrame([], _WINDOW_DDL)

    tc0, tc1 = cmin // tile_size, cmax // tile_size
    tr0, tr1 = rmin // tile_size, rmax // tile_size
    hit = tiles.filter((F.col("col") >= tc0) & (F.col("col") <= tc1)
                       & (F.col("row") >= tr0) & (F.col("row") <= tr1))
    return map_tiles(hit, partial(k_crop, bounds=bounds, t=tile_size), _WINDOW_DDL)


def k_split(row: dict, k: int, dz: int) -> list[dict]:
    """One tile cut into its k x k subtiles, keys moved dz zooms down
    (retile split)."""
    arr = row["px"]
    s = arr.shape[0] // k
    return [{"zoom": row["zoom"] + dz, "col": row["col"] * k + i,
             "row": row["row"] * k + j,
             "px": arr[j * s:(j + 1) * s, i * s:(i + 1) * s]}
            for i in range(k) for j in range(k)]


def _paste(pdf: pd.DataFrame, n: int, qr: pd.Series, qc: pd.Series) -> np.ndarray:
    """One group's child tiles pasted into an n x n float64 parent panel,
    child i at block (qr[i], qc[i]) of its own size, later rows over
    earlier ones; the first row's nodata where no child landed (the
    retile and overview assembles)."""
    panel = np.full((n, n), float(pdf["nodata"].iloc[0]))
    for rec, r, c in zip(pdf[["px", "dtype"]].to_dict("records"), qr, qc):
        a = _payload(rec)
        h = a.shape[0]
        panel[r * h:(r + 1) * h, c * h:(c + 1) * h] = a
    return panel


def retile(tiles: DataFrame, ts_from: int, ts_to: int) -> DataFrame:
    """Change the tile LAYOUT while keeping the pixel resolution — the
    LayoutTileSource re-tiling the reference grew out of (CHANGELOG.md:26
    LayoutTileSource lineage; a (zoom, 64px) layout covers the same ground
    as (zoom-2, 256px)). Splitting (ts_to < ts_from) is a NARROW mapInPandas
    explode; assembling (ts_to > ts_from) is one applyInPandas shuffle on
    the parent key, with missing children becoming NoData quadrants.
    Keys transform as (zoom ± log2(k), col//k or col*k+i, ...); pixel
    values are moved verbatim (round-trip identity, tested)."""
    import math as _m

    if ts_from == ts_to:
        return tiles
    out_schema = ("source_id string, source_idx int, zoom int, col bigint, "
                  "row bigint, band int, dtype string, nodata double, px binary")

    if ts_to < ts_from:  # split: one tile -> k^2 subtiles, narrow
        k = ts_from // ts_to
        if k * ts_to != ts_from or (k & (k - 1)) != 0:
            # quadtree key arithmetic (zoom +/- log2 k) only holds for
            # power-of-two ratios; e.g. 192->64 nests (k=3) but log2 would
            # silently truncate and corrupt every (zoom, col, row) key
            raise ValueError(
                f"tile sizes must nest by a power of two: {ts_from} -> {ts_to}")
        return map_tiles(tiles, partial(k_split, k=k, dz=int(_m.log2(k))),
                         out_schema)

    k = ts_to // ts_from  # assemble: k^2 children -> one parent
    if k * ts_from != ts_to or (k & (k - 1)) != 0:
        raise ValueError(
            f"tile sizes must nest by a power of two: {ts_from} -> {ts_to}")
    dz = int(_m.log2(k))
    keyed = tiles.withColumn("p_col", F.floor(F.col("col") / float(k))) \
                 .withColumn("p_row", F.floor(F.col("row") / float(k)))

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        first = pdf.iloc[0]
        panel = _paste(pdf, ts_to, pdf["row"] % k, pdf["col"] % k)
        return pd.DataFrame([{
            "source_id": first.source_id, "source_idx": int(first.source_idx),
            "zoom": int(first.zoom) - dz,
            "col": int(first.p_col), "row": int(first.p_row),
            "band": int(first.band), "dtype": "float64",
            "nodata": float(first.nodata), "px": pack(panel)}])

    return keyed.groupBy("source_id", "source_idx", "zoom", "p_col", "p_row", "band") \
                .applyInPandas(fold, out_schema)


def read_cells_checksum(tiles: DataFrame, tile_size: int = TILE_SIZE) -> DataFrame:
    """Force-evaluate every pixel and aggregate (sum + count, NoData-aware) —
    the readCells full-scan checksum (SubsceneReadingIT.scala:51), used as
    the bit-parity probe for pixel pipelines."""
    per_tile = map_tiles(tiles, k_px_sum, "source_id string, px_sum double, px_count bigint")
    return per_tile.groupBy("source_id").agg(
        F.sum("px_sum").alias("px_sum"), F.sum("px_count").alias("px_count"))


@lru_cache(maxsize=1024)
def _rings(wkb: bytes) -> list:
    return GM.wkb_decode(wkb)["coords"]


def _polygon_mask(gx: np.ndarray, gy: np.ndarray, wkb: bytes) -> np.ndarray:
    """Crossing-number membership of the pixel centers (gx, gy) in a WKB
    polygon (holes and concavity respected)."""
    return GM.point_in_polygon(gx.ravel(), gy.ravel(),
                               _rings(bytes(wkb))).reshape(gx.shape)


def _in_box(gx: np.ndarray, gy: np.ndarray, xmin: float, ymin: float,
            xmax: float, ymax: float) -> np.ndarray:
    """The half-open [xmin,xmax) x [ymin,ymax) pixel-center rule."""
    return (gx >= xmin) & (gx < xmax) & (gy >= ymin) & (gy < ymax)


def _box_zone(gx: np.ndarray, gy: np.ndarray, row: dict) -> np.ndarray:
    return _in_box(gx, gy, row["xmin"], row["ymin"], row["xmax"], row["ymax"])


def _polygon_zone(gx: np.ndarray, gy: np.ndarray, row: dict) -> np.ndarray:
    return _polygon_mask(gx, gy, row["wkb"])


def k_zonal(row: dict, zone: Callable) -> dict | None:
    """Stats of one tile's valid pixels whose CENTERS lie in the joined
    zone (``zone(gx, gy, row)`` -> mask); None when there are none."""
    arr = row["px"].astype(np.float64)
    gx, gy = pixel_centers(row["txmin"], row["tymin"], row["txmax"],
                           row["tymax"], arr.shape[0])
    m = zone(gx, gy, row) & valid_px(arr, row["nodata"])
    if not m.any():
        return None
    v = arr[m]
    return {"cnt": int(m.sum()), "sum_val": float(v.sum()),
            "min_val": float(v.min()), "max_val": float(v.max())}


def _zonal(tiles: DataFrame, zones: DataFrame, zone: Callable) -> DataFrame:
    """Pixel-exact zonal statistics: broadcast-join tiles to candidate zones
    via tile bbox overlap, mask each tile's pixel centers with ``zone``
    inside ONE mapInPandas, partial-aggregate per (poly_id, band)."""
    from geotrellis_contrib_spark.operators.tiling import tile_extent_cols

    cand = tile_extent_cols(tiles).join(
        F.broadcast(zones),
        (F.col("txmin") < F.col("xmax")) & (F.col("txmax") > F.col("xmin"))
        & (F.col("tymin") < F.col("ymax")) & (F.col("tymax") > F.col("ymin")),
        "inner")
    per_tile = map_tiles(
        cand, partial(k_zonal, zone=zone),
        "poly_id string, band int, cnt bigint, sum_val double, "
        "min_val double, max_val double")
    return per_tile.groupBy("poly_id", "band").agg(
        F.sum("cnt").alias("cnt"), F.sum("sum_val").alias("sum_val"),
        F.min("min_val").alias("min_val"), F.max("max_val").alias("max_val"),
        (F.sum("sum_val") / F.sum("cnt")).alias("mean_val"))


def zonal_stats_pixels(tiles: DataFrame, boxes: DataFrame,
                       tile_size: int = TILE_SIZE) -> DataFrame:
    """Pixel-exact zonal statistics (raster->vector) against boxes, by the
    half-open pixel-center rule."""
    return _zonal(tiles, boxes, _box_zone)


def zonal_stats_pixels_wkb(tiles: DataFrame, polygons: DataFrame,
                           tile_size: int = TILE_SIZE) -> DataFrame:
    """Pixel-exact zonal statistics against ARBITRARY polygons (holes,
    concavity): pixel centers masked by the crossing-number kernel.
    ``polygons`` needs poly_id + bbox columns + a WKB column (the
    reference's polygonal-summary path generalized; geom.point_in_polygon
    is the oracle-tested kernel)."""
    return _zonal(tiles, polygons, _polygon_zone)


def k_mask(row: dict, boxes: list[tuple], inverse: bool) -> dict:
    """One tile masked to the pixels whose CENTERS fall inside any of
    ``boxes`` (inverse: outside all of them); the rest become NoData. A
    tile whose bbox misses every box is passed through (inverse) or
    returned all-NoData (mask) without a pixel test."""
    txmin, tymin, txmax, tymax = (
        float(v) for v in G.tile_extent(row["zoom"], row["col"], row["row"]))
    arr, nd = row["px"], row["nodata"]
    hit = [b for b in boxes
           if b[0] < txmax and b[2] > txmin and b[1] < tymax and b[3] > tymin]
    if not hit:
        return {} if inverse else {"px": np.full(arr.shape, nd, dtype=arr.dtype)}
    gx, gy = pixel_centers(txmin, tymin, txmax, tymax, arr.shape[0])
    m = np.zeros(gx.shape, dtype=bool)
    for b in hit:
        m |= _in_box(gx, gy, *b)
    out = arr.copy()
    out[m if inverse else ~m] = nd
    return {"px": out}


def mask_tiles(tiles: DataFrame, boxes: DataFrame, tile_size: int = TILE_SIZE,
               inverse: bool = False, max_boxes: int = 10000) -> DataFrame:
    """GeoTrellis mask / inverseMask over the engine tile table
    (geotrellis.raster.mask.TileMaskMethods — the core op family every
    RasterSource the reference exposes feeds into; cropping reads by AOI
    is the reference's own usage shape, SubsceneReadingIT.scala:91-97):
    pixels whose CENTERS fall inside any masking box are kept (mask) or
    blanked (inverse); everything else becomes NoData. ``boxes``:
    (xmin, ymin, xmax, ymax) lon/lat, the engine's half-open
    [xmin,xmax) x [ymin,ymax) center rule (same tier zonal_stats_pixels
    uses).

    Plan shape: the AOI table is a constant-small dimension — collected
    ONCE (fail-loud past ``max_boxes``; the IVF-centroid pattern) and
    closed over a narrow Arrow map. ZERO shuffle at any corpus size.
    Output schema = input schema."""
    rows = boxes.select("xmin", "ymin", "xmax", "ymax") \
                .limit(max_boxes + 1).collect()
    if len(rows) > max_boxes:
        raise ValueError(
            f"mask_tiles collected more than max_boxes={max_boxes} AOI "
            "boxes; a mask table this large needs the zonal-style "
            "broadcast-join path, not the closed-over-dimension path")
    bx = [(float(r.xmin), float(r.ymin), float(r.xmax), float(r.ymax))
          for r in rows]
    return map_tiles(tiles, partial(k_mask, boxes=bx, inverse=bool(inverse)),
                     tiles.schema)


def rasterize_polygons(polygons: DataFrame, zoom: int, tile_size: int = TILE_SIZE,
                       value_col: str = "burn_val", nodata: float = 0.0) -> DataFrame:
    """Burn joined polygon attributes into tiles (the north_star
    vector->raster path, full wording): each polygon's covering tiles are
    enumerated JVM-side (explode), then one applyInPandas per tile key masks
    pixel centers with the crossing-number kernel and writes the polygon's
    attribute value; overlaps resolve last-writer by ascending poly_id
    (deterministic). ``polygons``: poly_id + bbox + wkb + ``value_col``.
    Output: (zoom, col, row, px binary float64, n_burned)."""
    from geotrellis_contrib_spark.functions import cells as C
    from geotrellis_contrib_spark.operators.spatial_join import with_cover_cells_wkb

    # EXACT polygon cover cells (not bbox cover): diagonal/sprawling shapes
    # touch far fewer tiles than their bbox
    cov = (with_cover_cells_wkb(polygons, zoom)
           .withColumn("cell_col", C.cell_col(F.col("cell")))
           .withColumn("cell_row", C.cell_row(F.col("cell")))
           .drop("cell"))

    def burn(pdf: pd.DataFrame) -> pd.DataFrame:
        col = int(pdf.cell_col.iloc[0])
        row = int(pdf.cell_row.iloc[0])
        gx, gy = pixel_centers(*(float(v) for v in G.tile_extent(zoom, col, row)),
                               tile_size)
        out = np.full((tile_size, tile_size), nodata)
        s = pdf.sort_values("poly_id")
        for blob, v in zip(s["wkb"].to_numpy(), s[value_col].to_numpy()):
            out[_polygon_mask(gx, gy, blob)] = float(v)
        return pd.DataFrame([{
            "zoom": zoom, "col": col, "row": row,
            "px": pack(out), "n_burned": int(valid_px(out, nodata).sum()),
        }])

    return cov.groupBy("cell_col", "cell_row").applyInPandas(
        burn, "zoom int, col bigint, row bigint, px binary, n_burned bigint")


def rasterize_lines(segs: DataFrame, zoom: int, tile_size: int = TILE_SIZE,
                    line_id: str = "line_id",
                    x0: str = "x0", y0: str = "y0",
                    x1: str = "x1", y1: str = "y1",
                    max_cols_per_seg: int = 1 << 20) -> DataFrame:
    """LINESTRING rasterization (geotrellis.raster.rasterize.Rasterizer
    foreachCellByLineString analog — the vector->raster path for line
    geometries): every global-pixel cell a segment PASSES THROUGH is
    burned (supercover traversal, not 8-connected Bresenham — the cell
    set GeoTrellis's exact traversal visits). ``segs`` carries one row
    per segment in lon/lat. Cells are treated as CLOSED pixel squares:
    a segment that only touches a cell boundary burns that cell too
    (at an exact corner crossing both diagonal neighbors burn) — the
    conservative supercover, a superset of any half-open convention on
    the measure-zero boundary set and identical everywhere else.

    Spark-first: the traversal is declared ENTIRELY in JVM Column
    algebra — per segment, explode the x-monotone column range
    (F.sequence over floored pixel columns), compute the segment's
    y-interval inside each column in closed form, then explode its
    floored row range; no Python touches the hot path, Catalyst prunes
    and AQE re-plans the two bounded explodes. Column fan-out per
    segment is <= its pixel-column span (fail-loud past
    ``max_cols_per_seg`` inside the plan — never silently truncates).
    Output: one row per (line_id, cx, cy) burned cell at ``zoom``
    (global pixel coords), deduplicated within a segment by
    construction; callers aggregate (see q_line_burn)."""
    from geotrellis_contrib_spark.functions import cells as C

    npx = (1 << zoom) * tile_size
    s = (segs.select(
            F.col(line_id).alias("line_id"),
            C.gpix_x(F.col(x0), zoom, tile_size).alias("px0"),
            C.gpix_y(F.col(y0), zoom, tile_size).alias("py0"),
            C.gpix_x(F.col(x1), zoom, tile_size).alias("px1"),
            C.gpix_y(F.col(y1), zoom, tile_size).alias("py1")))
    # orient left-to-right in x (ties keep endpoint 0 as the anchor)
    s = (s.withColumn("xa", F.when(F.col("px0") <= F.col("px1"),
                                   F.col("px0")).otherwise(F.col("px1")))
          .withColumn("ya", F.when(F.col("px0") <= F.col("px1"),
                                   F.col("py0")).otherwise(F.col("py1")))
          .withColumn("xb", F.when(F.col("px0") <= F.col("px1"),
                                   F.col("px1")).otherwise(F.col("px0")))
          .withColumn("yb", F.when(F.col("px0") <= F.col("px1"),
                                   F.col("py1")).otherwise(F.col("py0"))))
    ka = F.floor(F.col("xa")).cast("long")
    kb = F.floor(F.col("xb")).cast("long")
    kb_checked = F.when(
        kb - ka > F.lit(max_cols_per_seg),
        F.raise_error(F.concat(
            F.lit("rasterize_lines: segment spans more than "
                  f"{max_cols_per_seg} pixel columns ("),
            (kb - ka).cast("string"),
            F.lit("); clip the geometry or raise max_cols_per_seg"))
        ).cast("long")).otherwise(kb)
    cols = s.withColumn("k", F.explode(F.sequence(ka, kb_checked)))
    vertical = F.col("xb") == F.col("xa")
    m = (F.col("yb") - F.col("ya")) / (F.col("xb") - F.col("xa"))
    x_lo = F.greatest(F.col("xa"), F.col("k").cast("double"))
    x_hi = F.least(F.col("xb"), (F.col("k") + F.lit(1)).cast("double"))
    y_lo = F.when(vertical, F.col("ya")) \
            .otherwise(F.col("ya") + (x_lo - F.col("xa")) * m)
    y_hi = F.when(vertical, F.col("yb")) \
            .otherwise(F.col("ya") + (x_hi - F.col("xa")) * m)
    ra = F.floor(F.least(y_lo, y_hi)).cast("long")
    rb = F.floor(F.greatest(y_lo, y_hi)).cast("long")
    cells = (cols.withColumn("cy", F.explode(F.sequence(ra, rb)))
                 .select("line_id", F.col("k").alias("cx"), "cy")
                 .filter((F.col("cx") >= 0) & (F.col("cx") < npx)
                         & (F.col("cy") >= 0) & (F.col("cy") < npx)))
    return cells


def kernel_density(points: DataFrame, zoom: int, radius_px: float = 4.0,
                   tile_size: int = TILE_SIZE,
                   lon="lon", lat="lat") -> DataFrame:
    """GeoTrellis KernelDensity analog (vector->raster with a stamped
    kernel): each point stamps a TRIANGLE kernel w = max(0, 1 - d/R) over
    the pixels whose CENTERS lie within R pixels of the point (d measured
    in continuous global web-mercator pixel space at ``zoom``), and
    per-pixel density is the sum over points.

    Scale plan: points replicate JVM-side to every tile their kernel
    square overlaps (<= 4 tiles for R < T — a bounded fan-out, not a
    cross join), ONE shuffle on the tile key, then a vectorized stamp per
    tile in applyInPandas.

    Determinism contract (mirrored by the ``kernel_density`` SQL oracle —
    change one only with the other): each (pixel, point) contribution is
    quantized FIRST — floor(w * 2^20 + 0.5) as int64 — and the per-pixel
    density is the INTEGER sum, so it is independent of point order.
    Only tiles with a positive total are emitted (a kernel square can
    overlap a tile whose pixel centers all miss the kernel disc).
    Output: (zoom, col, row, density_sum, n_nonzero, px int64 grid)."""
    from geotrellis_contrib_spark.functions import cells as C

    if radius_px <= 0 or radius_px >= tile_size:
        raise ValueError(f"radius_px must be in (0, {tile_size}): "
                         f"{radius_px}")
    r = float(radius_px)
    t = int(tile_size)
    n = 1 << zoom
    pts = (points.filter(F.col(lon).isNotNull() & F.col(lat).isNotNull())
           .select(C.gpix_x(F.col(lon), zoom, t).alias("gx"),
                   C.gpix_y(F.col(lat), zoom, t).alias("gy")))
    # candidate tiles: every tile the kernel SQUARE overlaps, clamped to
    # the grid — bounded explode (<= 2x2), keyed for ONE co-partitioned
    # shuffle
    txmin = F.greatest(F.floor((F.col("gx") - F.lit(r)) / F.lit(float(t)))
                       .cast("long"), F.lit(0).cast("long"))
    txmax = F.least(F.floor((F.col("gx") + F.lit(r)) / F.lit(float(t)))
                    .cast("long"), F.lit(int(n - 1)).cast("long"))
    tymin = F.greatest(F.floor((F.col("gy") - F.lit(r)) / F.lit(float(t)))
                       .cast("long"), F.lit(0).cast("long"))
    tymax = F.least(F.floor((F.col("gy") + F.lit(r)) / F.lit(float(t)))
                    .cast("long"), F.lit(int(n - 1)).cast("long"))
    # a point outside the zoom grid (e.g. lon beyond +/-180) can invert
    # the clamped bounds, and F.sequence(start, stop) silently generates
    # a DESCENDING range — filter the inverted case out instead of
    # exploding bogus out-of-grid candidate tiles (r5 ADVICE)
    cand = (pts.withColumn("_tx0", txmin).withColumn("_tx1", txmax)
            .withColumn("_ty0", tymin).withColumn("_ty1", tymax)
            .filter((F.col("_tx0") <= F.col("_tx1"))
                    & (F.col("_ty0") <= F.col("_ty1")))
            .withColumn("tx", F.explode(F.sequence("_tx0", "_tx1")))
            .withColumn("ty", F.explode(F.sequence("_ty0", "_ty1")))
            .drop("_tx0", "_tx1", "_ty0", "_ty1"))

    K = int(np.floor(2.0 * r)) + 1  # max window span (clamps shrink)
    off = np.arange(K, dtype=np.int64)
    # rows per stamp pass: each (rows, K, K) float64 temporary <= 8 MB
    chunk = max(1, (1 << 20) // (K * K))

    def stamp(pdf: pd.DataFrame) -> pd.DataFrame:
        # ONE stamp over every tile of a 4x4 SUPERGROUP (r7: grouped-map
        # pays a fixed pandas/Arrow cost PER GROUP, and a world-spread
        # point set lands in thousands of sparse tiles): fixed K-wide
        # windows per (point, tile) row, one bincount over tile x pixel,
        # in row chunks that bound the temporaries.
        # Contributions are quantized per (pixel, point) BEFORE the sum;
        # bincount's float64 partial sums of 2^20-scale integers are
        # exact far past any realistic per-pixel point count (2^53
        # headroom).
        keys, tile = np.unique(pdf[["tx", "ty"]].to_numpy(np.int64),
                               axis=0, return_inverse=True)
        tile = tile.ravel()
        acc = np.zeros(len(keys) * t * t)
        gxs, gys = pdf.gx.to_numpy(), pdf.gy.to_numpy()
        for s in range(0, len(tile), chunk):
            k, gx, gy = (a[s:s + chunk] for a in (tile, gxs, gys))
            bx, by = keys[k, 0] * t, keys[k, 1] * t
            p0 = np.maximum(bx, np.ceil(gx - 0.5 - r)).astype(np.int64)
            p1 = np.minimum(bx + t - 1,
                            np.floor(gx - 0.5 + r)).astype(np.int64)
            q0 = np.maximum(by, np.ceil(gy - 0.5 - r)).astype(np.int64)
            q1 = np.minimum(by + t - 1,
                            np.floor(gy - 0.5 + r)).astype(np.int64)
            px_i = p0[:, None] + off                      # (N, K)
            py_i = q0[:, None] + off
            dx = px_i.astype(np.float64) + 0.5 - gx[:, None]
            dy = py_i.astype(np.float64) + 0.5 - gy[:, None]
            w = np.maximum(0.0, 1.0 - np.sqrt(
                dy[:, :, None] ** 2 + dx[:, None, :] ** 2) / r)
            qv = np.floor(w * 1048576.0 + 0.5)            # (N, Ky, Kx)
            valid = (py_i <= q1[:, None])[:, :, None] \
                & (px_i <= p1[:, None])[:, None, :]
            flat = (k[:, None, None] * t * t
                    + (py_i - by[:, None])[:, :, None] * t
                    + (px_i - bx[:, None])[:, None, :])
            acc += np.bincount(flat[valid], weights=qv[valid],
                               minlength=acc.size)
        grid = acc.astype(np.int64).reshape(-1, t, t)
        total = grid.sum(axis=(1, 2))
        keep = total > 0
        return pd.DataFrame({
            "zoom": np.full(int(keep.sum()), zoom),
            "col": keys[keep, 0], "row": keys[keep, 1],
            "density_sum": total[keep],
            "n_nonzero": (grid[keep] > 0).sum(axis=(1, 2)),
            "px": [g.tobytes() for g in grid[keep]]})

    return (cand.withColumn("_sx", F.shiftright("tx", 2))
            .withColumn("_sy", F.shiftright("ty", 2))
            .groupBy("_sx", "_sy").applyInPandas(
                stamp, "zoom int, col bigint, row bigint, "
                       "density_sum bigint, n_nonzero bigint, px binary"))


def idw_interpolate(points: DataFrame, zoom: int, radius_px: float = 4.0,
                    tile_size: int = TILE_SIZE, lon="lon", lat="lat",
                    val="z", power: float = 2.0,
                    quantize: bool = True) -> DataFrame:
    """GeoTrellis InverseDistanceWeighted analog (vector->raster
    interpolation): per pixel, value = sum(w_i * z_i) / sum(w_i) over the
    sample points within ``radius_px`` of the pixel center (continuous
    global pixel space at ``zoom``), w = 1/d^power.

    Scale plan: identical to ``kernel_density`` — bounded <=2x2 tile
    replication JVM-side, ONE co-partitioned shuffle, vectorized stamps.

    Two contracts:
      * ``quantize=True`` (the SQL-gated distributed contract, power
        fixed at 2): w = 1 / max(d^2, 0.25) — the 0.5-px distance clamp
        bounds w so per-(pixel,point) contributions quantize to int64
        (floor(w*z*2^20+0.5), floor(w*2^20+0.5)) and per-pixel sums are
        ORDER-INDEPENDENT integer sums. Output per tile:
        (zoom, col, row, num_sum, den_sum, n_px) over den>0 pixels.
      * ``quantize=False`` (exact GeoTrellis semantics, pytest-gated):
        float w = 1/d^power, coincident samples (d^2 < 1e-12) assign
        their z directly (min z among coincident for determinism);
        points are accumulated in sorted (gx, gy, z) order so the result
        is deterministic under any shuffle order. Output per PIXEL:
        (zoom, col, row, pxx, pyy, idw_val)."""
    from geotrellis_contrib_spark.functions import cells as C

    if radius_px <= 0 or radius_px >= tile_size:
        raise ValueError(f"radius_px must be in (0, {tile_size}): "
                         f"{radius_px}")
    if quantize and power != 2.0:
        raise ValueError("the quantized contract fixes power=2")
    r = float(radius_px)
    t = int(tile_size)
    n = 1 << zoom
    pts = (points.filter(F.col(lon).isNotNull() & F.col(lat).isNotNull())
           .select(C.gpix_x(F.col(lon), zoom, t).alias("gx"),
                   C.gpix_y(F.col(lat), zoom, t).alias("gy"),
                   F.col(val).cast("double").alias("z")))
    txmin = F.greatest(F.floor((F.col("gx") - F.lit(r)) / F.lit(float(t)))
                       .cast("long"), F.lit(0).cast("long"))
    txmax = F.least(F.floor((F.col("gx") + F.lit(r)) / F.lit(float(t)))
                    .cast("long"), F.lit(int(n - 1)).cast("long"))
    tymin = F.greatest(F.floor((F.col("gy") - F.lit(r)) / F.lit(float(t)))
                       .cast("long"), F.lit(0).cast("long"))
    tymax = F.least(F.floor((F.col("gy") + F.lit(r)) / F.lit(float(t)))
                    .cast("long"), F.lit(int(n - 1)).cast("long"))
    # a point outside the zoom grid (e.g. lon beyond +/-180) can invert
    # the clamped bounds, and F.sequence(start, stop) silently generates
    # a DESCENDING range — filter the inverted case out instead of
    # exploding bogus out-of-grid candidate tiles (r5 ADVICE)
    cand = (pts.withColumn("_tx0", txmin).withColumn("_tx1", txmax)
            .withColumn("_ty0", tymin).withColumn("_ty1", tymax)
            .filter((F.col("_tx0") <= F.col("_tx1"))
                    & (F.col("_ty0") <= F.col("_ty1")))
            .withColumn("tx", F.explode(F.sequence("_tx0", "_tx1")))
            .withColumn("ty", F.explode(F.sequence("_ty0", "_ty1")))
            .drop("_tx0", "_tx1", "_ty0", "_ty1"))

    def _stamp_q_tile(pdf: pd.DataFrame) -> dict | None:
        # vectorized over ALL points of the tile (kernel_density's stamp
        # shape): per-(pixel,point) contributions quantized FIRST, two
        # bincount accumulates (num, den) — integer-sum exact.
        col, row = int(pdf.tx.iloc[0]), int(pdf.ty.iloc[0])
        bx, by = col * t, row * t
        gx = pdf.gx.to_numpy()
        gy = pdf.gy.to_numpy()
        z = pdf.z.to_numpy()
        K = int(np.floor(2.0 * r)) + 1
        p0 = np.maximum(bx, np.ceil(gx - 0.5 - r)).astype(np.int64)
        p1 = np.minimum(bx + t - 1, np.floor(gx - 0.5 + r)).astype(np.int64)
        q0 = np.maximum(by, np.ceil(gy - 0.5 - r)).astype(np.int64)
        q1 = np.minimum(by + t - 1, np.floor(gy - 0.5 + r)).astype(np.int64)
        off = np.arange(K, dtype=np.int64)
        px_i = p0[:, None] + off
        py_i = q0[:, None] + off
        okx = px_i <= p1[:, None]
        oky = py_i <= q1[:, None]
        dx = px_i.astype(np.float64) + 0.5 - gx[:, None]
        dy = py_i.astype(np.float64) + 0.5 - gy[:, None]
        d2 = dy[:, :, None] ** 2 + dx[:, None, :] ** 2  # (N, Ky, Kx)
        inside = d2 <= r * r
        w = 1.0 / np.maximum(d2, 0.25)
        wq = np.where(inside, np.floor(w * 1048576.0 + 0.5), 0.0)
        nq = np.where(inside,
                      np.floor(w * z[:, None, None] * 1048576.0 + 0.5),
                      0.0)
        valid = oky[:, :, None] & okx[:, None, :]
        flat = (py_i - by)[:, :, None] * t + (px_i - bx)[:, None, :]
        idx, wv, nv = flat[valid], wq[valid], nq[valid]
        den = np.bincount(idx, weights=wv,
                          minlength=t * t).astype(np.int64).reshape(t, t)
        num = np.bincount(idx, weights=nv,
                          minlength=t * t).astype(np.int64).reshape(t, t)
        if not (den > 0).any():
            return None
        return {"zoom": zoom, "col": col, "row": row,
                "num_sum": int(num.sum()), "den_sum": int(den.sum()),
                "n_px": int((den > 0).sum())}

    def stamp_q(pdf: pd.DataFrame) -> pd.DataFrame:
        # SUPERGROUP dispatcher (r7, kernel_density's shape): one group
        # per 4x4 tile block; inner per-tile stamp byte-identical.
        rows = [r for _, sub in pdf.groupby(["tx", "ty"], sort=False)
                for r in [_stamp_q_tile(sub)] if r is not None]
        return pd.DataFrame(rows, columns=["zoom", "col", "row",
                                           "num_sum", "den_sum", "n_px"])

    def _stamp_f_tile(pdf: pd.DataFrame) -> pd.DataFrame:
        col, row = int(pdf.tx.iloc[0]), int(pdf.ty.iloc[0])
        bx, by = col * t, row * t
        num = np.zeros((t, t))
        den = np.zeros((t, t))
        exact = np.full((t, t), np.nan)
        order = np.lexsort((pdf.z.to_numpy(), pdf.gy.to_numpy(),
                            pdf.gx.to_numpy()))
        for gx, gy, z in zip(pdf.gx.to_numpy()[order],
                             pdf.gy.to_numpy()[order],
                             pdf.z.to_numpy()[order]):
            p0 = max(bx, int(np.ceil(gx - 0.5 - r)))
            p1 = min(bx + t - 1, int(np.floor(gx - 0.5 + r)))
            q0 = max(by, int(np.ceil(gy - 0.5 - r)))
            q1 = min(by + t - 1, int(np.floor(gy - 0.5 + r)))
            if p1 < p0 or q1 < q0:
                continue
            dx = np.arange(p0, p1 + 1, dtype=np.float64) + 0.5 - gx
            dy = (np.arange(q0, q1 + 1, dtype=np.float64)
                  + 0.5 - gy).reshape(-1, 1)
            d2 = dy * dy + dx * dx
            inside = d2 <= r * r
            co = d2 < 1e-12
            sl = (slice(q0 - by, q1 + 1 - by), slice(p0 - bx, p1 + 1 - bx))
            sub = exact[sl]
            np.copyto(sub, np.where(np.isnan(sub), z,
                                    np.minimum(sub, z)), where=co)
            exact[sl] = sub
            w = np.where(inside & ~co, d2 ** (-power / 2.0), 0.0)
            num[sl] += w * z
            den[sl] += w
        touched = (den > 0) | ~np.isnan(exact)
        if not touched.any():
            return pd.DataFrame(columns=["zoom", "col", "row", "pxx",
                                         "pyy", "idw_val"])
        yy, xx = np.nonzero(touched)
        v = np.where(~np.isnan(exact[yy, xx]), exact[yy, xx],
                     num[yy, xx] / den[yy, xx])
        return pd.DataFrame({
            "zoom": zoom, "col": col, "row": row,
            "pxx": (xx + bx).astype(np.int64),
            "pyy": (yy + by).astype(np.int64), "idw_val": v})

    def stamp_f(pdf: pd.DataFrame) -> pd.DataFrame:
        # SUPERGROUP dispatcher (r7) — see stamp_q.
        outs = [_stamp_f_tile(sub)
                for _, sub in pdf.groupby(["tx", "ty"], sort=False)]
        outs = [o for o in outs if len(o)]
        if not outs:
            return pd.DataFrame(columns=["zoom", "col", "row", "pxx",
                                         "pyy", "idw_val"])
        return pd.concat(outs, ignore_index=True)

    sup = cand.withColumn("_sx", F.shiftright("tx", 2)) \
              .withColumn("_sy", F.shiftright("ty", 2))
    if quantize:
        return sup.groupBy("_sx", "_sy").applyInPandas(
            stamp_q, "zoom int, col bigint, row bigint, num_sum bigint, "
                     "den_sum bigint, n_px bigint")
    return sup.groupBy("_sx", "_sy").applyInPandas(
        stamp_f, "zoom int, col bigint, row bigint, pxx bigint, "
                 "pyy bigint, idw_val double")


def k_downsample2(arr: np.ndarray, nodata: float,
                  method: str = "average") -> np.ndarray:
    """2x downsample of one tile (GeoTrellis overview resample rules):
    ``average`` = NoData-aware mean of each 2x2 block with the FIXED
    chained-add order (v00 + v01 + v10 + v11) and ONE division — the
    order the SQL oracle mirrors; ``nearest`` = top-left pick;
    ``max`` = NoData-aware fmax. All-NoData blocks stay NoData."""
    a00 = arr[0::2, 0::2]
    a01 = arr[0::2, 1::2]
    a10 = arr[1::2, 0::2]
    a11 = arr[1::2, 1::2]
    if method == "nearest":
        return a00.copy()
    v00, v01, v10, v11 = (valid_px(a, nodata) for a in (a00, a01, a10, a11))
    cnt = (v00.astype(np.int64) + v01.astype(np.int64)
           + v10.astype(np.int64) + v11.astype(np.int64))
    if method == "max":
        stack = [np.where(v, a, np.nan) for v, a in
                 ((v00, a00), (v01, a01), (v10, a10), (v11, a11))]
        out = np.fmax(np.fmax(stack[0], stack[1]),
                      np.fmax(stack[2], stack[3]))
        return np.where(cnt > 0, out, nodata)
    if method != "average":
        raise ValueError(f"unsupported overview method {method!r}")
    num = (np.where(v00, a00, 0.0) + np.where(v01, a01, 0.0)
           + np.where(v10, a10, 0.0) + np.where(v11, a11, 0.0))
    return np.where(cnt > 0, num / np.maximum(cnt, 1), nodata)


def k_shrink(row: dict, method: str) -> dict:
    """One child tile downsampled 2x (:func:`k_downsample2`) and keyed by
    its parent tile and quadrant (build_overview_px)."""
    return {"source_idx": row.get("source_idx", 0), "zoom": row["zoom"] - 1,
            "col": row["col"] // 2, "row": row["row"] // 2,
            "qr": row["row"] % 2, "qc": row["col"] % 2,
            "px": k_downsample2(row["px"].astype(np.float64), row["nodata"],
                                method)}


def build_overview_px(tiles: DataFrame, method: str = "average",
                      tile_size: int = TILE_SIZE) -> DataFrame:
    """Pixel-level overview (pyramid) build, zoom z -> z-1: each child
    tile DOWNSAMPLES MAP-SIDE to (t/2)^2 before the shuffle (1/4 of the
    bytes move — the strip-before-shuffle discipline), then ONE
    groupBy(parent key).applyInPandas assembles the four quadrants
    (missing children stay NoData). Output: parent tiles in the engine
    tile schema (zoom-1, col//2, row//2)."""
    t = int(tile_size)
    if method not in ("average", "nearest", "max"):
        raise ValueError(f"unsupported overview method {method!r}")
    pieces = map_tiles(
        tiles, partial(k_shrink, method=method),
        "source_id string, source_idx int, zoom int, col bigint, "
        "row bigint, band int, qr int, qc int, dtype string, "
        "nodata double, px binary")

    def assemble(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame([{
            "source_id": key[0], "source_idx": int(pdf["source_idx"].iloc[0]),
            "zoom": int(key[1]), "col": int(key[2]), "row": int(key[3]),
            "band": int(key[4]), "dtype": "float64",
            "nodata": float(pdf["nodata"].iloc[0]),
            "px": pack(_paste(pdf, t, pdf["qr"], pdf["qc"]))}])

    return pieces.groupBy("source_id", "zoom", "col", "row", "band") \
        .applyInPandas(
            assemble,
            "source_id string, source_idx int, zoom int, col bigint, "
            "row bigint, band int, dtype string, nodata double, "
            "px binary")
