"""Local (per-pixel) map algebra over the distributed tile table — unary
ops on one band (no shuffle) and cross-band combiners (one co-partitioned
shuffle on the tile key).

Reference parity: the reference's RasterSources feed GeoTrellis local map
algebra (Tile.combine / localAdd / reclassify families); the contrib tier
owns exactly this band/tile plumbing (RasterSourceSpec reads multiband
fixtures and band-subsets them — vlm/src/test/resources).

Spark-first plan (scale posture): every operator is a module-level
numpy kernel on one of the two raster drivers of ``pixels.py``.
  * ``local_map``, ``local_binary`` (after its join) and
    ``tile_checksums`` are ``k_<op>(row)`` kernels on ``map_tiles`` —
    embarrassingly parallel over the existing partitioning, zero
    shuffles; Catalyst prunes untouched columns around them.
  * ``band_combine``, ``ndvi_reclass_stats`` and ``crosstab`` are
    ``k_<op>(stack, valid, key)`` kernels on ``stack_tiles`` over the
    band rows of each tile — ONE co-partitioned shuffle of the raster
    bytes. At 100 TB a band-interleaved layout (all
    bands of a tile in one row) would make this shuffle-free; with the
    band-per-row layout, bucketing or Z-order on (col, row) makes it
    near-local. NoData in ANY input band -> NoData out (the GeoTrellis
    local-op convention).

Determinism contract (mirrored by the ``local_algebra`` SQL oracle in
``__spark_entry__.py`` — change one only with the other): the NDVI ratio
is one subtraction, one addition, one division per pixel; reclassify is
pure comparisons (exact); checksums quantize FIRST (floor(v*2^20+0.5) as
int64) then sum integers, so they are order-independent.
"""

from __future__ import annotations

from functools import partial
from typing import Callable

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geotrellis_contrib_spark.operators.pixels import (
    DTYPES, map_tiles, qsum, stack_tiles, valid_px)

_Q = 1048576.0  # 2^20, the shared checksum quantization


def k_local_map(row, *, fn):
    """:func:`local_map` of one tile."""
    arr = row["px"].astype(np.float64)
    res = fn(np.where(valid_px(arr, row["nodata"]), arr, np.nan))
    return {"px": np.where(np.isnan(res), row["nodata"], res)
            .astype(np.float64, copy=False)}


def local_map(tiles: DataFrame, fn: Callable[[np.ndarray], np.ndarray],
              tile_size: int = 64) -> DataFrame:
    """Unary local op: apply ``fn`` (vectorized numpy, NaN marks NoData)
    per tile — NO shuffle, the map runs on the existing partitioning.
    Returns the same schema with ``px`` replaced (dtype float64, NoData
    round-tripped through the tile's declared nodata value)."""
    return map_tiles(tiles, partial(k_local_map, fn=fn), tiles.schema)


def _bands(stack, valid, key) -> dict:
    """One tile's band planes, NaN on NoData, keyed by band number (a
    repeated band: the later plane)."""
    return {int(b): np.where(ok, a, np.nan)
            for b, a, ok in zip(key["band"], stack, valid)}


def k_band_combine(stack, valid, key, *, combiner):
    """:func:`band_combine` of one tile's band stack."""
    nodatas = dict(zip(key["band"].tolist(), key["nodata"].tolist()))
    # deterministic output nodata: the MINIMUM band's declaration —
    # last-row-wins depended on pandas group order (r5 ADVICE)
    nodata = nodatas[min(nodatas)]
    res = combiner(_bands(stack, valid, key))
    return {"band": 0, "nodata": nodata,
            "px": np.where(np.isnan(res), nodata, res)}


def band_combine(tiles: DataFrame,
                 combiner: Callable[[dict], np.ndarray],
                 tile_size: int = 64) -> DataFrame:
    """Cross-band local combiner: one co-partitioned shuffle on
    ``(source_id, col, row)`` assembles each tile's band stack, then
    ``combiner({band: float64 NaN-masked array}) -> float64 array`` runs
    vectorized per tile. Output: single-band float64 tiles (band = 0,
    NoData = NaN encoded as the group's nodata value)."""
    return stack_tiles(
        tiles, ("source_id", "col", "row"),
        partial(k_band_combine, combiner=combiner),
        "source_id string, col bigint, row bigint, band int, "
        "dtype string, nodata double, px binary")


def k_ndvi_reclass(stack, valid, key, *, breaks):
    """:func:`ndvi_reclass_stats` of one tile's band stack; no row
    without both band 0 and band 1."""
    bands = _bands(stack, valid, key)
    if 0 not in bands or 1 not in bands:
        return None
    a, b = bands[0], bands[1]
    ok = ~np.isnan(a + b)
    with np.errstate(invalid="ignore"):
        nd = (a - b) / (a + b)
    ok0 = ~np.isnan(a)
    cls = 1 + sum((a >= br).astype(np.int64) for br in breaks)
    return {"ndvi_sum": qsum(nd, ok), "ndvi_count": ok.sum(),
            "class_sum": cls[ok0].sum(), "class_count": ok0.sum()}


def ndvi_reclass_stats(tiles: DataFrame, breaks: tuple = (500.0, 1500.0, 2500.0),
                       tile_size: int = 64) -> DataFrame:
    """The gated local-algebra pipeline: per pixel,
    ``ndvi = (b0 - b1) / (b0 + b1)`` (NoData in either band -> excluded)
    and ``cls = 1 + sum(b0 >= break_i)`` (reclassify by fixed breaks,
    exact comparisons), in ONE co-partitioned shuffle. Returns per-tile
    order-independent checksums ``(source_id, col, row, ndvi_sum,
    ndvi_count, class_sum, class_count)`` with ndvi quantized first
    (floor(v*2^20+0.5) as int64). The ``local_algebra`` SQL oracle mirrors
    the arithmetic term-for-term — change one only with the other."""
    b1, b2, b3 = (float(b) for b in breaks)
    return stack_tiles(
        tiles, ("source_id", "col", "row"),
        partial(k_ndvi_reclass, breaks=(b1, b2, b3)),
        "source_id string, col bigint, row bigint, "
        "ndvi_sum bigint, ndvi_count bigint, "
        "class_sum bigint, class_count bigint")


_BIN_OPS = {
    "add": lambda a, b: a + b,
    "subtract": lambda a, b: a - b,
    "multiply": lambda a, b: a * b,
    "min": np.minimum,
    "max": np.maximum,
}


def k_local_binary(row, *, fn):
    """:func:`local_binary` of one joined tile pair (``b_``-prefixed
    columns: the second raster)."""
    va = row["px"].astype(np.float64)
    vb = np.frombuffer(row["b_px"], dtype=DTYPES[row["b_dtype"]]) \
        .reshape(va.shape).astype(np.float64)
    ok = valid_px(va, row["nodata"]) & valid_px(vb, row["b_nodata"])
    res = fn(va, vb)
    return {"px": np.where(ok & ~np.isnan(res), res, row["nodata"])}


def local_binary(a: DataFrame, b: DataFrame, op: str = "subtract",
                 tile_size: int = 64) -> DataFrame:
    """Two-raster local op (GeoTrellis localAdd / localSubtract /
    localMultiply / localMin / localMax between CO-REGISTERED rasters —
    image differencing is the classic change-detection use): inner join
    on the tile key (zoom, col, row, band), then a vectorized per-tile
    kernel; NoData in EITHER input -> NoData out (the GeoTrellis
    local-op convention). ONE co-partitioned shuffle of the raster
    bytes — with both tables bucketed/Z-ordered on the tile key this
    becomes near-local at 100 TB. Output keeps ``a``'s identity columns
    (source_id, nodata), dtype float64."""
    if op not in _BIN_OPS:
        raise ValueError(f"local_binary: unknown op {op!r}; "
                         f"one of {sorted(_BIN_OPS)}")
    keys = ["zoom", "col", "row", "band"]
    bb = b.select(*keys, F.col("dtype").alias("b_dtype"),
                  F.col("nodata").alias("b_nodata"),
                  F.col("px").alias("b_px"))
    return map_tiles(a.join(bb, keys), partial(k_local_binary, fn=_BIN_OPS[op]),
                     a.schema)


def k_tile_checksum(row, *, q):
    """:func:`tile_checksums` of one tile."""
    arr = row["px"].astype(np.float64)
    valid = valid_px(arr, row["nodata"])
    return {"n_valid": int(valid.sum()), "q_sum": qsum(arr, valid, q)}


def tile_checksums(tiles: DataFrame, q: float = _Q,
                   tile_size: int = 64) -> DataFrame:
    """Per-tile order-independent checksum rollup: (source_id, zoom,
    col, row, band, n_valid, q_sum = Σ floor(v·q + 0.5) over valid
    cells). Zero shuffle — runs on the existing partitioning."""
    return map_tiles(tiles, partial(k_tile_checksum, q=q),
                     "source_id string, zoom int, col bigint, row bigint, "
                     "band int, n_valid bigint, q_sum bigint")


def k_crosstab(stack, valid, key, *, class_width):
    """:func:`crosstab` of one tile's band stack: one row per (c0, c1)
    class pair present; none without both bands or a pixel valid in
    both."""
    bands = _bands(stack, valid, key)
    if 0 not in bands or 1 not in bands:
        return None
    a, b = bands[0], bands[1]
    both = ~np.isnan(a) & ~np.isnan(b)
    ca = np.floor(a[both] / class_width).astype(np.int64)
    cb = np.floor(b[both] / class_width).astype(np.int64)
    pairs, cnts = np.unique(np.stack([ca, cb], axis=1), axis=0,
                            return_counts=True)
    return [{"c0": p[0], "c1": p[1], "n_pixels": c}
            for p, c in zip(pairs, cnts)]


def crosstab(tiles: DataFrame, class_width: float = 500.0,
             tile_size: int = 64) -> DataFrame:
    """Two-band CONTINGENCY TABLE (ArcGIS Tabulate Area / GRASS r.cross
    — the change-detection matrix between two classified epochs): per
    scene, pixel counts for every (class(band0), class(band1)) pair
    where BOTH bands are valid; class(v) = floor(v / class_width)
    (floor of ONE IEEE division — identical both sides). Returns
    (source_id, c0, c1, n_pixels).

    Plan shape: one Arrow pass pairs each tile's two band rows (grouped
    on the tile key) and emits per-tile (c0, c1) counts — at most
    classes^2 rows per tile, usually far fewer — then ONE
    map-side-combined rollup."""
    part = stack_tiles(
        tiles, ("source_id", "zoom", "col", "row"),
        partial(k_crosstab, class_width=class_width),
        "source_id string, c0 bigint, c1 bigint, n_pixels bigint")
    return part.groupBy("source_id", "c0", "c1").agg(
        F.sum("n_pixels").alias("n_pixels"))
