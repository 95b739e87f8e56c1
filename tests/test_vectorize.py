"""Raster -> vector polygonization tests: engine vs an independent
fill-check (crossing-number rasterization of the emitted WKT must
reproduce the region masks exactly), area/perimeter accounting, pinch
(diagonal self-touch) conventions, tiling invariance, and fail-louds.

Reference parity: GeoTrellis ``raster.vectorize`` / ``Tile#toVector``
over the tiled layers the reference's RasterSources produce."""
import re

import numpy as np
import pytest

from conftest import count_jobs
from geotrellis_contrib_spark.operators.pixels import pack
from geotrellis_contrib_spark.operators.vectorize import (
    _pip, vectorize_regions)

T = 64


def _tiles_df(spark, mask: np.ndarray, tile_size: int = T,
              nodata_holes: bool = False):
    """Pack a full boolean mask (H, W multiples of tile_size) into the
    engine tile schema at (col, row) starting (0, 0)."""
    h, w = mask.shape
    field = mask.astype(np.float64)
    if nodata_holes:
        field[~mask] = -9999.0  # unmasked cells as NoData instead of 0
    rows = []
    for tr in range(h // tile_size):
        for tc in range(w // tile_size):
            arr = np.ascontiguousarray(
                field[tr * tile_size:(tr + 1) * tile_size,
                      tc * tile_size:(tc + 1) * tile_size])
            rows.append(("s", 0, 6, tc, tr, 0, "float64", -9999.0,
                         pack(arr)))
    return spark.createDataFrame(
        rows, "source_id string, source_idx int, zoom int, col bigint, "
              "row bigint, band int, dtype string, nodata double, "
              "px binary")


def _wkt_rings(wkt: str):
    rings = []
    for m in re.finditer(r"\(([^()]+)\)", wkt):
        pts = [tuple(map(int, p.split())) for p in m.group(1).split(", ")]
        assert pts[0] == pts[-1], "ring not closed"
        rings.append([(r, c) for c, r in pts[:-1]])
    return rings


def _regions_4conn(mask: np.ndarray) -> dict[int, np.ndarray]:
    """Independent 4-connected labeling (BFS) -> {min_pixel_id: mask}."""
    h, w = mask.shape
    seen = np.zeros_like(mask)
    out = {}
    npx = 1 << 22
    for r0 in range(h):
        for c0 in range(w):
            if not mask[r0, c0] or seen[r0, c0]:
                continue
            stack, comp = [(r0, c0)], []
            seen[r0, c0] = True
            while stack:
                r, c = stack.pop()
                comp.append((r, c))
                for rr, cc in ((r - 1, c), (r + 1, c), (r, c - 1),
                               (r, c + 1)):
                    if 0 <= rr < h and 0 <= cc < w and mask[rr, cc] \
                            and not seen[rr, cc]:
                        seen[rr, cc] = True
                        stack.append((rr, cc))
            m = np.zeros_like(mask)
            for r, c in comp:
                m[r, c] = True
            out[min(r * npx + c for r, c in comp)] = m
    return out


def _check_against_mask(rows, mask):
    """Every engine row must fill back to exactly its region's mask."""
    refs = _regions_4conn(mask)
    assert {r.region_id for r in rows} == set(refs)
    for row in rows:
        ref = refs[row.region_id]
        assert row.n_pixels == int(ref.sum())
        rings = _wkt_rings(row.wkt)
        assert row.n_rings == len(rings)
        rmin, cmin = np.argwhere(ref).min(axis=0)
        rmax, cmax = np.argwhere(ref).max(axis=0)
        for r in range(rmin, rmax + 1):
            for c in range(cmin, cmax + 1):
                cnt = sum(_pip((r + 0.5, c + 0.5), ring)
                          for ring in rings)
                assert (cnt % 2 == 1) == bool(ref[r, c]), \
                    (row.region_id, r, c, row.wkt)
        # perimeter accounting: 4n - 2*adjacent pairs
        pairs = int((ref[:, :-1] & ref[:, 1:]).sum()
                    + (ref[:-1, :] & ref[1:, :]).sum())
        assert row.perimeter == 4 * int(ref.sum()) - 2 * pairs


def test_vectorize_random_masks_fill_exact(spark):
    rng = np.random.default_rng(42)
    # sparse blobs -> several regions with assorted shapes, spanning
    # the 2x2 tile layout
    mask = rng.random((128, 128)) < 0.35
    # carve crafted features: a frame with a hole crossing tile edges,
    # diagonal hole pinch, diagonal exterior pinch with a bridge
    mask[40:90, 40:90] = True
    mask[55:75, 55:75] = False
    mask[60, 60] = True            # island inside the hole
    mask[56, 56] = False           # (already false; keep determinism)
    tiles = _tiles_df(spark, mask)
    jobs, rows = count_jobs(spark, lambda: vectorize_regions(
        tiles, predicate=lambda a, gr, gc: a > 0.5, tile_size=T).collect())
    # 15 while the scan was cached in the session: caching it ran 1 job
    assert jobs == 14
    _check_against_mask(rows, mask)


def test_vectorize_nodata_and_tiling_invariance(spark):
    rng = np.random.default_rng(7)
    mask = rng.random((128, 128)) < 0.3
    mask[10:50, 60:125] = True
    mask[20:40, 70:110] = False
    # NoData background instead of 0.0 must give identical output
    rows_a = vectorize_regions(_tiles_df(spark, mask),
                               predicate=lambda a, gr, gc: a > 0.5,
                               tile_size=64).collect()
    rows_b = vectorize_regions(
        _tiles_df(spark, mask, nodata_holes=True),
        predicate=lambda a, gr, gc: a > 0.5, tile_size=64).collect()
    # 32-px tiling must be bit-identical (stitching is seam-free)
    rows_c = vectorize_regions(_tiles_df(spark, mask, tile_size=32),
                               predicate=lambda a, gr, gc: a > 0.5,
                               tile_size=32).collect()
    key = lambda r: r.region_id  # noqa: E731
    as_t = lambda rs: [(r.region_id, r.n_rings, r.n_pixels,  # noqa: E731
                        r.perimeter, r.wkt) for r in sorted(rs, key=key)]
    assert as_t(rows_a) == as_t(rows_b) == as_t(rows_c)
    _check_against_mask(rows_a, mask)


def test_vectorize_pinches(spark):
    mask = np.zeros((64, 64), dtype=bool)
    # hole-diagonal pinch: two diagonal holes merge into one
    # self-touching hole ring (rightmost-turn convention, documented)
    mask[1:8, 1:8] = True
    mask[2, 2] = False
    mask[3, 3] = False
    # exterior pinch with a bridge: lobes split cleanly
    mask[20:22, 20:26] = True
    mask[22, 25] = True
    mask[23, 25] = False
    mask[22:24, 20] = True
    mask[23, 20] = True
    rows = vectorize_regions(_tiles_df(spark, mask),
                             predicate=lambda a, gr, gc: a > 0.5,
                             tile_size=64).collect()
    _check_against_mask(rows, mask)
    big = [r for r in rows if r.n_pixels == 47][0]  # 49 - 2 holes
    assert big.n_rings == 2  # merged self-touching hole ring


def test_vectorize_max_edges_fail_loud(spark):
    mask = np.zeros((64, 64), dtype=bool)
    mask[4:40, 4:40] = True
    with pytest.raises(Exception, match="max_edges"):
        vectorize_regions(_tiles_df(spark, mask),
                          predicate=lambda a, gr, gc: a > 0.5,
                          tile_size=64, max_edges=16).collect()
