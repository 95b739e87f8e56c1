"""reproject_to_grid (arbitrary target GridExtent, RasterSourceF.scala:60-73)
and merge_tiles_multires (mixed-cell-size mosaic,
MosaicRasterSource.scala:121-146) vs whole-image numpy oracles."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from geotrellis_contrib_spark import corpus, grid
from geotrellis_contrib_spark.operators import pixels as px
from tests.conftest import assemble_target

TS = 64


@pytest.fixture(scope="module")
def tiles(spark):
    tiles = corpus.synth_px_tiles(spark, tile_size=TS).cache()
    yield tiles
    tiles.unpersist()


def _tile_arr(source_idx, band, col, row):
    r = np.arange(TS).reshape(-1, 1)
    c = np.arange(TS).reshape(1, -1)
    val = (source_idx * 1000.0 + band * 100.0 + col * 7.0 + row * 3.0
           + r * 0.5 + c * 0.25 + ((r * 31 + c * 17) % 13)).astype(np.float64)
    h0 = (source_idx * 11) % (TS - 16)
    val[h0:h0 + 16, h0:h0 + 16] = -9999.0
    return val


def _src_keys(source_idx=0):
    n_tiles, base_col, base_row = 4, 18, 24
    return [(base_col + tc + source_idx, base_row + tr)
            for tc in range(n_tiles) for tr in range(n_tiles)]


def _src_extent(source_idx=0):
    """Union 4326 extent of the source's tiles. NOTE a slippy mosaic is NOT
    a uniform 4326 grid (tile heights vary by row) — whole-image oracles
    must stay per-tile."""
    keys = _src_keys(source_idx)
    exts = [tuple(float(v) for v in grid.tile_extent(6, c, r)) for c, r in keys]
    return grid.GridExtent(min(e[0] for e in exts), min(e[1] for e in exts),
                           max(e[2] for e in exts), max(e[3] for e in exts),
                           1.0, 1.0)


def _oracle_reproject(target, fwd, method="nearest", source_idx=0, band=0):
    """Driver-side sequential reference: the SAME per-window pipeline the
    engine distributes, executed tile-by-tile in plain numpy."""
    kern = (px.k_reproject_nearest if method == "nearest"
            else px.k_reproject_bilinear)
    out = np.full((target.rows, target.cols), np.nan)
    cw, ch = target.cellwidth, target.cellheight
    for col, row in _src_keys(source_idx):
        tx0, ty0, tx1, ty1 = (float(v) for v in grid.tile_extent(6, col, row))
        if fwd is grid.mercator_to_lonlat:
            fx0, fy0 = (float(v) for v in grid.lonlat_to_mercator(tx0, ty0))
            fx1, fy1 = (float(v) for v in grid.lonlat_to_mercator(tx1, ty1))
        else:
            fx0, fy0, fx1, fy1 = tx0, ty0, tx1, ty1
        c0 = max(int(np.floor((fx0 - target.xmin) / cw)) - 1, 0)
        c1 = min(int(np.floor((fx1 - target.xmin) / cw)) + 1, target.cols - 1)
        r0 = max(int(np.floor((target.ymax - fy1) / ch)) - 1, 0)
        r1 = min(int(np.floor((target.ymax - fy0) / ch)) + 1, target.rows - 1)
        if c0 > c1 or r0 > r1:
            continue
        dst_ext = target.bounds_to_extent(c0, r0, c1, r1)
        win = kern(_tile_arr(source_idx, band, col, row),
                   (tx0, ty0, tx1, ty1), dst_ext,
                   (r1 - r0 + 1, c1 - c0 + 1), fwd, np.nan)
        view = out[r0:r0 + win.shape[0], c0:c0 + win.shape[1]]
        m = ~np.isnan(win)
        view[m] = win[m]
    return out


def _sel(tiles, s=0, band=0):
    return tiles.filter((F.col("source_idx") == s) & (F.col("band") == band))


def test_reproject_to_grid_mercator_region_nearest(spark, tiles):
    src_ge = _src_extent()
    # target region: the mercator footprint of the source, 100x120 cells
    mx0, my0 = grid.lonlat_to_mercator(src_ge.xmin, src_ge.ymin)
    mx1, my1 = grid.lonlat_to_mercator(src_ge.xmax, src_ge.ymax)
    target = grid.resample_to_dimensions(
        grid.GridExtent(float(mx0), float(my0), float(mx1), float(my1), 1.0, 1.0),
        120, 100)
    out = px.reproject_to_grid(_sel(tiles), target, method="nearest",
                               tile_size=TS, dst_crs=3857)
    got = assemble_target(out.collect(), target)
    want = _oracle_reproject(target, grid.mercator_to_lonlat)
    assert got.shape == want.shape == (100, 120)
    np.testing.assert_array_equal(np.isnan(got), np.isnan(want))
    m = ~np.isnan(want)
    assert m.mean() > 0.95  # the region is essentially covered
    np.testing.assert_array_equal(got[m], want[m])


def _identity(x, y):
    return (np.asarray(x, dtype=np.float64), np.asarray(y, dtype=np.float64))


def test_reproject_to_grid_4326_regrid(spark, tiles):
    src_ge = _src_extent()
    # pure regridding: 4326 target at a coarser, offset grid (TargetGrid path)
    lattice = grid.GridExtent(src_ge.xmin - 0.013, src_ge.ymin - 0.007,
                              src_ge.xmax, src_ge.ymax, 0.031, 0.017)
    target = grid.resample_to_grid(src_ge, lattice)
    out = px.reproject_to_grid(_sel(tiles), target, method="nearest",
                               tile_size=TS, dst_crs=4326)
    got = assemble_target(out.collect(), target)
    want = _oracle_reproject(target, _identity)
    np.testing.assert_array_equal(np.isnan(got), np.isnan(want))
    m = ~np.isnan(want)
    np.testing.assert_array_equal(got[m], want[m])


def test_reproject_bilinear_linear_field_exact():
    # bilinear interpolation reproduces a linear field exactly in the
    # interior (the classic correctness invariant); identity CRS
    rows = cols = 32
    r = np.arange(rows).reshape(-1, 1)
    c = np.arange(cols).reshape(1, -1)
    arr = (2.0 * c + 3.0 * r).astype(np.float64)
    src = (0.0, 0.0, 32.0, 32.0)
    dst = (4.0, 4.0, 28.0, 28.0)  # interior: no edge clamping
    out = px.k_reproject_bilinear(
        arr, src, dst, (48, 48),
        lambda x, y: (np.asarray(x, dtype=np.float64), np.asarray(y, dtype=np.float64)),
        np.nan)
    # expected: f(x, y) = 2*(x - 0.5) + 3*((32 - y) - 0.5) at pixel centers
    xs = 4.0 + (np.arange(48) + 0.5) * 24.0 / 48.0
    ys = 28.0 - (np.arange(48) + 0.5) * 24.0 / 48.0
    gx, gy = np.meshgrid(xs, ys)
    want = 2.0 * (gx - 0.5) + 3.0 * ((32.0 - gy) - 0.5)
    np.testing.assert_allclose(out, want, rtol=0, atol=1e-9)


def test_reproject_to_grid_bilinear(spark, tiles):
    src_ge = _src_extent()
    mx0, my0 = grid.lonlat_to_mercator(src_ge.xmin, src_ge.ymin)
    mx1, my1 = grid.lonlat_to_mercator(src_ge.xmax, src_ge.ymax)
    target = grid.resample_to_dimensions(
        grid.GridExtent(float(mx0), float(my0), float(mx1), float(my1), 1.0, 1.0),
        64, 64)
    out = px.reproject_to_grid(_sel(tiles), target, method="bilinear",
                               tile_size=TS, dst_crs=3857)
    got = assemble_target(out.collect(), target)
    want = _oracle_reproject(target, grid.mercator_to_lonlat, method="bilinear")
    np.testing.assert_array_equal(np.isnan(got), np.isnan(want))
    m = ~np.isnan(want)
    assert m.mean() > 0.9
    # tile extents come from JVM sinh/atan in the engine vs numpy in the
    # oracle — interpolation WEIGHTS may differ by an ulp (nearest is immune:
    # floor absorbs it); values agree to ~1e-12 relative
    np.testing.assert_allclose(got[m], want[m], rtol=1e-11, atol=1e-9)


def test_merge_multires_resamples_coarse_to_finest(spark):
    t64 = corpus.synth_px_tiles(spark, tile_size=64, n_sources=2) \
                .withColumn("tile_size", F.lit(64))
    t32 = corpus.synth_px_tiles(spark, tile_size=32, n_sources=3) \
                .filter(F.col("source_idx") == 2).withColumn("tile_size", F.lit(32))
    tiles = t64.unionByName(t32)
    merged = px.merge_tiles_multires(tiles)
    rows = {(r.col, r.row, r.band): r for r in merged.collect()}
    # a key covered by all three sources: col in [20, 21] (s0: 18-21,
    # s1: 19-22, s2: 20-23)
    key = (20, 24, 0)
    r = rows[key]
    assert r.tile_size == 64
    got = np.frombuffer(r.px, dtype=np.float64).reshape(64, 64)

    def synth(s, ts):
        rr = np.arange(ts).reshape(-1, 1)
        cc = np.arange(ts).reshape(1, -1)
        v = (s * 1000.0 + key[2] * 100.0 + key[0] * 7.0 + key[1] * 3.0
             + rr * 0.5 + cc * 0.25 + ((rr * 31 + cc * 17) % 13)).astype(np.float64)
        h0 = (s * 11) % (ts - 16)
        v[h0:h0 + 16, h0:h0 + 16] = -9999.0
        return v

    a0, a1 = synth(0, 64), synth(1, 64)
    a2 = px.k_resample_nearest(synth(2, 32), 64, 64)
    want = px.k_merge([a0, a1, a2], [-9999.0] * 3, "first")
    np.testing.assert_array_equal(got, want)
    # a key only the coarse source covers: the group's finest IS 32, so the
    # output stays at the source resolution (nothing to resample against)
    r23 = rows[(23, 24, 0)]
    assert r23.tile_size == 32
    got23 = np.frombuffer(r23.px, dtype=np.float64).reshape(32, 32)

    def synth_at(s, ts, col):
        rr = np.arange(ts).reshape(-1, 1)
        cc = np.arange(ts).reshape(1, -1)
        v = (s * 1000.0 + 0 * 100.0 + col * 7.0 + 24 * 3.0
             + rr * 0.5 + cc * 0.25 + ((rr * 31 + cc * 17) % 13)).astype(np.float64)
        h0 = (s * 11) % (ts - 16)
        v[h0:h0 + 16, h0:h0 + 16] = -9999.0
        return v

    want23 = px.k_merge([synth_at(2, 32, 23)], [-9999.0], "first")
    np.testing.assert_array_equal(got23, want23)


def test_reproject_to_grid_utm(spark, tiles):
    """UTM target grid (EPSG:32617, zone 17 covers the fixture's eastern
    tiles): engine per-tile output == the same kernels run driver-side."""
    tx0, ty0, tx1, ty1 = (float(v) for v in grid.tile_extent(6, 19, 24))
    e0, n0 = grid.lonlat_to_utm(tx0, ty0, 17)
    e1, n1 = grid.lonlat_to_utm(tx1, ty1, 17)
    target = grid.resample_to_dimensions(
        grid.GridExtent(float(min(e0, e1)), float(min(n0, n1)),
                        float(max(e0, e1)), float(max(n0, n1)), 1.0, 1.0), 50, 40)
    one = tiles.filter((F.col("source_idx") == 0) & (F.col("band") == 0)
                       & (F.col("col") == 19) & (F.col("row") == 24))
    out = px.reproject_to_grid(one, target, method="nearest",
                               tile_size=TS, dst_crs=32617)
    got = assemble_target(out.collect(), target)
    want = px.k_reproject_nearest(
        _tile_arr(0, 0, 19, 24), (tx0, ty0, tx1, ty1),
        (target.xmin, target.ymin, target.xmax, target.ymax),
        (target.rows, target.cols),
        lambda e, n: grid.utm_to_lonlat(e, n, 17), np.nan)
    m = ~np.isnan(want)
    assert m.mean() > 0.5
    np.testing.assert_array_equal(got[m], want[m])


def test_reproject_to_grid_laea_3035(spark, tiles):
    """Equal-area LAEA target grid (EPSG:3035): engine per-tile output ==
    the same kernels run driver-side with the registry transforms. The
    fixture tiles sit near (-75..-66, 45..52) — inside 3035's oblique
    validity (centered 10E/52N) though far west; the non-monotone footprint
    path (boundary sampling) is exercised."""
    fwd3035, inv3035 = grid.EQUAL_AREA_CRS[3035]
    tx0, ty0, tx1, ty1 = (float(v) for v in grid.tile_extent(6, 19, 24))
    xs, ys = fwd3035(np.array([tx0, tx1, tx0, tx1]), np.array([ty0, ty0, ty1, ty1]))
    target = grid.resample_to_dimensions(
        grid.GridExtent(float(np.min(xs)), float(np.min(ys)),
                        float(np.max(xs)), float(np.max(ys)), 1.0, 1.0), 50, 40)
    one = tiles.filter((F.col("source_idx") == 0) & (F.col("band") == 0)
                       & (F.col("col") == 19) & (F.col("row") == 24))
    out = px.reproject_to_grid(one, target, method="nearest",
                               tile_size=TS, dst_crs=3035)
    got = assemble_target(out.collect(), target)
    want = px.k_reproject_nearest(
        _tile_arr(0, 0, 19, 24), (tx0, ty0, tx1, ty1),
        (target.xmin, target.ymin, target.xmax, target.ymax),
        (target.rows, target.cols), inv3035, np.nan)
    m = ~np.isnan(want)
    assert m.mean() > 0.4
    np.testing.assert_array_equal(np.isnan(got), np.isnan(want))
    np.testing.assert_array_equal(got[m], want[m])


def test_reproject_to_grid_albers_5070(spark, tiles):
    """Albers Conus target (EPSG:5070): the fixture's NE-US tiles are in
    the projection's home region."""
    fwd5070, inv5070 = grid.EQUAL_AREA_CRS[5070]
    tx0, ty0, tx1, ty1 = (float(v) for v in grid.tile_extent(6, 19, 25))
    xs, ys = fwd5070(np.array([tx0, tx1, tx0, tx1]), np.array([ty0, ty0, ty1, ty1]))
    target = grid.resample_to_dimensions(
        grid.GridExtent(float(np.min(xs)), float(np.min(ys)),
                        float(np.max(xs)), float(np.max(ys)), 1.0, 1.0), 50, 40)
    one = tiles.filter((F.col("source_idx") == 0) & (F.col("band") == 0)
                       & (F.col("col") == 19) & (F.col("row") == 25))
    out = px.reproject_to_grid(one, target, method="bilinear",
                               tile_size=TS, dst_crs=5070)
    got = assemble_target(out.collect(), target)
    # the engine reads tile extents from the JVM Columns, whose trig can
    # differ from numpy's libm by 1 ulp on some rows (tile_ymax(6,25) does);
    # evaluate the SAME JVM expressions for the oracle so bilinear weights
    # stay bitwise-comparable
    from geotrellis_contrib_spark.functions import cells as C
    jvm = spark.range(1).select(
        C.tile_xmin(F.lit(6), F.lit(19)).alias("x0"),
        C.tile_xmax(F.lit(6), F.lit(19)).alias("x1"),
        C.tile_ymin(F.lit(6), F.lit(25)).alias("y0"),
        C.tile_ymax(F.lit(6), F.lit(25)).alias("y1")).collect()[0]
    want = px.k_reproject_bilinear(
        _tile_arr(0, 0, 19, 25), (jvm.x0, jvm.y0, jvm.x1, jvm.y1),
        (target.xmin, target.ymin, target.xmax, target.ymax),
        (target.rows, target.cols), inv5070, np.nan)
    m = ~np.isnan(want)
    assert m.mean() > 0.4
    np.testing.assert_array_equal(np.isnan(got), np.isnan(want))
    np.testing.assert_array_equal(got[m], want[m])


def test_reproject_to_grid_lcc_2154(spark, tiles):
    """Lambert-93 (EPSG:2154, conformal conic) target: engine per-tile
    output == driver-side kernels with the registry transforms — the
    conformal family through the same NAMED_CRS dispatch."""
    fwd2154, inv2154 = grid.NAMED_CRS[2154]
    tx0, ty0, tx1, ty1 = (float(v) for v in grid.tile_extent(6, 19, 24))
    es = np.linspace(0.0, 1.0, 9)
    bx = np.concatenate([tx0 + (tx1 - tx0) * es, tx0 + (tx1 - tx0) * es,
                         np.full(9, tx0), np.full(9, tx1)])
    by = np.concatenate([np.full(9, ty0), np.full(9, ty1),
                         ty0 + (ty1 - ty0) * es, ty0 + (ty1 - ty0) * es])
    xs, ys = fwd2154(bx, by)
    target = grid.resample_to_dimensions(
        grid.GridExtent(float(np.min(xs)), float(np.min(ys)),
                        float(np.max(xs)), float(np.max(ys)), 1.0, 1.0), 50, 40)
    one = tiles.filter((F.col("source_idx") == 0) & (F.col("band") == 0)
                       & (F.col("col") == 19) & (F.col("row") == 24))
    out = px.reproject_to_grid(one, target, method="nearest",
                               tile_size=TS, dst_crs=2154)
    got = assemble_target(out.collect(), target)
    want = px.k_reproject_nearest(
        _tile_arr(0, 0, 19, 24), (tx0, ty0, tx1, ty1),
        (target.xmin, target.ymin, target.xmax, target.ymax),
        (target.rows, target.cols), inv2154, np.nan)
    m = ~np.isnan(want)
    assert m.mean() > 0.3
    np.testing.assert_array_equal(np.isnan(got), np.isnan(want))
    np.testing.assert_array_equal(got[m], want[m])
