"""Grid/layout kernel tests — goldens hand-computed from published slippy-map
tile math plus the reference's grid semantics (SURVEY.md §2.4, §7)."""

import numpy as np
import pytest

from geotrellis_contrib_spark import geom as GM
from geotrellis_contrib_spark import grid


def test_mercator_roundtrip():
    lon = np.array([-180.0, -74.0060, 0.0, 151.2093, 179.9])
    lat = np.array([-60.0, 40.7128, 0.0, -33.8688, 80.0])
    x, y = grid.lonlat_to_mercator(lon, lat)
    lon2, lat2 = grid.mercator_to_lonlat(x, y)
    np.testing.assert_allclose(lon2, lon, atol=1e-9)
    np.testing.assert_allclose(lat2, lat, atol=1e-9)


def test_mercator_goldens():
    # Known WebMercator values: (0,0) -> (0,0); lon 180 -> MERC_MAX.
    x, y = grid.lonlat_to_mercator(np.array([0.0, 180.0]), np.array([0.0, 0.0]))
    np.testing.assert_allclose(x, [0.0, grid.MERC_MAX], rtol=1e-12)
    np.testing.assert_allclose(y, [0.0, 0.0], atol=1e-6)


def test_lonlat_to_tile_goldens():
    # Classic slippy-map goldens: zoom 0 everything is (0,0);
    # Greenwich at zoom 1 -> (1, 0) for lat>0.
    c, r = grid.lonlat_to_tile(np.array([0.0]), np.array([51.5]), 0)
    assert (c[0], r[0]) == (0, 0)
    c, r = grid.lonlat_to_tile(np.array([0.5]), np.array([51.5]), 1)
    assert (c[0], r[0]) == (1, 0)
    # NYC (-74.0060, 40.7128) at zoom 12: col = floor(105.994/360*4096) = 1205,
    # row = floor((1 - asinh(tan(lat))/pi)/2 * 4096) = floor(1540.017) = 1540.
    c, r = grid.lonlat_to_tile(np.array([-74.0060]), np.array([40.7128]), 12)
    assert (c[0], r[0]) == (1205, 1540)


def test_tile_extent_contains_point():
    c, r = grid.lonlat_to_tile(np.array([-74.0060]), np.array([40.7128]), 12)
    xmin, ymin, xmax, ymax = grid.tile_extent(12, c, r)
    assert xmin[0] <= -74.0060 < xmax[0]
    assert ymin[0] <= 40.7128 < ymax[0]


def test_tiles_for_extent_covers():
    cols, rows = grid.tiles_for_extent(8, -74.5, 40.0, -73.5, 41.0)
    assert len(cols) >= 1
    # every returned tile must intersect the bbox
    xmin, ymin, xmax, ymax = grid.tile_extent(8, cols, rows)
    assert np.all((xmin <= -73.5) & (xmax >= -74.5))
    assert np.all((ymin <= 41.0) & (ymax >= 40.0))
    # and the point tiles must be present
    for lon, lat in [(-74.5, 40.0), (-73.5, 41.0), (-74.0, 40.5)]:
        c, r = grid.lonlat_to_tile(np.array([lon]), np.array([lat]), 8)
        assert np.any((cols == c[0]) & (rows == r[0]))


def test_cell_pack_roundtrip():
    z = np.array([0, 5, 12, 22, 29])
    c = np.array([0, 17, 1205, 4_000_000, (1 << 29) - 1])
    r = np.array([0, 13, 1539, 3_999_999, (1 << 29) - 1])
    cell = grid.pack_cell(z, c, r)
    z2, c2, r2 = grid.unpack_cell(cell)
    np.testing.assert_array_equal(z2, z)
    np.testing.assert_array_equal(c2, c)
    np.testing.assert_array_equal(r2, r)
    assert np.all(cell >= 0)  # must stay in int64 positive range


def test_cell_parent_children():
    cell = grid.pack_cell(12, 1205, 1539)
    parent = grid.cell_parent(cell)
    z, c, r = grid.unpack_cell(parent)
    assert (z, c, r) == (11, 602, 769)
    kids = grid.cell_children(parent)
    assert cell in kids


def test_neighbor_ring():
    cs, rs = grid.neighbor_ring(12, 100, 100, ring=1)
    assert len(cs) == 8
    assert np.all(np.maximum(np.abs(cs - 100), np.abs(rs - 100)) == 1)
    # antimeridian wrap
    cs, rs = grid.neighbor_ring(3, 0, 4, ring=1)
    assert 7 in cs  # wrapped col
    # pole clip
    cs, rs = grid.neighbor_ring(3, 4, 0, ring=1)
    assert np.all(rs >= 0)
    assert len(cs) == 5


def test_morton_locality():
    m1 = grid.morton_interleave(np.array([0]), np.array([0]))[0]
    m2 = grid.morton_interleave(np.array([1]), np.array([0]))[0]
    m3 = grid.morton_interleave(np.array([0]), np.array([1]))[0]
    m4 = grid.morton_interleave(np.array([1]), np.array([1]))[0]
    assert [m1, m2, m3, m4] == [0, 1, 2, 3]


def test_grid_extent_round_not_ceil():
    # 10.4 cells wide -> round -> 10 (reference CHANGELOG.md:97 round-not-ceil)
    ge = grid.GridExtent(0.0, 0.0, 10.4, 20.6, 1.0, 1.0)
    assert ge.cols == 10
    assert ge.rows == 21
    assert ge.size == 210
    assert ge.grid_bounds == (0, 0, 9, 20)


def test_grid_extent_combine_requires_equal_cellsize():
    a = grid.GridExtent(0, 0, 10, 10, 1.0, 1.0)
    b = grid.GridExtent(5, 5, 20, 20, 1.0, 1.0)
    u = a.combine(b)
    assert (u.xmin, u.ymin, u.xmax, u.ymax) == (0, 0, 20, 20)
    c = grid.GridExtent(0, 0, 10, 10, 2.0, 2.0)
    with pytest.raises(ValueError):
        a.combine(c)


def test_extent_to_bounds_half_pixel():
    # 10x10 grid, cell 1.0. A request exactly covering pixels [2..4]x[3..5]
    # must not bleed into neighbors (half-pixel inset rule,
    # GDALRasterSource.scala:164-167).
    ge = grid.GridExtent(0.0, 0.0, 10.0, 10.0, 1.0, 1.0)
    b = ge.extent_to_bounds(2.0, 4.0, 5.0, 7.0)
    assert b == (2, 3, 4, 5)
    # round-trip
    assert ge.bounds_to_extent(*b) == (2.0, 4.0, 5.0, 7.0)


def test_bounds_intersection_and_split():
    assert grid.bounds_intersection((0, 0, 9, 9), (5, 5, 14, 14)) == (5, 5, 9, 9)
    assert grid.bounds_intersection((0, 0, 4, 4), (5, 5, 9, 9)) is None
    parts = grid.split_bounds((0, 0, 511, 300), 256, 256)
    assert parts == [(0, 0, 255, 255), (256, 0, 511, 255),
                     (0, 256, 255, 300), (256, 256, 511, 300)]


def test_keys_for_polygon_exact_cover():
    # a thin diagonal polygon: bbox cover is a large square block, the exact
    # cover follows the diagonal (strictly fewer cells, all intersecting)
    diag = [[(-50.0, -20.0), (-48.0, -20.0), (10.0, 40.0), (8.0, 40.0), (-50.0, -20.0)]]
    zoom = 6
    cols, rows = grid.keys_for_polygon(diag, zoom)
    bcols, brows = grid.tiles_for_extent(zoom, -50.0, -20.0, 10.0, 40.0)
    assert 0 < len(cols) < len(bcols)  # tighter than the bbox cover
    # every kept cell genuinely intersects (spot-check via dense sampling)
    from geotrellis_contrib_spark import geom as GM
    xmin, ymin, xmax, ymax = grid.tile_extent(zoom, cols, rows)
    hit = GM.polygon_intersects_boxes(diag, xmin, ymin, xmax, ymax)
    assert hit.all()
    # no intersecting cell was dropped: brute force over the bbox cover
    bxmin, bymin, bxmax, bymax = grid.tile_extent(zoom, bcols, brows)
    brute = GM.polygon_intersects_boxes(diag, bxmin, bymin, bxmax, bymax)
    expect = {(int(c), int(r)) for c, r, k in zip(bcols, brows, brute) if k}
    got = {(int(c), int(r)) for c, r in zip(cols, rows)}
    assert got == expect
    # polygon fully containing a cell: that cell is covered
    big = [[(-10.0, -10.0), (10.0, -10.0), (10.0, 10.0), (-10.0, 10.0), (-10.0, -10.0)]]
    c2, r2 = grid.keys_for_polygon(big, 6)
    cc, rr = grid.lonlat_to_tile(np.array([0.0]), np.array([0.0]), 6)
    assert np.any((c2 == cc[0]) & (r2 == rr[0]))


def test_resample_grid_strategies():
    src = grid.GridExtent(0.0, 0.0, 100.0, 50.0, 1.0, 1.0)
    assert grid.resample_identity(src) is src
    region = grid.GridExtent(10.0, 10.0, 20.0, 20.0, 0.5, 0.5)
    assert grid.resample_to_region(src, region) is region
    # snap onto a 4-unit lattice offset by 1
    lattice = grid.GridExtent(1.0, 1.0, 9.0, 9.0, 4.0, 4.0)
    g = grid.resample_to_grid(src, lattice)
    assert (g.xmin, g.ymin) == (-3.0, -3.0)   # floor to lattice below 0
    assert (g.xmax, g.ymax) == (101.0, 53.0)  # ceil to lattice above max
    assert (g.cellwidth, g.cellheight) == (4.0, 4.0)
    d = grid.resample_to_dimensions(src, 200, 25)
    assert (d.cols, d.rows) == (200, 25)
    c = grid.resample_to_cell_size(src, 2.5, 2.5)
    assert (c.cols, c.rows) == (40, 20)
    assert set(grid.RESAMPLE_GRID_STRATEGIES) == {
        "identity", "target_region", "target_grid", "dimensions", "target_cell_size"}


def test_select_overview():
    res = [1.0, 2.0, 4.0, 8.0]  # finest first
    assert grid.select_overview(res, 1.0) == 0
    assert grid.select_overview(res, 3.0) == 1
    assert grid.select_overview(res, 100.0) == 3
    assert grid.select_overview(res, 0.5) == 0  # nothing fine enough -> finest


def test_polygon_intersects_boxes_hole_boundary():
    # ADVICE r1 repro: outer square with a diagonal-band hole. The box
    # [3,9]^2 overlaps the polygon only via the hole's (non-convex) boundary
    # neighborhood — all four box corners are inside the hole, so only the
    # hole-ring edge test can catch it.
    outer = [(0.0, 0.0), (20.0, 0.0), (20.0, 20.0), (0.0, 20.0), (0.0, 0.0)]
    hole = [(1.0, 2.0), (18.0, 19.0), (19.0, 18.0), (2.0, 1.0), (1.0, 2.0)]
    rings = [outer, hole]
    hit = GM.polygon_intersects_boxes(rings, [3.0], [3.0], [9.0], [9.0])
    assert hit[0]
    # a box strictly inside a fat hole does NOT intersect
    rings2 = [outer, [(5.0, 5.0), (15.0, 5.0), (15.0, 15.0), (5.0, 15.0), (5.0, 5.0)]]
    assert not GM.polygon_intersects_boxes(rings2, [8.0], [8.0], [12.0], [12.0])[0]
    # but one crossing the hole boundary does
    assert GM.polygon_intersects_boxes(rings2, [3.0], [8.0], [8.0], [12.0])[0]


def test_morton_non_negative_high_coords():
    big = np.array([2**31 - 1, 2**30, 2**29], dtype=np.int64)
    m = grid.morton_interleave(big, big)
    assert (m >= 0).all()
    # locality still ordered for adjacent high coords
    a = grid.morton_interleave(np.array([2**30]), np.array([2**30]))[0]
    b = grid.morton_interleave(np.array([2**30 + 1]), np.array([2**30]))[0]
    assert 0 <= a < b


def test_utm_invariants_and_golden():
    # central meridian -> E exactly 500000; equator -> N exactly 0
    e, n = grid.lonlat_to_utm(-75.0, 0.0, 18)
    assert float(e) == 500000.0 and float(n) == 0.0
    # public golden (CN Tower, zone 17N): 630084 E, 4833439 N (+-1 m)
    e, n = grid.lonlat_to_utm(-79.387139, 43.642566, 17)
    assert abs(float(e) - 630084.0) < 1.0
    assert abs(float(n) - 4833439.0) < 1.0
    # zone selection
    assert grid.utm_zone(-79.38)[()] == 17
    assert grid.utm_zone(0.1)[()] == 31
    assert float(grid.utm_central_meridian(18)[()]) == -75.0


def test_utm_round_trip():
    rng = np.random.default_rng(7)
    lons = -78.0 + rng.uniform(0, 6, 200)   # zone 18 band
    lats = rng.uniform(-79.0, 83.0, 200)
    e, n = grid.lonlat_to_utm(lons, lats, 18)
    lon2, lat2 = grid.utm_to_lonlat(e, n, 18)
    np.testing.assert_allclose(lon2, lons, rtol=0, atol=1e-9)
    np.testing.assert_allclose(lat2, lats, rtol=0, atol=1e-9)
    # southern false northing path
    fn = grid.utm_false_northing(np.array([-33.9]))
    assert float(fn[0]) == 10000000.0
    e, n = grid.lonlat_to_utm(-75.8, -33.9, 18)
    lon3, lat3 = grid.utm_to_lonlat(e, n + fn, 18, northern=False)
    assert abs(float(lon3[0]) + 75.8) < 1e-9 \
        and abs(float(lat3[0]) + 33.9) < 1e-9


def test_morton_column_matches_numpy(spark):
    # the Column/SQL twins of morton_interleave must be bit-identical to
    # the numpy kernel, including large 31-bit coords near the sign-safety
    # boundary
    import numpy as np
    from geotrellis_contrib_spark import grid as gr
    from geotrellis_contrib_spark.functions import cells as C
    from pyspark.sql import functions as F
    rng = np.random.default_rng(3)
    cols = np.concatenate([rng.integers(0, 4096, 200),
                           rng.integers(0, 2**31, 200)])
    rows = np.concatenate([rng.integers(0, 4096, 200),
                           rng.integers(0, 2**31, 200)])
    want = gr.morton_interleave(cols, rows)
    df = spark.createDataFrame(
        [(int(c), int(r)) for c, r in zip(cols, rows)], "c long, r long")
    got = [x["m"] for x in
           df.select(C.morton_code("c", "r").alias("m")).collect()]
    assert got == list(want)
    # monotone locality sanity: (0,0) < (1,0) < (0,2) in z-order
    assert gr.morton_interleave(0, 0) < gr.morton_interleave(1, 0) \
        < gr.morton_interleave(0, 2)
