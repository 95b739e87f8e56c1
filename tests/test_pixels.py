"""Pixel-payload pipelines vs single-node numpy oracle (the dual-execution
pattern for the non-SQL-expressible tier; SURVEY.md §5)."""

from functools import partial

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geotrellis_contrib_spark import corpus
from geotrellis_contrib_spark.operators import pixels as px
from tests.conftest import assemble_window, replay_tiles

TS = 64


@pytest.fixture(scope="module")
def tiles(spark):
    tiles = corpus.synth_px_tiles(spark, tile_size=TS).cache()
    yield tiles
    tiles.unpersist()


def _local_tiles(tiles):
    return [(r.source_id, r.source_idx, r.col, r.row, r.band, r.nodata,
             px.unpack(r.px, r.dtype, TS)) for r in tiles.collect()]


def test_kernels_golden():
    a = np.arange(16, dtype=np.float64).reshape(4, 4) * 100.0
    # convert: uint8 rounds then clamps (GDAL byte rule)
    out = px.k_convert(a, -1.0, "uint8")
    assert out.dtype == np.uint8
    assert out[0, 0] == 0 and out[3, 3] == 255 and out[0, 2] == 200
    # resample nearest 4->2: picks centers (idx 1 and 3)
    rs = px.k_resample_nearest(a, 2, 2)
    assert rs.tolist() == [[500.0, 700.0], [1300.0, 1500.0]]
    # merge: left biased, nodata falls through
    m = px.k_merge([np.array([[1.0, -9.0]]), np.array([[5.0, 7.0]])], [-9.0, -9.0])
    assert m.tolist() == [[1.0, 7.0]]
    # composite strategies: NoData-aware mean/max/min; all-NoData -> nodata
    stack = [np.array([[2.0, -9.0]]), np.array([[4.0, -9.0]])]
    assert px.k_merge(stack, [-9.0, -9.0], "mean").tolist() == [[3.0, -9.0]]
    assert px.k_merge(stack, [-9.0, -9.0], "max").tolist() == [[4.0, -9.0]]
    assert px.k_merge(stack, [-9.0, -9.0], "min").tolist() == [[2.0, -9.0]]


def test_convert_roundtrip(spark, tiles):
    conv = px.convert(tiles, "float32", tile_size=TS)
    row = conv.filter((F.col("band") == 0) & (F.col("source_idx") == 0)) \
              .orderBy("col", "row").first()
    orig = [t for t in _local_tiles(tiles)
            if t[0] == "scene-0" and t[4] == 0 and (t[2], t[3]) == (row.col, row.row)][0][6]
    got = px.unpack(row.px, "float32", TS)
    np.testing.assert_array_equal(got, orig.astype(np.float32))


def test_resample():
    """resample's kernel: nearest 64 -> 16 keeps the dtype and samples the
    source pixel under each target center (every 4th, offset 2)."""
    arr = np.arange(TS * TS, dtype=np.float32).reshape(TS, TS)
    out = replay_tiles([{"nodata": -1.0, "px": arr}],
                       partial(px.k_warp, out_size=16), "dtype string, px binary")
    assert out["dtype"].tolist() == ["float32"]
    np.testing.assert_array_equal(px.unpack(out.px[0], "float32", 16), arr[2::4, 2::4])


def test_bilinear_kernel_golden():
    a = np.array([[0.0, 10.0], [20.0, 30.0]])
    # upscale 2->4: centers at fractional positions interpolate linearly
    out = px.k_resample_bilinear(a, 4, 4)
    assert out.shape == (4, 4)
    assert out[0, 0] == 0.0 and out[3, 3] == 30.0  # corners clamp
    # center (0.25, 0.25) in source space: 0*0.5625 + 10*0.1875 + 20*0.1875 + 30*0.0625
    assert abs(out[1, 1] - 7.5) < 1e-9
    # constant field stays constant under bilinear
    c = px.k_resample_bilinear(np.full((8, 8), 5.0), 3, 5)
    np.testing.assert_allclose(c, 5.0)
    # downscale averages symmetrically: 2x2 -> 1x1 center = mean
    m = px.k_resample_bilinear(a, 1, 1)
    assert m[0, 0] == 15.0


def test_resample_bilinear_operator(spark, tiles):
    out = px.resample(tiles.limit(2), 16, tile_size=TS, method="bilinear")
    r = out.first()
    arr = px.unpack(r.px, "float64", 16)
    assert arr.shape == (16, 16)
    assert np.isfinite(arr).all()


def test_merge_matches_numpy_oracle(spark, tiles):
    merged = px.merge_tiles(tiles, tile_size=TS)
    got = {(r.col, r.row, r.band): px.unpack(r.px, "float64", TS) for r in merged.collect()}

    local = _local_tiles(tiles)
    keys = {(c, r, b) for _, _, c, r, b, _, _ in local}
    for key in keys:
        group = sorted([t for t in local if (t[2], t[3], t[4]) == key], key=lambda t: t[1])
        oracle = px.k_merge([t[6] for t in group], [t[5] for t in group])
        np.testing.assert_array_equal(got[key], oracle, err_msg=str(key))
    # overlap actually exercised: some keys have >1 source
    assert max(sum(1 for t in local if (t[2], t[3], t[4]) == k) for k in keys) > 1


def test_read_cells_checksum(spark, tiles):
    got = {r.source_id: (r.px_sum, r.px_count)
           for r in px.read_cells_checksum(tiles, tile_size=TS).collect()}
    local = _local_tiles(tiles)
    for s in ("scene-0", "scene-1", "scene-2"):
        arrs = [t[6] for t in local if t[0] == s]
        nd = [t[5] for t in local if t[0] == s][0]
        valid = [a[~np.isclose(a, nd)] for a in arrs]
        exp_sum = float(sum(v.sum() for v in valid))
        exp_cnt = int(sum(v.size for v in valid))
        assert got[s][1] == exp_cnt
        assert abs(got[s][0] - exp_sum) < 1e-6 * max(abs(exp_sum), 1)


def test_nodata_rule_is_exact(spark):
    """NoData is exactly the tile's nodata value (or NaN), never a value
    near it: -9999.05 beside nodata -9999.0 and 1e-9 beside nodata 0.0 are
    pixels, which tile_stats and read_cells_checksum count and
    merge_tiles keeps."""
    a = np.full((4, 4), -9999.0)
    a[0, 0], a[0, 1] = -9999.05, 5.0
    b = np.zeros((4, 4))
    b[0, 0], b[1, 1] = 7.0, 1e-9
    tiles = spark.createDataFrame(
        [("a", 0, 6, 18, 24, 0, "float64", -9999.0, 4, px.pack(a)),
         ("b", 1, 6, 18, 24, 0, "float64", 0.0, 4, px.pack(b))],
        "source_id string, source_idx int, zoom int, col bigint, row bigint, "
        "band int, dtype string, nodata double, tile_size int, px binary")
    stats = {r.source_idx: (r.px_sum, r.px_count)
             for r in px.tile_stats(tiles, keys=("source_idx",)).collect()}
    assert stats == {0: (-9999.05 + 5.0, 2), 1: (7.0 + 1e-9, 2)}
    cells = {r.source_id: (r.px_sum, r.px_count)
             for r in px.read_cells_checksum(tiles, tile_size=4).collect()}
    assert cells == {"a": stats[0], "b": stats[1]}
    merged = px.unpack(px.merge_tiles(tiles, tile_size=4).first().px, "float64", 4)
    assert merged[0, 0] == -9999.05 and merged[0, 1] == 5.0
    assert merged[1, 1] == 1e-9


def test_reproject_kernel_identity_and_mask():
    arr = np.arange(64, dtype=np.float64).reshape(8, 8)
    src = (0.0, 0.0, 8.0, 8.0)
    # identity CRS mapping, same grid -> exact round-trip
    out = px.k_reproject_nearest(arr, src, src, (8, 8), lambda x, y: (x, y), -1.0)
    np.testing.assert_array_equal(out, arr)
    # shifted target: out-of-footprint pixels masked to nodata
    out = px.k_reproject_nearest(arr, src, (4.0, 4.0, 12.0, 12.0), (8, 8),
                                 lambda x, y: (x, y), -1.0)
    assert (out == -1.0).sum() == 48  # 3/4 of target outside
    # mercator pair: dst in 3857 meters, src in 4326 degrees
    from geotrellis_contrib_spark import grid
    dst = grid.lonlat_to_mercator(np.array([0.0, 8.0]), np.array([0.0, 8.0]))
    dst_ext = (dst[0][0], dst[1][0], dst[0][1], dst[1][1])
    out = px.k_reproject_nearest(arr, src, dst_ext, (8, 8),
                                 lambda x, y: grid.mercator_to_lonlat(x, y), -1.0)
    assert (out != -1.0).all()  # fully inside
    assert set(np.unique(out)).issubset(set(arr.ravel()))


def test_reproject_to_mercator_operator(spark, tiles):
    out = px.reproject_to_mercator(tiles.limit(6), tile_size=TS)
    rows = out.collect()
    assert len(rows) == 6
    for r in rows:
        arr = px.unpack(r.px, "float64", TS)
        assert arr.shape == (TS, TS)
        assert r.mx_min < r.mx_max and r.my_min < r.my_max
        # reprojecting a tile onto its own footprint: no nodata introduced
        src = [t for t in _local_tiles(tiles)
               if (t[0], t[2], t[3], t[4]) == (r.source_id, r.col, r.row, r.band)][0][6]
        src_vals = set(np.unique(src))
        assert set(np.unique(arr)).issubset(src_vals)  # gather-sample only
        # value distribution preserved modulo row remapping (mercator y warp)
        assert np.isin(arr, list(src_vals)).all()


def test_zonal_stats_pixels_vs_oracle(spark, tiles):
    boxes = spark.createDataFrame(
        # covers part of the scene block at zoom 6 (tiles 18..24 east, 24.. south)
        [("z1", -80.0, 30.0, -60.0, 45.0)],
        "poly_id string, xmin double, ymin double, xmax double, ymax double")
    got = px.zonal_stats_pixels(tiles, boxes, tile_size=TS).collect()
    if not got:
        pytest.skip("fixture does not intersect box — adjust fixture")
    for r in got:
        assert r.cnt > 0
        assert r.min_val <= r.mean_val <= r.max_val


def test_rasterize_polygons(spark):
    """Polygon burn: interiors get the attribute value, holes stay nodata,
    overlap resolves deterministically (ascending poly_id = last writer)."""
    from geotrellis_contrib_spark import geom as GM

    outer = [(-74.0, 40.0), (-70.0, 40.0), (-70.0, 44.0), (-74.0, 44.0), (-74.0, 40.0)]
    hole = [(-72.5, 41.5), (-71.5, 41.5), (-71.5, 42.5), (-72.5, 42.5), (-72.5, 41.5)]
    small = [(-71.0, 40.5), (-69.0, 40.5), (-69.0, 41.5), (-71.0, 41.5), (-71.0, 40.5)]
    rows = [
        ("a", -74.0, 40.0, -70.0, 44.0, GM.wkb_encode(GM.WKB_POLYGON, [outer, hole], srid=4326), 5.0),
        ("b", -71.0, 40.5, -69.0, 41.5, GM.wkb_encode(GM.WKB_POLYGON, [small], srid=4326), 9.0),
    ]
    polys = spark.createDataFrame(
        rows, "poly_id string, xmin double, ymin double, xmax double, ymax double, "
              "wkb binary, burn_val double")
    out = px.rasterize_polygons(polys, zoom=6, tile_size=32)
    tiles_out = {(r.col, r.row): px.unpack(r.px, "float64", 32) for r in out.collect()}
    assert len(tiles_out) > 0
    all_vals = np.concatenate([t.ravel() for t in tiles_out.values()])
    assert set(np.unique(all_vals)) <= {0.0, 5.0, 9.0}
    assert (all_vals == 5.0).sum() > 0 and (all_vals == 9.0).sum() > 0
    # hole center must NOT be burned: locate its pixel
    from geotrellis_contrib_spark import grid
    c, r = grid.lonlat_to_tile(np.array([-72.0]), np.array([42.0]), 6)
    arr = tiles_out[(int(c[0]), int(r[0]))]
    xmin, ymin, xmax, ymax = (v[0] if hasattr(v, "__len__") else v
                              for v in grid.tile_extent(6, c, r))
    ci = int((-72.0 - xmin) / (xmax - xmin) * 32)
    ri = int((ymax - 42.0) / (ymax - ymin) * 32)
    assert arr[ri, ci] == 0.0  # inside the hole
    # overlap region (small box overlaps outer ring): b wins (asc order)
    c2, r2 = grid.lonlat_to_tile(np.array([-70.5]), np.array([41.0]), 6)
    arr2 = tiles_out[(int(c2[0]), int(r2[0]))]
    assert (arr2 == 9.0).any()


def test_rasterize_polygons_nan_nodata_counts_burned(spark):
    """With a NaN nodata, n_burned counts the burned pixels only: the
    unburned ones are NaN, which is NoData whatever the declaration."""
    from geotrellis_contrib_spark import geom as GM

    ring = [(-71.0, 40.5), (-69.0, 40.5), (-69.0, 41.5), (-71.0, 41.5), (-71.0, 40.5)]
    polys = spark.createDataFrame(
        [("b", -71.0, 40.5, -69.0, 41.5,
          GM.wkb_encode(GM.WKB_POLYGON, [ring], srid=4326), 9.0)],
        "poly_id string, xmin double, ymin double, xmax double, ymax double, "
        "wkb binary, burn_val double")
    rows = px.rasterize_polygons(polys, zoom=6, tile_size=32,
                                 nodata=float("nan")).collect()
    assert rows
    for r in rows:
        arr = px.unpack(r.px, "float64", 32)
        assert r.n_burned == int((arr == 9.0).sum()) < 32 * 32


def test_zonal_stats_pixels_wkb(spark, tiles):
    """Arbitrary-polygon pixel zonal == box pixel zonal when the polygon IS
    the box; a holed polygon strictly reduces the masked count."""
    from geotrellis_contrib_spark import geom as GM

    box_ring = [(-80.0, 30.0), (-60.0, 30.0), (-60.0, 45.0), (-80.0, 45.0), (-80.0, 30.0)]
    hole = [(-72.0, 36.0), (-68.0, 36.0), (-68.0, 40.0), (-72.0, 40.0), (-72.0, 36.0)]
    mk = lambda pid, rings: (pid, -80.0, 30.0, -60.0, 45.0,  # noqa: E731
                             GM.wkb_encode(GM.WKB_POLYGON, rings, srid=4326))
    polys = spark.createDataFrame(
        [mk("solid", [box_ring]), mk("holed", [box_ring, hole])],
        "poly_id string, xmin double, ymin double, xmax double, ymax double, wkb binary")

    got = {(r.poly_id, r.band): r for r in
           px.zonal_stats_pixels_wkb(tiles, polys, tile_size=TS).collect()}
    boxes = spark.createDataFrame([("solid", -80.0, 30.0, -60.0, 45.0)],
                                  "poly_id string, xmin double, ymin double, xmax double, ymax double")
    box_ref = {(r.poly_id, r.band): r for r in
               px.zonal_stats_pixels(tiles, boxes, tile_size=TS).collect()}
    for band in (0, 1):
        # polygon==box: identical within the half-open-vs-crossing edge rule
        # (pixel centers never sit on the integer-degree edges here)
        assert got[("solid", band)].cnt == box_ref[("solid", band)].cnt
        assert got[("solid", band)].sum_val == box_ref[("solid", band)].sum_val
        assert got[("holed", band)].cnt < got[("solid", band)].cnt


def test_read_window_pixels(spark, tiles):
    """Windowed pixel read: clamp, crop, disjoint-empty — the reference
    read(bounds) contract replayed on the tile table and stitched back."""
    # scene-0 covers tile cols 18..21, rows 24..27 at TS=64 px
    # -> global pixels [1152..1408) x [1536..1792)
    scene0 = tiles.filter((F.col("source_id") == "scene-0") & (F.col("band") == 0))
    gb = (18 * TS, 24 * TS, 22 * TS - 1, 28 * TS - 1)

    # an unaligned window crossing tile edges
    win = (18 * TS + 40, 24 * TS + 10, 19 * TS + 30, 25 * TS + 5)
    rows = px.read_window(scene0, win, grid_bounds=gb, tile_size=TS).collect()
    got = assemble_window(rows, win)
    assert got.shape == (TS + 5 - 10 + 1, TS + 30 - 40 + 1)
    assert not np.isnan(got).any()
    # oracle: stitch locally from the raw tiles
    local = {(t[2], t[3]): t[6] for t in _local_tiles(tiles)
             if t[0] == "scene-0" and t[4] == 0}
    full = np.full((4 * TS, 4 * TS), np.nan)
    for (c, r), arr in local.items():
        full[(r - 24) * TS:(r - 23) * TS, (c - 18) * TS:(c - 17) * TS] = arr
    exp = full[win[1] - 24 * TS: win[3] - 24 * TS + 1,
               win[0] - 18 * TS: win[2] - 18 * TS + 1]
    np.testing.assert_array_equal(got, exp)

    # clamping: a window poking past the footprint clamps to it
    over = (21 * TS + 32, 27 * TS + 32, 23 * TS, 29 * TS)
    rows = px.read_window(scene0, over, grid_bounds=gb, tile_size=TS).collect()
    got = assemble_window(rows, (21 * TS + 32, 27 * TS + 32, 22 * TS - 1, 28 * TS - 1))
    assert got.shape == (32, 32) and not np.isnan(got).any()

    # disjoint window: empty result (clamped) / error (strict)
    far = (100 * TS, 100 * TS, 101 * TS, 101 * TS)
    assert px.read_window(scene0, far, grid_bounds=gb, tile_size=TS).count() == 0
    with pytest.raises(ValueError, match="disjoint"):
        px.read_window(scene0, far, grid_bounds=gb, tile_size=TS, clamp=False)


def test_retile_round_trip_identity(spark):
    """Split 64 -> 16 then reassemble 16 -> 64: pixels and keys identical
    (the LayoutTileSource re-tiling path, layout change only)."""
    import numpy as np
    from geotrellis_contrib_spark import corpus
    from geotrellis_contrib_spark.operators import pixels as px

    tiles = corpus.synth_px_tiles(spark, tile_size=64)
    small = px.retile(tiles, 64, 16)
    # split multiplies keys by 4 and bumps zoom by 2
    assert small.count() == tiles.count() * 16
    z = small.select("zoom").distinct().collect()
    assert [r.zoom for r in z] == [8]
    back = px.retile(small, 16, 64)
    orig = {(r.source_id, r.zoom, r.col, r.row, r.band):
            np.frombuffer(r.px, dtype=np.float64).reshape(64, 64)
            for r in tiles.collect()}
    got = {(r.source_id, r.zoom, r.col, r.row, r.band):
           np.frombuffer(r.px, dtype=np.float64).reshape(64, 64)
           for r in back.collect()}
    assert set(got) == set(orig)
    for key in orig:
        np.testing.assert_array_equal(got[key], orig[key])


def test_retile_up_missing_children_nodata(spark):
    import numpy as np
    from geotrellis_contrib_spark import corpus
    from geotrellis_contrib_spark.operators import pixels as px
    from pyspark.sql import functions as F

    tiles = corpus.synth_px_tiles(spark, tile_size=64).filter(
        (F.col("source_idx") == 0) & (F.col("band") == 0)
        & (F.col("col") == 18) & (F.col("row") == 24))
    up = px.retile(tiles, 64, 256).collect()
    assert len(up) == 1
    r = up[0]
    assert (r.zoom, r.col, r.row) == (4, 4, 6)
    panel = np.frombuffer(r.px, dtype=np.float64).reshape(256, 256)
    # quadrant (col%4=2, row%4=0) holds the child; everything else NoData
    child = panel[0:64, 128:192]
    assert not np.isclose(child, -9999.0).all()
    mask = np.ones((256, 256), dtype=bool)
    mask[0:64, 128:192] = False
    assert np.isclose(panel[mask], -9999.0).all()


# ---------------------------------------------------------------------------
# mask / inverseMask (geotrellis.raster.mask TileMaskMethods analog)
# ---------------------------------------------------------------------------

def _mask_numpy_oracle(tiles_rows, boxes, tile_size, inverse):
    """Untiled reference: per tile, pixel-center half-open box membership
    (union over boxes), linear-in-degrees-within-tile centers."""
    out = {}
    for r in tiles_rows:
        n = float(1 << r.zoom)
        txmin = r.col / n * 360.0 - 180.0
        txmax = (r.col + 1) / n * 360.0 - 180.0
        tymax = float(np.degrees(np.arctan(np.sinh(np.pi * (1 - 2 * r.row / n)))))
        tymin = float(np.degrees(np.arctan(np.sinh(np.pi * (1 - 2 * (r.row + 1) / n)))))
        base = np.arange(tile_size) + 0.5
        xs = txmin + base * (txmax - txmin) / tile_size
        ys = tymax - base * (tymax - tymin) / tile_size
        gx, gy = np.meshgrid(xs, ys)
        m = np.zeros(gx.shape, dtype=bool)
        for bxmin, bymin, bxmax, bymax in boxes:
            m |= (gx >= bxmin) & (gx < bxmax) & (gy >= bymin) & (gy < bymax)
        if inverse:
            m = ~m
        arr = px.unpack(r.px, r.dtype, tile_size).copy()
        arr[~m] = r.nodata
        out[(r.source_idx, r.band, r.col, r.row)] = arr
    return out


def test_mask_tiles_vs_numpy(spark):
    """Engine mask/inverseMask bit-identical to the untiled numpy rule,
    including the union of OVERLAPPING boxes; mask+inverse partition the
    valid set exactly."""
    tiles = corpus.synth_px_tiles(spark, tile_size=64)
    rows = tiles.collect()
    # the fixture spans lat 21.9..41.0: both boxes cut through tiles
    boxes = [(-76.5, 33.2, -74.8, 37.9), (-76.0, 35.0, -75.2, 40.1)]
    bdf = spark.createDataFrame(
        boxes, "xmin double, ymin double, xmax double, ymax double") \
        .select("xmin", "ymin", "xmax", "ymax")
    for inverse in (False, True):
        got = {(r.source_idx, r.band, r.col, r.row):
               px.unpack(r.px, r.dtype, 64)
               for r in px.mask_tiles(tiles, bdf, tile_size=64,
                                      inverse=inverse).collect()}
        want = _mask_numpy_oracle(rows, boxes, 64, inverse)
        assert got.keys() == want.keys()
        # some tile is cut: the pixel test ran, not only the no-hit path
        assert any(0 < (a != -9999.0).sum() < (px.unpack(r.px, r.dtype, 64) != -9999.0).sum()
                   for r in rows
                   for a in [got[(r.source_idx, r.band, r.col, r.row)]])
        for k in want:
            np.testing.assert_array_equal(got[k], want[k])
    # partition property: valid(mask) and valid(inverse) are disjoint and
    # union to valid(original)
    m = _mask_numpy_oracle(rows, boxes, 64, False)
    i = _mask_numpy_oracle(rows, boxes, 64, True)
    for r in rows:
        k = (r.source_idx, r.band, r.col, r.row)
        orig = px.unpack(r.px, r.dtype, 64)
        vm = m[k] != r.nodata
        vi = i[k] != r.nodata
        assert not (vm & vi).any()
        np.testing.assert_array_equal(vm | vi, orig != r.nodata)


def test_mask_tiles_no_hit_fast_paths():
    """A tile overlapping no box (mask_tiles' kernel): inverse passes the
    BLOB through byte-identical; mask yields the all-NoData tile."""
    rng = np.random.default_rng(7)
    rows = [{"zoom": 6, "col": c, "row": r, "nodata": -9999.0,
             "px": rng.uniform(0.0, 100.0, (64, 64)).astype(dt)}
            for c, r, dt in [(18, 24, np.float64), (21, 27, np.float32),
                             (19, 25, np.int16)]]
    far = [(100.0, 10.0, 101.0, 11.0)]
    ddl = "col bigint, dtype string, nodata double, px binary"
    inv = replay_tiles(rows, partial(px.k_mask, boxes=far, inverse=True), ddl)
    assert inv.px.tolist() == [px.pack(r["px"]) for r in rows]
    masked = replay_tiles(rows, partial(px.k_mask, boxes=far, inverse=False), ddl)
    for r, m in zip(rows, masked.to_dict("records")):
        assert m["dtype"] == r["px"].dtype.name
        assert (px.unpack(m["px"], m["dtype"], 64) == -9999.0).all()


def test_mask_tiles_max_boxes_fail_loud(spark):
    tiles = corpus.synth_px_tiles(spark, tile_size=64)
    many = spark.range(40).selectExpr("CAST(id AS DOUBLE) AS xmin",
                                      "0.0 AS ymin",
                                      "CAST(id+1 AS DOUBLE) AS xmax",
                                      "1.0 AS ymax")
    with pytest.raises(ValueError, match="max_boxes"):
        px.mask_tiles(tiles, many, tile_size=64, max_boxes=10)


# ---------------------------------------------------------------------------
# rasterize_lines (Rasterizer.foreachCellByLineString supercover analog)
# ---------------------------------------------------------------------------

def _burn_cells(spark, segs_lonlat, zoom=5, **kw):
    df = spark.createDataFrame(
        [(i, *s) for i, s in enumerate(segs_lonlat)],
        "line_id long, x0 double, y0 double, x1 double, y1 double")
    return {(r.line_id, r.cx, r.cy)
            for r in px.rasterize_lines(df, zoom, tile_size=64, **kw)
                       .collect()}


def test_rasterize_lines_goldens(spark):
    """Horizontal, vertical and 45-degree segments burn exactly the
    expected cell runs (computed by hand in pixel space)."""
    import math
    npx = 2048.0

    def lon_of(pxx):
        return pxx / npx * 360.0 - 180.0

    def lat_of(pyy):  # inverse of gpix_y
        return math.degrees(math.atan(math.sinh(
            math.pi * (1.0 - 2.0 * pyy / npx))))

    # horizontal: px 100.5 -> 104.5 at py 200.5: cells cx 100..104, cy 200
    got = _burn_cells(spark, [(lon_of(100.5), lat_of(200.5),
                               lon_of(104.5), lat_of(200.5))])
    assert got == {(0, cx, 200) for cx in range(100, 105)}
    # vertical: py 300.5 -> 303.5 at px 50.5
    got = _burn_cells(spark, [(lon_of(50.5), lat_of(300.5),
                               lon_of(50.5), lat_of(303.5))])
    assert got == {(0, 50, cy) for cy in range(300, 304)}
    # 45 degrees crossing cell corners EXACTLY: (10.25,10.25)->
    # (13.75,13.75) in pixel space runs along y=x, so every column exit
    # is a corner hit; the closed-cell convention burns the diagonal
    # run plus the below-neighbor touched at each corner
    got = _burn_cells(spark, [(lon_of(10.25), lat_of(10.25),
                               lon_of(13.75), lat_of(13.75))])
    want = {(0, 10, 10), (0, 11, 11), (0, 12, 12), (0, 13, 13),
            (0, 10, 11), (0, 11, 12), (0, 12, 13)}
    assert got == want


def test_rasterize_lines_supercover_property(spark):
    """Dense parametric samples of each segment land ONLY in burned
    cells, and every burned cell contains at least one sample —
    the supercover definition, checked on irregular segments."""
    import math
    rng = np.random.default_rng(53)
    npx = 2048.0
    segs_px = [(rng.uniform(100, 600), rng.uniform(100, 600),
                rng.uniform(100, 600), rng.uniform(100, 600))
               for _ in range(8)]

    def lon_of(pxx):
        return pxx / npx * 360.0 - 180.0

    def lat_of(pyy):
        return math.degrees(math.atan(math.sinh(
            math.pi * (1.0 - 2.0 * pyy / npx))))

    segs = [(lon_of(a), lat_of(b), lon_of(c), lat_of(d))
            for a, b, c, d in segs_px]
    got = _burn_cells(spark, segs)
    for i, (ax, ay, bx, by) in enumerate(segs_px):
        t = np.linspace(0.0, 1.0, 20001)
        sx, sy = ax + t * (bx - ax), ay + t * (by - ay)
        sampled = {(i, int(np.floor(x)), int(np.floor(y)))
                   for x, y in zip(sx, sy)}
        burned_i = {c for c in got if c[0] == i}
        missing = sampled - burned_i       # sample in an unburned cell?
        assert not missing, missing
        # every burned cell must intersect the segment: exact interval
        # check in numpy (sampling can miss corner slivers thinner than
        # the step) — the column's closed x-range maps to a y-range that
        # must reach the cell's row
        xa, xb = min(ax, bx), max(ax, bx)
        ya2, yb2 = (ay, by) if ax <= bx else (by, ay)
        for (_, k, r) in burned_i:
            x_lo, x_hi = max(xa, k), min(xb, k + 1)
            assert x_lo <= x_hi + 1e-9
            if xb == xa:
                y_lo, y_hi = min(ya2, yb2), max(ya2, yb2)
            else:
                m = (yb2 - ya2) / (xb - xa)
                y1, y2 = ya2 + (x_lo - xa) * m, ya2 + (x_hi - xa) * m
                y_lo, y_hi = min(y1, y2), max(y1, y2)
            assert np.floor(y_lo) <= r <= np.floor(y_hi), (k, r, y_lo, y_hi)


def test_rasterize_lines_span_fail_loud(spark):
    from pyspark.errors.exceptions.captured import SparkRuntimeException
    df = spark.createDataFrame([(0, -179.0, 10.0, 179.0, 11.0)],
                               "line_id long, x0 double, y0 double, "
                               "x1 double, y1 double")
    with pytest.raises(SparkRuntimeException, match="pixel columns"):
        px.rasterize_lines(df, 5, tile_size=64,
                           max_cols_per_seg=100).collect()
