"""Viewshed R3: engine vectorized k-sweep vs a per-target scalar brute
force on the untiled mosaic (identical sampling/slope arithmetic),
plus ridge-occlusion sanity and fail-loud guards."""
import numpy as np
import pytest

from conftest import count_jobs
from geotrellis_contrib_spark import corpus
from geotrellis_contrib_spark.operators import viewshed as VS

T = 64


def _mosaic(s, band):
    big = np.full((4 * T, 4 * T), np.nan)
    h0 = (s * 11) % (T - 16)
    for tc in range(4):
        for tr in range(4):
            col, row = 18 + s + tc, 24 + tr
            r = np.arange(T).reshape(-1, 1)
            c = np.arange(T).reshape(1, -1)
            val = (s * 1000.0 + band * 100.0 + col * 7.0 + row * 3.0
                   + r * 0.5 + c * 0.25 + ((r * 31 + c * 17) % 13))
            a = val.astype(np.float64)
            a[h0:h0 + 16, h0:h0 + 16] = np.nan
            big[tr * T:(tr + 1) * T, tc * T:(tc + 1) * T] = a
    return big


def _brute_tile_counts(z, ogr, ogc, r0, c0, height):
    """Scalar R3 per target, GLOBAL floor coords — mirrors both the
    engine and the oracle."""
    H, W = z.shape
    oy, ox = ogr - r0 * T, ogc - c0 * T
    zbase = z[oy, ox] + height
    vis = {}
    val = {}
    for i in range(H):
        for j in range(W):
            if np.isnan(z[i, j]):
                continue
            gr, gc = i + r0 * T, j + c0 * T
            n = max(abs(gr - ogr), abs(gc - ogc))
            key = (c0 + j // T, r0 + i // T)
            val[key] = val.get(key, 0) + 1
            if n <= 1:
                vis[key] = vis.get(key, 0) + 1
                continue
            ms = -np.inf
            for k in range(1, n):
                rr = int(np.floor(float(ogr)
                                  + (float(k) * float(gr - ogr))
                                  / float(n) + 0.5))
                cc = int(np.floor(float(ogc)
                                  + (float(k) * float(gc - ogc))
                                  / float(n) + 0.5))
                zk = z[rr - r0 * T, cc - c0 * T]
                if not np.isnan(zk):
                    ms = max(ms, (zk - zbase) / float(k))
            if (z[i, j] - zbase) / float(n) >= ms:
                vis[key] = vis.get(key, 0) + 1
    return vis, val


def test_matches_scalar_brute(spark):
    s, band = 1, 0
    tiles = corpus.synth_px_tiles(spark, tile_size=T)
    obs = lambda sid, b: (1640 + 3 * b,  # noqa: E731
                          (18 + int(sid.split("-")[1])) * 64 + 104)
    rows = VS.viewshed(tiles, obs, height=2.0, tile_size=T).collect()
    got_v = {(r.col, r.row): r.n_visible for r in rows
             if r.source_id == f"scene-{s}" and r.band == band}
    got_n = {(r.col, r.row): r.n_valid for r in rows
             if r.source_id == f"scene-{s}" and r.band == band}
    z = _mosaic(s, band)
    vis, val = _brute_tile_counts(z, 1640, (18 + s) * 64 + 104,
                                  24, 18 + s, 2.0)
    assert got_n == val
    # brute omits all-invisible tiles; engine reports them with 0
    assert {k: v for k, v in got_v.items() if v > 0} == vis
    assert set(got_v) == set(val)


def test_ridge_occludes(spark):
    """A tall ridge between observer and the far side: cells behind it
    (lower than the sight line) are invisible; raising them restores
    visibility."""
    from geotrellis_contrib_spark.operators.pixels import pack

    def mk(z_behind):
        rows = []
        for tc in range(2):
            arr = np.zeros((T, T))
            if tc == 1:
                arr[:, 0] = 100.0     # ridge at gc=64
                arr[:, 1:] = z_behind
            rows.append(("v", 0, 0, tc, 0, 0, "float64", -9.0, pack(arr)))
        return spark.createDataFrame(
            rows, "source_id string, source_idx int, zoom int, "
                  "col bigint, row bigint, band int, dtype string, "
                  "nodata double, px binary").coalesce(1)

    obs = lambda sid, b: (10, 10)  # noqa: E731
    low = {(r.col, r.row): r.n_visible
           for r in VS.viewshed(mk(0.0), obs, height=1.0,
                                tile_size=T).collect()}
    high = {(r.col, r.row): r.n_visible
            for r in VS.viewshed(mk(500.0), obs, height=1.0,
                                 tile_size=T).collect()}
    assert low[(1, 0)] < high[(1, 0)]
    # low: only the ridge column shows; high: the plateau's FRONT EDGE
    # becomes visible too (a flat high plateau self-occludes beyond its
    # first column)
    assert low[(1, 0)] == T and high[(1, 0)] == 2 * T
    assert low[(0, 0)] == high[(0, 0)] == T * T  # observer's own tile


def test_fail_loud_observer(spark):
    tiles = corpus.synth_px_tiles(spark, tile_size=T)
    with pytest.raises(Exception, match="observer"):
        VS.viewshed(tiles, lambda sid, b: (0, 0),
                    tile_size=T).collect()
    # max_px below the scene size no longer refuses — it dispatches to
    # the DISTRIBUTED path (the r6 adaptive family), which still fails
    # loud on an observer outside every tile of a scene
    with pytest.raises(Exception, match="observer"):
        VS.viewshed(tiles, lambda sid, b: (1640, 1256),
                    tile_size=T, max_px=128).collect()


def test_block_size_parity_large_scene(spark):
    """The target-row-blocked sweep is bit-identical across block sizes
    on a 512x512 multi-tile scene (4x the gate scene edge) with NoData
    holes and a diagonal ridge — the r5-verdict scale-posture check:
    the per-task footprint is z + O(block_rows * W), so max_px sizes
    the mosaic array, not the sweep temporaries."""
    from geotrellis_contrib_spark.operators.pixels import pack

    rng_r = np.arange(T).reshape(-1, 1)
    rng_c = np.arange(T).reshape(1, -1)
    rows = []
    for tc in range(8):
        for tr in range(8):
            gr = tr * T + rng_r
            gc = tc * T + rng_c
            arr = (np.sin(gr / 37.0) * 9.0 + np.cos(gc / 29.0) * 7.0
                   + ((gr * 13 + gc * 7) % 23) * 0.25).astype(np.float64)
            arr[np.abs(gr - gc) < 2] += 40.0        # diagonal ridge
            arr[(gr % 97 < 3) & (gc % 83 < 3)] = -9999.0   # NoData
            rows.append(("big", 0, 0, tc, tr, 0, "float64", -9999.0,
                         pack(arr)))
    tiles = spark.createDataFrame(
        rows, "source_id string, source_idx int, zoom int, col bigint, "
              "row bigint, band int, dtype string, nodata double, "
              "px binary").coalesce(2)
    obs = lambda sid, b: (130, 140)  # noqa: E731
    key = lambda r: (r.col, r.row)  # noqa: E731
    small = {key(r): (r.n_visible, r.n_valid)
             for r in VS.viewshed(tiles, obs, height=2.0, tile_size=T,
                                  block_rows=64).collect()}
    whole = {key(r): (r.n_visible, r.n_valid)
             for r in VS.viewshed(tiles, obs, height=2.0, tile_size=T,
                                  block_rows=1 << 20).collect()}
    assert small == whole and len(small) == 64
    assert sum(v for v, _ in small.values()) > 0
    assert sum(nv for _, nv in small.values()) == 512 * 512 - sum(
        1 for tcc in range(8) for trr in range(8)
        for i in range(T) for j in range(T)
        if ((trr * T + i) % 97 < 3) and ((tcc * T + j) % 83 < 3))


def test_dist_parity(spark):
    """Forced-distributed viewshed (max_px=0: sample-index decomposition
    into per-(sample-tile, target-tile) partial maxima) is BIT-identical
    to the scene sweep on the varied fixture with NoData holes, for an
    observer whose rays cross many tiles."""
    tiles = corpus.synth_px_tiles(spark, tile_size=64)
    obs = lambda sid, band: (  # noqa: E731
        1640 + 3 * band, (18 + int(sid.split("-")[1])) * 64 + 104)
    key = lambda r: (r.source_id, r.band, r.col, r.row)  # noqa: E731
    scene = {key(r): (r.n_visible, r.n_valid)
             for r in VS.viewshed(tiles, obs, tile_size=64).collect()}
    jobs, rows = count_jobs(spark, lambda: VS.viewshed(
        tiles, obs, tile_size=64, max_px=0).collect())
    # AQE submits the pair join's stage jobs asynchronously, so identical
    # runs read 13 or 14
    assert 13 <= jobs <= 14
    dist = {key(r): (r.n_visible, r.n_valid) for r in rows}
    assert scene == dist and len(dist) == 96


def test_dist_fail_loud_observer(spark):
    tiles = corpus.synth_px_tiles(spark, tile_size=64)
    with pytest.raises(Exception, match="observer"):
        VS.viewshed(tiles, lambda s, b: (1540, 1158), tile_size=64,
                    max_px=0).collect()  # scene-0 NoData hole
