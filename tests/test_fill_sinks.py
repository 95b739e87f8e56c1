"""Planchon-Darboux fill: engine vs a brute Jacobi fixpoint on crafted
DEMs (nested basins, NoData drains), scene-vs-distributed parity on the
seam-straddling basin fixture, plane-no-fill sanity."""
import numpy as np

from conftest import count_jobs
from geotrellis_contrib_spark import corpus as corpus_mod
from geotrellis_contrib_spark.operators import focal as FO
from geotrellis_contrib_spark.operators.pixels import pack

SCHEMA = ("source_id string, source_idx int, zoom int, col bigint, "
          "row bigint, band int, dtype string, nodata double, px binary")


def _brute_fill(z):
    """Reference Jacobi fixpoint: W = max(z, min of 8-neighbor W),
    outlets (NaN / beyond edge) = -inf."""
    H, W_ = z.shape
    valid = ~np.isnan(z)
    w = np.where(valid, np.inf, -np.inf)
    while True:
        wp = np.pad(w, 1, constant_values=-np.inf)
        m = np.full((H, W_), np.inf)
        for dr in (-1, 0, 1):
            for dc in (-1, 0, 1):
                if (dr, dc) == (0, 0):
                    continue
                m = np.minimum(m, wp[1 + dr:1 + dr + H,
                                     1 + dc:1 + dc + W_])
        nxt = np.where(valid, np.minimum(w, np.maximum(z, m)), -np.inf)
        if np.array_equal(nxt, w):
            return np.where(valid, w, np.nan)
        w = nxt


def _tiles_from(spark, z, t):
    nr, nc = z.shape[0] // t, z.shape[1] // t
    rows = []
    for tr in range(nr):
        for tc in range(nc):
            arr = np.where(np.isnan(z[tr * t:(tr + 1) * t,
                                      tc * t:(tc + 1) * t]),
                           -9999.0, z[tr * t:(tr + 1) * t,
                                      tc * t:(tc + 1) * t])
            rows.append(("s", 0, 3, 10 + tc, 20 + tr, 0,
                         "float64", -9999.0, pack(arr)))
    return spark.createDataFrame(rows, SCHEMA)


def _expected_rollup(z, w, t, q=4.0):
    out = {}
    nr, nc = z.shape[0] // t, z.shape[1] // t
    for tr in range(nr):
        for tc in range(nc):
            sl = (slice(tr * t, (tr + 1) * t), slice(tc * t, (tc + 1) * t))
            zz, ww = z[sl], w[sl]
            va = ~np.isnan(zz)
            out[(10 + tc, 20 + tr)] = (
                int(va.sum()), int((va & (ww > zz)).sum()),
                int(np.floor(ww * q + 0.5)[va].astype(np.int64).sum()))
    return out


def _collect(df):
    return {(r.col, r.row): (r.n_valid, r.n_filled, r.q_fill_sum)
            for r in df.collect()}


def test_nested_basins_and_nodata_drain_vs_brute(spark):
    # 32x32, two tiles of 16: an outer basin containing a deeper inner
    # basin (cascading fill) + a NoData hole that drains its surroundings
    t = 16
    r = np.arange(32).reshape(-1, 1)
    c = np.arange(32).reshape(1, -1)
    z = (r * 3.0 + c * 2.0) * 0.25
    z[6:26, 6:26] -= 8.0     # outer basin (straddles the tile seam)
    z[10:14, 10:14] -= 6.0   # nested deeper basin
    z[2:5, 24:27] = np.nan   # NoData drain
    w = _brute_fill(z)
    assert (np.nan_to_num(w - z, nan=0.0) > 0).any()  # real filling
    tiles = _tiles_from(spark, z, t)
    exp = _expected_rollup(z, w, t)
    got_scene = _collect(FO.fill_sinks(tiles, tile_size=t))
    got_dist = _collect(FO.fill_sinks(tiles, tile_size=t,
                                      scene_max_px=0))
    assert got_scene == exp
    assert got_dist == exp


def test_plane_never_fills(spark):
    t = 16
    r = np.arange(32).reshape(-1, 1)
    c = np.arange(32).reshape(1, -1)
    z = (r + 2.0 * c) * 0.25
    got = _collect(FO.fill_sinks(_tiles_from(spark, z, t), tile_size=t))
    assert all(v[1] == 0 for v in got.values())
    exp = _expected_rollup(z, z, t)
    assert got == exp


def test_fixture_scene_vs_dist_parity(spark):
    tiles = corpus_mod.synth_dem_tiles(spark)
    a = _collect(FO.fill_sinks(tiles).filter("source_id = 'dem-1'"))
    jobs, b = count_jobs(spark, lambda: _collect(
        FO.fill_sinks(tiles, scene_max_px=0).filter("source_id = 'dem-1'")))
    assert a == b and len(a) == 16
    assert jobs == 15
