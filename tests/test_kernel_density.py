"""Kernel density (GeoTrellis raster.density.KernelDensity analog):
triangle kernel stamped in continuous global pixel space, quantize-first
integer sums, bounded tile replication — engine vs an UNTILED global
brute force (any replication/window/off-by-one bug breaks the pixels a
kernel spills across a tile boundary)."""
import math

import numpy as np
import pytest

from geotrellis_contrib_spark.functions import cells as C
from geotrellis_contrib_spark.operators import pixels as px

ZOOM, T, R = 4, 32, 3.0
NPX = (1 << ZOOM) * T
_Q = 1048576.0


def _gpix(lon, lat):
    gx = (lon + 180.0) / 360.0 * NPX
    la = min(max(lat, -85.05112877980659), 85.05112877980659)
    lr = math.radians(la)
    merc = math.log(math.tan(lr) + 1.0 / math.cos(lr))
    gy = (1.0 - merc / math.pi) / 2.0 * NPX
    return gx, gy


def _brute(pts_ll):
    """Global dict pixel -> integer density; tiles with positive sums."""
    acc = {}
    for lon, lat in pts_ll:
        gx, gy = _gpix(lon, lat)
        p0, p1 = int(np.ceil(gx - 0.5 - R)), int(np.floor(gx - 0.5 + R))
        q0, q1 = int(np.ceil(gy - 0.5 - R)), int(np.floor(gy - 0.5 + R))
        for p in range(max(p0, 0), min(p1, NPX - 1) + 1):
            for q in range(max(q0, 0), min(q1, NPX - 1) + 1):
                dy, dx = q + 0.5 - gy, p + 0.5 - gx
                w = max(0.0, 1.0 - math.sqrt(dy * dy + dx * dx) / R)
                acc[(p, q)] = acc.get((p, q), 0) + int(
                    np.floor(w * _Q + 0.5))
    tiles = {}
    for (p, q), s in acc.items():
        key = (p // T, q // T)
        ds, nz = tiles.get(key, (0, 0))
        tiles[key] = (ds + s, nz + (1 if s > 0 else 0))
    return {k: v for k, v in tiles.items() if v[0] > 0}


def _pts():
    """Deterministic points incl. tile-boundary and corner stragglers."""
    out = []
    for i in range(60):
        lon = -170.0 + (i * 97 % 100) / 100.0 * 340.0
        lat = -55.0 + (i * 53 % 100) / 100.0 * 110.0
        out.append((lon, lat))
    # force exact tile-edge crossings: points whose gx sits ~1px inside
    # a tile boundary (kernel spills into the neighbor)
    for k in (3, 7, 11):
        gx = k * T - 1.2
        lon = gx / NPX * 360.0 - 180.0
        out.append((lon, 12.0))
        out.append((lon, 12.0))  # duplicate: integer sums double exactly
    return out


def test_kernel_density_matches_untiled_bruteforce(spark):
    pts = _pts()
    df = spark.createDataFrame(pts, "lon double, lat double")
    got = {(r["col"], r["row"]): (r["density_sum"], r["n_nonzero"])
           for r in px.kernel_density(df, zoom=ZOOM, radius_px=R,
                                      tile_size=T).collect()}
    want = _brute(pts)
    assert got == want


def test_kernel_density_single_point_symmetry(spark):
    # a point at an exact pixel center mid-tile: kernel fully inside one
    # tile, quantized stamp is 4-fold symmetric, center weight = 2^20
    gx, gy = 8 * T + 10.5, 8 * T + 12.5
    lon = gx / NPX * 360.0 - 180.0
    merc = (1.0 - 2.0 * gy / NPX) * math.pi
    lat = math.degrees(math.atan(math.sinh(merc)))
    df = spark.createDataFrame([(lon, lat)], "lon double, lat double")
    rows = px.kernel_density(df, zoom=ZOOM, radius_px=R,
                             tile_size=T).collect()
    assert len(rows) == 1
    r0 = rows[0]
    assert (r0["col"], r0["row"]) == (8, 8)
    grid = np.frombuffer(r0["px"], dtype=np.int64).reshape(T, T)
    assert grid[12, 10] == int(_Q)          # d = 0 at the center pixel
    assert grid[12, 9] == grid[12, 11]      # left-right symmetry
    assert grid[11, 10] == grid[13, 10]     # up-down symmetry
    assert grid.sum() == r0["density_sum"]


def test_kernel_density_single_shuffle_plan(spark):
    df = spark.createDataFrame([(1.0, 2.0)], "lon double, lat double")
    plan = px.kernel_density(df, zoom=ZOOM, radius_px=R, tile_size=T) \
        ._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") - plan.count("ReusedExchange") <= 1, plan


def test_kernel_density_fail_loud(spark):
    df = spark.createDataFrame([(1.0, 2.0)], "lon double, lat double")
    with pytest.raises(ValueError):
        px.kernel_density(df, zoom=ZOOM, radius_px=0.0, tile_size=T)
    with pytest.raises(ValueError):
        px.kernel_density(df, zoom=ZOOM, radius_px=40.0, tile_size=T)


def test_kernel_density_dense_supergroup_matches_bruteforce(spark):
    # 20,000 points over a 2x2-tile block of ONE 4x4 supergroup: with the
    # kernels that spill across tile edges that is over 21,399 (point,
    # tile) rows, so the stamp (K = 7) takes two row chunks
    rng = np.random.default_rng(5)
    gx = rng.uniform(4 * T - 6, 6 * T + 6, 20000)
    gy = rng.uniform(4 * T + 1, 6 * T - 1, 20000)
    lon = gx / NPX * 360.0 - 180.0
    lat = np.degrees(np.arctan(np.sinh((1.0 - 2.0 * gy / NPX) * math.pi)))
    pts = [(float(a), float(b)) for a, b in zip(lon, lat)]
    df = spark.createDataFrame(pts, "lon double, lat double")
    got = {(r["col"], r["row"]): (r["density_sum"], r["n_nonzero"])
           for r in px.kernel_density(df, zoom=ZOOM, radius_px=R,
                                      tile_size=T).collect()}
    assert got == _brute(pts)
