"""RegionGroup (raster connected components across tile boundaries):
engine two-phase plan (in-tile min-label propagation + boundary-only
equivalence merge) vs a BFS brute force on the UNTILED mosaic — any
border-strip/adjacency/encoding bug breaks the blobs that straddle tile
edges (the fixture mask has x-, y- and 4-tile-corner straddlers, plus
NoData-hole splits)."""
from collections import deque

import numpy as np

from conftest import count_jobs
from geotrellis_contrib_spark import corpus
from geotrellis_contrib_spark.operators import region as RG

T = 64
NPX = 4096


def _mosaic(s: int, band: int) -> np.ndarray:
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


def _brute_regions(s: int, band: int, pred) -> dict:
    big = _mosaic(s, band)
    gr = 24 * T + np.arange(4 * T).reshape(-1, 1) * np.ones(
        (1, 4 * T), dtype=int)
    gc = np.ones((4 * T, 1), dtype=int) * (
        (18 + s) * T + np.arange(4 * T).reshape(1, -1))
    mask = pred(big, gr, gc) & ~np.isnan(big)
    seen = np.zeros_like(mask)
    regions = {}
    for i in range(mask.shape[0]):
        for j in range(mask.shape[1]):
            if mask[i, j] and not seen[i, j]:
                q = deque([(i, j)])
                seen[i, j] = True
                comp = []
                while q:
                    a, b = q.popleft()
                    comp.append((a, b))
                    for da, db in ((1, 0), (-1, 0), (0, 1), (0, -1)):
                        x, y = a + da, b + db
                        if (0 <= x < mask.shape[0] and 0 <= y < mask.shape[1]
                                and mask[x, y] and not seen[x, y]):
                            seen[x, y] = True
                            q.append((x, y))
                gps = [gr[a, b] * NPX + gc[a, b] for a, b in comp]
                regions[min(gps)] = len(comp)
    return regions


def _cached_tiles(spark):
    """The fixture tiles, cached and materialized: a job pin then counts
    the operator's own jobs whatever earlier tests left in the cache
    (test_pixels caches the same plan)."""
    tiles = corpus.synth_px_tiles(spark, tile_size=T).cache()
    tiles.count()
    return tiles


def test_region_group_matches_untiled_bfs(spark):
    pred = lambda vals, gr, gc: (gr % 11 < 3) & (gc % 9 < 3)  # noqa: E731
    tiles = corpus.synth_px_tiles(spark, tile_size=T)
    out = RG.region_group(tiles, pred, tile_size=T, npx=NPX).collect()
    for s in range(3):
        for band in range(2):
            eng = {r["region_id"]: r["n_pixels"] for r in out
                   if r["source_id"] == f"scene-{s}" and r["band"] == band}
            assert eng == _brute_regions(s, band, pred), (s, band)


def test_region_group_long_snake(spark):
    # a full-height 1-px column crosses ALL FOUR tile rows — exercises
    # chained multi-tile merges through the doubling CC (not just one
    # boundary hop)
    pred = lambda vals, gr, gc: (gc % 100 == 0)  # noqa: E731
    tiles = _cached_tiles(spark)
    jobs, out = count_jobs(spark, lambda: RG.region_group(
        tiles, pred, tile_size=T, npx=NPX).collect())
    # AQE submits the label merge's stage jobs asynchronously, so
    # identical runs read 13 or 15
    assert 13 <= jobs <= 15
    eng = {r["region_id"]: r["n_pixels"] for r in out
           if r["source_id"] == "scene-1" and r["band"] == 0}
    assert eng == _brute_regions(1, 0, pred)
    # the un-holed columns must each be ONE 256-px region
    assert 256 in eng.values()


def test_region_group_empty_mask(spark):
    tiles = corpus.synth_px_tiles(spark, tile_size=T)
    out = RG.region_group(tiles, lambda v, gr, gc: gr < 0,
                          tile_size=T, npx=NPX).collect()
    assert out == []


def test_region_stats_matches_untiled_bfs(spark):
    """Perimeter/bbox/count per region vs the BFS brute force — the
    cross-tile pair restriction ((gc+1)%t==0 etc.) is exactly what a
    double count would break."""
    pred = lambda vals, gr, gc: (gr % 11 < 3) & (gc % 9 < 3)  # noqa: E731
    tiles = _cached_tiles(spark)
    jobs, out = count_jobs(spark, lambda: RG.region_stats(
        tiles, pred, tile_size=T, npx=NPX).collect())
    assert jobs == 21
    for s in range(3):
        for band in range(2):
            eng = {r["region_id"]: (r["n_pixels"], r["perimeter"],
                                    r["gr_min"], r["gr_max"],
                                    r["gc_min"], r["gc_max"])
                   for r in out
                   if r["source_id"] == f"scene-{s}" and r["band"] == band}
            big = _mosaic(s, band)
            gr = 24 * T + np.arange(4 * T).reshape(-1, 1) * np.ones(
                (1, 4 * T), dtype=int)
            gc = np.ones((4 * T, 1), dtype=int) * (
                (18 + s) * T + np.arange(4 * T).reshape(1, -1))
            mask = pred(big, gr, gc) & ~np.isnan(big)
            want = {}
            seen = np.zeros_like(mask)
            for i in range(mask.shape[0]):
                for j in range(mask.shape[1]):
                    if mask[i, j] and not seen[i, j]:
                        q = deque([(i, j)])
                        seen[i, j] = True
                        comp = []
                        while q:
                            a, b = q.popleft()
                            comp.append((a, b))
                            for da, db in ((1, 0), (-1, 0), (0, 1),
                                           (0, -1)):
                                x, y = a + da, b + db
                                if (0 <= x < mask.shape[0]
                                        and 0 <= y < mask.shape[1]
                                        and mask[x, y]
                                        and not seen[x, y]):
                                    seen[x, y] = True
                                    q.append((x, y))
                        cs = set(comp)
                        perim = sum(
                            1 for (a, b) in comp
                            for da, db in ((1, 0), (-1, 0), (0, 1),
                                           (0, -1))
                            if (a + da, b + db) not in cs)
                        gps = [gr[a, b] * NPX + gc[a, b] for a, b in comp]
                        want[min(gps)] = (
                            len(comp), perim,
                            min(gr[a, b] for a, b in comp),
                            max(gr[a, b] for a, b in comp),
                            min(gc[a, b] for a, b in comp),
                            max(gc[a, b] for a, b in comp))
            assert eng == want, (s, band)
