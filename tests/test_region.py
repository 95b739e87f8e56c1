"""RegionGroup (raster connected components across tile boundaries):
engine two-phase plan (in-tile min-label propagation + boundary-only
equivalence merge) vs a BFS brute force on the UNTILED mosaic — any
border-strip/adjacency/encoding bug breaks the blobs that straddle tile
edges (the fixture mask has x-, y- and 4-tile-corner straddlers, plus
NoData-hole splits)."""
from collections import deque

import numpy as np
import pytest

from conftest import count_jobs
from geotrellis_contrib_spark import corpus
from geotrellis_contrib_spark.operators import region as RG
from geotrellis_contrib_spark.operators.vectorize import vectorize_regions

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


@pytest.fixture
def cached_tiles(spark):
    """The fixture tiles, cached and materialized for one test and
    released after it: a job pin then counts the operator's own jobs."""
    tiles = corpus.synth_px_tiles(spark, tile_size=T).cache()
    tiles.count()
    yield tiles
    tiles.unpersist()


def test_region_group_matches_untiled_bfs(spark):
    pred = lambda vals, gr, gc: (gr % 11 < 3) & (gc % 9 < 3)  # noqa: E731
    tiles = corpus.synth_px_tiles(spark, tile_size=T)
    out = RG.region_group(tiles, pred, tile_size=T, npx=NPX).collect()
    for s in range(3):
        for band in range(2):
            eng = {r["region_id"]: r["n_pixels"] for r in out
                   if r["source_id"] == f"scene-{s}" and r["band"] == band}
            assert eng == _brute_regions(s, band, pred), (s, band)


def test_region_group_long_snake(spark, cached_tiles):
    # a full-height 1-px column crosses ALL FOUR tile rows — exercises
    # chained multi-tile merges through the doubling CC (not just one
    # boundary hop)
    pred = lambda vals, gr, gc: (gc % 100 == 0)  # noqa: E731
    tiles = cached_tiles
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


def test_region_stats_matches_untiled_bfs(spark, cached_tiles):
    """Perimeter/bbox/count per region vs the BFS brute force — the
    cross-tile pair restriction ((gc+1)%t==0 etc.) is exactly what a
    double count would break."""
    pred = lambda vals, gr, gc: (gr % 11 < 3) & (gc % 9 < 3)  # noqa: E731
    tiles = cached_tiles
    jobs, out = count_jobs(spark, lambda: RG.region_stats(
        tiles, pred, tile_size=T, npx=NPX).collect())
    # 21 while the scan was cached in the session: caching it ran 2 jobs
    assert jobs == 19
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


def test_region_group_default_npx_matches_small_npx(spark):
    """The default npx = 2^22 packs labels past int32 (npx^2 = 2^44): the
    same regions as npx = 4096, ids decoded to their (gr, gc) pixel."""
    pred = lambda vals, gr, gc: (gr % 11 < 3) & (gc % 9 < 3)  # noqa: E731
    tiles = corpus.synth_px_tiles(spark, tile_size=T)

    def regions(**npx):
        n = npx.get("npx", 1 << 22)
        return sorted((r.source_id, r.band, r.region_id // n,
                       r.region_id % n, r.n_pixels)
                      for r in RG.region_group(tiles, pred, tile_size=T,
                                               **npx).collect())

    small = regions(npx=NPX)
    assert len(small) > 100
    assert regions() == small


@pytest.mark.parametrize("op", [RG.region_stats, vectorize_regions])
def test_scan_reuse_is_scoped_to_the_call(spark, op):
    """The scan rows are reused inside one call's plan only: nothing is
    left in the session's cache, so a second identical call runs the
    same jobs as the first instead of reading the first call's scan."""
    pred = lambda vals, gr, gc: gc % 100 == 0  # noqa: E731
    tiles = corpus.synth_px_tiles(spark, tile_size=T)
    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    first, rows = count_jobs(spark, lambda: op(
        tiles, pred, tile_size=T, npx=NPX).collect())
    assert cache.isEmpty()
    second, again = count_jobs(spark, lambda: op(
        tiles, pred, tile_size=T, npx=NPX).collect())
    assert cache.isEmpty()
    assert second == first
    assert sorted(again) == sorted(rows)
