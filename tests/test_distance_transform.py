"""Bounded-radius Euclidean distance transform: engine halo plan vs an
UNTILED-mosaic brute force — cross-boundary nearest cells, NoData
exclusion both as target and as measured pixel, circle-vs-box cutoff."""
import numpy as np
import pytest

from conftest import count_jobs
from geotrellis_contrib_spark import corpus
from geotrellis_contrib_spark.operators import focal as FO

T = 64
R = 5


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


def _brute(s, band, pred):
    big = _mosaic(s, band)
    gr = 24 * T + np.arange(4 * T).reshape(-1, 1) + np.zeros(
        (1, 4 * T), dtype=np.int64)
    gc = np.zeros((4 * T, 1), dtype=np.int64) \
        + (18 + s) * T + np.arange(4 * T).reshape(1, -1)
    mask = pred(big, gr, gc) & ~np.isnan(big)
    out = {}
    H = 4 * T
    for i in range(H):
        for j in range(H):
            if np.isnan(big[i, j]):
                continue
            best = np.inf
            for di in range(-R, R + 1):
                for dj in range(-R, R + 1):
                    if di * di + dj * dj > R * R:
                        continue
                    x, y = i + di, j + dj
                    if 0 <= x < H and 0 <= y < H and mask[x, y]:
                        best = min(best,
                                   float(np.sqrt(float(di * di
                                                       + dj * dj))))
            if np.isfinite(best):
                k = (18 + s + j // T, 24 + i // T)
                qs, n = out.get(k, (0, 0))
                out[k] = (qs + int(np.floor(best * 1048576.0 + 0.5)),
                          n + 1)
    return out


def test_matches_untiled_brute(spark):
    pred = lambda v, gr, gc: (gr % 11 < 3) & (gc % 9 < 3)  # noqa: E731
    tiles = corpus.synth_px_tiles(spark, tile_size=T)
    rows = FO.euclidean_distance(tiles, pred, radius=R,
                                 tile_size=T).collect()
    for s, band in ((0, 0), (2, 1)):
        got = {(r.col, r.row): (r.dist_qsum, r.n_within) for r in rows
               if r.source_id == f"scene-{s}" and r.band == band}
        assert got == _brute(s, band, pred), (s, band)


def test_sparse_mask_absent_pixels(spark):
    # a single mask cell: only the disc around it reports distances
    pred = lambda v, gr, gc: (gr == 1600) & (gc == 1250)  # noqa: E731
    tiles = corpus.synth_px_tiles(spark, tile_size=T)
    rows = [r for r in FO.euclidean_distance(
        tiles, pred, radius=R, tile_size=T).collect()
        if r.source_id == "scene-0" and r.band == 0]
    n = sum(r.n_within for r in rows)
    disc = sum(1 for di in range(-R, R + 1) for dj in range(-R, R + 1)
               if di * di + dj * dj <= R * R)
    assert n == disc  # all disc cells valid here (far from the hole)
    assert min(r.dist_qsum for r in rows) >= 0


def test_fail_loud_radius(spark):
    tiles = corpus.synth_px_tiles(spark, tile_size=T)
    with pytest.raises(ValueError, match="radius"):
        FO.euclidean_distance(tiles, lambda v, g, c: g > 0, radius=64,
                              tile_size=T)


def test_single_shuffle_plan(spark):
    tiles = corpus.synth_px_tiles(spark, tile_size=T)
    plan = FO.euclidean_distance(
        tiles, lambda v, gr, gc: gr % 2 == 0, radius=2,
        tile_size=T)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") - plan.count("ReusedExchange") <= 1, plan


def test_flow_direction_matches_untiled_brute(spark):
    """D8 across tile boundaries vs a per-cell scalar brute force
    (identical rate arithmetic, ESRI codes, tie-sum, pit rule)."""
    import math

    s, band = 0, 1
    tiles = corpus.synth_px_tiles(spark, tile_size=T)
    rows = [r for r in FO.flow_direction(tiles, tile_size=T).collect()
            if r.source_id == f"scene-{s}" and r.band == band]
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
    D8 = [(-1, -1, math.sqrt(2.0), 32), (-1, 0, 1.0, 64),
          (-1, 1, math.sqrt(2.0), 128), (0, -1, 1.0, 16), (0, 1, 1.0, 1),
          (1, -1, math.sqrt(2.0), 8), (1, 0, 1.0, 4),
          (1, 1, math.sqrt(2.0), 2)]
    want = {}
    H = 4 * T
    for i in range(H):
        for j in range(H):
            if np.isnan(big[i, j]):
                continue
            rates = []
            for dr, dc, dist, code in D8:
                x, y = i + dr, j + dc
                if 0 <= x < H and 0 <= y < H and not np.isnan(big[x, y]):
                    rates.append(((big[i, j] - big[x, y]) / dist, code))
            best = max((r for r, _ in rates), default=-np.inf)
            code = sum(c for r, c in rates if r == best and best > 0)
            key = (18 + s + j // T, 24 + i // T)
            ds, pp, nv = want.get(key, (0, 0, 0))
            want[key] = (ds + code, pp + (1 if best <= 0 else 0), nv + 1)
    got = {(r.col, r.row): (r.dir_sum, r.n_pits, r.n_valid) for r in rows}
    assert got == want


def test_flow_direction_pit_and_ties(spark):
    """A crafted bowl: the center is a pit (code 0), the rim flows
    inward; a flat plateau yields code 0 everywhere on it."""
    from geotrellis_contrib_spark.operators.pixels import pack

    arr = np.full((T, T), 5.0)
    arr[10, 10] = 1.0            # pit: all neighbors higher
    arr[30:34, 30:34] = 9.0      # plateau above the plain: edge cells
                                 # flow OFF it, inner cells tie across it
    df = spark.createDataFrame(
        [("p", 0, 0, 0, 0, 0, "float64", -1.0, pack(arr))],
        "source_id string, source_idx int, zoom int, col bigint, "
        "row bigint, band int, dtype string, nodata double, px binary")
    r = FO.flow_direction(df, tile_size=T).collect()[0]
    assert r.n_valid == T * T
    # the pit plus the flat plain (away from features) contribute pits
    assert r.n_pits > 1
    # neighbors of the pit point AT it: cell (10,11) flows W (code 16)
    # contributing to dir_sum; just assert the global sum is positive
    assert r.dir_sum > 0


def test_flow_accumulation_matches_path_following(spark):
    """Engine inflow sweeps vs a scalar path-following brute force:
    every cell walks its D8 path and increments each cell it passes."""
    import math

    s, band = 2, 0
    tiles = corpus.synth_px_tiles(spark, tile_size=T)
    rows = [r for r in FO.flow_accumulation(tiles, tile_size=T).collect()
            if r.source_id == f"scene-{s}" and r.band == band]
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
    D8 = [(-1, -1, math.sqrt(2.0)), (-1, 0, 1.0), (-1, 1, math.sqrt(2.0)),
          (0, -1, 1.0), (0, 1, 1.0),
          (1, -1, math.sqrt(2.0)), (1, 0, 1.0), (1, 1, math.sqrt(2.0))]
    H = 4 * T
    down = {}
    for i in range(H):
        for j in range(H):
            if np.isnan(big[i, j]):
                continue
            best, pick = -np.inf, None
            for dr, dc, dist in D8:  # FIRST max in fixed order wins
                x, y = i + dr, j + dc
                if 0 <= x < H and 0 <= y < H and not np.isnan(big[x, y]):
                    rate = (big[i, j] - big[x, y]) / dist
                    if rate > best:
                        best, pick = rate, (x, y)
            if best > 0:
                down[(i, j)] = pick
    acc = np.zeros((H, H), dtype=np.int64)
    for start in down:
        cur = start
        while cur in down:
            cur = down[cur]
            acc[cur] += 1
    want = {}
    for i in range(H):
        for j in range(H):
            if np.isnan(big[i, j]):
                continue
            key = (18 + s + j // T, 24 + i // T)
            sm, mx, nv = want.get(key, (0, 0, 0))
            want[key] = (sm + acc[i, j], max(mx, acc[i, j]), nv + 1)
    got = {(r.col, r.row): (r.acc_sum, r.acc_max, r.n_valid)
           for r in rows}
    assert got == want


def test_flow_accumulation_channel(spark):
    """A single descending channel: accumulation grows 0,1,2,... along
    it (everything drains through the downstream end)."""
    from geotrellis_contrib_spark.operators.pixels import pack

    arr = np.full((T, T), 1000.0)
    for k in range(T):
        arr[5, k] = 500.0 - k       # strictly descending channel row
    df = spark.createDataFrame(
        [("c", 0, 0, 0, 0, 0, "float64", -1.0, pack(arr))],
        "source_id string, source_idx int, zoom int, col bigint, "
        "row bigint, band int, dtype string, nodata double, px binary")
    r = FO.flow_accumulation(df, tile_size=T).collect()[0]
    # channel cell k has at least the k upstream channel cells; the
    # terminal cell collects everything routed into the channel
    assert r.acc_max >= T - 1


def test_watershed_matches_path_following(spark):
    """Pointer-doubling basin labels vs scalar path following."""
    import math

    s, band = 1, 1
    tiles = corpus.synth_px_tiles(spark, tile_size=T)
    rows = [r for r in FO.watershed_labels(tiles, tile_size=T).collect()
            if r.source_id == f"scene-{s}" and r.band == band]
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
    D8 = [(-1, -1, math.sqrt(2.0)), (-1, 0, 1.0), (-1, 1, math.sqrt(2.0)),
          (0, -1, 1.0), (0, 1, 1.0),
          (1, -1, math.sqrt(2.0)), (1, 0, 1.0), (1, 1, math.sqrt(2.0))]
    H = 4 * T
    down = {}
    for i in range(H):
        for j in range(H):
            if np.isnan(big[i, j]):
                continue
            best, pick = -np.inf, None
            for dr, dc, dist in D8:
                x, y = i + dr, j + dc
                if 0 <= x < H and 0 <= y < H and not np.isnan(big[x, y]):
                    rate = (big[i, j] - big[x, y]) / dist
                    if rate > best:
                        best, pick = rate, (x, y)
            if best > 0:
                down[(i, j)] = pick
    want = {}
    for i in range(H):
        for j in range(H):
            if np.isnan(big[i, j]):
                continue
            cur = (i, j)
            while cur in down:
                cur = down[cur]
            label = (24 * T + cur[0]) * 4096 + ((18 + s) * T + cur[1])
            key = (18 + s + j // T, 24 + i // T)
            sm, basins, nv = want.get(key, (0, set(), 0))
            basins = set(basins)
            basins.add(label)
            want[key] = (sm + label, basins, nv + 1)
    got = {(r.col, r.row): (r.basin_qsum, r.n_basins, r.n_valid)
           for r in rows}
    assert got == {k: (sm, len(b), nv) for k, (sm, b, nv) in want.items()}


def test_watershed_two_basins(spark):
    """Two pits split the tile into exactly two basins."""
    from geotrellis_contrib_spark.operators.pixels import pack

    c = np.arange(T).reshape(1, -1)
    r = np.arange(T).reshape(-1, 1)
    # V-shaped valley along columns: minima at c=10 and c=50, ridge at 30
    arr = np.minimum(np.abs(c - 10), np.abs(c - 50)) * 10.0 \
        + r * 0.001 + 0.0 * r
    df = spark.createDataFrame(
        [("w2", 0, 0, 0, 0, 0, "float64", -1.0, pack(arr))],
        "source_id string, source_idx int, zoom int, col bigint, "
        "row bigint, band int, dtype string, nodata double, px binary")
    res = FO.watershed_labels(df, tile_size=T).collect()[0]
    assert res.n_basins == 2 and res.n_valid == T * T


def _rollup_key(r):
    return (r.source_id, r.band, r.col, r.row)


def test_flow_accumulation_distributed_bit_parity(spark):
    """r5 verdict task 1: the halo-rounds path (scene_max_px=0 forces
    it) is BIT-IDENTICAL to the scene solve on the multi-tile fixture —
    same directions (shared _d8_chosen), same integer-exact fixpoint."""
    tiles = corpus.synth_px_tiles(spark, tile_size=T)
    scene = {_rollup_key(r): (r.acc_sum, r.acc_max, r.n_valid)
             for r in FO.flow_accumulation(tiles, tile_size=T).collect()}
    jobs, rows = count_jobs(spark, lambda: FO.flow_accumulation(
        tiles, tile_size=T, scene_max_px=0).collect())
    dist = {_rollup_key(r): (r.acc_sum, r.acc_max, r.n_valid) for r in rows}
    assert scene == dist
    assert jobs == 12
    assert len(scene) == 3 * 4 * 4 * 2


def test_watershed_distributed_bit_parity(spark):
    """r5 verdict task 1: the contraction path (in-tile pointer doubling
    to the border, then distributed doubling on the O(perimeter) border
    table) produces the scene solve's exact per-tile label rollups."""
    tiles = corpus.synth_px_tiles(spark, tile_size=T)
    scene = {_rollup_key(r): (r.basin_qsum, r.n_basins, r.n_valid)
             for r in FO.watershed_labels(tiles, tile_size=T).collect()}
    jobs, rows = count_jobs(spark, lambda: FO.watershed_labels(
        tiles, tile_size=T, scene_max_px=0).collect())
    dist = {_rollup_key(r): (r.basin_qsum, r.n_basins, r.n_valid)
            for r in rows}
    assert scene == dist
    assert jobs == 13
    assert len(scene) == 3 * 4 * 4 * 2


def test_flow_accumulation_channel_distributed(spark):
    """The descending-channel invariant holds on the distributed path
    too: a 2x1 tile scene whose channel crosses the tile boundary."""
    from geotrellis_contrib_spark.operators.pixels import pack

    rows = []
    for tc in range(2):
        arr = np.full((T, T), 1000.0 + tc)
        for k in range(T):
            arr[5, k] = 500.0 - (tc * T + k)  # strictly descending
        rows.append(("c", 0, 0, tc, 0, 0, "float64", -1.0, pack(arr)))
    df = spark.createDataFrame(
        rows, "source_id string, source_idx int, zoom int, col bigint, "
              "row bigint, band int, dtype string, nodata double, "
              "px binary")
    got = {(r.col): r for r in FO.flow_accumulation(
        df, tile_size=T, scene_max_px=0).collect()}
    want = {(r.col): r for r in FO.flow_accumulation(
        df, tile_size=T).collect()}
    for c in (0, 1):
        assert (got[c].acc_sum, got[c].acc_max, got[c].n_valid) == \
            (want[c].acc_sum, want[c].acc_max, want[c].n_valid)
    # the downstream tile's channel end accumulates >= 2T-1 upstream
    assert got[1].acc_max >= 2 * T - 2


def test_allocation_tie_and_nearest(spark):
    import numpy as np
    from geotrellis_contrib_spark.operators.focal import (
        euclidean_allocation)
    from geotrellis_contrib_spark.operators.pixels import pack
    t = 8
    z = np.zeros((t, t))
    rows = [("s", 0, 3, 0, 0, 0, "float64", -9999.0, pack(z))]
    df = spark.createDataFrame(
        rows, "source_id string, source_idx int, zoom int, col bigint, "
              "row bigint, band int, dtype string, nodata double, "
              "px binary")
    # seeds at gc=1 and gc=5 on row 2 -> pixel (2,3) ties d2=4 between
    # both; smaller gid (gc=1) must win
    pred = lambda v, gr, gc: (gr == 2) & ((gc == 1) | (gc == 5))
    got = euclidean_allocation(df, pred, radius=3, tile_size=t).collect()
    r = got[0]
    # brute force replica incl. the packed-key tie rule
    seeds = [(2, 1), (2, 5)]
    n = d2s = al = 0
    for rr in range(t):
        for cc in range(t):
            best = None
            for sr, sc in seeds:
                d2 = (sr - rr) ** 2 + (sc - cc) ** 2
                if d2 <= 9:
                    k = d2 * 16777216 + (sr * 4096 + sc)
                    best = k if best is None else min(best, k)
            if best is not None:
                n += 1
                d2s += best // 16777216
                al += best % 16777216
    assert (r.n_within, r.d2_sum, r.alloc_sum) == (n, d2s, al)
    # the tie pixel resolves to the smaller gid seed
    pred1 = lambda v, gr, gc: (gr == 2) & (gc == 1)
    # (sanity embedded in the replica above: at (2,3) both d2=4 and
    # min picks gid 2*4096+1)
    assert (2 * 4096 + 1) < (2 * 4096 + 5)
