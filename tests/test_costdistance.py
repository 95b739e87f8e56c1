"""Cost distance (iterative accumulated-cost with halo exchange): engine
fixpoint vs (a) the octile closed form on the uniform-friction gate
fixture and (b) an UNTILED-mosaic Dijkstra brute force with varying
friction, NoData obstacles, real sqrt(2) distances and max_cost — exact
float equality (both sides accumulate dist*(fa+fb)/2 in path order, and
the fixpoint is min-over-paths either way)."""
import heapq
import math

import numpy as np
import pytest

from conftest import count_jobs
from geotrellis_contrib_spark import corpus
from geotrellis_contrib_spark.operators import costdistance as CD

T = 64


# NOTE: predicates shipped to executors must be lambdas/closures (pickled
# by value) — a module-level def in a test file is pickled by reference
# and the worker cannot import the test module.
_seed_pred = lambda vals, gr, gc: (gr % 97 == 5) & (gc % 89 == 7)  # noqa: E731


def _dijkstra(fric: np.ndarray, seeds: np.ndarray, straight: float,
              diag: float) -> np.ndarray:
    h, w = fric.shape
    cost = np.full((h, w), np.inf)
    pq = []
    for i, j in zip(*np.nonzero(seeds & ~np.isnan(fric))):
        cost[i, j] = 0.0
        heapq.heappush(pq, (0.0, int(i), int(j)))
    offs = [(dr, dc, diag if dr and dc else straight)
            for dr in (-1, 0, 1) for dc in (-1, 0, 1)
            if (dr, dc) != (0, 0)]
    while pq:
        c, i, j = heapq.heappop(pq)
        if c > cost[i, j]:
            continue
        for dr, dc, dist in offs:
            x, y = i + dr, j + dc
            if 0 <= x < h and 0 <= y < w and not np.isnan(fric[x, y]):
                nc = c + dist * (fric[i, j] + fric[x, y]) / 2.0
                if nc < cost[x, y]:
                    cost[x, y] = nc
                    heapq.heappush(pq, (nc, x, y))
    return cost


def _surface_to_mosaic(rows, source_id, band, base_col=18, base_row=24):
    big = np.full((4 * T, 4 * T), np.inf)
    for r in rows:
        if r["source_id"] == source_id and r["band"] == band:
            arr = np.frombuffer(r["cost"], dtype=np.float64).reshape(T, T)
            tr, tc = r["row"] - base_row, r["col"] - base_col
            big[tr * T:(tr + 1) * T, tc * T:(tc + 1) * T] = arr
    return big


def _grids(s):
    gr = 24 * T + np.arange(4 * T).reshape(-1, 1) + np.zeros(
        (1, 4 * T), dtype=np.int64)
    gc = np.zeros((4 * T, 1), dtype=np.int64) \
        + (18 + s) * T + np.arange(4 * T).reshape(1, -1)
    return gr, gc


def test_uniform_matches_octile_closed_form(spark):
    tiles = corpus.synth_friction_tiles(spark)
    rows = CD.cost_surface(tiles, _seed_pred, tile_size=T).collect()
    for s in (0, 2):
        got = _surface_to_mosaic(rows, f"scene-{s}", 1,
                                 base_col=18 + s)
        gr, gc = _grids(s)
        seeds = list(zip(*np.nonzero(_seed_pred(None, gr, gc))))
        assert len(seeds) == 9
        want = np.full_like(got, np.inf)
        for (si, sj) in seeds:
            dx = np.abs(np.arange(4 * T) - sj).reshape(1, -1)
            dy = np.abs(np.arange(4 * T) - si).reshape(-1, 1)
            m = np.minimum(dx, dy)
            want = np.minimum(want, 1.5 * m + (np.maximum(dx, dy) - m))
        assert np.array_equal(got, want)


def test_varying_friction_matches_dijkstra(spark):
    """Real fixture values as friction (positive, NoData holes), real
    sqrt(2) diagonals — exact float equality with an untiled Dijkstra."""
    s, band = 0, 0
    tiles = corpus.synth_px_tiles(spark, tile_size=T)
    # remainders chosen so the seeds land OUTSIDE the NoData holes
    # (scene-0 hole occupies r<16 & c<16 of every tile)
    pred = lambda v, gr, gc: (gr % 120 == 70) & (gc % 110 == 50)  # noqa: E731
    rows = CD.cost_surface(tiles, pred, tile_size=T, straight=1.0,
                           diag=math.sqrt(2.0)).collect()
    got = _surface_to_mosaic(rows, f"scene-{s}", band)
    # both strategies must be BIT-identical (same min-over-paths fixpoint)
    jobs, rows_r = count_jobs(spark, lambda: CD.cost_surface(
        tiles, pred, tile_size=T, straight=1.0, diag=math.sqrt(2.0),
        scene_max_px=0).collect())
    got_r = _surface_to_mosaic(rows_r, f"scene-{s}", band)
    assert np.array_equal(got, got_r)
    assert jobs == 18

    # untiled friction mosaic
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
    gr, gc = _grids(s)
    want = _dijkstra(big, pred(big, gr, gc), 1.0, math.sqrt(2.0))
    want[np.isnan(big)] = np.inf
    assert np.array_equal(got, want)
    assert np.isfinite(got).sum() > 0


def test_obstacle_wall_with_gap(spark):
    """A NoData wall splits the mosaic; the only finite path routes
    through the one-cell gap — brute-force equal and wall unreached."""
    from geotrellis_contrib_spark.operators.pixels import pack

    # single source: 2x2 tiles, friction 1, vertical NoData wall at
    # gc=96 with a gap at gr=40; seed on the left side
    pred = lambda v, gr, gc: (gr == 10) & (gc == 10)  # noqa: E731
    rows = []
    for tc in range(2):
        for tr in range(2):
            arr = np.ones((T, T))
            gr = tr * T + np.arange(T).reshape(-1, 1)
            gc = tc * T + np.arange(T).reshape(1, -1)
            arr[(gc == 96) & (gr != 40)] = -1.0
            rows.append(("w", 0, 0, tc, tr, 0, "float64", -1.0,
                         pack(arr)))
    df = _mk_tiles(rows)
    out = CD.cost_surface(df, pred, tile_size=T).collect()
    big = np.full((2 * T, 2 * T), np.inf)
    for r in out:
        arr = np.frombuffer(r["cost"], dtype=np.float64).reshape(T, T)
        big[r["row"] * T:(r["row"] + 1) * T,
            r["col"] * T:(r["col"] + 1) * T] = arr

    fric = np.ones((2 * T, 2 * T))
    fric[(np.arange(2 * T).reshape(1, -1) == 96)
         & (np.arange(2 * T).reshape(-1, 1) != 40)] = np.nan
    seeds = np.zeros_like(fric, dtype=bool)
    seeds[10, 10] = True
    want = _dijkstra(fric, seeds, 1.0, 1.5)
    want[np.isnan(fric)] = np.inf
    assert np.array_equal(big, want)
    # right side is reached only via the gap: cost there exceeds the
    # unobstructed octile distance
    assert big[10, 120] > 1.5 * 0 + (120 - 10)
    assert np.isinf(big[0, 96]) and np.isfinite(big[40, 96])


def test_max_cost_ceiling(spark):
    rows = []
    from geotrellis_contrib_spark.operators.pixels import pack
    for tc in range(2):
        arr = np.ones((T, T))
        rows.append(("m", 0, 0, tc, 0, 0, "float64", -1.0, pack(arr)))
    df = _mk_tiles(rows)
    pred = lambda v, gr, gc: (gr == 0) & (gc == 0)  # noqa: E731
    full = CD.cost_distance(df, pred, tile_size=T).collect()
    capped = CD.cost_distance(df, pred, tile_size=T,
                              max_cost=20.0).collect()
    n_full = sum(r["n_reached"] for r in full)
    n_cap = sum(r["n_reached"] for r in capped)
    assert n_full == 2 * T * T and n_cap < n_full
    # capped == post-hoc filter of the full surface at the threshold
    sur = CD.cost_surface(df, pred, tile_size=T).collect()
    n_post = 0
    for r in sur:
        a = np.frombuffer(r["cost"], dtype=np.float64)
        n_post += int((a[np.isfinite(a)] <= 20.0).sum())
    assert n_cap == n_post


def test_fail_loud(spark):
    from geotrellis_contrib_spark.operators.pixels import pack
    bad = _mk_tiles([("b", 0, 0, 0, 0, 0, "float64", -1.0,
                      pack(np.full((T, T), -2.0)))])
    with pytest.raises(Exception, match="positive"):
        CD.cost_distance(bad, lambda v, gr, gc: gr == 0,
                         tile_size=T).collect()
    tiles = corpus.synth_friction_tiles(spark)
    with pytest.raises(RuntimeError, match="fixpoint"):
        CD.cost_distance(tiles, _seed_pred, tile_size=T, max_iter=1,
                         scene_max_px=0)


_SPARK = {}


def _mk_tiles(rows):
    return _SPARK["s"].createDataFrame(
        rows, "source_id string, source_idx int, zoom int, col bigint, "
              "row bigint, band int, dtype string, nodata double, "
              "px binary").coalesce(2)


@pytest.fixture(autouse=True)
def _cap(spark):
    _SPARK["s"] = spark
    yield


def test_least_cost_path_properties(spark):
    """Backtrack invariants on the uniform fixture: the target's
    quantized cost equals the octile closed form; every step of the
    walk satisfies exact optimality, so path cost a*1 + b*1.5 ==
    cost(target) and path_len = a + b lies in [chebyshev, cost]."""
    tiles = corpus.synth_friction_tiles(spark)
    tgt = lambda sid, band: [  # noqa: E731
        (1789, (18 + int(sid.split("-")[1])) * 64 + 253),
        (1538, (18 + int(sid.split("-")[1])) * 64 + 2)]
    rows = CD.least_cost_path(tiles, _seed_pred, tgt, tile_size=T,
                              straight=1.0, diag=1.5).collect()
    assert len(rows) == 12
    for r in rows:
        s = int(r.source_id.split("-")[1])
        seeds = [(1557 + 97 * i, 1164 + 89 * (s + j))
                 for i in range(3) for j in range(3)]
        best = min(1.5 * min(abs(r.tgr - a), abs(r.tgc - b))
                   + (max(abs(r.tgr - a), abs(r.tgc - b))
                      - min(abs(r.tgr - a), abs(r.tgc - b)))
                   for a, b in seeds)
        cheb = min(max(abs(r.tgr - a), abs(r.tgc - b)) for a, b in seeds)
        assert r.cost_q2 == int(np.floor(best * 2.0 + 0.5))
        assert cheb <= r.path_len <= best
    # determinism: identical on a second run
    rows2 = CD.least_cost_path(tiles, _seed_pred, tgt, tile_size=T,
                               straight=1.0, diag=1.5).collect()
    key = lambda r: (r.source_id, r.band, r.tgr, r.tgc)  # noqa: E731
    assert {key(r): (r.path_len, r.cost_q2) for r in rows} \
        == {key(r): (r.path_len, r.cost_q2) for r in rows2}


def test_least_cost_path_unreachable_fail_loud(spark):
    tiles = corpus.synth_px_tiles(spark, tile_size=T)  # has NoData holes
    # scene-0 hole: rows/cols < 16 of each tile -> (1536+2, 18*64+2) is
    # NoData, hence unreachable
    with pytest.raises(Exception, match="unreachable"):
        CD.least_cost_path(
            tiles, lambda v, gr, gc: (gr == 1600) & (gc == 1250),
            lambda sid, band: [(1538, 1154)], tile_size=T).collect()


def test_least_cost_path_dist_parity(spark):
    """Forced-distributed LCP (max_px=0: halo-rounds surface + per-tile
    pointer collapse + border doubling) returns BIT-identical
    (path_len, cost_q2) to the scene walk — uniform fixture (paths
    cross many tiles) AND varying friction with sqrt(2) diagonals and
    NoData holes."""
    key = lambda r: (r.source_id, r.band, r.tgr, r.tgc)  # noqa: E731

    tiles = corpus.synth_friction_tiles(spark)
    tgt = lambda sid, band: [  # noqa: E731
        (1789, (18 + int(sid.split("-")[1])) * 64 + 253),
        (1538, (18 + int(sid.split("-")[1])) * 64 + 2)]
    scene = {key(r): (r.path_len, r.cost_q2)
             for r in CD.least_cost_path(tiles, _seed_pred, tgt,
                                         tile_size=T).collect()}
    jobs, rows = count_jobs(spark, lambda: CD.least_cost_path(
        tiles, _seed_pred, tgt, tile_size=T, max_px=0).collect())
    dist = {key(r): (r.path_len, r.cost_q2) for r in rows}
    assert scene == dist and len(dist) == 12
    assert jobs == 22

    vtiles = corpus.synth_px_tiles(spark, tile_size=T)
    pred = lambda v, gr, gc: (gr % 120 == 70) & (gc % 110 == 50)  # noqa: E731
    vtgt = lambda sid, band: [  # noqa: E731
        (1789, (18 + int(sid.split("-")[1])) * 64 + 253)]
    scene_v = {key(r): (r.path_len, r.cost_q2)
               for r in CD.least_cost_path(
                   vtiles, pred, vtgt, tile_size=T, straight=1.0,
                   diag=math.sqrt(2.0)).collect()}
    dist_v = {key(r): (r.path_len, r.cost_q2)
              for r in CD.least_cost_path(
                  vtiles, pred, vtgt, tile_size=T, straight=1.0,
                  diag=math.sqrt(2.0), max_px=0).collect()}
    assert scene_v == dist_v and len(dist_v) == 6


def test_least_cost_path_dist_unreachable_fail_loud(spark):
    tiles = corpus.synth_px_tiles(spark, tile_size=T)
    with pytest.raises(Exception, match="unreachable"):
        CD.least_cost_path(
            tiles, lambda v, gr, gc: (gr == 1600) & (gc == 1250),
            lambda sid, band: [(1538, 1154)], tile_size=T,
            max_px=0).collect()


def test_least_cost_path_dist_tiny_budget_fails_loud(spark):
    # uniform friction across eight 4x4 tiles, seed at the west end: the
    # target's path crosses seven tile boundaries, more than one sync of
    # two doubling rounds resolves
    from geotrellis_contrib_spark.operators.pixels import pack
    tiles = _mk_tiles([("c", 0, 0, tc, 0, 0, "float64", -1.0,
                        pack(np.ones((4, 4)))) for tc in range(8)])
    with pytest.raises(RuntimeError,
                       match="least-cost-path border resolution did not "
                             "settle in 1 rounds"):
        CD.least_cost_path(tiles, lambda v, gr, gc: (gr == 0) & (gc == 0),
                           lambda sid, band: [(0, 31)], tile_size=4,
                           max_px=0, max_rounds=1).collect()


def test_least_cost_path_dist_past_column_4096(spark):
    """The parity fixture shifted 60 tile columns east (global pixel
    columns 4992..5439): the distributed path must return the scene
    walk's targets, lengths and costs — its border keys and its target
    coordinates must not wrap at column 4096."""
    from pyspark.sql import functions as F

    shift = 60
    key = lambda r: (r.source_id, r.band, r.tgr, r.tgc)  # noqa: E731
    tiles = corpus.synth_friction_tiles(spark) \
        .withColumn("col", F.col("col") + shift)
    pred = lambda v, gr, gc: ((gr % 97 == 5)  # noqa: E731
                              & ((gc - shift * T) % 89 == 7))
    tgt = lambda sid, band: [  # noqa: E731
        (1789, (18 + shift + int(sid.split("-")[1])) * 64 + 253),
        (1538, (18 + shift + int(sid.split("-")[1])) * 64 + 2)]
    scene = {key(r): (r.path_len, r.cost_q2)
             for r in CD.least_cost_path(tiles, pred, tgt,
                                         tile_size=T).collect()}
    dist = {key(r): (r.path_len, r.cost_q2)
            for r in CD.least_cost_path(tiles, pred, tgt, tile_size=T,
                                        max_px=0).collect()}
    assert len(scene) == 12 and min(k[3] for k in scene) > 4096
    assert dist == scene
