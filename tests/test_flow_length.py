"""Downstream D8 flow length: hand-computed straight/diagonal chains,
cross-tile step accumulation on the valley fixture, scene-vs-distributed
bit parity (exact by construction — integer step counts are order-free)."""
import numpy as np
import pytest

from conftest import count_jobs
from geotrellis_contrib_spark import corpus as corpus_mod
from geotrellis_contrib_spark.operators import focal as FO
from geotrellis_contrib_spark.operators.pixels import pack

SCHEMA = ("source_id string, source_idx int, zoom int, col bigint, "
          "row bigint, band int, dtype string, nodata double, px binary")


def _tiles_from(spark, z, t):
    nr, nc = z.shape[0] // t, z.shape[1] // t
    rows = []
    for tr in range(nr):
        for tc in range(nc):
            arr = np.where(np.isnan(z[tr * t:(tr + 1) * t,
                                      tc * t:(tc + 1) * t]),
                           -9999.0, z[tr * t:(tr + 1) * t,
                                      tc * t:(tc + 1) * t])
            rows.append(("s", 0, 3, tc, tr, 0,
                         "float64", -9999.0, pack(arr)))
    return spark.createDataFrame(rows, SCHEMA)


def _collect(df):
    return {(r.col, r.row): (r.n_valid, r.orth_sum, r.diag_sum)
            for r in df.collect()}


def test_straight_chain_hand_lengths(spark):
    # single row descending east: cell (1, j) walks 3-j orthogonal steps
    # to the terminal (1, 3); sum = 3+2+1+0 = 6, no diagonals
    t = 4
    z = np.full((4, 4), np.nan)
    z[1, :] = [9.0, 8.0, 7.0, 6.0]
    tiles = _tiles_from(spark, z, t)
    got = _collect(FO.flow_length(tiles, tile_size=t))
    assert got[(0, 0)] == (4, 6, 0)
    assert got == _collect(FO.flow_length(tiles, tile_size=t,
                                          scene_max_px=0))


def test_diagonal_steps_counted_separately(spark):
    # 2x2 valid block in a NaN ring: (1,1)->(2,2) is the lone diagonal
    # step (drop 2/sqrt2 beats the orthogonal drop 1); (1,2) and (2,1)
    # each take one orthogonal step into the terminal (2,2)
    t = 4
    z = np.full((4, 4), np.nan)
    z[1:3, 1:3] = [[2.0, 1.0], [1.0, 0.0]]
    tiles = _tiles_from(spark, z, t)
    got = _collect(FO.flow_length(tiles, tile_size=t))
    assert got[(0, 0)] == (4, 2, 1)


def test_cross_tile_valley_closed_form(spark):
    # 8x16 valley (row 3, descending WEST) in two 8x8 tiles: side cell
    # (r, j) walks |r-3| vertical steps into the valley then j westward
    # steps to the outlet (3, 0) — all orthogonal. Per-tile sums:
    # left  = 8*sum|r-3| + 8*sum(j=0..7)  = 128 + 224 = 352
    # right = 8*sum|r-3| + 8*sum(j=8..15) = 128 + 736 = 864
    # (right-tile walks cross the seam — exercises the GROUP-row path)
    t = 8
    r = np.arange(8).reshape(-1, 1)
    c = np.arange(16).reshape(1, -1)
    z = np.abs(r - 3) * 10.0 + c * 1.0
    tiles = _tiles_from(spark, z, t)
    got = _collect(FO.flow_length(tiles, tile_size=t))
    dist = _collect(FO.flow_length(tiles, tile_size=t, scene_max_px=0))
    assert got == dist
    assert got[(0, 0)] == (64, 352, 0)
    assert got[(1, 0)] == (64, 864, 0)


def test_fixture_parity_scene_vs_dist(spark):
    tiles = corpus_mod.synth_px_tiles(spark, tile_size=64)
    a = _collect(FO.flow_length(tiles, tile_size=64)
                 .filter("source_id = 'scene-2' AND band = 1"))
    jobs, b = count_jobs(spark, lambda: _collect(
        FO.flow_length(tiles, tile_size=64, scene_max_px=0)
        .filter("source_id = 'scene-2' AND band = 1")))
    assert a == b and len(a) == 16
    assert jobs == 12
    assert any(v[2] > 0 for v in a.values())  # real diagonals exist


@pytest.mark.parametrize("run, match", [
    (lambda tiles: FO.flow_length(tiles, tile_size=4, scene_max_px=0,
                                  max_rounds=1),
     "flow_length border resolution did not settle in 1 rounds"),
    (lambda tiles: FO.watershed_labels(tiles, tile_size=4, scene_max_px=0,
                                       max_rounds=1),
     "watershed border resolution did not settle in 1 rounds"),
    (lambda tiles: FO.flow_accumulation(tiles, tile_size=4,
                                        scene_max_px=0, max_iter=1),
     "flow_accumulation did not reach a global fixpoint in 1 rounds"),
    (lambda tiles: FO.fill_sinks(tiles, tile_size=4, scene_max_px=0,
                                 max_iter=1),
     "fill_sinks did not reach a global fixpoint in 1 rounds"),
], ids=["flow_length", "watershed", "flow_accumulation", "fill_sinks"])
def test_tiny_budget_fails_loud(spark, run, match):
    # a valley (row 1, descending WEST) across eight 4x4 tiles: the
    # eastern cells' paths cross seven tile boundaries, more than one
    # sync of two doubling rounds resolves, and no halo loop settles
    # in one round
    r = np.arange(4).reshape(-1, 1)
    c = np.arange(32).reshape(1, -1)
    tiles = _tiles_from(spark, np.abs(r - 1) * 10.0 + c * 1.0, 4)
    with pytest.raises(RuntimeError, match=match):
        run(tiles).collect()


def _lcp_scene_one(spark):
    from geotrellis_contrib_spark.operators import costdistance as CD

    tiles = corpus_mod.synth_friction_tiles(spark) \
        .filter("source_id = 'scene-1' AND band = 0")
    return CD.least_cost_path(
        tiles, lambda v, gr, gc: (gr % 97 == 5) & (gc % 89 == 7),
        lambda sid, band: [(1789, 19 * 64 + 253), (1538, 19 * 64 + 2)],
        tile_size=64, max_px=0)


@pytest.mark.parametrize("run", [
    lambda spark, tiles: FO.watershed_labels(tiles, tile_size=64,
                                             scene_max_px=0),
    lambda spark, tiles: FO.flow_length(tiles, tile_size=64,
                                        scene_max_px=0),
    lambda spark, tiles: _lcp_scene_one(spark),
], ids=["watershed", "flow_length", "least_cost_path"])
def test_dist_rows_independent_of_shuffle_partitions(spark, run):
    # the contraction's border doubling and rollups run on
    # spark.sql.shuffle.partitions; the rows must not depend on it
    tiles = corpus_mod.synth_px_tiles(spark, tile_size=64) \
        .filter("source_id = 'scene-2' AND band = 1")
    conf = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(conf)
    runs = []
    try:
        for n in (3, 17):
            spark.conf.set(conf, str(n))
            runs.append(sorted(tuple(r) for r in run(spark, tiles).collect()))
    finally:
        spark.conf.set(conf, prev)
    assert runs[0] and runs[0] == runs[1]
