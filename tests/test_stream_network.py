"""Stream network: hand-built valley DEM (known heads/links), exact
threshold boundary, scene-vs-distributed parity incl. cross-tile links,
zero-stream tiles present."""
import numpy as np

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
    return {(r.col, r.row): (r.n_stream, r.n_heads, r.link_qsum)
            for r in df.collect()}


def test_valley_channel_vs_hand_computation(spark):
    # 8x16 in two 8x8 tiles: a single row-3 valley descending east->west
    # plus steep side slopes draining into it; every column adds flow,
    # so acc along the valley grows 2,5,8,... (cell + two sides per col)
    t = 8
    r = np.arange(8).reshape(-1, 1)
    c = np.arange(16).reshape(1, -1)
    z = np.abs(r - 3) * 10.0 + c * 1.0
    tiles = _tiles_from(spark, z, t)
    got = _collect(FO.stream_network(tiles, tile_size=t, threshold=5))
    dist = _collect(FO.stream_network(tiles, tile_size=t, threshold=5,
                                      scene_max_px=0))
    assert got == dist and len(got) == 2
    # hand closed form: each column's 7 side cells (3 above, 4 below)
    # chain straight into the valley cell (3, j), which drains west, so
    # exclusive acc(3, j) = 7 + 8*(15 - j) >= 5 for ALL j -> 16 stream
    # cells; the single head is the easternmost valley cell; link of
    # (3, j>=1) targets gid 3*4096 + (j-1), (3, 0) is the outlet pit;
    # the col-8 cell's target lives in the LEFT tile (cross-tile link)
    right_links = sum(3 * 4096 + (j - 1) for j in range(8, 16))
    left_links = sum(3 * 4096 + (j - 1) for j in range(1, 8))
    assert got[(1, 0)] == (8, 1, right_links)
    assert got[(0, 0)] == (8, 0, left_links)


def test_threshold_boundary_inclusive(spark):
    # chain of 4 cells descending: exclusive accs are 3,2,1,0; T=3
    # selects EXACTLY the last cell (acc >= T inclusive)
    t = 4
    z = np.full((4, 4), np.nan)
    z[1, :] = [9.0, 8.0, 7.0, 6.0]
    tiles = _tiles_from(spark, z, t)
    got = _collect(FO.stream_network(tiles, tile_size=t, threshold=3))
    n_stream, n_heads, _ = got[(0, 0)]
    assert (n_stream, n_heads) == (1, 1)


def test_fixture_parity_and_zero_tiles(spark):
    tiles = corpus_mod.synth_px_tiles(spark, tile_size=64)
    a = _collect(FO.stream_network(tiles, tile_size=64)
                 .filter("source_id = 'scene-2' AND band = 1"))
    jobs, b = count_jobs(spark, lambda: _collect(
        FO.stream_network(tiles, tile_size=64, scene_max_px=0)
        .filter("source_id = 'scene-2' AND band = 1")))
    assert a == b and len(a) == 16  # every tile present, even 0-stream
    assert jobs == 13
