"""Marching squares: hand-verified single blocks (including both
saddle orientations), tiled-vs-stitched equivalence across boundaries,
NoData suppression, endpoint-on-edge invariants."""
import numpy as np

from conftest import count_jobs
from geotrellis_contrib_spark import corpus as corpus_mod
from geotrellis_contrib_spark.operators import contour as CT

Q = 1048576.0


def q(v):
    return int(np.floor(v * Q + 0.5))


def test_single_block_cases():
    iso = 0.5
    # case 1: only BL high -> one segment L->B
    segs = CT.marching_squares(
        np.array([[0.0, 0.0], [1.0, 0.0]]), iso, 0, 0)
    assert segs == [(0, 0, 0, q(0.0), q(0.5), q(0.5), q(1.0))]
    # case 6: TR+BR high -> T->B at x interpolated
    segs = CT.marching_squares(
        np.array([[0.0, 1.0], [0.0, 1.0]]), iso, 5, 7)
    assert segs == [(5, 7, 0, q(7.5), q(5.0), q(7.5), q(6.0))]
    # saddle case 5 (TR+BL high), center (0+1+0+1)/4 = 0.5 NOT > iso
    # -> center low -> highs isolated: (T,R) and (B,L)
    segs = CT.marching_squares(
        np.array([[0.0, 1.0], [1.0, 0.0]]), iso, 0, 0)
    assert [s[2] for s in segs] == [0, 1]
    assert segs[0][3:] == (q(0.5), q(0.0), q(1.0), q(0.5))  # T -> R
    assert segs[1][3:] == (q(0.5), q(1.0), q(0.0), q(0.5))  # B -> L
    # same corners, higher values -> center high -> lows isolated
    segs = CT.marching_squares(
        np.array([[0.0, 9.0], [9.0, 0.0]]), iso, 0, 0)
    # slot 0 is (L, T): endpoint 1 = L at x=0, y interpolated 0.5/9
    assert (segs[0][3], segs[0][4]) == (q(0.0), q(0.5 / 9.0))
    # no-crossing blocks emit nothing; NaN corner suppresses
    assert CT.marching_squares(np.zeros((2, 2)), iso, 0, 0) == []
    assert CT.marching_squares(np.ones((2, 2)), iso, 0, 0) == []
    g = np.array([[0.0, 1.0], [np.nan, 0.0]])
    assert CT.marching_squares(g, iso, 0, 0) == []


def test_tiled_equals_stitched(spark):
    tiles = (corpus_mod.synth_px_tiles(spark, tile_size=64)
             .filter("source_idx = 0 AND band = 0"))
    jobs, rows = count_jobs(
        spark, CT.contour_segments(tiles, iso=240.0625).collect)
    assert jobs == 2  # the fan-out and grid solve run in the collect's job
    got = sorted(tuple(r) for r in rows)
    # stitch the full 256x256 scene and run the kernel once
    full = np.full((257, 257), np.nan)
    r_i = np.arange(64).reshape(-1, 1)
    c_i = np.arange(64).reshape(1, -1)
    for tc in range(4):
        for tr in range(4):
            col, row = 18 + tc, 24 + tr
            v = (col * 7.0 + row * 3.0 + r_i * 0.5 + c_i * 0.25
                 + (r_i * 31 + c_i * 17) % 13).astype(np.float64)
            v[0:16, 0:16] = np.nan  # scene-0 hole h0 = 0
            full[tr * 64:(tr + 1) * 64, tc * 64:(tc + 1) * 64] = v
    want = sorted(CT.marching_squares(full[:257, :257], 240.0625,
                                      24 * 64, 18 * 64))
    assert got == want and len(got) > 1000
    # endpoints lie on their block boundary
    for gr, gc, seg, x1, y1, x2, y2 in got[:500]:
        for (x, y) in ((x1, y1), (x2, y2)):
            on_v = x in (q(gc), q(gc + 1)) and q(gr) <= y <= q(gr + 1)
            on_h = y in (q(gr), q(gr + 1)) and q(gc) <= x <= q(gc + 1)
            assert on_v or on_h, (gr, gc, x, y)
