"""Moran's I integer moments: hand 2x2 grid, independent numpy replay
over the scene mosaic (including the NoData hole and scene edges), and
the derived statistic's sign sanity on the smooth gradient fixture."""
import numpy as np

from geotrellis_contrib_spark import corpus as corpus_mod
from geotrellis_contrib_spark.operators import focal as FO
from geotrellis_contrib_spark.operators.pixels import pack

SCHEMA = ("source_id string, source_idx int, zoom int, col bigint, "
          "row bigint, band int, dtype string, nodata double, px binary")


def _moments_np(z, quant=4.0):
    val = ~np.isnan(z)
    v = np.where(val, np.floor(z * quant + 0.5), 0).astype(np.int64)
    n = int(val.sum())
    w = s1 = sdeg = 0
    deg = np.zeros_like(v)
    nsum = np.zeros_like(v)
    H, W = z.shape
    vp = np.zeros((H + 2, W + 2), dtype=np.int64)
    mp = np.zeros((H + 2, W + 2), dtype=bool)
    vp[1:-1, 1:-1], mp[1:-1, 1:-1] = v, val
    for dr, dc in ((-1, 0), (1, 0), (0, -1), (0, 1)):
        nm = mp[1 + dr:1 + H + dr, 1 + dc:1 + W + dc]
        nv = vp[1 + dr:1 + H + dr, 1 + dc:1 + W + dc]
        both = val & nm
        deg += both
        nsum += np.where(both, nv, 0)
    w = int(deg[val].sum())
    s1 = int((v * nsum)[val].sum())
    sdeg = int((deg * v)[val].sum())
    return (n, w, s1, sdeg, int(v[val].sum()), int((v * v)[val].sum()))


def test_hand_2x2(spark):
    t = 4
    z = np.full((4, 4), np.nan)
    z[1:3, 1:3] = [[1.0, 2.0], [3.0, 4.0]]
    rows = [("s", 0, 3, 0, 0, 0, "float64", -9999.0,
             pack(np.where(np.isnan(z), -9999.0, z)))]
    df = spark.createDataFrame(rows, SCHEMA)
    got = FO.morans_moments(df, tile_size=t, quant=1.0).collect()[0]
    # 2x2 all-valid: every cell has exactly 2 rook neighbors -> w = 8;
    # ordered pairs: (1,2)(1,3)(2,4)(3,4) each twice -> s1 = 2*(2+3+8+12)
    assert (got.n, got.w_pairs, got.s1) == (4, 8, 50)
    assert (got.sdeg, got.sv, got.svv) == (20, 10, 30)


def test_numpy_replay_and_sign(spark):
    tiles = corpus_mod.synth_px_tiles(spark, tile_size=64)
    got = {(r.source_id, r.band):
           (r.n, r.w_pairs, r.s1, r.sdeg, r.sv, r.svv)
           for r in FO.morans_moments(tiles, tile_size=64).collect()}
    assert len(got) == 6
    for s in range(3):
        moz = corpus_mod.synth_scene_mosaic(s)
        for b in range(2):
            z = np.where(moz[b] == -9999.0, np.nan, moz[b])
            exp = _moments_np(z)
            assert got[(f"scene-{s}", b)] == exp
            # gradient + %13 noise field -> clearly positive autocorrelation
            n, w, s1, sdeg, sv, svv = exp
            m = sv / n
            num = (s1 - 2.0 * m * sdeg + m * m * w) / w
            den = (svv - n * m * m) / n
            assert 0.5 < num / den <= 1.001


def test_k_morans_tiles_sum_to_scene():
    """The per-tile kernel on each tile's 1-px halo frame: the tiles'
    moments add up to the whole scene's (pairs across tile edges are
    counted once from each side, as in the scene sum)."""
    rng = np.random.default_rng(5)
    t = 4
    z = rng.integers(0, 20, size=(2 * t, 3 * t)) / 4.0
    z[2, 5] = np.nan
    zp = np.pad(z, 1, constant_values=np.nan)
    tot = np.zeros(6, dtype=np.int64)
    for tr in range(2):
        for tc in range(3):
            got = FO.k_morans(zp[tr * t:tr * t + t + 2, tc * t:tc * t + t + 2],
                              t, tc, tr, qf=4.0)
            tot += [got[k] for k in ("n", "w_pairs", "s1", "sdeg", "sv", "svv")]
    assert tuple(int(v) for v in tot) == _moments_np(z)
