"""Local (per-pixel) map algebra: unary no-shuffle ops, cross-band
combiners, and the gated NDVI+reclassify pipeline vs a numpy brute force
recomputed straight from the fixture closed form.

Reference parity: GeoTrellis Tile.combine / local-op / reclassify
families fed by the reference's RasterSources (multiband band-subset
reads in RasterSourceSpec, vlm/src/test/resources)."""
from functools import partial

import numpy as np

from geotrellis_contrib_spark import corpus
from geotrellis_contrib_spark.operators import local as LO
from geotrellis_contrib_spark.operators.pixels import unpack
from tests.conftest import count_jobs, replay_stacks, replay_tiles

T = 64
BREAKS = (500.0, 1500.0, 2250.0)
TILE_KEY = ("source_id", "col", "row")
NDVI_DDL = ("source_id string, col bigint, row bigint, ndvi_sum bigint, "
            "ndvi_count bigint, class_sum bigint, class_count bigint")
COMBINE_DDL = ("source_id string, col bigint, row bigint, band int, "
               "dtype string, nodata double, px binary")
CROSSTAB_DDL = "source_id string, c0 bigint, c1 bigint, n_pixels bigint"
# Spark jobs one collect of crosstab over the px fixture starts (a
# driver sync plus the stage jobs adaptive execution submits)
JOBS_CROSSTAB = 3


def _band(s: int, band: int, col: int, row: int) -> np.ndarray:
    r = np.arange(T).reshape(-1, 1)
    c = np.arange(T).reshape(1, -1)
    val = (s * 1000.0 + band * 100.0 + col * 7.0 + row * 3.0
           + r * 0.5 + c * 0.25 + ((r * 31 + c * 17) % 13)).astype(np.float64)
    h0 = (s * 11) % (T - 16)
    val[h0:h0 + 16, h0:h0 + 16] = np.nan
    return val


def test_ndvi_reclass_matches_fixture_bruteforce(spark):
    tiles = corpus.synth_px_tiles(spark, tile_size=T)
    got = {(r["source_id"], r["col"], r["row"]):
           (r["ndvi_sum"], r["ndvi_count"], r["class_sum"], r["class_count"])
           for r in LO.ndvi_reclass_stats(tiles, breaks=BREAKS).collect()}
    assert len(got) == 3 * 16
    for s in range(3):
        for tc in range(4):
            for tr in range(4):
                col, row = 18 + s + tc, 24 + tr
                a = _band(s, 0, col, row)
                b = _band(s, 1, col, row)
                ok = ~np.isnan(a + b)
                with np.errstate(invalid="ignore"):
                    nd = (a - b) / (a + b)
                cls = (1 + (a >= BREAKS[0]).astype(np.int64)
                       + (a >= BREAKS[1]).astype(np.int64)
                       + (a >= BREAKS[2]).astype(np.int64))
                want = (int(np.floor(nd[ok] * LO._Q + 0.5)
                            .astype(np.int64).sum()), int(ok.sum()),
                        int(cls[ok].sum()), int(ok.sum()))
                assert got[(f"scene-{s}", col, row)] == want, (s, col, row)
    # the breaks bite: all four classes occur across the corpus
    all_cls = set()
    for s in range(3):
        a = _band(s, 0, 18 + s, 24)
        a2 = _band(s, 0, 21 + s, 27)
        for arr in (a, a2):
            m = ~np.isnan(arr)
            cls = (1 + (arr >= BREAKS[0]).astype(np.int64)
                   + (arr >= BREAKS[1]).astype(np.int64)
                   + (arr >= BREAKS[2]).astype(np.int64))
            all_cls.update(np.unique(cls[m]).tolist())
    assert all_cls == {1, 2, 3, 4}


def test_local_map_no_shuffle(spark):
    tiles = corpus.synth_px_tiles(spark, tile_size=T)
    out = LO.local_map(tiles, lambda a: a * 2.0 + 1.0, tile_size=T)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    row = out.filter("source_id = 'scene-1' AND band = 0 AND col = 20 "
                     "AND row = 25").collect()[0]
    arr = unpack(row["px"], row["dtype"], T)
    src = _band(1, 0, 20, 25)
    m = ~np.isnan(src)
    assert np.array_equal(arr[m], src[m] * 2.0 + 1.0)
    # NoData round-trips through the declared nodata value
    assert np.all(arr[~m] == row["nodata"])


def test_band_combine_generic(spark):
    tiles = corpus.synth_px_tiles(spark, tile_size=T)
    out = LO.band_combine(tiles, lambda bands: bands[1] - bands[0],
                          tile_size=T)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") - plan.count("ReusedExchange") <= 1, plan
    row = out.filter("source_id = 'scene-2' AND col = 22 AND row = 26") \
        .collect()[0]
    arr = unpack(row["px"], row["dtype"], T)
    src = _band(2, 1, 22, 26) - _band(2, 0, 22, 26)
    m = ~np.isnan(src)
    # b1 - b0 == 100 everywhere valid (the fixture's band term)
    assert np.array_equal(arr[m], src[m])
    assert np.all(src[m] == 100.0)


def test_ndvi_single_shuffle_plan(spark):
    tiles = corpus.synth_px_tiles(spark, tile_size=T)
    plan = LO.ndvi_reclass_stats(tiles, breaks=BREAKS) \
        ._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") - plan.count("ReusedExchange") <= 1, plan


def test_crosstab_hand_and_replay(spark):
    import numpy as np
    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark.operators.local import crosstab
    tiles = corpus_mod.synth_px_tiles(spark, tile_size=64)
    jobs, rows = count_jobs(spark, crosstab(tiles, class_width=64.0).collect)
    assert jobs == JOBS_CROSSTAB
    got = {(r.source_id, r.c0, r.c1): r.n_pixels for r in rows}
    # numpy replay over the scene mosaics
    exp = {}
    for s in range(3):
        moz = corpus_mod.synth_scene_mosaic(s)
        a = np.where(moz[0] == -9999.0, np.nan, moz[0])
        b = np.where(moz[1] == -9999.0, np.nan, moz[1])
        both = ~np.isnan(a) & ~np.isnan(b)
        ca = np.floor(a[both] / 64.0).astype(np.int64)
        cb = np.floor(b[both] / 64.0).astype(np.int64)
        for p, c in zip(*np.unique(np.stack([ca, cb], 1), axis=0,
                                   return_counts=True)):
            exp[(f"scene-{s}", int(p[0]), int(p[1]))] = int(c)
    assert got == exp
    # counts conserve: total pairs == total both-valid pixels
    for s in range(3):
        moz = corpus_mod.synth_scene_mosaic(s)
        nv = int((~np.isnan(np.where(moz[0] == -9999.0, np.nan,
                                     moz[0]))).sum())
        assert sum(v for (sid, _, _), v in got.items()
                   if sid == f"scene-{s}") == nv


def _band_rows(planes, nodatas, zoom=3):
    """One tile's band rows as replay rows (band = list position)."""
    return [{"source_id": "s", "source_idx": 0, "zoom": zoom, "col": 1,
             "row": 1, "band": b, "nodata": nd, "px": a}
            for b, (a, nd) in enumerate(zip(planes, nodatas))]


# NoData is exact: -9999.05 is valid under nodata -9999.0 (band 0), 1e-9
# under nodata 0.0 (band 1); only (0, 0) and (1, 1) are valid in both
ND_BANDS = [np.array([[-9999.05, -9999.0], [1.0, 2.0]]),
            np.array([[1e-9, 5.0], [0.0, 4.0]])]
ND_DECL = [-9999.0, 0.0]


def test_ndvi_reclass_kernel_nodata_is_exact():
    g = replay_stacks(_band_rows(ND_BANDS, ND_DECL), TILE_KEY,
                      partial(LO.k_ndvi_reclass, breaks=(0.0, 1.5, 3.0)),
                      NDVI_DDL).iloc[0]
    nd = np.array([(-9999.05 - 1e-9) / (-9999.05 + 1e-9), (2.0 - 4.0) / 6.0])
    assert (g.ndvi_count, g.class_count) == (2, 3)
    assert g.ndvi_sum == int(np.floor(nd * LO._Q + 0.5).astype(np.int64).sum())
    assert g.class_sum == 1 + 2 + 3


def test_band_combine_kernel_nodata_is_exact():
    g = replay_stacks(_band_rows(ND_BANDS, ND_DECL), TILE_KEY,
                      partial(LO.k_band_combine,
                              combiner=lambda b: b[1] - b[0]),
                      COMBINE_DDL).iloc[0]
    assert (g.band, g["dtype"], g.nodata) == (0, "float64", -9999.0)
    np.testing.assert_array_equal(unpack(g.px, g["dtype"], 2),
                                  [[1e-9 - -9999.05, -9999.0], [-9999.0, 2.0]])


def test_crosstab_kernel_nodata_is_exact():
    got = replay_stacks(_band_rows(ND_BANDS, ND_DECL),
                        ("source_id", "zoom", "col", "row"),
                        partial(LO.k_crosstab, class_width=1.0), CROSSTAB_DDL)
    assert sorted(map(tuple, got[["c0", "c1", "n_pixels"]].values.tolist())) \
        == [(-10000, 0, 1), (2, 4, 1)]


def test_stack_kernels_need_both_bands():
    """A tile with only band 0 gives no ndvi row and no crosstab pair."""
    rows = _band_rows(ND_BANDS[:1], ND_DECL[:1])
    assert len(replay_stacks(rows, TILE_KEY, partial(LO.k_ndvi_reclass,
                                                     breaks=BREAKS),
                             NDVI_DDL)) == 0
    assert len(replay_stacks(rows, ("source_id", "zoom", "col", "row"),
                             partial(LO.k_crosstab, class_width=1.0),
                             CROSSTAB_DDL)) == 0


def test_local_tile_kernels():
    """local_map, local_binary and tile_checksums kernels on one tile:
    NaN and exact nodata are NoData, -9999.05 is not; NoData in either
    input of a binary op is NoData out."""
    a = np.array([[2.0, -9999.0], [np.nan, -9999.05]])
    b = np.array([[3.0, 1.0], [1.0, 0.5]])
    row = {"source_id": "s", "zoom": 3, "col": 1, "row": 1, "band": 0,
           "nodata": -9999.0, "px": a}
    ddl = "band int, dtype string, nodata double, px binary"
    m = replay_tiles([row], partial(LO.k_local_map, fn=lambda v: v * 2.0),
                     ddl).iloc[0]
    np.testing.assert_array_equal(unpack(m.px, m["dtype"], 2),
                                  [[4.0, -9999.0], [-9999.0, -19998.1]])
    pair = {**row, "b_dtype": "float64", "b_nodata": 1.0, "b_px": b.tobytes()}
    p = replay_tiles([pair], partial(LO.k_local_binary, fn=np.minimum),
                     ddl).iloc[0]
    np.testing.assert_array_equal(unpack(p.px, p["dtype"], 2),
                                  [[2.0, -9999.0], [-9999.0, -9999.05]])
    c = replay_tiles([row], partial(LO.k_tile_checksum, q=4.0),
                     "band int, n_valid bigint, q_sum bigint").iloc[0]
    assert (c.n_valid, c.q_sum) == (2, 8 + int(np.floor(-9999.05 * 4 + 0.5)))
