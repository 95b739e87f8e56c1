"""Temporal stack stats: engine vs an independent numpy replay of the
px fixture (one Spark parity test per operator), plus hand-built stacks
run through the stack driver's group body without Spark
(``conftest.replay_stacks``) covering NaN nodata, per-scene differing
nodata declarations, near-nodata values and never-observed pixels."""
from functools import partial

import numpy as np
import pytest

from geotrellis_contrib_spark import corpus as corpus_mod
from geotrellis_contrib_spark.operators import temporal as TE
from geotrellis_contrib_spark.operators.pixels import pack
from tests.conftest import count_jobs, replay_stacks, replay_tiles

KEY = ("zoom", "col", "row", "band")
_K = "zoom int, col bigint, row bigint, band int, "
STATS_DDL = _K + "n_px bigint, cnt_sum bigint, q_mean_sum bigint, q_range_sum bigint"
COMPOSITE_DDL = _K + "n_px bigint, q_best_sum bigint, src_sum bigint"
MK_DDL = _K + "n_px_pairs bigint, p_sum bigint, s_sum bigint"
THEIL_SEN_DDL = _K + "n_px1 bigint, q_ts_sum bigint"
MEDIAN_DDL = _K + "n_px bigint, q_med_sum bigint"
TREND_DDL = _K + "n_px2 bigint, q_slope_sum bigint"
FILL_DDL = _K + "n_gaps bigint, n_filled bigint, q_fill_sum bigint"

# Spark jobs one collect starts (a driver sync plus the stage jobs
# adaptive execution submits): temporal_stats over the px fixture, and
# tile_checksums(local_binary(a, a)) over a one-tile table
JOBS_TEMPORAL_STATS = 2
JOBS_LOCAL_BINARY_CHECKSUMS = 3


def _stack_rows(planes, nodatas):
    """One tile key's scenes as replay rows, source_idx = 0, 1, ..."""
    return [{"source_id": f"s{s}", "source_idx": s, "zoom": 3,
             "col": 1, "row": 1, "band": 0, "nodata": nd, "px": a}
            for s, (a, nd) in enumerate(zip(planes, nodatas))]


def _replay(kernel, ddl, planes, nodatas, **params):
    """The one output row of a single-key stack through ``kernel``."""
    out = replay_stacks(_stack_rows(planes, nodatas), KEY,
                        partial(kernel, **params), ddl)
    assert len(out) == 1
    return out.iloc[0]


def _fixture_value(s, col, row, band, r, c):
    return (s * 1000.0 + band * 100.0 + col * 7.0 + row * 3.0
            + r * 0.5 + c * 0.25 + (r * 31 + c * 17) % 13)


def test_temporal_stats_vs_numpy(spark):
    tiles = corpus_mod.synth_px_tiles(spark, tile_size=64)
    jobs, rows = count_jobs(spark, TE.temporal_stats(tiles).collect)
    assert jobs == JOBS_TEMPORAL_STATS
    got = {(r.col, r.row, r.band): r for r in rows}
    assert len(got) == 6 * 4 * 2
    r_idx = np.arange(64).reshape(-1, 1)
    c_idx = np.arange(64).reshape(1, -1)
    for (col, row, band), g in got.items():
        acc = np.zeros((64, 64))
        cnt = np.zeros((64, 64), dtype=np.int64)
        tmax = np.full((64, 64), -np.inf)
        tmin = np.full((64, 64), np.inf)
        for s in range(3):
            if not (18 + s <= col <= 21 + s):
                continue
            v = _fixture_value(s, col, row, band, r_idx, c_idx) \
                .astype(np.float64)
            h0 = (s * 11) % 48
            valid = np.ones((64, 64), dtype=bool)
            valid[h0:h0 + 16, h0:h0 + 16] = False
            acc = np.where(valid, acc + v, acc)
            cnt += valid
            tmax = np.where(valid, np.maximum(tmax, v), tmax)
            tmin = np.where(valid, np.minimum(tmin, v), tmin)
        seen = cnt > 0
        mean = np.where(seen, acc / np.maximum(cnt, 1), 0.0)
        assert g.n_px == int(seen.sum())
        assert g.cnt_sum == int(cnt.sum())
        assert g.q_mean_sum == int(
            np.floor(mean * 1048576.0 + 0.5)[seen].astype(np.int64).sum())
        rng = np.where(seen, tmax - tmin, 0.0)
        assert g.q_range_sum == int(
            np.floor(rng * 4.0 + 0.5)[seen].astype(np.int64).sum())


def test_temporal_stats_tiny_stack():
    # 4x4 tiles, 3 instants; scene 1 declares NaN nodata, scene 2 a
    # sentinel; pixel (3,3) is valid in NO scene
    a0 = np.arange(16, dtype=np.float64).reshape(4, 4)
    a0[3, 3] = -1.0  # scene-0 nodata sentinel
    a1 = a0 * 2.0
    a1[0, 0] = np.nan  # NaN IS the declared nodata of scene 1
    a1[3, 3] = np.nan
    a2 = a0 * 4.0
    a2[1, 1] = -2.0  # scene-2 nodata sentinel
    a2[3, 3] = -2.0
    rows = [{"source_id": f"s{s}", "source_idx": s, "zoom": 0, "col": 5,
             "row": 7, "band": 0, "nodata": nd, "px": a}
            for s, (a, nd) in enumerate([(a0, -1.0), (a1, float("nan")),
                                         (a2, -2.0)])]
    out = replay_stacks(rows, KEY, partial(TE.k_stats, q_mean=1048576.0,
                                           q_range=4.0), STATS_DDL)
    assert len(out) == 1
    g = out.iloc[0]
    # counts: 16 px; (3,3) never seen; (0,0) seen 2x; (1,1) seen 2x;
    # the other 13 seen 3x
    assert (g.zoom, g.col, g.row, g.band) == (0, 5, 7, 0)
    assert g.n_px == 15
    assert g.cnt_sum == 13 * 3 + 2 + 2
    # replay by hand
    q_mean = q_rng = 0
    for i in range(4):
        for j in range(4):
            vals = []
            if not (i == 3 and j == 3):
                base = float(a0[i, j])
                vals = [base]
                if not (i == 0 and j == 0):
                    vals.append(base * 2.0)
                if not (i == 1 and j == 1):
                    vals.append(base * 4.0)
            if vals:
                acc = 0.0
                for v in vals:
                    acc += v
                q_mean += int(np.floor(acc / len(vals) * 1048576.0 + 0.5))
                q_rng += int(np.floor((max(vals) - min(vals)) * 4.0 + 0.5))
    assert g.q_mean_sum == q_mean
    assert g.q_range_sum == q_rng


def test_temporal_trend_vs_numpy(spark):
    tiles = corpus_mod.synth_px_tiles(spark, tile_size=64)
    got = {(r.col, r.row, r.band): r
           for r in TE.temporal_trend(tiles).collect()}
    assert len(got) == 48
    r_idx = np.arange(64).reshape(-1, 1)
    c_idx = np.arange(64).reshape(1, -1)
    nonzero_seen = 0
    for (col, row, band), g in got.items():
        n = np.zeros((64, 64), dtype=np.int64)
        st = np.zeros((64, 64), dtype=np.int64)
        st2 = np.zeros((64, 64), dtype=np.int64)
        sv = np.zeros((64, 64))
        stv = np.zeros((64, 64))
        for s in range(3):
            if not (18 + s <= col <= 21 + s):
                continue
            v = _fixture_value(s, col, row, band, r_idx, c_idx) \
                .astype(np.float64)
            h0 = (s * 11) % 48
            valid = np.ones((64, 64), dtype=bool)
            valid[h0:h0 + 16, h0:h0 + 16] = False
            n += valid
            st += np.where(valid, s, 0)
            st2 += np.where(valid, s * s, 0)
            sv = np.where(valid, sv + v, sv)
            stv = np.where(valid, stv + s * v, stv)
        fit = n >= 2
        nf, stf, st2f = (a.astype(np.float64) for a in (n, st, st2))
        denom = np.where(fit, nf * st2f - stf * stf, 1.0)
        slope = np.where(fit, (nf * stv - stf * sv) / denom, 0.0)
        assert g.n_px2 == int(fit.sum())
        assert g.q_slope_sum == int(
            np.floor(slope * 1048576.0 + 0.5)[fit].astype(np.int64).sum())
        if g.n_px2:
            nonzero_seen += 1
    # single-scene edge tiles (col 18/23) legitimately have n_px2 == 0,
    # but the overlap interior must actually fit trends
    assert nonzero_seen >= 16


def test_temporal_trend_tiny_exact_slope():
    # two instants, constant offset 3.0 -> slope exactly 3.0 everywhere
    a0 = np.full((4, 4), 10.0)
    a1 = a0 + 3.0
    g = _replay(TE.k_trend, TREND_DDL, [a0, a1], [-9.0, -9.0],
                q_slope=1048576.0)
    assert g.n_px2 == 16
    assert g.q_slope_sum == 16 * int(np.floor(3.0 * 1048576.0 + 0.5))


def _mk_replay(cal=True):
    """Numpy replay of the calibrated fixture stack used by the
    mann_kendall / theil_sen gates."""
    from __spark_entry__ import MK_GAINS, MK_OFFSETS
    r_idx = np.arange(64).reshape(-1, 1)
    c_idx = np.arange(64).reshape(1, -1)
    out = {}
    for band in range(2):
        for col in range(18, 24):
            for row in range(24, 28):
                planes, valids = [], []
                for s in range(3):
                    if not (18 + s <= col <= 21 + s):
                        continue
                    v = _fixture_value(s, col, row, band, r_idx, c_idx) \
                        .astype(np.float64)
                    if cal:
                        v = v * MK_GAINS[s] + MK_OFFSETS[s]
                    h0 = (s * 11) % 48
                    valid = np.ones((64, 64), dtype=bool)
                    valid[h0:h0 + 16, h0:h0 + 16] = False
                    planes.append((s, v))
                    valids.append(valid)
                out[(col, row, band)] = (planes, valids)
    return out


def test_mann_kendall_vs_numpy(spark):
    from __spark_entry__ import MK_GAINS, MK_OFFSETS
    tiles = corpus_mod.synth_px_tiles(spark, tile_size=64)
    cal = TE.calibrate_stack(tiles, MK_GAINS, MK_OFFSETS)
    got = {(r.col, r.row, r.band): r
           for r in TE.temporal_mann_kendall(cal).collect()}
    sign_seen = set()
    for key, (planes, valids) in _mk_replay().items():
        S = np.zeros((64, 64), dtype=np.int64)
        P = np.zeros((64, 64), dtype=np.int64)
        for j in range(len(planes)):
            for i in range(j):
                both = valids[i] & valids[j]
                sg = np.sign(planes[j][1] - planes[i][1])
                S += np.where(both, sg, 0.0).astype(np.int64)
                P += both
                sign_seen.update(np.unique(sg[both]).tolist())
        g = got[key]
        seen = P >= 1
        assert g.n_px_pairs == int(seen.sum())
        assert g.p_sum == int(P.sum())
        assert g.s_sum == int(S[seen].sum())
    # calibration makes all three sign outcomes occur in the fixture
    assert sign_seen == {-1.0, 0.0, 1.0}


def test_theil_sen_vs_numpy_and_even_counts(spark):
    from __spark_entry__ import MK_GAINS, MK_OFFSETS
    tiles = corpus_mod.synth_px_tiles(spark, tile_size=64)
    cal = TE.calibrate_stack(tiles, MK_GAINS, MK_OFFSETS)
    got = {(r.col, r.row, r.band): r
           for r in TE.temporal_theil_sen(cal).collect()}
    for key, (planes, valids) in _mk_replay().items():
        slopes = []
        for j in range(len(planes)):
            for i in range(j):
                both = valids[i] & valids[j]
                sl = (planes[j][1] - planes[i][1]) \
                    / float(planes[j][0] - planes[i][0])
                slopes.append(np.where(both, sl, np.nan))
        g = got[key]
        if not slopes:
            assert (g.n_px1, g.q_ts_sum) == (0, 0)
            continue
        stack = np.stack(slopes)
        m = (~np.isnan(stack)).sum(axis=0)
        srt = np.sort(stack, axis=0)
        lo = np.clip((m - 1) // 2, 0, len(slopes) - 1)
        hi = np.clip(m // 2, 0, len(slopes) - 1)
        a = np.take_along_axis(srt, lo[None], axis=0)[0]
        b = np.take_along_axis(srt, hi[None], axis=0)[0]
        med = np.where(m >= 1, (a + b) / 2.0, 0.0)
        assert g.n_px1 == int((m >= 1).sum())
        assert g.q_ts_sum == int(
            np.floor(med * 1048576.0 + 0.5)[m >= 1]
            .astype(np.int64).sum())


def test_theil_sen_even_pair_count_tiny():
    # 4 instants, 2x2 tile, one pixel missing one instant -> pair
    # counts {6, 3}: exercises the even-m two-middle average
    vals = [np.array([[1.0, 5.0], [2.0, -3.0]]),
            np.array([[2.0, 4.0], [0.0, -9999.0]]),
            np.array([[4.0, 1.0], [7.0, 5.0]]),
            np.array([[8.0, 0.0], [1.0, 6.0]])]
    got = _replay(TE.k_theil_sen, THEIL_SEN_DDL, vals, [-9999.0] * 4,
                  q_slope=1048576.0)
    meds = np.zeros((2, 2))
    for r in range(2):
        for c in range(2):
            sls = []
            for j in range(4):
                for i in range(j):
                    vi, vj = vals[i][r, c], vals[j][r, c]
                    if vi == -9999.0 or vj == -9999.0:
                        continue
                    sls.append((vj - vi) / float(j - i))
            sls.sort()
            mm = len(sls)
            meds[r, c] = (sls[(mm - 1) // 2] + sls[mm // 2]) / 2.0
    assert got.n_px1 == 4
    assert got.q_ts_sum == int(
        np.floor(meds * 1048576.0 + 0.5).astype(np.int64).sum())


def test_calibrate_stack_preserves_nodata():
    a = np.array([[1.0, -9999.0], [np.nan, 2.0]])
    out = replay_tiles(_stack_rows([a], [-9999.0]),
                       partial(TE.k_calibrate, gains={0: 2.0},
                               offsets={0: 10.0}),
                       "source_idx int, dtype string, px binary").iloc[0]
    from geotrellis_contrib_spark.operators.pixels import unpack
    arr = unpack(out.px, out["dtype"], 2)
    assert arr[0, 0] == 12.0 and arr[1, 1] == 14.0
    assert arr[0, 1] == -9999.0 and np.isnan(arr[1, 0])


def test_temporal_composite_vs_numpy_with_ties(spark):
    # calibrated stack (the MK gains/offsets) so the winning source
    # VARIES and real ties exist; engine vs an independent numpy argmax
    from __spark_entry__ import MK_GAINS, MK_OFFSETS
    tiles = corpus_mod.synth_px_tiles(spark, tile_size=64)
    got = {(r.col, r.row, r.band): r
           for r in TE.temporal_composite(
               TE.calibrate_stack(tiles, MK_GAINS, MK_OFFSETS))
           .collect()}
    assert len(got) == 6 * 4 * 2
    r_idx = np.arange(64).reshape(-1, 1)
    c_idx = np.arange(64).reshape(1, -1)
    src_seen, tie_seen = set(), 0
    for (col, row, band), g in got.items():
        best = np.full((64, 64), -np.inf)
        bsrc = np.full((64, 64), -1, dtype=np.int64)
        planes = {}
        for s in range(3):
            if not (18 + s <= col <= 21 + s):
                continue
            v = (_fixture_value(s, col, row, band, r_idx, c_idx)
                 .astype(np.float64) * MK_GAINS[s] + MK_OFFSETS[s])
            h0 = (s * 11) % 48
            valid = np.ones((64, 64), dtype=bool)
            valid[h0:h0 + 16, h0:h0 + 16] = False
            planes[s] = (v, valid)
            take = valid & (v > best)
            best = np.where(take, v, best)
            bsrc = np.where(take, s, bsrc)
        seen = bsrc >= 0
        assert g.n_px == int(seen.sum())
        assert g.q_best_sum == int(
            np.floor(best * 4.0 + 0.5)[seen].astype(np.int64).sum())
        assert g.src_sum == int(bsrc[seen].sum())
        src_seen |= set(np.unique(bsrc[seen]).tolist())
        for s, (v, valid) in planes.items():
            for s2, (v2, valid2) in planes.items():
                if s2 > s:
                    tie_seen += int(
                        (valid & valid2 & (v == v2)).sum())
    assert src_seen == {0, 1, 2}        # winner varies across sources
    assert tie_seen > 0                 # the tie rule is exercised


def test_temporal_composite_tie_earliest():
    # two scenes, equal value at (0,0): scene 0 must win; strictly
    # larger later value at (1,1): scene 1 wins; nodata-only (0,1)
    a0 = np.array([[5.0, -9999.0], [1.0, 2.0]])
    a1 = np.array([[5.0, -9999.0], [9.0, 1.0]])
    got = _replay(TE.k_composite, COMPOSITE_DDL, [a0, a1], [-9999.0] * 2,
                  q_best=4.0)
    assert got.n_px == 3
    assert got.q_best_sum == int(4 * (5.0 + 9.0 + 2.0))
    assert got.src_sum == 0 + 1 + 0


def test_temporal_median_vs_numpy(spark):
    from __spark_entry__ import MK_GAINS, MK_OFFSETS
    tiles = corpus_mod.synth_px_tiles(spark, tile_size=64)
    got = {(r.col, r.row, r.band): r
           for r in TE.temporal_median(
               TE.calibrate_stack(tiles, MK_GAINS, MK_OFFSETS))
           .collect()}
    assert len(got) == 6 * 4 * 2
    r_idx = np.arange(64).reshape(-1, 1)
    c_idx = np.arange(64).reshape(1, -1)
    counts_seen = set()
    for (col, row, band), g in got.items():
        planes = []
        for s in range(3):
            if not (18 + s <= col <= 21 + s):
                continue
            v = (_fixture_value(s, col, row, band, r_idx, c_idx)
                 .astype(np.float64) * MK_GAINS[s] + MK_OFFSETS[s])
            h0 = (s * 11) % 48
            v = v.copy()
            v[h0:h0 + 16, h0:h0 + 16] = np.nan
            planes.append(v)
        stack = np.stack(planes)
        m = (~np.isnan(stack)).sum(axis=0)
        counts_seen |= set(np.unique(m).tolist())
        srt = np.sort(stack, axis=0)
        lo = np.clip((m - 1) // 2, 0, len(planes) - 1)
        hi = np.clip(m // 2, 0, len(planes) - 1)
        a = np.take_along_axis(srt, lo[None], axis=0)[0]
        b = np.take_along_axis(srt, hi[None], axis=0)[0]
        med = np.where(m >= 1, (a + b) / 2.0, 0.0)
        seen = m >= 1
        assert g.n_px == int(seen.sum())
        assert g.q_med_sum == int(
            np.floor(med * 4.0 + 0.5)[seen].astype(np.int64).sum())
    assert {1, 2, 3} <= counts_seen  # odd AND even branches exercised


def test_local_binary_ops_and_nodata(spark):
    from geotrellis_contrib_spark.operators import local as LO
    from geotrellis_contrib_spark.operators.pixels import unpack
    a0 = np.array([[2.0, -9999.0], [4.0, 8.0]])
    b0 = np.array([[3.0, 5.0], [-9999.0, 0.5]])
    rows_a = [("a", 0, 3, 1, 1, 0, "float64", -9999.0, pack(a0))]
    rows_b = [("b", 0, 3, 1, 1, 0, "float64", -9999.0, pack(b0))]
    sch = ("source_id string, source_idx int, zoom int, col bigint, "
           "row bigint, band int, dtype string, nodata double, px binary")
    a = spark.createDataFrame(rows_a, sch)
    b = spark.createDataFrame(rows_b, sch)
    out = LO.local_binary(a, b, op="multiply", tile_size=2).collect()[0]
    arr = unpack(out.px, out["dtype"], 2)
    assert arr[0, 0] == 6.0 and arr[1, 1] == 4.0
    assert arr[0, 1] == -9999.0 and arr[1, 0] == -9999.0  # either-side
    assert out.source_id == "a"
    sub = LO.local_binary(a, b, op="subtract", tile_size=2).collect()[0]
    assert unpack(sub.px, sub.dtype, 2)[0, 0] == -1.0
    import pytest as _pt
    with _pt.raises(ValueError, match="unknown op"):
        LO.local_binary(a, b, op="xor")


def test_tile_checksums(spark):
    from geotrellis_contrib_spark.operators import local as LO
    a0 = np.array([[2.25, -9999.0], [4.0, np.nan]])
    sch = ("source_id string, source_idx int, zoom int, col bigint, "
           "row bigint, band int, dtype string, nodata double, px binary")
    df = spark.createDataFrame(
        [("a", 0, 3, 1, 1, 0, "float64", -9999.0, pack(a0))], sch)
    r = LO.tile_checksums(df, q=4.0, tile_size=2).collect()[0]
    assert (r.n_valid, r.q_sum) == (2, int(2.25 * 4 + 4.0 * 4))
    # the local_binary gate's chain: a join, then two narrow kernels
    jobs, rows = count_jobs(spark, LO.tile_checksums(
        LO.local_binary(df, df, op="multiply", tile_size=2), q=4.0,
        tile_size=2).collect)
    assert jobs == JOBS_LOCAL_BINARY_CHECKSUMS
    assert [(r.n_valid, r.q_sum) for r in rows] == [(2, 20 + 64)]  # 5.0625, 16


def test_temporal_fill_general_four_planes(spark):
    import numpy as np
    from geotrellis_contrib_spark.operators.pixels import pack
    from geotrellis_contrib_spark.operators.temporal import temporal_fill
    t = 4
    # 4 planes t=0..3 on one tile; pixel (0,0): valid at t0=8, t3=20,
    # gaps at t1/t2 -> thirds interpolation 12.0 and 16.0;
    # pixel (1,1): valid t1=5 only -> edge gaps at t0/t2/t3 unfilled
    # (t2,t3 have no later valid neighbor; t0 no earlier)
    planes = np.full((4, t, t), -9999.0)
    planes[0, 0, 0], planes[3, 0, 0] = 8.0, 20.0
    planes[1, 1, 1] = 5.0
    rows = [(f"s", s, 6, 20, 24, 0, "float64", -9999.0, pack(planes[s]))
            for s in range(4)]
    df = spark.createDataFrame(
        rows, "source_id string, source_idx int, zoom int, col bigint, "
              "row bigint, band int, dtype string, nodata double, "
              "px binary")
    r = temporal_fill(df, tile_size=t).collect()[0]
    # gaps: every NaN slot = 4*16 - 3 valid = 61
    assert r.n_gaps == 61
    # filled: exactly the two middle gaps of pixel (0,0)
    assert r.n_filled == 2
    exp = int(np.floor((8.0 + 12.0 * (1.0 / 3.0)) * 8 + 0.5)) \
        + int(np.floor((8.0 + 12.0 * (2.0 / 3.0)) * 8 + 0.5))
    assert r.q_fill_sum == exp


def test_temporal_fill_absent_plane_not_a_gap():
    t = 4
    # only planes t=0 and t=2 exist (t=1 never covered the tile):
    # fully valid planes -> zero gaps, zero filled
    rows = _stack_rows([np.full((t, t), 1.0), np.full((t, t), 3.0)],
                       [-9999.0] * 2)
    rows[1]["source_idx"] = 2
    r = replay_stacks(rows, KEY, partial(TE.k_fill, q_fill=8.0),
                      FILL_DDL).iloc[0]
    assert (r.n_gaps, r.n_filled, r.q_fill_sum) == (0, 0, 0)


# NoData is exact: -9999.05 is valid under nodata -9999.0, 1e-9 under
# nodata 0.0; pixel (0, 1) is NoData in both scenes
ND_PLANES = [np.array([[-9999.05, -9999.0], [1.0, 2.0]]),
             np.array([[1e-9, 0.0], [3.0, 4.0]])]
ND_DECL = [-9999.0, 0.0]


def _q4(*vals):
    return int(sum(np.floor(v * 4.0 + 0.5) for v in vals))


@pytest.mark.parametrize("kernel, ddl, params, want", [
    (TE.k_stats, STATS_DDL, {"q_mean": 4.0, "q_range": 4.0},
     {"n_px": 3, "cnt_sum": 6,
      "q_mean_sum": _q4((-9999.05 + 1e-9) / 2, 2.0, 3.0),
      "q_range_sum": _q4(1e-9 + 9999.05, 2.0, 2.0)}),
    (TE.k_composite, COMPOSITE_DDL, {"q_best": 4.0},
     {"n_px": 3, "q_best_sum": _q4(1e-9, 3.0, 4.0), "src_sum": 3}),
    (TE.k_mann_kendall, MK_DDL, {},
     {"n_px_pairs": 3, "p_sum": 3, "s_sum": 3}),
    (TE.k_theil_sen, THEIL_SEN_DDL, {"q_slope": 4.0},
     {"n_px1": 3, "q_ts_sum": _q4(1e-9 + 9999.05, 2.0, 2.0)}),
    (TE.k_median, MEDIAN_DDL, {"q_med": 4.0},
     {"n_px": 3, "q_med_sum": _q4((-9999.05 + 1e-9) / 2, 2.0, 3.0)}),
    (TE.k_trend, TREND_DDL, {"q_slope": 4.0},
     {"n_px2": 3, "q_slope_sum": _q4(1e-9 + 9999.05, 2.0, 2.0)}),
    (TE.k_fill, FILL_DDL, {"q_fill": 8.0},
     {"n_gaps": 2, "n_filled": 0, "q_fill_sum": 0}),
], ids=["stats", "composite", "mann_kendall", "theil_sen", "median", "trend",
        "fill"])
def test_stack_kernel_nodata_is_exact(kernel, ddl, params, want):
    got = _replay(kernel, ddl, ND_PLANES, ND_DECL, **params)
    assert {k: int(got[k]) for k in want} == want


def test_temporal_mann_kendall_integer_tiles(spark):
    """Integer tiles are differenced in float64: a uint8 drop from 5 to 3
    is a falling pair (S = -1), not a wrapped-around rise."""
    rows = [("s", s, 3, 1, 1, 0, "uint8", 255.0,
             pack(np.full((2, 2), v, dtype=np.uint8)))
            for s, v in enumerate([5, 3])]
    df = spark.createDataFrame(
        rows, "source_id string, source_idx int, zoom int, col bigint, "
              "row bigint, band int, dtype string, nodata double, "
              "px binary")
    got = TE.temporal_mann_kendall(df, tile_size=2).collect()[0]
    assert (got.n_px_pairs, got.p_sum, got.s_sum) == (4, 4, -4)


def test_calibrate_stack_integer_tile_is_float64():
    """A calibrated integer tile is tagged with the dtype of its bytes."""
    a = np.array([[1, 255], [3, 4]], dtype=np.uint8)
    out = replay_tiles(_stack_rows([a], [255.0]),
                       partial(TE.k_calibrate, gains={0: 0.5},
                               offsets={0: 1.0}),
                       "dtype string, px binary").iloc[0]
    from geotrellis_contrib_spark.operators.pixels import unpack
    assert out["dtype"] == "float64"
    np.testing.assert_array_equal(unpack(out.px, out["dtype"], 2),
                                  [[1.5, 255.0], [2.5, 3.0]])
