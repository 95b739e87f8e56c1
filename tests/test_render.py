"""Rendering + histogram family: ramp interpolation goldens, RGBA PNG
round trip, histogram vs numpy, quantile-break invariants, plan quality
(render is shuffle-free; histogram ships only bucket rows).

Reference parity: the GeoTrellis ColorRamp/ColorMap/Png render family and
StreamingHistogram classification breaks fed by RasterSources."""
from functools import partial

import numpy as np

from geotrellis_contrib_spark import corpus
from geotrellis_contrib_spark.operators import render as RD
from tests.conftest import decode_png_rgba, replay_tiles

T = 64


def test_ramp_endpoints_and_midstops():
    # below vmin clamps to the first stop, above vmax to the last,
    # exact stop positions return the stop colors exactly
    arr = np.array([[-100.0, 0.0], [2400.0, 9000.0]])
    r, g, b = RD._ramp_channels(arr, 0.0, 2400.0)
    first, last = RD.TERRAIN_RAMP[0], RD.TERRAIN_RAMP[-1]
    assert (r[0, 0], g[0, 0], b[0, 0]) == first
    assert (r[0, 1], g[0, 1], b[0, 1]) == first
    assert (r[1, 0], g[1, 0], b[1, 0]) == last
    assert (r[1, 1], g[1, 1], b[1, 1]) == last
    # the exact interior stop at 1/7 of the range is stop 1
    arr = np.array([[2400.0 / 7.0]])
    r, g, b = RD._ramp_channels(arr, 0.0, 2400.0)
    assert (r[0, 0], g[0, 0], b[0, 0]) == RD.TERRAIN_RAMP[1]
    # halfway between stops 0 and 1: rounded midpoint per channel
    arr = np.array([[2400.0 / 14.0]])
    r, g, b = RD._ramp_channels(arr, 0.0, 2400.0)
    s0, s1 = RD.TERRAIN_RAMP[0], RD.TERRAIN_RAMP[1]
    want = tuple(int(np.floor(c0 + 0.5 * (c1 - c0) + 0.5))
                 for c0, c1 in zip(s0, s1))
    assert (r[0, 0], g[0, 0], b[0, 0]) == want


def test_png_rgba_roundtrip():
    rng = np.arange(T * T * 4, dtype=np.int64) % 251
    rgba = rng.reshape(T, T, 4).astype(np.uint8)
    out = decode_png_rgba(RD.encode_png_rgba(rgba))
    assert np.array_equal(out, rgba.astype(np.int64))


def test_render_png_tiles_nodata_transparent(spark):
    tiles = corpus.synth_px_tiles(spark, tile_size=T)
    out = RD.render_png_tiles(tiles, vmin=0.0, vmax=2400.0, tile_size=T)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    row = out.filter("source_id = 'scene-1' AND band = 0 AND col = 20 "
                     "AND row = 25").collect()[0]
    rgba = decode_png_rgba(row["png"])
    h0 = (1 * 11) % (T - 16)
    # the nodata hole is fully transparent, everything else opaque
    assert np.all(rgba[h0:h0 + 16, h0:h0 + 16, 3] == 0)
    mask = np.ones((T, T), dtype=bool)
    mask[h0:h0 + 16, h0:h0 + 16] = False
    assert np.all(rgba[..., 3][mask] == 255)


def test_histogram_matches_numpy(spark):
    tiles = corpus.synth_px_tiles(spark, tile_size=T)
    got = {(r["source_id"], r["band"], r["bucket"]): r["cnt"]
           for r in RD.histogram_stats(tiles, 0.0, 2400.0, nbins=256,
                                       tile_size=T).collect()}
    # brute force for scene-2 band 1
    want = np.zeros(256, dtype=np.int64)
    for tc in range(4):
        for tr in range(4):
            col, row = 20 + tc, 24 + tr
            r = np.arange(T).reshape(-1, 1)
            c = np.arange(T).reshape(1, -1)
            v = (2000.0 + 100.0 + col * 7.0 + row * 3.0 + r * 0.5
                 + c * 0.25 + ((r * 31 + c * 17) % 13)).astype(np.float64)
            h0 = (2 * 11) % (T - 16)
            m = np.ones((T, T), dtype=bool)
            m[h0:h0 + 16, h0:h0 + 16] = False
            bk = np.clip(np.floor(v[m] / 2400.0 * 256.0), 0, 255) \
                .astype(np.int64)
            want += np.bincount(bk, minlength=256)
    for bk in np.nonzero(want)[0]:
        assert got[("scene-2", 1, int(bk))] == int(want[bk])
    # totals: every valid pixel counted exactly once
    tot = sum(v for (s, b, _), v in got.items() if s == "scene-2" and b == 1)
    assert tot == int(want.sum()) == 16 * (T * T - 256)


def test_quantile_breaks_invariants(spark):
    tiles = corpus.synth_px_tiles(spark, tile_size=T)
    hist = RD.histogram_stats(tiles, 0.0, 2400.0, nbins=256, tile_size=T)
    rows = RD.quantile_breaks(hist, 0.0, 2400.0, nbins=256, k=4).collect()
    assert len(rows) == 3 * 2 * 3  # sources x bands x quartiles
    by_key = {}
    for r in rows:
        by_key.setdefault((r["source_id"], r["band"]), {})[r["q"]] = r
    hcnt = {(r["source_id"], r["band"], r["bucket"]): r["cnt"]
            for r in hist.collect()}
    for (s, b), qs in by_key.items():
        # monotone breaks, and each break bucket really reaches its target
        assert qs[1]["bucket"] <= qs[2]["bucket"] <= qs[3]["bucket"]
        total = sum(v for (s2, b2, _), v in hcnt.items()
                    if s2 == s and b2 == b)
        for q in (1, 2, 3):
            bk = qs[q]["bucket"]
            cum = sum(v for (s2, b2, k2), v in hcnt.items()
                      if s2 == s and b2 == b and k2 <= bk)
            cum_prev = sum(v for (s2, b2, k2), v in hcnt.items()
                           if s2 == s and b2 == b and k2 < bk)
            target = (q * total + 3) // 4
            assert cum >= target > cum_prev
            assert qs[q]["break_value"] == (bk + 1.0) * 9.375


def test_histogram_equalize_properties(spark):
    """Equalization invariants on the fixture: NoData preserved, outputs
    in [0, out_levels-1], mapping is monotone in the input (order of any
    two valid pixels never inverts), and a perfectly uniform scene maps
    onto the full output range."""
    from geotrellis_contrib_spark.operators.pixels import unpack
    from geotrellis_contrib_spark.operators.render import \
        histogram_equalize

    tiles = corpus.synth_px_tiles(spark, tile_size=64)
    eq = histogram_equalize(tiles, vmin=0.0, vmax=3400.0, nbins=64,
                            tile_size=64)
    orig = {(r.source_idx, r.band, r.col, r.row):
            unpack(r.px, r.dtype, 64) for r in tiles.collect()}
    got = {(r.source_idx, r.band, r.col, r.row):
           unpack(r.px, "float64", 64) for r in eq.collect()}
    assert got.keys() == orig.keys()
    import numpy as np
    for k in orig:
        o, g = orig[k], got[k]
        nod = o == -9999.0
        assert (g[nod] == -9999.0).all()
        assert ((g[~nod] >= 0) & (g[~nod] <= 255)).all()
    # monotonicity within one scene/band across all pixels
    s0 = [(o, g) for k in orig if k[0] == 0 and k[1] == 0
          for o, g in zip(orig[k].ravel(), got[k].ravel())
          if o != -9999.0]
    s0.sort()
    gs = [g for _, g in s0]
    assert all(a <= b for a, b in zip(gs, gs[1:]))
    # uniform scene -> full range
    import pandas as pd  # noqa: F401
    from geotrellis_contrib_spark.operators.pixels import pack
    vals = np.repeat(np.arange(64, dtype=np.float64), 64).reshape(64, 64)
    uni = spark.createDataFrame(
        [("u", 0, 6, 0, 0, 0, "float64", -1.0, pack(vals * 50.0))],
        "source_id string, source_idx int, zoom int, col bigint, "
        "row bigint, band int, dtype string, nodata double, px binary")
    geq = histogram_equalize(uni, vmin=0.0, vmax=3200.0, nbins=64,
                             tile_size=64)
    arr = unpack(geq.collect()[0].px, "float64", 64)
    assert arr.min() == 0.0 and arr.max() == 255.0


def test_sigmoidal_contrast_brute_force(spark):
    """Engine vs untiled numpy brute force on the fixture: identical
    values everywhere, NoData preserved, range [0,255], endpoints exact
    (g(0)=0, g(1)=1 by construction), and every fixture pixel keeps a
    >=1e-4 margin to a rounding boundary (so sub-ulp libm differences
    between numpy/JVM/DuckDB can never flip a bucket — the oracle gate's
    exactness argument)."""
    from geotrellis_contrib_spark.operators.pixels import unpack
    from geotrellis_contrib_spark.operators.render import \
        sigmoidal_contrast

    a, b, vmin, vmax = 0.5, 10.0, 0.0, 3400.0
    tiles = corpus.synth_px_tiles(spark, tile_size=64)
    out = sigmoidal_contrast(tiles, vmin=vmin, vmax=vmax,
                             alpha=a, beta=b, tile_size=64)
    orig = {(r.source_idx, r.band, r.col, r.row):
            unpack(r.px, r.dtype, 64) for r in tiles.collect()}
    got = {(r.source_idx, r.band, r.col, r.row):
           unpack(r.px, "float64", 64) for r in out.collect()}
    assert got.keys() == orig.keys()
    anchor = 1.0 / (1.0 + np.exp(b * a))
    denom = 1.0 / (1.0 + np.exp(b * (a - 1.0))) - anchor
    for k in orig:
        o, g = orig[k], got[k]
        nod = o == -9999.0
        assert (g[nod] == -9999.0).all()
        u = np.clip((o[~nod] - vmin) / (vmax - vmin), 0.0, 1.0)
        gg = (1.0 / (1.0 + np.exp(b * (a - u))) - anchor) / denom
        x = gg * 255.0 + 0.5
        assert np.abs(x - np.round(x)).min() >= 1e-4  # boundary margin
        assert (g[~nod] == np.floor(x)).all()
        assert ((g[~nod] >= 0) & (g[~nod] <= 255)).all()
    # monotone in the input within one scene/band
    s0 = sorted((o, g) for k in orig if k[0] == 0 and k[1] == 0
                for o, g in zip(orig[k].ravel(), got[k].ravel())
                if o != -9999.0)
    gs = [g for _, g in s0]
    assert all(x <= y for x, y in zip(gs, gs[1:]))


def test_sigmoidal_contrast_endpoints_and_guard():
    """sigmoidal_contrast's kernel: vmin maps to 0 and vmax to 255
    exactly; out-of-range inputs clamp; a degenerate (alpha, beta) pair
    fails loud before the operator builds a plan."""
    import pytest

    from geotrellis_contrib_spark.operators.pixels import unpack
    from geotrellis_contrib_spark.operators.render import (
        k_sigmoidal, sigmoidal_contrast)

    arr = np.full((64, 64), 500.0)
    arr[0, 0] = 0.0       # == vmin -> u=0 -> g=0 -> 0
    arr[0, 1] = 1000.0    # == vmax -> u=1 -> g=1 -> 255
    arr[0, 2] = -50.0     # clamps to vmin
    arr[0, 3] = 2000.0    # clamps to vmax
    out = replay_tiles([{"nodata": -1.0, "px": arr}],
                       partial(k_sigmoidal, vmin=0.0, vmax=1000.0, alpha=0.5,
                               beta=10.0, levels=256), "dtype string, px binary")
    g = unpack(out.px[0], out["dtype"][0], 64)
    assert g[0, 0] == 0.0 and g[0, 1] == 255.0
    assert g[0, 2] == 0.0 and g[0, 3] == 255.0
    with pytest.raises(ValueError, match="degenerate"):
        sigmoidal_contrast(None, vmin=0.0, vmax=1000.0, alpha=0.5,
                           beta=0.0, tile_size=64)


def test_percent_clip_vs_numpy(spark):
    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark.operators import render as RD
    tiles = corpus_mod.synth_px_tiles(spark, tile_size=64)
    got = {(r.source_id, r.band, r.col, r.row):
           (r.n_valid, r.q_stretch_sum)
           for r in RD.percent_clip_stats(tiles).collect()}
    assert len(got) == 3 * 2 * 16
    import numpy as np
    r_idx = np.arange(64).reshape(-1, 1)
    c_idx = np.arange(64).reshape(1, -1)
    for s in (0, 2):
        for band in (0, 1):
            vals, keys = [], []
            for tc in range(4):
                for tr in range(4):
                    col, row = 18 + s + tc, 24 + tr
                    v = (s * 1000.0 + band * 100.0 + col * 7.0
                         + row * 3.0 + r_idx * 0.5 + c_idx * 0.25
                         + (r_idx * 31 + c_idx * 17) % 13)
                    h0 = (s * 11) % 48
                    m = np.ones((64, 64), dtype=bool)
                    m[h0:h0 + 16, h0:h0 + 16] = False
                    vals.append(v[m])
                    keys.append((col, row, v, m))
            allv = np.sort(np.concatenate(vals))
            n = len(allv)
            lo = allv[(2 * n + 99) // 100 - 1]
            hi = allv[(98 * n + 99) // 100 - 1]
            # clipped tails exist on both ends
            assert (allv < lo).any() or (allv == lo).sum() > 1
            assert (allv > hi).any()
            for col, row, v, m in keys:
                vv = v[m]
                st = np.where(vv <= lo, 0.0,
                              np.where(vv >= hi, 1.0,
                                       (vv - lo) / (hi - lo)))
                want = (int(m.sum()),
                        int(np.floor(st * 1048576.0 + 0.5)
                            .astype(np.int64).sum()))
                assert got[(f"scene-{s}", band, col, row)] == want


def test_percent_clip_degenerate_fail_loud(spark):
    import numpy as np
    import pytest as _pt
    from geotrellis_contrib_spark.operators import render as RD
    from geotrellis_contrib_spark.operators.pixels import pack
    z = np.full((4, 4), 7.0)
    df = spark.createDataFrame(
        [("s", 0, 3, 1, 1, 0, "float64", -9999.0, pack(z))],
        "source_id string, source_idx int, zoom int, col bigint, "
        "row bigint, band int, dtype string, nodata double, px binary")
    with _pt.raises(ValueError, match="degenerate"):
        RD.percent_clip_stats(df, tile_size=4)
