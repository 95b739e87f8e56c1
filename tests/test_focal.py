"""Focal (neighborhood) map algebra: halo exchange across tile
boundaries + numpy stencil, engine vs a brute-force single-array oracle.

The brute-force oracle assembles the WHOLE mosaic of one source into one
numpy array (no tiling) and runs the same neighborhood definition —
any halo-exchange bug (wrong strip, wrong placement, off-by-one) shows up
as a mismatch on the tile-boundary pixels.

Reference parity: the reference's fixtures feed GeoTrellis focal ops
(vlm/src/test/resources aspect-tiled.tif via RasterSourceSpec); the
contrib tier owns the tiling/halo plumbing this module implements.
"""
import numpy as np
import pytest

from geotrellis_contrib_spark import corpus
from geotrellis_contrib_spark.operators import focal as FO

T = 64
NOD = -9999.0
Q = 1048576.0  # 2^20, the checksum quantization of the focal operators


def _mosaic(s: int, band: int) -> np.ndarray:
    """One source's 4x4-tile mosaic as a single (256, 256) array
    (cols 18+s..21+s, rows 24..27), NaN outside nodata holes."""
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


def _brute(big: np.ndarray, op: str, r: int = 1):
    """Brute-force focal over the padded mosaic; returns (focal, count)."""
    p = np.pad(big, r, constant_values=np.nan)
    n = big.shape[0]
    acc = np.zeros((n, n))
    cnt = np.zeros((n, n), dtype=np.int64)
    ext = None
    for dr in range(-r, r + 1):
        for dc in range(-r, r + 1):
            w = p[r + dr:r + dr + n, r + dc:r + dc + n]
            v = ~np.isnan(w)
            if op in ("mean", "sum"):
                acc = acc + np.where(v, w, 0.0)
            else:
                cur = np.where(v, w, np.nan)
                ext = cur if ext is None else (
                    np.fmax(ext, cur) if op == "max" else np.fmin(ext, cur))
            cnt = cnt + v
    if op == "mean":
        focal = np.where(cnt > 0, acc / np.maximum(cnt, 1), np.nan)
    elif op == "sum":
        focal = np.where(cnt > 0, acc, np.nan)
    else:
        focal = ext
    return focal, cnt


@pytest.mark.parametrize("op", ["mean", "max", "sum"])
def test_focal_matches_untiled_bruteforce(spark, op):
    tiles = corpus.synth_px_tiles(spark, tile_size=T)
    got = {(r["source_id"], r["band"], r["col"], r["row"]):
           (r["focal_sum"], r["focal_count"])
           for r in FO.focal_stats(tiles, op=op, radius=1).collect()}
    assert len(got) == 3 * 2 * 16
    for s in range(3):
        for band in range(2):
            focal, cnt = _brute(_mosaic(s, band), op)
            for tc in range(4):
                for tr in range(4):
                    blk = focal[tr * T:(tr + 1) * T, tc * T:(tc + 1) * T]
                    m = ~np.isnan(blk)
                    want_sum = int(np.floor(blk[m] * Q + 0.5)
                                   .astype(np.int64).sum())
                    key = (f"scene-{s}", band, 18 + s + tc, 24 + tr)
                    assert got[key] == (want_sum, int(m.sum())), (op, key)


def test_focal_radius2_boundary(spark):
    # radius 2 pulls 2-wide strips across tile boundaries — same
    # brute-force comparison catches wrong strip widths
    tiles = corpus.synth_px_tiles(spark, tile_size=T)
    got = {(r["source_id"], r["band"], r["col"], r["row"]):
           (r["focal_sum"], r["focal_count"])
           for r in FO.focal_stats(tiles, op="mean", radius=2).collect()}
    focal, _ = _brute(_mosaic(1, 0), "mean", r=2)
    blk = focal[0:T, T:2 * T]  # tile (col 20, row 24) of scene-1
    m = ~np.isnan(blk)
    want = int(np.floor(blk[m] * Q + 0.5).astype(np.int64).sum())
    assert got[("scene-1", 0, 20, 24)] == (want, int(m.sum()))


# the ten per-tile checksum operators, each built as fn(tiles, pred, t)
# with ``pred`` the euclidean operators' mask predicate
FOCAL_OPS = {
    "focal_stats": lambda tiles, pred, t: FO.focal_stats(
        tiles, op="mean", radius=1, tile_size=t),
    "tri_stats": lambda tiles, pred, t: FO.tri_stats(tiles, tile_size=t),
    "terrain_stats": lambda tiles, pred, t: FO.terrain_stats(
        tiles, tile_size=t),
    "curvature_stats": lambda tiles, pred, t: FO.curvature_stats(
        tiles, tile_size=t),
    "hillshade_stats": lambda tiles, pred, t: FO.hillshade_stats(
        tiles, tile_size=t),
    "convolve_stats": lambda tiles, pred, t: FO.convolve_stats(
        tiles, tile_size=t),
    "euclidean_distance": lambda tiles, pred, t: FO.euclidean_distance(
        tiles, pred, radius=2, tile_size=t),
    "flow_direction": lambda tiles, pred, t: FO.flow_direction(
        tiles, tile_size=t),
    "euclidean_allocation": lambda tiles, pred, t: FO.euclidean_allocation(
        tiles, pred, radius=2, tile_size=t),
    "tpi_roughness": lambda tiles, pred, t: FO.tpi_roughness(
        tiles, tile_size=t),
}


@pytest.mark.parametrize("op", list(FOCAL_OPS))
def test_focal_single_shuffle_plan(spark, op):
    # scale posture: exactly ONE exchange (the groupBy on tile keys) —
    # strip extraction must not add a shuffle
    tiles = corpus.synth_px_tiles(spark, tile_size=T)
    plan = FOCAL_OPS[op](tiles, lambda v, gr, gc: gr % 2 == 0, T) \
        ._jdf.queryExecution().executedPlan().toString()
    n_exchange = plan.count("Exchange")
    assert n_exchange - plan.count("ReusedExchange") <= 1, plan


def test_focal_median_matches_untiled_bruteforce(spark):
    # rank-based median over the VARIABLE-count valid window (holes and
    # mosaic edges shrink it) — brute force recomputes the same two
    # middle order statistics per pixel on the untiled mosaic
    tiles = corpus.synth_px_tiles(spark, tile_size=T)
    got = {(r["source_id"], r["band"], r["col"], r["row"]):
           (r["focal_sum"], r["focal_count"])
           for r in FO.focal_stats(tiles, op="median", radius=1).collect()}
    assert len(got) == 3 * 2 * 16
    for s in (0, 1):
        big = _mosaic(s, 1)
        p = np.pad(big, 1, constant_values=np.nan)
        n = big.shape[0]
        wins = np.stack([p[1 + dr:1 + dr + n, 1 + dc:1 + dc + n]
                         for dr in (-1, 0, 1) for dc in (-1, 0, 1)], axis=-1)
        cnt = (~np.isnan(wins)).sum(axis=-1)
        srt = np.sort(wins, axis=-1)
        lo = np.take_along_axis(
            srt, np.maximum((cnt - 1) // 2, 0)[..., None], axis=-1)[..., 0]
        hi = np.take_along_axis(srt, (cnt // 2)[..., None], axis=-1)[..., 0]
        with np.errstate(invalid="ignore"):
            med = np.where(cnt > 0, (lo + hi) / 2.0, np.nan)
        for tc in range(4):
            for tr in range(4):
                blk = med[tr * T:(tr + 1) * T, tc * T:(tc + 1) * T]
                m = ~np.isnan(blk)
                want = (int(np.floor(blk[m] * Q + 0.5)
                            .astype(np.int64).sum()), int(m.sum()))
                assert got[(f"scene-{s}", 1, 18 + s + tc, 24 + tr)] == want


def test_focal_fail_loud():
    with pytest.raises(ValueError, match="focal op"):
        FO.focal_stats(None, op="variance")
    with pytest.raises(ValueError, match="radius"):
        FO.focal_stats(None, op="mean", radius=0)
    with pytest.raises(ValueError, match="radius"):
        FO.focal_stats(None, op="mean", radius=64)


def test_terrain_matches_untiled_bruteforce(spark):
    # Horn slope/aspect vs the same kernel on the UNTILED mosaic — the
    # all-9-valid rule means every tile-boundary pixel depends on the halo
    tiles = corpus.synth_px_tiles(spark, tile_size=T)
    got = {(r["source_id"], r["band"], r["col"], r["row"]):
           (r["slope_sum"], r["aspect_sum"], r["terrain_count"])
           for r in FO.terrain_stats(tiles, dx=30.0, dy=30.0).collect()}
    assert len(got) == 3 * 2 * 16
    for s in (0, 2):
        big = _mosaic(s, 1)
        p = np.pad(big, 1, constant_values=np.nan)
        n = big.shape[0]
        a = p[0:n, 0:n]; b = p[0:n, 1:n + 1]; c = p[0:n, 2:n + 2]
        d = p[1:n + 1, 0:n]; e = p[1:n + 1, 1:n + 1]; f = p[1:n + 1, 2:n + 2]
        g = p[2:n + 2, 0:n]; h = p[2:n + 2, 1:n + 1]; i = p[2:n + 2, 2:n + 2]
        ok = ~np.isnan(a + b + c + d + e + f + g + h + i)
        with np.errstate(invalid="ignore"):
            px_ = ((c + 2.0 * f + i) - (a + 2.0 * d + g)) / (8.0 * 30.0)
            qy = ((g + 2.0 * h + i) - (a + 2.0 * b + c)) / (8.0 * 30.0)
            slope = np.degrees(np.arctan(np.sqrt(px_ * px_ + qy * qy)))
            aspect = (np.degrees(np.arctan2(qy, -px_)) + 360.0) % 360.0
            aspect = np.where((px_ == 0.0) & (qy == 0.0), 0.0, aspect)
        for tc in range(4):
            for tr in range(4):
                sl = slope[tr * T:(tr + 1) * T, tc * T:(tc + 1) * T]
                asp = aspect[tr * T:(tr + 1) * T, tc * T:(tc + 1) * T]
                m = ok[tr * T:(tr + 1) * T, tc * T:(tc + 1) * T]
                want = (int(np.floor(sl[m] * Q + 0.5).astype(np.int64).sum()),
                        int(np.floor(asp[m] * Q + 0.5).astype(np.int64).sum()),
                        int(m.sum()))
                assert got[(f"scene-{s}", 1, 18 + s + tc, 24 + tr)] == want
    # slope is nontrivial (the fixture gradient bites) and aspect spans
    # quadrants (the mod-13 texture flips signs)
    sums = np.array([v[0] for v in got.values()])
    assert np.all(sums > 0)


def test_tri_tpi_roughness_matches_untiled_bruteforce(spark):
    # GDALDEM tri/tpi/roughness vs the same kernels on the UNTILED mosaic
    tiles = corpus.synth_px_tiles(spark, tile_size=T)
    got = {(r["source_id"], r["band"], r["col"], r["row"]):
           (r["tri_sum"], r["tpi_sum"], r["rough_sum"], r["tri_count"])
           for r in FO.tri_stats(tiles).collect()}
    assert len(got) == 3 * 2 * 16
    for s in (0, 2):
        big = _mosaic(s, 1)
        p = np.pad(big, 1, constant_values=np.nan)
        n = big.shape[0]
        a = p[0:n, 0:n]; b = p[0:n, 1:n + 1]; c = p[0:n, 2:n + 2]
        d = p[1:n + 1, 0:n]; e = p[1:n + 1, 1:n + 1]; f = p[1:n + 1, 2:n + 2]
        g = p[2:n + 2, 0:n]; h = p[2:n + 2, 1:n + 1]; i = p[2:n + 2, 2:n + 2]
        ok = ~np.isnan(a + b + c + d + e + f + g + h + i)
        with np.errstate(invalid="ignore"):
            tri = (np.abs(e - a) + np.abs(e - b) + np.abs(e - c)
                   + np.abs(e - d) + np.abs(e - f) + np.abs(e - g)
                   + np.abs(e - h) + np.abs(e - i)) / 8.0
            tpi = e - (a + b + c + d + f + g + h + i) / 8.0
            rough = (np.fmax.reduce([a, b, c, d, e, f, g, h, i])
                     - np.fmin.reduce([a, b, c, d, e, f, g, h, i]))
        for tc in range(4):
            for tr in range(4):
                m = ok[tr * T:(tr + 1) * T, tc * T:(tc + 1) * T]
                want = tuple(
                    int(np.floor(x[tr * T:(tr + 1) * T, tc * T:(tc + 1) * T][m]
                                 * Q + 0.5).astype(np.int64).sum())
                    for x in (tri, tpi, rough)) + (int(m.sum()),)
                assert got[(f"scene-{s}", 1, 18 + s + tc, 24 + tr)] == want
    # the kernels must bite: TRI and roughness strictly positive on this
    # fixture (the mod-13 texture guarantees local relief), TPI nonzero
    # somewhere (it cancels on the pure linear gradient, not on the texture)
    assert all(v[0] > 0 and v[2] > 0 for v in got.values())
    assert any(v[1] != 0 for v in got.values())


def test_hillshade_matches_untiled_bruteforce(spark):
    tiles = corpus.synth_px_tiles(spark, tile_size=T)
    got = {(r["source_id"], r["band"], r["col"], r["row"]):
           (r["shade_sum"], r["shade_count"])
           for r in FO.hillshade_stats(tiles, azimuth=315.0, altitude=45.0,
                                       dx=30.0, dy=30.0).collect()}
    assert len(got) == 3 * 2 * 16
    big = _mosaic(1, 0)
    p = np.pad(big, 1, constant_values=np.nan)
    n = big.shape[0]
    a = p[0:n, 0:n]; b = p[0:n, 1:n + 1]; c = p[0:n, 2:n + 2]
    d = p[1:n + 1, 0:n]; e = p[1:n + 1, 1:n + 1]; f = p[1:n + 1, 2:n + 2]
    g = p[2:n + 2, 0:n]; h = p[2:n + 2, 1:n + 1]; i = p[2:n + 2, 2:n + 2]
    ok = ~np.isnan(a + b + c + d + e + f + g + h + i)
    zen = np.radians(np.float64(45.0))
    az = np.radians(np.float64(315.0))
    with np.errstate(invalid="ignore"):
        px_ = ((c + 2.0 * f + i) - (a + 2.0 * d + g)) / (8.0 * 30.0)
        qy = ((g + 2.0 * h + i) - (a + 2.0 * b + c)) / (8.0 * 30.0)
        slope = np.arctan(np.sqrt(px_ * px_ + qy * qy))
        aspect = np.arctan2(qy, -px_)
        sh = 255.0 * np.maximum(0.0, np.cos(zen) * np.cos(slope)
                                + np.sin(zen) * np.sin(slope)
                                * np.cos(az - aspect))
    for tc in range(4):
        for tr in range(4):
            blk = sh[tr * T:(tr + 1) * T, tc * T:(tc + 1) * T]
            m = ok[tr * T:(tr + 1) * T, tc * T:(tc + 1) * T]
            want = (int(np.floor(blk[m] * Q + 0.5).astype(np.int64).sum()),
                    int(m.sum()))
            assert got[("scene-1", 0, 19 + tc, 24 + tr)] == want
    # the fixture slopes face a consistent direction — shading must vary
    sums = sorted(v[0] for v in got.values())
    assert sums[0] < sums[-1]


def test_focal_stddev_matches_untiled_bruteforce(spark):
    # population stddev over the variable-count valid window: brute force
    # recomputes sum + sum-of-squares (exact on the quarter-multiple
    # fixture) and the identical m/m2/var/sqrt chain
    tiles = corpus.synth_px_tiles(spark, tile_size=T)
    got = {(r["source_id"], r["band"], r["col"], r["row"]):
           (r["focal_sum"], r["focal_count"])
           for r in FO.focal_stats(tiles, op="stddev", radius=1).collect()}
    assert len(got) == 3 * 2 * 16
    for s in (0, 2):
        big = _mosaic(s, 0)
        p = np.pad(big, 1, constant_values=np.nan)
        n = big.shape[0]
        acc = np.zeros((n, n))
        acc2 = np.zeros((n, n))
        cnt = np.zeros((n, n), dtype=np.int64)
        for dr in (-1, 0, 1):
            for dc in (-1, 0, 1):
                w = p[1 + dr:1 + dr + n, 1 + dc:1 + dc + n]
                v = ~np.isnan(w)
                acc = acc + np.where(v, w, 0.0)
                acc2 = acc2 + np.where(v, w * w, 0.0)
                cnt = cnt + v
        nn = np.maximum(cnt, 1).astype(np.float64)
        m = acc / nn
        var = np.maximum(acc2 / nn - m * m, 0.0)
        std = np.where(cnt > 0, np.sqrt(var), np.nan)
        for tc in range(4):
            for tr in range(4):
                blk = std[tr * T:(tr + 1) * T, tc * T:(tc + 1) * T]
                msk = ~np.isnan(blk)
                want = (int(np.floor(blk[msk] * Q + 0.5)
                            .astype(np.int64).sum()), int(msk.sum()))
                assert got[(f"scene-{s}", 0, 18 + s + tc, 24 + tr)] == want


def test_focal_mode_matches_untiled_bruteforce(spark):
    # majority over reclassified classes, smallest class on ties — brute
    # force runs an explicit per-pixel Counter with the same rule
    tiles = corpus.synth_px_tiles(spark, tile_size=T)
    got = {(r["source_id"], r["band"], r["col"], r["row"]):
           (r["focal_sum"], r["focal_count"])
           for r in FO.focal_stats(tiles, op="mode", radius=1,
                                   classify_div=500.0).collect()}
    assert len(got) == 3 * 2 * 16
    s, band = 1, 1
    big = np.floor(_mosaic(s, band) / 500.0)
    p = np.pad(big, 1, constant_values=np.nan)
    n = big.shape[0]
    mode = np.full((n, n), np.nan)
    for rr in range(n):
        for cc in range(n):
            vals = p[rr:rr + 3, cc:cc + 3].ravel()
            vals = vals[~np.isnan(vals)]
            if len(vals) == 0:
                continue
            uniq, counts = np.unique(vals, return_counts=True)
            mode[rr, cc] = uniq[np.argmax(counts)]  # unique is sorted —
            # argmax takes the FIRST max → smallest class on ties
    for tc in range(4):
        for tr in range(4):
            blk = mode[tr * T:(tr + 1) * T, tc * T:(tc + 1) * T]
            msk = ~np.isnan(blk)
            want = (int(np.floor(blk[msk] * Q + 0.5)
                        .astype(np.int64).sum()), int(msk.sum()))
            assert got[(f"scene-{s}", band, 18 + s + tc, 24 + tr)] == want


def test_focal_conv_matches_untiled_bruteforce(spark):
    # NoData-renormalizing binomial convolution — brute force accumulates
    # w*v and w over valid cells and divides once
    tiles = corpus.synth_px_tiles(spark, tile_size=T)
    got = {(r["source_id"], r["band"], r["col"], r["row"]):
           (r["conv_sum"], r["conv_count"])
           for r in FO.convolve_stats(tiles).collect()}
    assert len(got) == 3 * 2 * 16
    kern = np.array([[1.0, 2.0, 1.0], [2.0, 4.0, 2.0], [1.0, 2.0, 1.0]])
    for s in (0, 1):
        big = _mosaic(s, 0)
        p = np.pad(big, 1, constant_values=np.nan)
        n = big.shape[0]
        acc = np.zeros((n, n))
        wacc = np.zeros((n, n))
        cnt = np.zeros((n, n), dtype=np.int64)
        for dr in (-1, 0, 1):
            for dc in (-1, 0, 1):
                w = kern[dr + 1, dc + 1]
                win = p[1 + dr:1 + dr + n, 1 + dc:1 + dc + n]
                v = ~np.isnan(win)
                acc = acc + np.where(v, w * win, 0.0)
                wacc = wacc + np.where(v, w, 0.0)
                cnt = cnt + v
        conv = np.where(cnt > 0, acc / np.where(wacc == 0.0, 1.0, wacc),
                        np.nan)
        for tc in range(4):
            for tr in range(4):
                blk = conv[tr * T:(tr + 1) * T, tc * T:(tc + 1) * T]
                msk = ~np.isnan(blk)
                want = (int(np.floor(blk[msk] * Q + 0.5)
                            .astype(np.int64).sum()), int(msk.sum()))
                assert got[(f"scene-{s}", 0, 18 + s + tc, 24 + tr)] == want


def test_focal_conv_rejects_bad_kernel(spark):
    tiles = corpus.synth_px_tiles(spark, tile_size=T)
    with pytest.raises(ValueError):
        FO.convolve_stats(tiles, kernel=((1.0, 2.0), (2.0, 4.0)))
    with pytest.raises(ValueError):
        FO.focal_stats(tiles, op="mean", classify_div=10.0)


def _brute_shaped(big: np.ndarray, r: int, ir: int | None):
    """Brute-force circle/annulus focal mean over the padded mosaic."""
    p = np.pad(big, r, constant_values=np.nan)
    n = big.shape[0]
    acc = np.zeros((n, n))
    cnt = np.zeros((n, n), dtype=np.int64)
    for dr in range(-r, r + 1):
        for dc in range(-r, r + 1):
            d2 = dr * dr + dc * dc
            if d2 > r * r or (ir is not None and d2 < ir * ir):
                continue
            w = p[r + dr:r + dr + n, r + dc:r + dc + n]
            v = ~np.isnan(w)
            acc = acc + np.where(v, w, 0.0)
            cnt = cnt + v
    return np.where(cnt > 0, acc / np.maximum(cnt, 1), np.nan), cnt


@pytest.mark.parametrize("shape,ir", [("circle", None), ("annulus", 2)])
def test_focal_circle_annulus_bruteforce(spark, shape, ir):
    """Circle (13 offsets at r=2) and Annulus (r=3, inner 2: the ring of
    25 offsets with 4 <= d^2 <= 9) vs the untiled brute force — the
    GeoTrellis non-square neighborhood family over the same halo
    machinery."""
    r = 2 if shape == "circle" else 3
    tiles = corpus.synth_px_tiles(spark, tile_size=T)
    got = {(row["source_id"], row["band"], row["col"], row["row"]):
           (row["focal_sum"], row["focal_count"])
           for row in FO.focal_stats(tiles, op="mean", radius=r,
                                     shape=shape,
                                     inner_radius=ir).collect()}
    assert len(got) == 3 * 2 * 16
    for s in range(3):
        for band in range(2):
            focal, _ = _brute_shaped(_mosaic(s, band), r, ir)
            for tc in range(4):
                for tr in range(4):
                    blk = focal[tr * T:(tr + 1) * T, tc * T:(tc + 1) * T]
                    m = ~np.isnan(blk)
                    want = int(np.floor(blk[m] * Q + 0.5)
                               .astype(np.int64).sum())
                    key = (f"scene-{s}", band, 18 + s + tc, 24 + tr)
                    assert got[key] == (want, int(m.sum())), (shape, key)


def test_focal_shape_fail_louds(spark):
    tiles = corpus.synth_px_tiles(spark, tile_size=T)
    with pytest.raises(ValueError, match="start_angle"):
        FO.focal_stats(tiles, op="mean", radius=2, shape="wedge")
    with pytest.raises(ValueError, match="shape"):
        FO.focal_stats(tiles, op="mean", radius=2, shape="hexagon")
    with pytest.raises(ValueError, match="inner_radius"):
        FO.focal_stats(tiles, op="mean", radius=2, shape="annulus")
    with pytest.raises(ValueError, match="inner_radius"):
        FO.focal_stats(tiles, op="mean", radius=2, shape="annulus",
                       inner_radius=3)
    with pytest.raises(ValueError, match="annulus-only"):
        FO.focal_stats(tiles, op="mean", radius=2, shape="circle",
                       inner_radius=1)


def test_focal_wedge_bruteforce(spark):
    """Wedge r=3 arc [0.3, 2.2] (9 offsets incl. center) and a
    WRAP-AROUND arc [2.5, -2.5] vs untiled brute forces."""
    import math

    def offs(r, a0, a1):
        out = []
        for dr in range(-r, r + 1):
            for dc in range(-r, r + 1):
                if dr == 0 and dc == 0:
                    out.append((dr, dc))
                    continue
                if dr * dr + dc * dc > r * r:
                    continue
                ang = math.atan2(-dr, dc)
                ok = (a0 <= ang <= a1) if a0 <= a1 \
                    else (ang >= a0 or ang <= a1)
                if ok:
                    out.append((dr, dc))
        return out

    def brute(big, offset_list):
        r = max(max(abs(a), abs(b)) for a, b in offset_list)
        p = np.pad(big, r, constant_values=np.nan)
        n = big.shape[0]
        acc = np.zeros((n, n))
        cnt = np.zeros((n, n), dtype=np.int64)
        for dr in range(-r, r + 1):
            for dc in range(-r, r + 1):
                if (dr, dc) not in offset_list:
                    continue
                w = p[r + dr:r + dr + n, r + dc:r + dc + n]
                v = ~np.isnan(w)
                acc = acc + np.where(v, w, 0.0)
                cnt = cnt + v
        return np.where(cnt > 0, acc / np.maximum(cnt, 1), np.nan)

    tiles = corpus.synth_px_tiles(spark, tile_size=T)
    for a0, a1 in ((0.3, 2.2), (2.5, -2.5)):
        got = {(row["source_id"], row["band"], row["col"], row["row"]):
               (row["focal_sum"], row["focal_count"])
               for row in FO.focal_stats(tiles, op="mean", radius=3,
                                         shape="wedge", start_angle=a0,
                                         end_angle=a1).collect()}
        ol = offs(3, a0, a1)
        if (a0, a1) == (0.3, 2.2):
            assert len(ol) == 9
        for s in range(3):
            for band in range(2):
                focal = brute(_mosaic(s, band), ol)
                for tc in range(4):
                    for tr in range(4):
                        blk = focal[tr * T:(tr + 1) * T,
                                    tc * T:(tc + 1) * T]
                        m = ~np.isnan(blk)
                        want = int(np.floor(blk[m] * Q + 0.5)
                                   .astype(np.int64).sum())
                        key = (f"scene-{s}", band, 18 + s + tc, 24 + tr)
                        assert got[key] == (want, int(m.sum())), \
                            ((a0, a1), key)
    with pytest.raises(ValueError, match="wedge needs"):
        FO.focal_stats(tiles, op="mean", radius=3, shape="wedge")
    with pytest.raises(ValueError, match="wedge-only"):
        FO.focal_stats(tiles, op="mean", radius=3, shape="circle",
                       start_angle=0.1, end_angle=1.0)


def test_curvature_matches_untiled_bruteforce(spark):
    # Zevenbergen-Thorne vs the same formulas on the UNTILED mosaic,
    # plus a flat-plane sanity: every curvature of a tilted PLANE is 0
    tiles = corpus.synth_px_tiles(spark, tile_size=T)
    got = {(r["source_id"], r["band"], r["col"], r["row"]):
           (r["prof_sum"], r["plan_sum"], r["total_sum"],
            r["curv_count"])
           for r in FO.curvature_stats(tiles, cell=30.0).collect()}
    assert len(got) == 3 * 2 * 16
    L = 30.0
    for s in (1,):
        big = _mosaic(s, 0)
        p = np.pad(big, 1, constant_values=np.nan)
        n = big.shape[0]
        a = p[0:n, 0:n]; b = p[0:n, 1:n + 1]; c = p[0:n, 2:n + 2]
        d = p[1:n + 1, 0:n]; e = p[1:n + 1, 1:n + 1]; f = p[1:n + 1, 2:n + 2]
        g = p[2:n + 2, 0:n]; h = p[2:n + 2, 1:n + 1]; i = p[2:n + 2, 2:n + 2]
        ok = ~np.isnan(a + b + c + d + e + f + g + h + i)
        with np.errstate(invalid="ignore"):
            D = ((d + f) / 2.0 - e) / (L * L)
            E = ((b + h) / 2.0 - e) / (L * L)
            Fc = (-a + c + g - i) / (4.0 * (L * L))
            G = (-d + f) / (2.0 * L)
            H = (b - h) / (2.0 * L)
            den = G * G + H * H
            total = -2.0 * (D + E) * 100.0
            safe = np.where(den > 0.0, den, 1.0)
            prof = np.where(den > 0.0,
                            -2.0 * (D * G * G + E * H * H + Fc * G * H)
                            / safe * 100.0, 0.0)
            plan = np.where(den > 0.0,
                            2.0 * (D * H * H + E * G * G - Fc * G * H)
                            / safe * 100.0, 0.0)
        for tc in range(4):
            for tr in range(4):
                sl = (slice(tr * T, (tr + 1) * T),
                      slice(tc * T, (tc + 1) * T))
                m = ok[sl]
                want = (
                    int(np.floor(prof[sl][m] * Q + 0.5)
                        .astype(np.int64).sum()),
                    int(np.floor(plan[sl][m] * Q + 0.5)
                        .astype(np.int64).sum()),
                    int(np.floor(total[sl][m] * Q + 0.5)
                        .astype(np.int64).sum()),
                    int(m.sum()))
                assert got[(f"scene-{s}", 0, 18 + s + tc, 24 + tr)] == want


def test_curvature_plane_is_zero(spark):
    from geotrellis_contrib_spark.operators.pixels import pack
    r = np.arange(8).reshape(-1, 1)
    c = np.arange(8).reshape(1, -1)
    z = r * 3.0 + c * 2.0 + 5.0
    df = spark.createDataFrame(
        [("s", 0, 3, 1, 1, 0, "float64", -9999.0, pack(z))],
        "source_id string, source_idx int, zoom int, col bigint, "
        "row bigint, band int, dtype string, nodata double, px binary")
    r0 = FO.curvature_stats(df, cell=30.0, tile_size=8).collect()[0]
    assert (r0.prof_sum, r0.plan_sum, r0.total_sum) == (0, 0, 0)
    assert r0.curv_count == 36  # interior 6x6 has a full 3x3


def test_tpi_roughness_numpy_replay(spark):
    import numpy as np
    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark.operators.focal import tpi_roughness
    tiles = corpus_mod.synth_px_tiles(spark, tile_size=64)
    got = {(r.source_id, r.band, r.col, r.row):
           (r.n_valid9, r.tpi_qsum, r.rough_q4sum)
           for r in tpi_roughness(tiles, tile_size=64).collect()}
    # untiled whole-mosaic brute force (any halo bug breaks seam pixels)
    for s in range(3):
        moz = corpus_mod.synth_scene_mosaic(s)
        for b in range(2):
            z = np.where(moz[b] == -9999.0, np.nan, moz[b])
            zp = np.pad(z, 1, constant_values=np.nan)
            H, W = z.shape
            wins = [zp[1 + dr:1 + dr + H, 1 + dc:1 + dc + W]
                    for dr in (-1, 0, 1) for dc in (-1, 0, 1)]
            ok = np.ones((H, W), dtype=bool)
            for w in wins:
                ok &= ~np.isnan(w)
            nsum = np.zeros((H, W))
            mx = np.full((H, W), -np.inf)
            mn = np.full((H, W), np.inf)
            for i, w in enumerate(wins):
                if i != 4:
                    nsum = nsum + np.where(ok, w, 0.0)
                mx = np.maximum(mx, np.where(ok, w, -np.inf))
                mn = np.minimum(mn, np.where(ok, w, np.inf))
            tpi = z - nsum / 8.0
            rough = mx - mn
            for tr in range(4):
                for tc in range(4):
                    sl = (slice(tr * 64, (tr + 1) * 64),
                          slice(tc * 64, (tc + 1) * 64))
                    o = ok[sl]
                    if not o.any():
                        continue
                    key = (f"scene-{s}", b, 18 + s + tc, 24 + tr)
                    exp = (int(o.sum()),
                           int(np.floor(tpi[sl] * 1048576.0 + 0.5)[o]
                               .astype(np.int64).sum()),
                           int(np.floor(rough[sl] * 4.0 + 0.5)[o]
                               .astype(np.int64).sum()))
                    assert got[key] == exp


CT = 8  # row-contract mosaic: 3x3 tiles of CT px, cols 10..12, rows 20..22
ABSENT, ALL_NODATA = (11, 21), (12, 21)
PRESENT = {(c, r) for c in (10, 11, 12) for r in (20, 21, 22)} - {ABSENT}
# which tiles emit a row: every present tile for the seven row-always
# operators; only tiles with a hit for the three that emit none without
# one (the one mask cell, at the SE corner of tile (10, 20), reaches its
# E and S neighbors within radius 2; every valid tile has a full 3x3)
ROW_KEYS = {op: PRESENT for op in FOCAL_OPS}
ROW_KEYS["euclidean_distance"] = {(10, 20), (11, 20), (10, 21)}
ROW_KEYS["euclidean_allocation"] = {(10, 20), (11, 20), (10, 21)}
ROW_KEYS["tpi_roughness"] = PRESENT - {ALL_NODATA}


@pytest.mark.parametrize("op", list(FOCAL_OPS))
def test_focal_row_contract(spark, op):
    """Halo-only groups (the ring around the mosaic, the absent tile)
    never emit a row; the all-NoData tile emits one exactly for the
    row-always operators."""
    from geotrellis_contrib_spark.operators.pixels import pack
    r = np.arange(CT).reshape(-1, 1)
    c = np.arange(CT).reshape(1, -1)
    rows = []
    for col, row in sorted(PRESENT):
        a = (col * 7.0 + row * 3.0 + r * 0.5 + c * 0.25
             + ((r * 31 + c * 17) % 13))
        if (col, row) == ALL_NODATA:
            a = np.full((CT, CT), NOD)
        rows.append(("s", 0, 6, col, row, 0, "float64", NOD, pack(a)))
    tiles = spark.createDataFrame(
        rows, "source_id string, source_idx int, zoom int, col bigint, "
              "row bigint, band int, dtype string, nodata double, "
              "px binary")
    seed = (20 * CT + CT - 1, 10 * CT + CT - 1)
    got = FOCAL_OPS[op](
        tiles, lambda v, gr, gc: (gr == seed[0]) & (gc == seed[1]),
        CT).collect()
    keys = {(x["col"], x["row"]) for x in got}
    assert len(keys) == len(got)
    assert keys <= PRESENT and ABSENT not in keys
    assert keys == ROW_KEYS[op]
    assert {(x["source_id"], x["band"]) for x in got} == {("s", 0)}
