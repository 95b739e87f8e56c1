"""Per-pixel TEMPORAL statistics over a scene stack — the raster
time-series family (GeoTrellis models it as SpaceTimeKey layers; the
reference's contrib tier feeds those through the same RasterSource
machinery this engine's tile tables mirror, e.g. the layer reads in
/root/reference/vlm/src/main/scala/geotrellis/contrib/vlm/LayoutTileSource.scala:31-52
— one scene per instant, co-registered grids). Semantics: for every
pixel of every (zoom, col, row, band) key, reduce ACROSS the time axis
(`source_idx` ascending), excluding NoData/NaN cells per scene:

    count  = number of scenes with a valid observation
    mean   = (Σ valid values, accumulated in ascending source order) / count
    range  = max(valid) − min(valid)

Spark shape: ONE shuffle — every operator is a module-level kernel
``k_<op>(stack, valid, key, **params)`` that :func:`pixels.stack_tiles`
runs per spatial key (zoom, col, row, band) on the key's scenes as a
float64 ``(T, t, t)`` stack in ascending ``source_idx`` order, with its
NoData mask (a 100 TB archive holds thousands of instants per key, but
each key's stack is tile_size²·T — the natural partition unit for
temporal reduction; partial aggregation across time-sliced files
composes because count/sum/min/max are semigroups). Output is the
engine's standard per-tile quantized checksum row so the SQL oracle
replays the whole chain closed-form.
"""

from __future__ import annotations

from functools import partial

import numpy as np
from pyspark.sql import DataFrame

from geotrellis_contrib_spark.operators.pixels import (
    map_tiles, qsum, stack_tiles, valid_px)

_KEY = ("zoom", "col", "row", "band")
_KEY_DDL = "zoom int, col bigint, row bigint, band int, "


def _seq_sum(planes: np.ndarray) -> np.ndarray:
    """Per-pixel sum over axis 0, added in plane order (source order)."""
    return np.cumsum(planes, axis=0)[-1]


def _median(planes: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(count, median) of each pixel's non-NaN values along axis 0: the
    mean of the two middle order statistics, (a+a)/2 = a for odd counts;
    median 0 where the count is 0."""
    m = (~np.isnan(planes)).sum(axis=0)
    srt = np.sort(planes, axis=0)  # NaN sorts last along axis 0
    lo = np.clip((m - 1) // 2, 0, len(planes) - 1)
    hi = np.clip(m // 2, 0, len(planes) - 1)
    a = np.take_along_axis(srt, lo[None], axis=0)[0]
    b = np.take_along_axis(srt, hi[None], axis=0)[0]
    return m, np.where(m >= 1, (a + b) / 2.0, 0.0)


def k_stats(stack, valid, key, *, q_mean, q_range):
    """:func:`temporal_stats` of one key's stack."""
    cnt = valid.sum(axis=0)
    seen = cnt > 0
    acc = _seq_sum(np.where(valid, stack, 0.0))
    tmax = np.where(valid, stack, -np.inf).max(axis=0)
    tmin = np.where(valid, stack, np.inf).min(axis=0)
    mean = np.where(seen, acc / np.maximum(cnt, 1), 0.0)
    rng = np.where(seen, tmax - tmin, 0.0)
    return {"n_px": seen.sum(), "cnt_sum": cnt.sum(),
            "q_mean_sum": qsum(mean, seen, q_mean),
            "q_range_sum": qsum(rng, seen, q_range)}


def temporal_stats(tiles: DataFrame, tile_size: int = 64,
                   q_mean: float = 1048576.0,
                   q_range: float = 4.0) -> DataFrame:
    """Temporal count/mean/range per pixel, reduced to per-tile checksums:
    n_px = pixels observed at least once, cnt_sum = Σ count,
    q_mean_sum = Σ floor(mean·q_mean + 0.5), q_range_sum =
    Σ floor((max−min)·q_range + 0.5) — integer sums, order-free."""
    return stack_tiles(
        tiles, _KEY, partial(k_stats, q_mean=q_mean, q_range=q_range),
        _KEY_DDL + "n_px bigint, cnt_sum bigint, q_mean_sum bigint, "
        "q_range_sum bigint")


def k_calibrate(row, *, gains, offsets):
    """One scene's tile calibrated with its source's gain and offset."""
    arr, s = row["px"], row["source_idx"]
    return {"px": np.where(valid_px(arr, row["nodata"]),
                           arr * gains[s] + offsets[s], arr)}


def calibrate_stack(tiles: DataFrame, gains: dict, offsets: dict,
                    tile_size: int = 64) -> DataFrame:
    """Per-scene radiometric calibration v' = gain[s]·v + offset[s]
    (the localMultiply/localAdd-per-scene recipe every optical archive
    applies before temporal analysis — gains/offsets keyed by
    source_idx). NoData/NaN cells pass through untouched so validity
    masks survive. Zero shuffle — one :func:`pixels.map_tiles` stage
    over whatever partitioning the stack already has. Exactness:
    quarter-grid values × integer gains + integer offsets stay exactly
    representable."""
    return map_tiles(tiles, partial(k_calibrate, gains=dict(gains),
                                    offsets=dict(offsets)), tiles.schema)


def k_composite(stack, valid, key, *, q_best):
    """:func:`temporal_composite` of one key's stack: a strictly larger
    later value replaces the running best, so the earliest scene wins a
    tie."""
    best = np.full(stack.shape[1:], -np.inf)
    bsrc = np.full(stack.shape[1:], -1, dtype=np.int64)
    for arr, ok, s in zip(stack, valid, key["source_idx"]):
        take = ok & (arr > best)
        best = np.where(take, arr, best)
        bsrc = np.where(take, int(s), bsrc)
    seen = bsrc >= 0
    return {"n_px": seen.sum(), "q_best_sum": qsum(best, seen, q_best),
            "src_sum": bsrc[seen].sum()}


def temporal_composite(tiles: DataFrame, tile_size: int = 64,
                       q_best: float = 4.0) -> DataFrame:
    """Per-pixel BEST-PIXEL COMPOSITE (the max-value compositing rule —
    THE Landsat/Sentinel mosaicking op: per pixel, keep the observation
    maximizing a quality metric across the scene stack; max-NDVI
    compositing is this with the metric = the band value. GeoTrellis
    ships it as the local max over a SpaceTimeKey layer stack; the
    contrib tier feeds those stacks through LayoutTileSource, e.g.
    /root/reference/vlm/src/main/scala/geotrellis/contrib/vlm/LayoutTileSource.scala:31-52).

    Tie rule: EARLIEST scene wins (strict `>` against the running best,
    scenes visited in ascending source_idx) — the deterministic
    convention real compositors use so reruns are stable. Selection
    only, no arithmetic: the winning value is one of the inputs, so
    per-tile checksums stay exact under the quarter-grid fixture.

    Spark shape: same ONE-shuffle stack-reduce as temporal_stats;
    (value, source) argmax is a semigroup so partial aggregation across
    time-sliced files composes. Output per tile: n_px = pixels observed
    ≥ once, q_best_sum = Σ floor(best·q + 0.5), src_sum = Σ winning
    source."""
    return stack_tiles(
        tiles, _KEY, partial(k_composite, q_best=q_best),
        _KEY_DDL + "n_px bigint, q_best_sum bigint, src_sum bigint")


def k_mann_kendall(stack, valid, key):
    """:func:`temporal_mann_kendall` of one key's stack."""
    s_stat = np.zeros(stack.shape[1:], dtype=np.int64)
    pairs = np.zeros(stack.shape[1:], dtype=np.int64)
    for j in range(len(stack)):
        for i in range(j):
            both = valid[i] & valid[j]
            d = stack[j] - stack[i]
            s_stat += np.where(both, np.sign(d), 0.0).astype(np.int64)
            pairs += both
    seen = pairs >= 1
    return {"n_px_pairs": seen.sum(), "p_sum": pairs.sum(),
            "s_sum": s_stat[seen].sum()}


def temporal_mann_kendall(tiles: DataFrame,
                          tile_size: int = 64) -> DataFrame:
    """Per-pixel MANN-KENDALL trend test (Mann 1945 / Kendall 1975 —
    THE standard nonparametric raster-time-series trend detector):
    S = Σ_{i<j} sign(v_j − v_i) over valid observation pairs,
    INTEGER arithmetic end-to-end (sign of exact differences). Same
    one-shuffle stack-reduce shape; pairwise loop is O(T²) per key
    over vectorized planes (T = instants per key, the stack depth).
    Output per tile: n_px_pairs = pixels with ≥ 1 pair, p_sum = Σ
    pair counts, s_sum = Σ S."""
    return stack_tiles(
        tiles, _KEY, k_mann_kendall,
        _KEY_DDL + "n_px_pairs bigint, p_sum bigint, s_sum bigint")


def k_theil_sen(stack, valid, key, *, q_slope):
    """:func:`temporal_theil_sen` of one key's stack."""
    ts = key["source_idx"]
    slopes = [np.where(valid[i] & valid[j],
                       (stack[j] - stack[i]) / float(ts[j] - ts[i]), np.nan)
              for j in range(len(stack)) for i in range(j)]
    if not slopes:
        return {"n_px1": 0, "q_ts_sum": 0}
    m, med = _median(np.stack(slopes))
    return {"n_px1": (m >= 1).sum(), "q_ts_sum": qsum(med, m >= 1, q_slope)}


def temporal_theil_sen(tiles: DataFrame, tile_size: int = 64,
                       q_slope: float = 1048576.0) -> DataFrame:
    """Per-pixel THEIL-SEN slope (Theil 1950/Sen 1968 — the robust
    median-of-pairwise-slopes sibling of temporal_trend's least
    squares): median over valid pairs of (v_j − v_i)/(t_j − t_i),
    t = source_idx. Median = mean of the two middle order statistics
    ((a+a)/2 for odd counts — exact), each slope an exact difference
    divided by an integer gap (ONE IEEE division per slope), so the
    SQL oracle replays it bit-for-bit. Output per tile: n_px1 =
    pixels with ≥ 1 slope, q_ts_sum = Σ floor(median·q + 0.5)."""
    return stack_tiles(tiles, _KEY, partial(k_theil_sen, q_slope=q_slope),
                       _KEY_DDL + "n_px1 bigint, q_ts_sum bigint")


def k_median(stack, valid, key, *, q_med):
    """:func:`temporal_median` of one key's stack."""
    m, med = _median(np.where(valid, stack, np.nan))
    return {"n_px": (m >= 1).sum(), "q_med_sum": qsum(med, m >= 1, q_med)}


def temporal_median(tiles: DataFrame, tile_size: int = 64,
                    q_med: float = 4.0) -> DataFrame:
    """Per-pixel MEDIAN COMPOSITE across the scene stack — the robust
    compositing rule next to :func:`temporal_composite`'s max-value
    (median compositing is THE cloud-robust Landsat mosaic recipe):
    per pixel, the median of the valid observations. Median = mean of
    the two middle order statistics; for odd counts that is (a+a)/2 = a
    (pure selection), for even counts ONE exact dyadic mean of quarter-
    grid values — so the per-tile checksum stays exact. Same
    ONE-shuffle stack-reduce shape. Output per tile: n_px = pixels
    observed ≥ once, q_med_sum = Σ floor(median·q + 0.5)."""
    return stack_tiles(tiles, _KEY, partial(k_median, q_med=q_med),
                       _KEY_DDL + "n_px bigint, q_med_sum bigint")


def k_trend(stack, valid, key, *, q_slope):
    """:func:`temporal_trend` of one key's stack."""
    t = key["source_idx"].astype(np.int64)[:, None, None]
    n = valid.sum(axis=0)
    st = np.where(valid, t, 0).sum(axis=0)
    st2 = np.where(valid, t * t, 0).sum(axis=0)
    sv = _seq_sum(np.where(valid, stack, 0.0))
    stv = _seq_sum(np.where(valid, t * stack, 0.0))
    fit = n >= 2
    nf, stf, st2f = (a.astype(np.float64) for a in (n, st, st2))
    denom = np.where(fit, nf * st2f - stf * stf, 1.0)
    slope = np.where(fit, (nf * stv - stf * sv) / denom, 0.0)
    return {"n_px2": fit.sum(), "q_slope_sum": qsum(slope, fit, q_slope)}


def temporal_trend(tiles: DataFrame, tile_size: int = 64,
                   q_slope: float = 1048576.0) -> DataFrame:
    """Per-pixel least-squares TREND across the time axis (the change-
    detection sibling of :func:`temporal_stats` — NDVI trend maps are
    the canonical raster-time-series product): for pixels observed in
    >= 2 instants,

        slope = (n·Σtv − Σt·Σv) / (n·Σt² − (Σt)²)

    with t = source_idx. Every accumulator is a sum of exactly-
    representable values (integer t, fixture-grid v), the numerator/
    denominator subtractions stay exact, and ONE IEEE division ends the
    chain — so the SQL oracle replays it bit-for-bit. Same one-shuffle
    stack-reduce shape as temporal_stats. Output per tile: n_px2 =
    pixels with >= 2 observations, q_slope_sum = Σ floor(slope·q + 0.5)
    over those pixels."""
    return stack_tiles(tiles, _KEY, partial(k_trend, q_slope=q_slope),
                       _KEY_DDL + "n_px2 bigint, q_slope_sum bigint")


def k_fill(stack, valid, key, *, q_fill):
    """:func:`temporal_fill` of one key's stack: forward and backward
    (value, t) sweeps over the planes, vectorized over the tile."""
    stack = np.where(valid, stack, np.nan)
    ts = key["source_idx"].astype(np.int64)
    shp = stack.shape[1:]

    def sweep(order):
        """Per plane, the nearest valid (value, t) strictly before it in
        ``order``; (NaN, -1) where there is none."""
        near_v = np.full_like(stack, np.nan)
        near_t = np.full(stack.shape, -1, dtype=np.int64)
        cur_v, cur_t = np.full(shp, np.nan), np.full(shp, -1, np.int64)
        for i in order:
            near_v[i], near_t[i] = cur_v, cur_t
            cur_v = np.where(valid[i], stack[i], cur_v)
            cur_t = np.where(valid[i], ts[i], cur_t)
        return near_v, near_t

    prev_v, prev_t = sweep(range(len(stack)))
    next_v, next_t = sweep(range(len(stack) - 1, -1, -1))
    gaps = ~valid
    # a malformed stack with duplicate times would make dk == 0
    # (0/0 -> NaN -> silent garbage after astype): not fillable
    fillable = gaps & ~np.isnan(prev_v) & ~np.isnan(next_v) \
        & (next_t > prev_t)
    with np.errstate(invalid="ignore", divide="ignore"):
        di = (ts[:, None, None] - prev_t).astype(np.float64)
        dk = (next_t - prev_t).astype(np.float64)
        fill = prev_v + (next_v - prev_v) * (di / dk)
    return {"n_gaps": gaps.sum(), "n_filled": fillable.sum(),
            "q_fill_sum": qsum(fill, fillable, q_fill)}


def temporal_fill(tiles: DataFrame, tile_size: int = 64,
                  q_fill: float = 8.0) -> DataFrame:
    """Per-pixel temporal GAP FILLING across the scene stack — the
    Landsat-7 SLC-off / cloud-gap interpolation recipe (fill a missing
    observation by LINEAR interpolation between its nearest valid
    neighbors in time; edge gaps stay unfilled — no extrapolation):

        gap     a plane row exists for the tile but the pixel is
                NoData there (absent planes are NOT gaps — the stack
                cannot see scenes that never covered the tile)
        fill    v_j + (v_k - v_j) * ((t_i - t_j) / (t_k - t_j))
                with j/k the nearest valid planes before/after —
                integer time deltas divided ONCE, then one multiply
                and one add (the identical chain the oracle runs)

    Same ONE-shuffle stack-reduce shape as temporal_stats (tiles
    group on their key; planes ordered by source_idx = t); forward and
    backward (value, t) sweeps are vectorized over the whole tile.
    Output per tile: n_gaps, n_filled, q_fill_sum = Σ floor(fill·q +
    0.5) over filled slots."""
    return stack_tiles(
        tiles, _KEY, partial(k_fill, q_fill=q_fill),
        _KEY_DDL + "n_gaps bigint, n_filled bigint, q_fill_sum bigint")
