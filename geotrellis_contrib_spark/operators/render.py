"""Raster rendering + statistics: color-ramp RGBA rendering, RGBA PNG
tile encoding, histograms with map-side partial counts, and histogram
quantile breaks.

Reference parity: the GeoTrellis render family (ColorRamp / ColorMap /
Png) and StreamingHistogram-based classification breaks fed by the
reference's RasterSources; the contrib tier owns the per-tile plumbing.

Spark-first plan (scale posture):
  * ``render_stats`` / ``render_png_tiles`` are per-tile maps — zero
    shuffles, embarrassingly parallel.
  * ``histogram_stats`` computes per-tile bucket counts INSIDE the Arrow
    batch (numpy bincount) and ships only (band, bucket, count) rows —
    the groupBy sum is a shuffle of O(bands x buckets) rows, not pixels:
    the classic map-side-combine story. At 100 TB the shuffled volume is
    a few KB per executor.
  * ``quantile_breaks`` is pure JVM: a window cumulative sum over the
    tiny histogram plus a broadcast-size join — no Python in the plan.

Determinism contract (mirrored by the render/histogram SQL oracles in
``__spark_entry__.py`` — change one only with the other): ramp
interpolation is t = clip((v-vmin)/(vmax-vmin), 0, 1), pos = t*(N-1),
i = min(floor(pos), N-2) kept as a DOUBLE for f = pos - i, channel =
floor(c0 + f*(c1-c0) + 0.5) — every step a single mirrored float op;
histogram bucketing is floor((v-vmin)/(vmax-vmin)*nbins) clipped, an
exact integer; breaks use integer ceil-division targets only.
"""

from __future__ import annotations

import struct
import zlib
from functools import partial

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from geotrellis_contrib_spark.operators.pixels import map_tiles, valid_px

# an 8-stop elevation-style ramp (deep blue -> water blue -> greens ->
# yellows -> browns -> white); deliberately self-defined literals
TERRAIN_RAMP = ((0, 32, 128), (0, 128, 192), (32, 192, 96),
                (160, 224, 64), (224, 224, 0), (224, 128, 0),
                (160, 64, 0), (255, 255, 255))


def _ramp_channels(arr: np.ndarray, vmin: float, vmax: float,
                   ramp=TERRAIN_RAMP):
    """Vectorized ramp interpolation -> (r, g, b) int64 arrays (invalid
    inputs produce garbage — mask with validity outside)."""
    n = len(ramp)
    stops = np.asarray(ramp, dtype=np.float64)  # (n, 3)
    t = np.clip((arr - vmin) / (vmax - vmin), 0.0, 1.0)
    pos = t * float(n - 1)
    i_f = np.minimum(np.floor(pos), float(n - 2))
    f = pos - i_f
    idx = i_f.astype(np.int64)
    out = []
    for ch in range(3):
        c0 = stops[:, ch][idx]
        c1 = stops[:, ch][idx + 1]
        out.append(np.floor(c0 + f * (c1 - c0) + 0.5).astype(np.int64))
    return out


def _pixels(row: dict) -> tuple[np.ndarray, np.ndarray]:
    """(float64 pixels, validity) of one tile under the shared NoData rule
    (NaN pixels are invalid even where nodata is NaN — letting NaN through
    the ramp would cast to an undefined int64 index)."""
    arr = row["px"].astype(np.float64)
    return arr, valid_px(arr, row["nodata"])


def _ramp_rgb(row: dict, vmin: float, vmax: float, ramp):
    """(valid, r, g, b) of one tile through the ramp."""
    arr, valid = _pixels(row)
    return (valid, *_ramp_channels(np.where(valid, arr, vmin), vmin, vmax,
                                   ramp))


def k_render_stats(row: dict, vmin: float, vmax: float, ramp) -> dict:
    """Packed-RGBA checksum of one tile's valid pixels (render_stats)."""
    valid, r, g, b = _ramp_rgb(row, vmin, vmax, ramp)
    packed = (r * 16777216 + g * 65536 + b * 256 + 255)
    return {"rgba_sum": int(packed[valid].sum()),
            "rgba_count": int(valid.sum())}


def render_stats(tiles: DataFrame, vmin: float, vmax: float,
                 ramp=TERRAIN_RAMP, tile_size: int = 64) -> DataFrame:
    """Color-ramp render checksum per tile: each valid pixel maps through
    the linear ramp to (r, g, b, 255), packed as r*2^24 + g*2^16 + b*2^8
    + 255 (an exact integer), summed per tile. NoData pixels are excluded
    (transparent). Zero shuffles."""
    return map_tiles(
        tiles, partial(k_render_stats, vmin=vmin, vmax=vmax, ramp=ramp),
        "source_id string, band bigint, col bigint, row bigint, "
        "rgba_sum bigint, rgba_count bigint")


def encode_png_rgba(rgba: np.ndarray) -> bytes:
    """uint8 HxWx4 RGBA -> PNG bytes (color type 6, filter-0 scanlines,
    one IDAT) — the public PNG spec via stdlib zlib, like the grayscale
    codec in operators/media.py."""
    rgba = np.asarray(rgba, dtype=np.uint8)
    h, w, c = rgba.shape
    if c != 4:
        raise ValueError(f"expected HxWx4 RGBA, got {rgba.shape}")

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (struct.pack(">I", len(data)) + tag + data
                + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF))

    sig = b"\x89PNG\r\n\x1a\n"
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 6, 0, 0, 0)
    raw = b"".join(b"\x00" + rgba[r].tobytes() for r in range(h))
    return (sig + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))


def k_render_png(row: dict, vmin: float, vmax: float, ramp) -> dict:
    """One tile rendered through the ramp as an RGBA PNG, NoData fully
    transparent (render_png_tiles)."""
    valid, r, g, b = _ramp_rgb(row, vmin, vmax, ramp)
    rgba = np.zeros((*valid.shape, 4), dtype=np.uint8)
    for ch, c in enumerate((r, g, b, 255)):
        rgba[..., ch] = np.where(valid, c, 0)
    return {"png": encode_png_rgba(rgba)}


def render_png_tiles(tiles: DataFrame, vmin: float, vmax: float,
                     ramp=TERRAIN_RAMP, tile_size: int = 64) -> DataFrame:
    """Render each tile through the ramp and PNG-encode it (RGBA, NoData
    -> fully transparent). Zero shuffles; output
    (source_id, band, col, row, png binary)."""
    return map_tiles(
        tiles, partial(k_render_png, vmin=vmin, vmax=vmax, ramp=ramp),
        "source_id string, band bigint, col bigint, row bigint, png binary")


def _buckets(v: np.ndarray, vmin: float, vmax: float, nb: int) -> np.ndarray:
    return np.clip(np.floor((v - vmin) / (vmax - vmin) * nb),
                   0.0, float(nb - 1)).astype(np.int64)


def k_histogram(row: dict, vmin: float, vmax: float, nb: int) -> list[dict]:
    """One tile's nonzero fixed-bucket counts (histogram_stats)."""
    arr, valid = _pixels(row)
    cnt = np.bincount(_buckets(arr[valid], vmin, vmax, nb), minlength=nb)
    return [{"bucket": int(bk), "cnt": int(cnt[bk])} for bk in np.nonzero(cnt)[0]]


def histogram_stats(tiles: DataFrame, vmin: float, vmax: float,
                    nbins: int = 32, tile_size: int = 64) -> DataFrame:
    """Fixed-bucket histogram per (source_id, band): bucket =
    clip(floor((v - vmin)/(vmax - vmin)*nbins), 0, nbins-1) counted
    per tile INSIDE the Arrow batch (numpy bincount), then ONE shuffle of
    only (source, band, bucket, count) rows — map-side combine."""
    counts = map_tiles(
        tiles, partial(k_histogram, vmin=vmin, vmax=vmax, nb=int(nbins)),
        "source_id string, band bigint, bucket bigint, cnt bigint")
    return counts.groupBy("source_id", "band", "bucket") \
        .agg(F.sum("cnt").alias("cnt"))


def quantile_breaks(hist: DataFrame, vmin: float, vmax: float,
                    nbins: int = 32, k: int = 4) -> DataFrame:
    """Classification breaks from the histogram — pure JVM (window
    cumulative sum + a tiny join, no Python): for q in 1..k-1 the break
    bucket is the first whose cumulative count reaches
    ceil(q*total/k) (integer ceil-division), and the break value is that
    bucket's upper edge vmin + (bucket+1)*(vmax-vmin)/nbins."""
    w = Window.partitionBy("source_id", "band").orderBy("bucket") \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = hist.withColumn("cum", F.sum("cnt").over(w))
    tot = hist.groupBy("source_id", "band") \
        .agg(F.sum("cnt").alias("total"))
    qs = F.explode(F.array(*[F.lit(q).cast("long")
                             for q in range(1, int(k))])).alias("q")
    targets = tot.select("source_id", "band", "total", qs) \
        .withColumn("target",
                    F.expr(f"CAST((q * total + {int(k)} - 1) "
                           f"DIV {int(k)} AS BIGINT)"))
    hit = cum.join(F.broadcast(targets), ["source_id", "band"]) \
        .filter(F.col("cum") >= F.col("target")) \
        .groupBy("source_id", "band", "q") \
        .agg(F.min("bucket").alias("bucket"))
    width = (vmax - vmin) / float(nbins)
    return hit.withColumn(
        "break_value",
        F.lit(float(vmin)) + (F.col("bucket").cast("double") + 1.0)
        * F.lit(width)).select("source_id", "band", "q", "bucket",
                               "break_value")


def _logistic_norm(alpha: float, beta: float) -> tuple[float, float]:
    """(anchor, denom) normalizing the logistic onto g(0)=0, g(1)=1;
    fails loud on a degenerate (alpha, beta)."""
    anchor = 1.0 / (1.0 + np.exp(beta * alpha))
    denom = 1.0 / (1.0 + np.exp(beta * (alpha - 1.0))) - anchor
    if denom == 0.0:
        raise ValueError("sigmoidal_contrast: degenerate (alpha, beta) — "
                         "the normalizing denominator is zero")
    return anchor, denom


def k_sigmoidal(row: dict, vmin: float, vmax: float, alpha: float,
                beta: float, levels: int) -> dict:
    """One tile through the normalized logistic (sigmoidal_contrast)."""
    anchor, denom = _logistic_norm(alpha, beta)
    arr, valid = _pixels(row)
    res = np.full(arr.shape, row["nodata"], dtype=np.float64)
    if valid.any():
        u = np.clip((arr[valid] - vmin) / (vmax - vmin), 0.0, 1.0)
        g = (1.0 / (1.0 + np.exp(beta * (alpha - u))) - anchor) / denom
        res[valid] = np.floor(g * (levels - 1) + 0.5)
    return {"px": res}


def sigmoidal_contrast(tiles: DataFrame, vmin: float, vmax: float,
                       alpha: float = 0.5, beta: float = 10.0,
                       out_levels: int = 256,
                       tile_size: int = 64) -> DataFrame:
    """Sigmoidal contrast stretch (geotrellis.raster.sigmoidal.
    SigmoidalContrast analog — the ImageMagick-lineage formula GeoTrellis
    applies per cell): normalize each pixel to u = clip((v - vmin) /
    (vmax - vmin), 0, 1), pass it through the normalized logistic

        g = (1/(1+exp(beta*(alpha-u))) - 1/(1+exp(beta*alpha)))
            / (1/(1+exp(beta*(alpha-1))) - 1/(1+exp(beta*alpha)))

    (alpha = midpoint in [0,1], beta = steepness; g(0)=0, g(1)=1 by
    construction) and emit eq = floor(g*(out_levels-1) + 0.5). NoData
    stays NoData.

    Purely per-pixel: ONE narrow Arrow map, ZERO shuffle at any corpus
    size — the plan shape `convert`/`mask_tiles` use. The SQL twin
    replays the identical expression ORDER (alpha-u first, then *beta,
    then exp) so both sides feed exp the same double; the final
    half-up floor absorbs sub-ulp libm differences as long as the
    fixture keeps a margin (pytest asserts >=1e-6 on every pixel).
    Output schema = input schema with stretched float64 pixels."""
    a, b = float(alpha), float(beta)
    _logistic_norm(a, b)  # fail loud before the plan is built
    return map_tiles(
        tiles, partial(k_sigmoidal, vmin=vmin, vmax=vmax, alpha=a, beta=b,
                       levels=int(out_levels)),
        tiles.schema)


def k_equalize(row: dict, table: dict, vmin: float, vmax: float,
               nb: int) -> dict:
    """One tile mapped through its scene's equalized levels ``table``
    (histogram_equalize)."""
    arr, valid = _pixels(row)
    eq = table.get((row["source_id"], int(row["band"])))
    res = np.full(arr.shape, row["nodata"], dtype=np.float64)
    if eq is not None and valid.any():
        res[valid] = eq[_buckets(arr[valid], vmin, vmax, nb)]
    return {"px": res}


def histogram_equalize(tiles: DataFrame, vmin: float, vmax: float,
                       nbins: int = 64, tile_size: int = 64,
                       out_levels: int = 256,
                       max_cdf_rows: int = 1 << 20) -> DataFrame:
    """Histogram equalization (geotrellis.raster.equalization.
    HistogramEqualization analog): per (source_id, band), each pixel maps
    through its scene's CDF —

        bucket = clip(floor((v - vmin) / (vmax - vmin) * nbins))
        eq     = floor((cdf(bucket) - cdf_min)
                       / max(total - cdf_min, 1) * (out_levels - 1) + 0.5)

    with cdf_min = the first nonempty bucket's count (the classic
    formula, all-integer until ONE IEEE division so engine and SQL twin
    agree bit-for-bit); NoData stays NoData.

    Two passes, both scale-shaped: (1) :func:`histogram_stats` — per-tile
    numpy bincount, ONE shuffle of (scene, band, bucket, count) rows,
    map-side combined; (2) the CDF table (scenes x nbins rows, a
    constant-small dimension — fail-loud past ``max_cdf_rows``) window-
    cumsummed JVM-side, collected once and closed over a narrow Arrow
    map. Output schema = input schema with equalized float64 pixels."""
    nb = int(nbins)
    lv = int(out_levels)
    hist = histogram_stats(tiles, vmin, vmax, nbins=nb, tile_size=tile_size)
    w = Window.partitionBy("source_id", "band").orderBy("bucket") \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wall = Window.partitionBy("source_id", "band")
    cdf = (hist.withColumn("cum", F.sum("cnt").over(w))
               .withColumn("total", F.sum("cnt").over(wall))
               .withColumn("cdf_min", F.first("cnt").over(
                   Window.partitionBy("source_id", "band")
                         .orderBy("bucket")
                         .rowsBetween(Window.unboundedPreceding,
                                      Window.unboundedFollowing))))
    rows = cdf.limit(max_cdf_rows + 1).collect()
    if len(rows) > max_cdf_rows:
        raise ValueError(
            f"histogram_equalize CDF table exceeds max_cdf_rows="
            f"{max_cdf_rows}; coarsen nbins or shard by scene")
    table: dict[tuple, np.ndarray] = {}
    for r in rows:
        key = (r.source_id, int(r.band))
        eq = table.get(key)
        if eq is None:
            eq = np.zeros(nb, dtype=np.float64)
            table[key] = eq
        den = max(int(r.total) - int(r.cdf_min), 1)
        eq[int(r.bucket)] = np.floor(
            (float(int(r.cum) - int(r.cdf_min)) / float(den))
            * (lv - 1) + 0.5)

    return map_tiles(
        tiles, partial(k_equalize, table=table, vmin=vmin, vmax=vmax, nb=nb),
        tiles.schema)


def k_value_counts(row: dict) -> list[dict]:
    """One tile's per-VALUE counts of its valid pixels (percent_clip_stats,
    histogram_match)."""
    arr, valid = _pixels(row)
    vals, cnts = np.unique(arr[valid], return_counts=True)
    return [{"val": float(v), "cnt": int(c)} for v, c in zip(vals, cnts)]


def k_clip_stretch(row: dict, table: dict) -> dict:
    """One tile's valid count and quantized percent-clip stretch sum
    against its scene's (lo, hi) in ``table`` (percent_clip_stats)."""
    arr, valid = _pixels(row)
    lo, hi = table[(row["source_id"], int(row["band"]))]
    v = arr[valid]
    s = np.where(v <= lo, 0.0, np.where(v >= hi, 1.0, (v - lo) / (hi - lo)))
    return {"n_valid": int(valid.sum()),
            "q_stretch_sum": int(np.floor(s * 1048576.0 + 0.5)
                                 .astype(np.int64).sum())}


_VALUE_COUNTS_DDL = "source_id string, band int, val double, cnt bigint"


def percent_clip_stats(tiles: DataFrame, p_lo: int = 2, p_hi: int = 98,
                       tile_size: int = 64,
                       max_threshold_rows: int = 1 << 20) -> DataFrame:
    """PERCENT-CLIP linear contrast stretch (the GDAL/ArcGIS "percent
    clip" enhancement, completing the family around
    :func:`sigmoidal_contrast` and :func:`histogram_equalize`): per
    (source_id, band), lo/hi are the p_lo-th / p_hi-th TYPE-1 discrete
    percentiles of the valid values — EXACT integer ranks over
    per-VALUE counts (the zonal_percentiles histogram trick at scene
    scope, no binning), k = ceil(p·n/100) as floor((p·n + 99)/100) —
    then

        stretch(v) = 0 if v <= lo; 1 if v >= hi;
                     else (v − lo) / (hi − lo)    (ONE IEEE division)

    Scale shape: pass 1 collapses tiles to (scene, band, value) COUNTS
    map-side; pass 2 is one small cumulative window per scene whose
    lo/hi rows (scenes × bands, fail-loud past ``max_threshold_rows``)
    are collected and closed over a narrow Arrow map; pass 3 is a
    zero-shuffle per-tile checksum. Degenerate scenes (hi <= lo) fail
    loud. Output: (source_id, band, col, row, n_valid, q_stretch_sum =
    Σ floor(stretch·2^20 + 0.5))."""
    cnt = map_tiles(tiles, k_value_counts, _VALUE_COUNTS_DDL) \
        .groupBy("source_id", "band", "val") \
        .agg(F.sum("cnt").alias("cnt"))
    w = Window.partitionBy("source_id", "band").orderBy("val") \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wall = Window.partitionBy("source_id", "band")
    cum = (cnt.withColumn("cum", F.sum("cnt").over(w))
              .withColumn("n", F.sum("cnt").over(wall)))
    th = cum.groupBy("source_id", "band").agg(
        F.min(F.when(
            F.col("cum") >= F.floor((F.lit(int(p_lo)) * F.col("n")
                                     + F.lit(99)) / F.lit(100)),
            F.col("val"))).alias("lo"),
        F.min(F.when(
            F.col("cum") >= F.floor((F.lit(int(p_hi)) * F.col("n")
                                     + F.lit(99)) / F.lit(100)),
            F.col("val"))).alias("hi"))
    rows = th.limit(max_threshold_rows + 1).collect()
    if len(rows) > max_threshold_rows:
        raise ValueError("percent_clip_stats: threshold table exceeds "
                         f"max_threshold_rows={max_threshold_rows}")
    table = {}
    for r in rows:
        lo, hi = float(r.lo), float(r.hi)
        if not hi > lo:
            raise ValueError(
                f"percent_clip_stats: degenerate stretch (hi <= lo) "
                f"for ({r.source_id}, band {r.band})")
        table[(r.source_id, int(r.band))] = (lo, hi)

    return map_tiles(
        tiles, partial(k_clip_stretch, table=table),
        "source_id string, band int, col bigint, row bigint, "
        "n_valid bigint, q_stretch_sum bigint")


def histogram_match(tiles: DataFrame, src_id: str, ref_id: str,
                    tile_size: int = 64) -> DataFrame:
    """HISTOGRAM MATCHING (the GDAL/rasterio/scikit-image `match
    histograms` enhancement — remap scene ``src_id`` so its value
    distribution matches scene ``ref_id``; the radiometric-
    normalization step multi-date mosaics apply before compositing).
    Discrete EXACT recipe (type-1 quantile mapping, no interpolation):

        rank_a(v) = #{x in src : x <= v}            (per band)
        rank_b    = ceil(rank_a * n_ref / n_src)
                  = floor((rank_a*n_ref + n_src-1) / n_src)
        match(v)  = smallest u in ref with cum_ref(u) >= rank_b

    Output: the per-(band, value) mapping table (band, v4, rank_a,
    rank_b, m4) with values on the exact x4 integer grid — counts and
    ranks are integers end-to-end; the mapped value is a SELECTION of
    a ref input value, never arithmetic on it.

    Scale shape: pass 1 collapses tiles to per-VALUE counts map-side
    (shuffle bounded by distinct values, the percent_clip discipline);
    the mapping itself is the asof_join trick — union ref rows keyed
    by their cumulative count with src rows keyed by their target
    rank, ONE per-band window ordered (key DESC, ref-first), running
    MIN over ref values = the smallest qualifying u. No V^2 join, no
    collect."""
    cnt = (map_tiles(tiles.filter(F.col("source_id").isin([src_id, ref_id])),
                     k_value_counts, _VALUE_COUNTS_DDL)
           .groupBy("source_id", "band", "val")
           .agg(F.sum("cnt").alias("cnt")))
    wc = Window.partitionBy("source_id", "band").orderBy("val") \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wall = Window.partitionBy("source_id", "band")
    cum = (cnt.withColumn("cum", F.sum("cnt").over(wc))
              .withColumn("n", F.sum("cnt").over(wall)))
    src = cum.filter(F.col("source_id") == src_id) \
             .select("band", "val", F.col("cum").alias("rank_a"),
                     F.col("n").alias("na"))
    ref = cum.filter(F.col("source_id") == ref_id) \
             .select("band", F.col("val").alias("u"), "cum",
                     F.col("n").alias("nb"))
    nbt = ref.groupBy("band").agg(F.max("nb").alias("nb"))
    # integer floor division (r6 ADVICE): floor(x / y) in float64 can
    # shift the ceil-rank by 1 once rank_a*nb exceeds 2^53; `div` keeps
    # the type-1 quantile rescale exact at any scale (identical values
    # in the <2^53 range the gates exercise)
    src2 = src.join(F.broadcast(nbt), "band").withColumn(
        "rank_b",
        F.expr("CAST((rank_a * nb + na - 1) DIV na AS BIGINT)"))
    b_rows = ref.select("band", F.col("cum").alias("key"),
                        F.lit(0).alias("side"), "u",
                        F.lit(None).cast("double").alias("aval"),
                        F.lit(None).cast("long").alias("rank_a"),
                        F.lit(None).cast("long").alias("rank_b"))
    a_rows = src2.select("band", F.col("rank_b").alias("key"),
                         F.lit(1).alias("side"),
                         F.lit(None).cast("double").alias("u"),
                         F.col("val").alias("aval"), "rank_a", "rank_b")
    wm = Window.partitionBy("band") \
        .orderBy(F.col("key").desc(), F.col("side").asc()) \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    m = b_rows.unionByName(a_rows).withColumn("mu", F.min("u").over(wm))
    return (m.filter(F.col("side") == 1)
            .select(F.col("band").cast("int").alias("band"),
                    F.floor(F.col("aval") * F.lit(4.0) + F.lit(0.5))
                    .cast("long").alias("v4"),
                    "rank_a", "rank_b",
                    F.floor(F.col("mu") * F.lit(4.0) + F.lit(0.5))
                    .cast("long").alias("m4")))
