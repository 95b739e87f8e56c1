"""Viewshed (line-of-sight visibility) over the distributed tile table —
the GeoTrellis ``raster.viewshed`` R3 algorithm re-expressed for Spark:
for one observer per (source_id, band), a cell is visible iff its
elevation angle from the observer is >= the maximum angle of the
DDA-sampled cells along the sight line.

Viewshed has GLOBAL data dependency (any cell can occlude any ray), so
the honest Spark plan makes the (source, band) scene the parallel unit:
ONE ``groupBy(source_id, band)`` stage (``focal.scene_tiles``) assembles
the scene mosaic and runs a fully vectorized R3 sweep (k-step loop over numpy
arrays of all targets at once — no per-target Python loop). At 100 TB
the corpus is many scenes; each task holds one scene raster (bounded by
``max_radius`` cropping for larger-than-memory scenes, fail-loud here).

R3 sampling contract (mirrored by the ``viewshed`` SQL oracle — change
one only with the other):
  * n = max(|dgr|, |dgc|) steps; sample k in 1..n-1 at
    rr = floor(or + (k*dgr)/n + 0.5), cc = floor(oc + (k*dgc)/n + 0.5);
  * slope_k = (z[rr,cc] - zbase)/k with zbase = z[observer] + height —
    the common ray-length factor cancels, so per-step index k IS the
    distance denominator;
  * NoData samples are TRANSPARENT (skipped); NoData targets are not
    counted; n <= 1 targets (observer + 8-neighbors) are visible;
  * visible iff slope_target >= max_k slope_k (an occluder exactly on
    the sight line does not block).
Output: per-tile (source_id, band, col, row, n_visible, n_valid)."""

from __future__ import annotations

from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from geotrellis_contrib_spark.operators.focal import (
    _per_tile, _scene_small, scene_tiles)
from geotrellis_contrib_spark.operators.pixels import DTYPES, map_tiles, valid_px


def k_vs_scene(z, r0, c0, key, *, t, observer_fn, height, block_rows):
    """:func:`viewshed`'s scene kernel: the row-blocked vectorized R3
    sweep over the mosaic (per-task footprint = the z array + ~12
    block_rows*W temporaries), then the per-tile counts."""
    ogr, ogc = observer_fn(key["source_id"], key["band"])
    oy, ox = int(ogr) - r0 * t, int(ogc) - c0 * t
    if not (0 <= oy < z.shape[0] and 0 <= ox < z.shape[1]) \
            or np.isnan(z[oy, ox]):
        raise ValueError(f"observer ({ogr},{ogc}) invalid for "
                         f"{key['source_id']}/{key['band']}")
    zbase = z[oy, ox] + float(height)

    # Target-row BLOCKS bound peak memory to z + O(block*W): the
    # whole-grid sweep holds ~12 H*W float64 temporaries (3.2 GB at
    # max_px=4096), the blocked one z (one H*W array) + the same
    # dozen at block*W — so the scene guard is the z array, not the
    # sweep. Arithmetic per target is ELEMENTWISE identical to the
    # whole-grid form (broadcasting changes layout, not values), so
    # the SQL oracle and the block-size parity pytest both hold
    # bit-for-bit.
    valid = ~np.isnan(z)
    visible = np.empty(z.shape, dtype=bool)
    yy_all = np.arange(z.shape[0], dtype=np.float64)
    dgc_row = (np.arange(z.shape[1], dtype=np.float64) - ox)[None, :]
    blk = max(1, int(block_rows))
    for y0 in range(0, z.shape[0], blk):
        y1 = min(y0 + blk, z.shape[0])
        dgr = (yy_all[y0:y1, None] - oy) + np.zeros_like(dgc_row)
        dgc = dgc_row + np.zeros((y1 - y0, 1))
        n = np.maximum(np.abs(dgr), np.abs(dgc))
        n_safe = np.maximum(n, 1.0)
        ms = np.full(n.shape, -np.inf)
        for k in range(1, int(n.max()) if n.size else 1):
            act = n > k  # targets with an intermediate sample at k
            if not act.any():
                break
            kk = float(k)
            # floor in GLOBAL coordinates (exactly the oracle's
            # expression — a local-offset base could round a .5 tie
            # differently), then shift back by the integer origin
            rr = (np.floor(float(ogr) + (kk * dgr) / n_safe + 0.5)
                  .astype(np.int64) - r0 * t)
            cc = (np.floor(float(ogc) + (kk * dgc) / n_safe + 0.5)
                  .astype(np.int64) - c0 * t)
            # indices are only meaningful where act (k < n); clamp
            # the rest so the gather stays in bounds (masked below)
            zk = z[np.clip(rr, 0, z.shape[0] - 1),
                   np.clip(cc, 0, z.shape[1] - 1)]
            slope = (zk - zbase) / kk
            upd = act & ~np.isnan(zk)
            np.copyto(ms, np.maximum(ms, slope), where=upd)
        slope_t = (z[y0:y1] - zbase) / n_safe
        visible[y0:y1] = valid[y0:y1] & ((n <= 1.0) | (slope_t >= ms))

    return _per_tile(key, r0, c0, t, lambda sl: {
        "n_visible": int(visible[sl].sum()),
        "n_valid": int(valid[sl].sum())})


def _znorm(row: dict) -> np.ndarray:
    """A tile's pixels as float64, NaN on NoData."""
    a = row["px"].astype(np.float64)
    return np.where(valid_px(a, row["nodata"]), a, np.nan)


def k_vs_znorm(row: dict) -> dict:
    """A target tile's own z plane (kind 0) for the per-tile reduce of
    :func:`_vs_dist`."""
    return {"kind": 0, "px": _znorm(row)}


def k_vs_partial(row: dict, t: int, zbase: dict) -> dict | None:
    """Step 3 of :func:`_vs_dist` for one (sample tile X, target tile T)
    pair row: the max R3 slope of the samples that land in X, per target
    of T, as a kind-1 partial keyed by T; None when no sample lands."""
    ii, jj = (a.ravel().astype(np.float64) for a in np.indices((t, t)))
    koff = np.arange(t + 5, dtype=np.float64)[None, :]
    zx = _znorm(row)
    ogr, ogc = float(row["ogr"]), float(row["ogc"])
    zb = zbase[(row["source_id"], int(row["band"]))]
    tgr = int(row["trow"]) * t + ii
    tgc = int(row["tcol"]) * t + jj
    dgr = tgr - ogr
    dgc = tgc - ogc
    n = np.maximum(np.abs(dgr), np.abs(dgc))
    n_safe = np.maximum(n, 1.0)
    sr = dgr / n_safe
    sc = dgc / n_safe
    # closed-form k-window on the MAJOR axis (|s| == 1), then exact
    # floor checks on both axes
    xr0, xr1 = int(row["xrow"]) * t, int(row["xrow"]) * t + t - 1
    xc0, xc1 = int(row["xcol"]) * t, int(row["xcol"]) * t + t - 1
    maj_r = np.abs(dgr) >= np.abs(dgc)
    lo_r = np.where(sr > 0, (xr0 - ogr - 0.5) / np.where(
        sr == 0, 1, sr), (xr1 + 0.5 - ogr) / np.where(sr == 0, 1, sr))
    lo_c = np.where(sc > 0, (xc0 - ogc - 0.5) / np.where(
        sc == 0, 1, sc), (xc1 + 0.5 - ogc) / np.where(sc == 0, 1, sc))
    ka = np.where(maj_r, lo_r, lo_c)
    ka = np.floor(ka).astype(np.int64) - 2
    ka = np.maximum(ka, 1)
    ks = ka[:, None].astype(np.float64) + koff  # (N, t+5)
    act = ks <= (n[:, None] - 1.0)
    # EXACTLY the scene sweep's expression, association and all:
    # floor(ogr + (k*dgr)/n + 0.5) — k*(dgr/n) could round differently
    # and break bit parity
    rr = np.floor(ogr + (ks * dgr[:, None]) / n_safe[:, None] + 0.5)
    cc = np.floor(ogc + (ks * dgc[:, None]) / n_safe[:, None] + 0.5)
    inx = (act & (rr >= xr0) & (rr <= xr1) & (cc >= xc0) & (cc <= xc1))
    if not inx.any():
        return None
    zi = zx[np.clip(rr - xr0, 0, t - 1).astype(np.int64),
            np.clip(cc - xc0, 0, t - 1).astype(np.int64)]
    with np.errstate(invalid="ignore", divide="ignore"):
        slope = (zi - zb) / ks
    slope = np.where(inx & ~np.isnan(zi), slope, -np.inf)
    ms = slope.max(axis=1)
    if not np.isfinite(ms).any():
        return None
    return {"col": int(row["tcol"]), "row": int(row["trow"]), "kind": 1,
            "px": ms.reshape(t, t)}


def _vs_dist(tiles: DataFrame, observer_fn, height: float,
             tile_size: int) -> DataFrame:
    """Distributed R3 viewshed (NO scene-size bound): the sample-index
    decomposition. Each R3 sample k of a target's sight line lands in
    exactly ONE tile (the floor is in global coordinates), so the
    per-target max slope decomposes into per-(sample-tile X, target-tile
    T) partial maxima reduced by an order-free elementwise max:

    1. One bounded collect reads each scene's observer tile (zbase =
       z[obs] + height) — #scenes rows, the dimension every
       spatio-global op needs.
    2. Tile-KEY pairs (X, T) of the same scene are enumerated JVM-side
       and pruned by the observer->T cone bbox (+1 px rounding slack) —
       a conservative superset; each ray crosses O(sqrt(tiles)) tiles,
       so surviving pairs are ~m*sqrt(m) per m-tile scene, and only
       X's 32 KB z blob rides the pair row (T sends no pixels).
    3. Per pair, the k-window with samples inside X is bounded by
       t+1 indices (the major axis advances one cell per k), solved in
       closed form with slack then EXACT-checked with the scene sweep's
       own floor expression; partial max slopes for T's 4096 targets
       pack into one float64 blob.
    4. groupBy(T) reduces partials elementwise (max is associative and
       commutative — bit-exact under any order) against T's own z for
       target slopes/validity; n <= 1 targets are visible.

    Bit-identical to the scene sweep (pytest parity): same global-floor
    sample rule, same transparent-NoData rule, same >= comparison."""
    from pyspark.sql import functions as F

    t = int(tile_size)

    # Materialize the tile table ONCE (r7): this function scans it five
    # times (scene collect, observer-tile collect, key enumeration, X
    # pixel attach, znorm) — against a lazy source each scan re-runs the
    # upstream plan; one localCheckpoint makes the four later scans read
    # the stored partitions instead.
    tiles = tiles.localCheckpoint(eager=True)

    # --- 1. observer table (bounded: one row per scene/band) ----------
    scenes = [(r.source_id, int(r.band))
              for r in tiles.select("source_id", "band")
                            .distinct().collect()]
    obs = {}
    for sid, band in scenes:
        ogr, ogc = observer_fn(sid, band)
        obs[(sid, band)] = (int(ogr), int(ogc))
    obs_rows = [(sid, band, gr, gc, gr // t, gc // t)
                for (sid, band), (gr, gc) in obs.items()]
    spark = tiles.sparkSession
    obs_df = spark.createDataFrame(
        obs_rows, "source_id string, band int, ogr bigint, ogc bigint, "
                  "orow bigint, ocol bigint")
    otiles = tiles.alias("t").join(
        F.broadcast(obs_df).alias("o"),
        on=[F.col("t.source_id") == F.col("o.source_id"),
            F.col("t.band") == F.col("o.band"),
            F.col("t.col") == F.col("o.ocol"),
            F.col("t.row") == F.col("o.orow")], how="inner") \
        .select("t.source_id", "t.band", "t.col", "t.row", "t.px",
                "t.dtype", "t.nodata", "o.ogr", "o.ogc").collect()
    zbase = {}
    for r in otiles:
        arr = np.frombuffer(r.px, dtype=DTYPES[r.dtype]) \
                .reshape(t, t).astype(np.float64)
        zv = arr[int(r.ogr) - int(r.row) * t, int(r.ogc) - int(r.col) * t]
        if not valid_px(zv, r.nodata):
            raise ValueError(f"observer ({r.ogr},{r.ogc}) invalid for "
                             f"{r.source_id}/{r.band}")
        zbase[(r.source_id, int(r.band))] = float(zv) + float(height)
    for key in obs:
        if key not in zbase:
            raise ValueError(f"observer tile missing for {key}")

    # --- 2. (X, T) pair enumeration on tile KEYS ----------------------
    keys = tiles.select("source_id", "band", "col", "row").join(
        F.broadcast(obs_df), ["source_id", "band"])
    tk = keys.select("source_id", "band", "ogr", "ogc",
                     F.col("col").alias("tcol"), F.col("row").alias("trow"))
    xk = keys.select("source_id", "band",
                     F.col("col").alias("xcol"), F.col("row").alias("xrow"))
    # cone bbox (observer point + T's pixel square) with 1 px slack:
    # every R3 sample point sits within 0.5 px of the ideal segment
    rmin = F.least(F.col("ogr"), F.col("trow") * t) - F.lit(1)
    rmax = F.greatest(F.col("ogr") + 1, (F.col("trow") + 1) * t) + F.lit(1)
    cmin = F.least(F.col("ogc"), F.col("tcol") * t) - F.lit(1)
    cmax = F.greatest(F.col("ogc") + 1, (F.col("tcol") + 1) * t) + F.lit(1)
    pairs = tk.join(xk, ["source_id", "band"]) \
        .filter((F.col("xrow") * t < rmax) & ((F.col("xrow") + 1) * t > rmin)
                & (F.col("xcol") * t < cmax)
                & ((F.col("xcol") + 1) * t > cmin))
    # attach ONLY X's pixels (T sends none)
    pairs = pairs.join(
        tiles.select("source_id", "band", F.col("col").alias("xcol"),
                     F.col("row").alias("xrow"), "px", "dtype", "nodata"),
        ["source_id", "band", "xcol", "xrow"])

    part_schema = ("source_id string, band int, col bigint, row bigint, "
                   "kind int, px binary")

    # --- 3. per-pair partial max slopes --------------------------------
    # The pair table is ~1k rows carrying one 32 KB blob each — byte-based
    # AQE folds it into 1-2 partitions and the whole k-sweep runs on one
    # core; spread it to the session parallelism first (r7).
    from geotrellis_contrib_spark.util import compute_grouped, compute_spread

    partials = map_tiles(compute_spread(pairs),
                         partial(k_vs_partial, t=t, zbase=zbase), part_schema)

    # --- 4. reduce per target tile -------------------------------------
    zt = map_tiles(tiles, k_vs_znorm, part_schema)
    allp = zt.unionByName(partials)

    def reduce_tile(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        source_id, band, col, row = key[0], int(key[1]), int(key[2]), \
            int(key[3])
        cols = ["source_id", "band", "col", "row", "n_visible", "n_valid"]
        z = None
        ms = np.full((t, t), -np.inf)
        for r in pdf.itertuples(index=False):
            a = np.frombuffer(r.px, dtype=np.float64).reshape(t, t)
            if int(r.kind) == 0:
                z = a
            else:
                ms = np.maximum(ms, a)
        if z is None:  # partial rows for a tile that does not exist
            return pd.DataFrame(columns=cols)
        ogr, ogc = obs[(source_id, band)]
        zb = zbase[(source_id, band)]
        ii, jj = np.meshgrid(np.arange(t), np.arange(t), indexing="ij")
        dgr = (row * t + ii) - ogr
        dgc = (col * t + jj) - ogc
        n = np.maximum(np.abs(dgr), np.abs(dgc)).astype(np.float64)
        n_safe = np.maximum(n, 1.0)
        valid = ~np.isnan(z)
        with np.errstate(invalid="ignore"):
            slope_t = (z - zb) / n_safe
            visible = valid & ((n <= 1.0) | (slope_t >= ms))
        return pd.DataFrame([{
            "source_id": source_id, "band": band, "col": col, "row": row,
            "n_visible": int(visible.sum()), "n_valid": int(valid.sum())}])

    return compute_grouped(allp, "source_id", "band", "col", "row") \
        .applyInPandas(
            reduce_tile, "source_id string, band int, col bigint, "
                         "row bigint, n_visible bigint, n_valid bigint")


def viewshed(tiles: DataFrame, observer_fn, height: float = 2.0,
             tile_size: int = 64, max_px: int = 1 << 12,
             block_rows: int = 256) -> DataFrame:
    """``observer_fn(source_id, band) -> (gr, gc)`` global observer cell
    per scene/band (must be a valid cell).

    Adaptive strategy (NO scene-size refusal anywhere): scenes fitting
    ``max_px`` on a side run the one-task row-blocked R3 sweep
    (``k_vs_scene`` on :func:`focal.scene_tiles`); larger
    scenes take the distributed sample-index decomposition (`_vs_dist`
    — per-(sample-tile, target-tile) partial maxima, order-free
    elementwise max reduce). ``max_px=0`` forces distributed. Both paths
    are bit-identical (pytest parity). R3 stays O(N*sqrt(N)) compute
    total; the distributed path spreads it as ~m*sqrt(m) bounded pair
    tasks per m-tile scene instead of one scene task."""
    t = int(tile_size)
    if _scene_small(tiles, t, max_px):
        return scene_tiles(
            tiles, t, max_px,
            partial(k_vs_scene, t=t, observer_fn=observer_fn,
                    height=height, block_rows=block_rows),
            "source_id string, band int, col bigint, row bigint, "
            "n_visible bigint, n_valid bigint")
    return _vs_dist(tiles, observer_fn, height, t)
