"""RegionGroup (raster connected components) over the distributed tile
table — GeoTrellis's ``RegionGroup``/``regionGroup`` op re-expressed for
Spark: label every 4-connected component of a boolean pixel mask with the
MIN global-pixel-id of the component, ACROSS tile boundaries.

Reference parity: GeoTrellis region grouping consumes exactly the tiled
layers the reference's RasterSources produce (RasterSourceSpec tiling);
the contrib tier owns the tiling plumbing this operator rides.

Spark-first two-phase plan (the classic distributed CC-on-raster shape):
  1. ``map_tiles`` (ZERO shuffle; :func:`k_region_scan`): per tile,
     evaluate the mask, run a vectorized in-tile min-label propagation
     (labels = global pixel ids, so local labels are globally unique AND
     order-stable), emit
       * per-label pixel counts, and
       * the mask pixels on the tile's 1-px border with their labels —
     the only data the merge needs. Shuffle volume is O(border), not
     O(pixels).
  2. Cross-tile equivalence edges from two small self-joins of the
     border set (right- and down-neighbor adjacency), then the engine's
     iterative ``connected_components`` (doubling min-label propagation)
     on the LABEL graph — whose size is O(regions touching borders),
     orders of magnitude below the pixel count at any scale.
Final labels re-join the per-tile counts (labels never in any edge keep
themselves — broadcast-size left join at the gate's scale).

Determinism contract (mirrored by the ``region_group`` SQL oracle —
change one only with the other): region_id = MIN(gr*NPX + gc) over the
component; all arithmetic is integer."""

from __future__ import annotations

from functools import partial
from typing import Callable

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from geotrellis_contrib_spark.operators.cluster import connected_components
from geotrellis_contrib_spark.operators.focal import _grid
from geotrellis_contrib_spark.operators.pixels import map_tiles, valid_px


def _local_labels(mask: np.ndarray, gp: np.ndarray) -> np.ndarray:
    """In-tile 4-connected min-label propagation: labels start as the
    global pixel id and flow until stable (diameter-bounded; vectorized
    shifts). Non-mask cells hold -1."""
    lab = np.where(mask, gp, np.iinfo(np.int64).max)
    while True:
        nxt = lab.copy()
        nxt[1:, :] = np.minimum(nxt[1:, :], lab[:-1, :])
        nxt[:-1, :] = np.minimum(nxt[:-1, :], lab[1:, :])
        nxt[:, 1:] = np.minimum(nxt[:, 1:], lab[:, :-1])
        nxt[:, :-1] = np.minimum(nxt[:, :-1], lab[:, 1:])
        nxt = np.where(mask, nxt, np.iinfo(np.int64).max)
        if np.array_equal(nxt, lab):
            break
        lab = nxt
    return np.where(mask, lab, -1)


def _border(t: int) -> np.ndarray:
    """The 1-px border cells of a t x t tile."""
    b = np.ones((t, t), dtype=bool)
    b[1:-1, 1:-1] = False
    return b


def _scan_mask(row: dict, predicate, t: int):
    """(mask, gr, gc) of one tile: ``predicate(values, gr, gc)`` on its
    valid pixels (float64 values)."""
    arr = row["px"].astype(np.float64)
    gr, gc = _grid(int(row["row"]) * t, int(row["col"]) * t, t, t)
    return predicate(arr, gr, gc) & valid_px(arr, row["nodata"]), gr, gc


def k_region_scan(row: dict, predicate, t: int, npx: int) -> list[dict]:
    """The zero-shuffle scan of :func:`region_stats`: the tile's mask
    labelled in-tile by global pixel id, one kind-0 row per label (count,
    in-tile adjacent pairs, bbox) and one kind-1 row per mask pixel on
    the tile's 1-px border."""
    mask, gr, gc = _scan_mask(row, predicate, t)
    if not mask.any():
        return []
    lab = _local_labels(mask, gr * npx + gc)
    out = []
    for lv in np.unique(lab[mask]):
        sel = lab == lv
        pairs = int((sel[:, :-1] & sel[:, 1:]).sum()
                    + (sel[:-1, :] & sel[1:, :]).sum())
        out.append({"kind": 0, "gr": int(gr[sel].min()),
                    "gc": int(gc[sel].min()), "gr2": int(gr[sel].max()),
                    "gc2": int(gc[sel].max()), "n": int(sel.sum()),
                    "pairs": pairs, "label": int(lv)})
    for rr, cc in zip(*np.nonzero(mask & _border(t))):
        out.append({"kind": 1, "gr": int(gr[rr, cc]), "gc": int(gc[rr, cc]),
                    "gr2": 0, "gc2": 0, "n": 0, "pairs": 0,
                    "label": int(lab[rr, cc])})
    return out


def _label_merge(tiles: DataFrame, border: DataFrame, t: int, npx: int):
    """The cross-tile label merge of :func:`region_stats` and
    ``vectorize.vectorize_regions``. ``border`` holds the scan's mask
    pixels on tile borders as (source_id, band, gr, gc, label). Returns
    (cross, root): ``cross`` = (source_id, band, label, label2), one row
    per 4-adjacent border-pixel pair that crosses a tile edge, and
    ``root(df, name="root")`` adds column ``name`` = the merged region
    id of each (source_id, band, label) row of ``df``.

    ONE join on the packed neighbor pixel id finds the pairs (a
    right-edge cell offers pk+1, a bottom-edge cell pk+npx; a 0-2
    element explode, not a right/down self-join pair). Labels are
    packed per (source, band) as (sidx*2 + band)*npx^2 + label for the
    engine's ``connected_components`` on the label graph; labels in no
    pair keep themselves."""
    pk = F.col("gr") * F.lit(npx) + F.col("gc")
    nbr = F.array_compact(F.array(
        F.when(((F.col("gc") + 1) % t == 0)
               & (F.col("gc") + 1 < npx), pk + 1),  # no row-wrap alias
        F.when((F.col("gr") + 1) % t == 0, pk + F.lit(npx))))
    b1 = border.select("source_id", "band", "label",
                       F.explode(nbr).alias("pk_nbr"))
    b2 = border.select(F.col("source_id").alias("source_id2"),
                       F.col("band").alias("band2"),
                       pk.alias("pk_b"), F.col("label").alias("label2"))
    cross = b1.join(
        b2, (F.col("source_id") == F.col("source_id2"))
        & (F.col("band") == F.col("band2"))
        & (F.col("pk_nbr") == F.col("pk_b"))) \
        .select("source_id", "band", "label", "label2")
    src_dim = (tiles.select("source_id").distinct()
               .withColumn("sidx", F.row_number().over(
                   Window.orderBy("source_id")) - 1))
    # python-computed 64-bit literal (npx**2 > int32: a lit*lit product
    # would constant-fold in 32-bit and overflow under ANSI mode)
    span = F.lit(int(npx) * int(npx))
    sbk = (F.col("sidx") * F.lit(2) + F.col("band"))
    enc = (cross.join(F.broadcast(src_dim), "source_id")
           .select((sbk * span + F.col("label")).alias("src"),
                   (sbk * span + F.col("label2")).alias("dst")))
    # no emptiness probe: connected_components' small-graph path is one
    # bounded-limit collect that handles the zero-edge case for free
    comp = connected_components(enc)
    dec = comp.select(
        F.floor(F.col("id") / span).alias("sbk"),
        (F.col("id") % span).alias("label"),
        (F.col("component") % span).alias("rt"))

    def root(df: DataFrame, name: str = "root") -> DataFrame:
        return (df.join(F.broadcast(src_dim), "source_id")
                .withColumn("sbk", sbk)
                .join(F.broadcast(dec), ["sbk", "label"], "left")
                .withColumn(name, F.coalesce("rt", "label")))

    return cross, root


def region_group(tiles: DataFrame,
                 predicate: Callable[[np.ndarray, np.ndarray, np.ndarray],
                                     np.ndarray],
                 tile_size: int = 64, npx: int = 1 << 22) -> DataFrame:
    """Group the 4-connected components of ``predicate(values, gr, gc) &
    valid`` across all tiles of each (source_id, band); returns
    ``(source_id, band, region_id, n_pixels)``.

    Implemented as the count projection of :func:`region_stats` — one
    machinery, two surfaces (the perimeter/bbox accumulators ride the
    same zero-shuffle scan for free, so there is nothing to save by
    duplicating the pipeline)."""
    return region_stats(tiles, predicate, tile_size=tile_size,
                        npx=npx).select("source_id", "band", "region_id",
                                        "n_pixels")


def region_stats(tiles: DataFrame,
                 predicate: Callable[[np.ndarray, np.ndarray, np.ndarray],
                                     np.ndarray],
                 tile_size: int = 64, npx: int = 1 << 22) -> DataFrame:
    """Vectorize-style per-region summary (the raster->vector sibling of
    ``region_group`` — GeoTrellis's vectorize/polygonal-summary shape):
    for every 4-connected component, its pixel count, PERIMETER (count
    of exposed cell edges — 4*n minus 2 per adjacent same-mask pair,
    computed without ever seeing the neighbor tile's interior) and
    global pixel bbox.

    Same two-phase scale plan as ``region_group``; the only additions
    are per-label in-tile stats (adjacent-pair count, bbox) in the
    zero-shuffle scan, and a count of CROSS-TILE adjacent pairs taken
    from the same boundary joins that drive the label merge (restricted
    to pairs that actually cross a tile edge: (gc+1) % t == 0 for
    right-pairs, (gr+1) % t == 0 for down-pairs).

    Returns (source_id, band, region_id, n_pixels, perimeter, gr_min,
    gr_max, gc_min, gc_max)."""
    t = int(tile_size)
    rows = map_tiles(
        tiles, partial(k_region_scan, predicate=predicate, t=t, npx=npx),
        "source_id string, band bigint, kind int, gr bigint, gc bigint, "
        "gr2 bigint, gc2 bigint, n bigint, pairs bigint, label bigint") \
        .localCheckpoint(eager=False)
    stats = rows.filter(F.col("kind") == 0) \
        .select("source_id", "band", "label", "n", "pairs",
                F.col("gr").alias("grmin"), F.col("gc").alias("gcmin"),
                F.col("gr2").alias("grmax"), F.col("gc2").alias("gcmax"))
    border = rows.filter(F.col("kind") == 1) \
        .select("source_id", "band", "gr", "gc", "label")

    cross, root = _label_merge(tiles, border, t, npx)
    merged = root(stats)
    # each cross pair belongs to exactly one merged region
    cp = root(cross)
    cross_per_root = cp.groupBy("source_id", "band", "root") \
        .agg(F.count(F.lit(1)).alias("xpairs"))

    agg = (merged.groupBy("source_id", "band",
                          F.col("root").alias("region_id"))
           .agg(F.sum("n").alias("n_pixels"),
                F.sum("pairs").alias("in_pairs"),
                F.min("grmin").alias("gr_min"),
                F.max("grmax").alias("gr_max"),
                F.min("gcmin").alias("gc_min"),
                F.max("gcmax").alias("gc_max")))
    agg = (agg.join(cross_per_root.withColumnRenamed("root", "region_id"),
                    ["source_id", "band", "region_id"], "left")
           .withColumn("xpairs", F.coalesce("xpairs", F.lit(0))))
    return agg.select(
        "source_id", "band", "region_id", "n_pixels",
        (F.lit(4) * F.col("n_pixels")
         - F.lit(2) * (F.col("in_pairs") + F.col("xpairs")))
        .alias("perimeter"),
        "gr_min", "gr_max", "gc_min", "gc_max")
