"""Driver contract for the spark-graft builder (PySpark target).

Engine queries are DataFrame-API plans from ``geotrellis_contrib_spark``;
oracles are independent ANSI-SQL recomputations DuckDB runs over the same
parquet + the shared derivations in ``geotrellis_contrib_spark.derive``
(the dual-execution pattern of the reference's PostgisSpec.scala:174-188).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geotrellis_contrib_spark import derive
from geotrellis_contrib_spark.functions import cells as C
from geotrellis_contrib_spark.functions import text as TXT
from geotrellis_contrib_spark.operators import dedup as dd
from geotrellis_contrib_spark.operators import knn as knn_ops
from geotrellis_contrib_spark.operators import raster as raster_ops
from geotrellis_contrib_spark.operators import similarity as sim
from geotrellis_contrib_spark.operators import spatial_join as sj
from geotrellis_contrib_spark.operators import tiling

DIST_RADIUS = 0.5
KNN_K = 5
KNN_ZOOM = 6  # cell ~5.6 deg >> any hot-cluster kth distance -> ring 1 exact
TILE_ZOOMS = [8, 10, 12]
TILES_ZOOM = 6
RASTERIZE_ZOOM = 10


def _views(spark: SparkSession, sf_dir: str) -> None:
    derive.register_views(spark, sf_dir)


# --------------------------------------------------------------------------
# engine queries (Spark DataFrame API)
# --------------------------------------------------------------------------

def q_cell_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor points -> SpatialKey + packed cell id at zoom 12 (hot path:
    pure JVM arithmetic, one narrow stage; SURVEY.md §3.3)."""
    _views(spark, sf_dir)
    a = spark.table("anchors").filter(F.col("lon").isNotNull())
    return a.select(
        "doc_id",
        C.tile_col(F.col("lon"), 12).alias("col12"),
        C.tile_row(F.col("lat"), 12).alias("row12"),
        C.cell_id(F.lit(12), C.tile_col(F.col("lon"), 12), C.tile_row(F.col("lat"), 12)).alias("cell12"),
    )


def q_tile_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """media_ref -> SpatialKey(zoom, col, row) at 3 pyramid levels — the
    LayoutTileSource path (GeotrellisRasterSourceBench.scala:32-43)."""
    _views(spark, sf_dir)
    m = spark.table("media")
    out = tiling.assign_tiles(m, TILE_ZOOMS)
    return out.select("doc_id", "media_ref", "zoom", "col", "row", "cell_id")


def q_pip_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-polygon join: anchors x polygon boxes (broadcast cover-cell
    equi-join + exact half-open refine; SURVEY.md §2.3)."""
    _views(spark, sf_dir)
    out = sj.pip_join_boxes(spark.table("anchors"), spark.table("polygon_boxes"), zoom=6)
    return out.select("doc_id", "poly_id")


# Arbitrary-WKB polygon fixtures over the hot cluster: a CONCAVE L-shape
# and a DONUT (square exterior + square hole) — the two shapes a
# rectangle-only gate can't distinguish from bbox containment. Vertices are
# exact-decimal literals shared verbatim with the DuckDB oracle; the
# reference's semantics oracle is polygon containment
# (slick/src/test/scala/geotrellis/slick/PostgisSpec.scala:161-170).
PIP_WKB_POLYS = {
    "poly-L": [[(-74.25, 40.45), (-73.95, 40.45), (-73.95, 40.65),
                (-74.10, 40.65), (-74.10, 40.85), (-74.25, 40.85),
                (-74.25, 40.45)]],
    # donut placed on the anchors' congruential lattice so BOTH semantics
    # bite at sf0.01: ~74 anchors in the ring, ~32 excluded by the hole
    "poly-D": [[(-74.22, 40.50), (-73.96, 40.50), (-73.96, 40.93),
                (-74.22, 40.93), (-74.22, 40.50)],
               [(-74.16, 40.60), (-74.10, 40.60), (-74.10, 40.85),
                (-74.16, 40.85), (-74.16, 40.60)]],
}
PIP_WKB_ZOOM = 7


def q_pip_join_wkb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIP join against ARBITRARY WKB polygons (holes + concavity) under
    the value gate: the 30 region/nation boxes as real 5-point WKB rings
    (via box_to_wkb) plus the concave-L and donut fixtures, through the
    exact-cover cell join (grid.keys_for_polygon) and the Arrow-vectorized
    crossing-number refine (operators/spatial_join.py:87-124, geom.py:299).
    Oracle: the SAME crossing-parity arithmetic per (point, ring) edge set
    in SQL — inside = odd exterior parity AND even parity for every hole."""
    from geotrellis_contrib_spark import geom as GM
    from geotrellis_contrib_spark.functions import geometry as G
    _views(spark, sf_dir)
    boxes = spark.table("polygon_boxes")
    rect = boxes.withColumn("wkb", G.box_to_wkb(
        F.col("xmin"), F.col("ymin"), F.col("xmax"), F.col("ymax"))) \
        .select("poly_id", "wkb")
    # fixture rows as pure-JVM literals (array+explode over range(1)):
    # createDataFrame would plan a 32-partition Python RDD whose near-empty
    # partitions each pay an Arrow-stage worker round-trip inside the
    # broadcast build (measured: ~8s of the query's first-run cost)
    fix = spark.range(1).select(F.explode(F.array(*[
        F.struct(F.lit(pid).alias("poly_id"),
                 F.lit(bytes(GM.wkb_encode(GM.WKB_POLYGON, rings))).alias("wkb"))
        for pid, rings in PIP_WKB_POLYS.items()])).alias("s")).select("s.*")
    polys = rect.unionByName(fix)
    return sj.pip_join_wkb(spark.table("anchors"), polys,
                           zoom=PIP_WKB_ZOOM).select("doc_id", "poly_id")


def q_distance_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distance theta self-join (< 0.5 deg), cell-ring equi-join + exact
    refine (reference semantics PostgisSpec.scala:174-188)."""
    _views(spark, sf_dir)
    a = spark.table("anchors").select("doc_id", "lon", "lat")
    pairs = sj.distance_join(a, a, DIST_RADIUS)
    return (pairs.filter(F.col("a_doc_id") < F.col("b_doc_id"))
            .select(F.col("a_doc_id").alias("doc_a"),
                    F.col("b_doc_id").alias("doc_b"),
                    F.col("dist"),
                    F.floor(F.col("dist") * 10000.0 + 0.5).alias("dist_e4")))


def q_pip_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-large PIP join through the EXPLICIT skew machinery (the
    north_star skew path): sampled per-cell histogram -> adaptive conjugate
    salting -> SHUFFLED equi-join on the salted packed key (no broadcast;
    the hot cluster puts ~30% of anchors in one zoom-6 cell, which an
    unsalted shuffle would hand to a single task). Output rows are
    identical to pip_join — the oracle is the same SQL."""
    from geotrellis_contrib_spark.functions import geometry as G
    from geotrellis_contrib_spark.operators import skew
    _views(spark, sf_dir)
    a = (spark.table("anchors")
         .filter(F.col("lon").isNotNull())
         .withColumn("cell", C.encode_point(F.col("lon"), F.col("lat"), 6)))
    cov = sj.with_cover_cells(spark.table("polygon_boxes"), 6) \
            .drop("cell_col", "cell_row")
    hist = skew.cell_histogram(a, sample_frac=0.2, seed=7)
    # rows_per_task sized so the hot cell salts even at test SF (the 100TB
    # deployment value is ~2M; the mechanism is identical)
    salts = skew.plan_salts(hist, rows_per_task=100)
    joined = skew.salted_join(a, cov, salts, row_key="doc_id",
                              broadcast_dim=False)
    refined = joined.filter(
        G.point_in_box(F.col("lon"), F.col("lat"),
                       F.col("xmin"), F.col("ymin"), F.col("xmax"), F.col("ymax")))
    return refined.select("doc_id", "poly_id")


# planted skew-stress corpus: 90% of points land in ONE zoom-6 cell (the
# corpus's organic hot cluster is ~30%; this is the adversarial case)
HOT_N = 200_000
HOT_PARTS = 32


def _hot_anchors(spark: SparkSession) -> DataFrame:
    """Deterministic 90%-hot-cell point set, closed-form in the row id so
    the oracle regenerates it exactly (op order mirrored in SQL)."""
    hot = F.pmod(F.col("id"), F.lit(10)) < 9
    u1 = F.pmod(F.col("id") * 9973 + 12345, F.lit(100000)).cast("double") / 100000.0
    u2 = F.pmod(F.col("id") * 7919 + 54321, F.lit(100000)).cast("double") / 100000.0
    return spark.range(0, HOT_N, 1, HOT_PARTS).select(
        F.col("id").alias("doc_id"),
        F.when(hot, -74.2 + u1 * 0.4).otherwise(-180.0 + u1 * 360.0).alias("lon"),
        F.when(hot, 40.5 + u2 * 0.4).otherwise(-60.0 + u2 * 120.0).alias("lat"))


def q_pip_join_hot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adversarial skew gate: the salted large-large PIP join over a
    planted corpus with 90% of points in ONE zoom-6 cell — an unsalted
    shuffle would hand 180k of 200k rows to a single task; the adaptive
    conjugate salting (histogram -> per-cell salt factor -> packed
    single-long key) spreads the hot cell across ~90 tasks (task-spread
    bound asserted by tests/test_skew.py; numbers in BENCH.md). Output is
    the per-polygon count + id-sum checksum of the identical join result
    the plain SQL oracle computes."""
    from geotrellis_contrib_spark.functions import geometry as G
    from geotrellis_contrib_spark.operators import skew
    _views(spark, sf_dir)
    a = _hot_anchors(spark) \
        .withColumn("cell", C.encode_point(F.col("lon"), F.col("lat"), 6))
    cov = sj.with_cover_cells(spark.table("polygon_boxes"), 6) \
            .drop("cell_col", "cell_row")
    hist = skew.cell_histogram(a, sample_frac=0.05, seed=7)
    salts = skew.plan_salts(hist, rows_per_task=2000)
    joined = skew.salted_join(a, cov, salts, row_key="doc_id",
                              broadcast_dim=False)
    refined = joined.filter(
        G.point_in_box(F.col("lon"), F.col("lat"),
                       F.col("xmin"), F.col("ymin"), F.col("xmax"), F.col("ymax")))
    return refined.groupBy("poly_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("doc_id").alias("id_sum"))


def q_haversine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spherical distance theta-join: hot-cluster anchor pairs within 10 km
    great-circle distance (haversine refine after the cell-ring join)."""
    _views(spark, sf_dir)
    from geotrellis_contrib_spark.functions import geometry as G
    hot = (spark.table("anchors")
           .filter(F.col("lon").isNotNull()
                   & (F.col("lon") >= -74.25) & (F.col("lon") < -73.75)
                   & (F.col("lat") >= 40.45) & (F.col("lat") < 40.95))
           .select("doc_id", "lon", "lat"))
    # 10 km ~ 0.09 deg: ring join at a fine zoom, spherical refine
    pairs = sj.distance_join(hot, hot, radius=0.2, zoom=11)
    d = G.haversine_m(F.col("a_lon"), F.col("a_lat"), F.col("b_lon"), F.col("b_lat"))
    return (pairs.filter(F.col("a_doc_id") < F.col("b_doc_id"))
            .withColumn("dist_m", d)
            .filter(F.col("dist_m") < 10000.0)
            .select(F.col("a_doc_id").alias("doc_a"),
                    F.col("b_doc_id").alias("doc_b"),
                    F.floor(F.col("dist_m")).alias("dist_m_floor")))


def q_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k=5 nearest anchors per query point: ring-1 candidates at zoom 6 +
    exact re-rank. Exact here because the hot cluster guarantees the 5th
    neighbor is far inside one 5.6-deg cell (see operators.knn docstring)."""
    _views(spark, sf_dir)
    out = knn_ops.knn_join(spark.table("query_points"), spark.table("anchors"),
                           k=KNN_K, zoom=KNN_ZOOM, ring=1)
    return out.select("query_id", "point_id", F.col("rank").cast("int").alias("rank"), "dist")


KNN_EXACT_ZOOM = 8
KNN_EXACT_K = 3


def q_knn_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact kNN for ANY distribution in ONE plan (knn_join_exact):
    world-spread sparse queries (every 199th anchor — ocean/desert rows
    force ring widening at zoom 8, where one cell is ~1.4 deg); each
    query's required ring is solved in closed form from its ring-1 kth
    distance, so there is no per-ring driver loop (r2's iterative variant
    serialized 3-5 full-job rounds). Oracle: the naive cross-join re-rank."""
    _views(spark, sf_dir)
    a = spark.table("anchors").select("doc_id", "lon", "lat")
    queries = (a.filter(F.col("lon").isNotNull() & (F.col("doc_id") % 199 == 3))
               .select(F.col("doc_id").alias("query_id"),
                       F.col("lon").alias("qlon"), F.col("lat").alias("qlat")))
    out = knn_ops.knn_join_exact(queries, a, k=KNN_EXACT_K,
                                 zoom=KNN_EXACT_ZOOM, max_ring=64)
    return out.select("query_id", "point_id",
                      F.col("rank").cast("int").alias("rank"), "dist")


def q_zonal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster->vector: tile stats per polygon (BASELINE north_star path)."""
    _views(spark, sf_dir)
    out = raster_ops.zonal_stats(spark.table("tiles"), spark.table("polygon_boxes"))
    return out.select("poly_id", "band", "cnt", "sum_val", "min_val", "max_val", "mean_val")


def q_rasterize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector->raster: burn anchor points into zoom-10 tiles (count + weight
    sum; map-side partial agg)."""
    _views(spark, sf_dir)
    pts = spark.table("anchors").withColumn("w", F.col("doc_id") % 256)
    out = raster_ops.rasterize_points(pts, RASTERIZE_ZOOM, weight="w")
    return out.select("col", "row", "n_points", "sum_weight")


def q_line_burn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINESTRING rasterization (Rasterizer.foreachCellByLineString —
    vector->raster for LINE geometries, closing the rasterize family
    alongside points and polygons): anchors grouped into 64 linestrings
    (line_id = doc_id % 64, vertices ordered by doc_id — a partitioned
    window, never a global sort), consecutive vertices become segments,
    and every zoom-5 global-pixel cell a segment passes through is
    burned by the pure-JVM supercover traversal (two bounded explodes,
    zero Python). Per tile: burned (line, cell) pairs + distinct burned
    cells. Oracle: the SAME column-walk recomputed in SQL — identical
    gpix twins and identical float expression order, so every floor()
    agrees bit-for-bit; generate_series replays both explodes."""
    from pyspark.sql import Window

    from geotrellis_contrib_spark.operators import pixels as px

    _views(spark, sf_dir)
    a = spark.table("anchors").filter(F.col("lon").isNotNull()
                                      & F.col("lat").isNotNull())
    w = Window.partitionBy(F.col("doc_id") % 64).orderBy("doc_id")
    segs = (a.select((F.col("doc_id") % 64).alias("line_id"),
                     F.col("lon").alias("x0"), F.col("lat").alias("y0"),
                     F.lead("lon").over(w).alias("x1"),
                     F.lead("lat").over(w).alias("y1"))
             .filter(F.col("x1").isNotNull()))
    cells = px.rasterize_lines(segs, zoom=5, tile_size=64)
    # r7 aggregation shape (guide §2.3 "aggregate before you shuffle"):
    # line_id = doc_id % 64 lives in [0, 64) BY CONSTRUCTION, so the
    # per-cell distinct-line set is exactly a 64-bit BITMASK — the ~4.5M
    # burned (line, cell) rows collapse map-side via bit_or partial
    # aggregation and ONE exchange carries one (cell, mask) row per
    # distinct cell per map partition (the r6 shape shuffled all 4.5M
    # packed longs through a dedup exchange first: 5.1s -> 3.0s warm).
    # n_hits = sum of per-cell popcounts (== distinct-line counts),
    # n_cells = per-cell row count — same values, same output types.
    per_cell = (cells.groupBy((F.col("cx") * F.lit(1 << 11)
                               + F.col("cy")).alias("cell"))
                .agg(F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), "
                            "CAST(line_id AS INT)))").alias("m")))
    return (per_cell.groupBy(
                F.shiftright("cell", 17).alias("col"),
                F.shiftright(F.col("cell").bitwiseAND(F.lit(2047)), 6)
                 .alias("row"))
            .agg(F.coalesce(F.sum(F.bit_count("m")), F.lit(0))
                 .cast("long").alias("n_hits"),
                 F.count(F.lit(1)).alias("n_cells")))


def q_kernel_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KERNEL DENSITY (GeoTrellis raster.density.KernelDensity — the
    kernel-stamped vector->raster path): every anchor stamps a triangle
    kernel (R = 4 px) in continuous zoom-6 global pixel space; per-pixel
    density = order-independent integer sum of quantized contributions
    (floor(w*2^20+0.5)); per-tile (density_sum, n_nonzero) over tiles
    with positive totals. Scale plan: bounded <=2x2 tile replication
    JVM-side, ONE shuffle, vectorized stamps. Oracle: the same per-
    (pixel, point) contribution recomputed in SQL over a bounded offset
    range, grouped per pixel then per tile."""
    from geotrellis_contrib_spark.operators import pixels as px

    _views(spark, sf_dir)
    out = px.kernel_density(spark.table("anchors"), zoom=6, radius_px=4.0,
                            tile_size=64)
    return out.select("zoom", "col", "row", "density_sum", "n_nonzero")


def q_mosaic_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mosaic merge: same-key tiles from 3 sources, first non-NoData wins,
    deterministic left bias (MosaicRasterSource.scala:121-131)."""
    _views(spark, sf_dir)
    out = raster_ops.mosaic_merge(spark.table("tiles"))
    return out.select("zoom", "col", "row", "band", "val", "source_idx")


def q_windows_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched multi-window read: windows x tiles covering-key join,
    aggregated per window (GeoTiffRasterSource.scala:99-110 semantics —
    disjoint windows prune out)."""
    _views(spark, sf_dir)
    joined = tiling.windows_tiles_join(spark.table("windows"), spark.table("tiles"), TILES_ZOOM)
    return (joined.groupBy("win_id")
            .agg(F.count("*").alias("n_tiles"), F.sum("val").alias("sum_val")))


def q_windows_read_multizoom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched multi-window read over a MULTI-ZOOM tile table (zoom-6 base
    + synthesized zoom-5 parent rows): the join filters the tile side to
    the request zoom, so pyramid levels sharing the table can't alias
    packed keys (ADVICE r1 regression guard). Result == windows_read; the
    oracle is the same SQL over the single-zoom view."""
    _views(spark, sf_dir)
    t = spark.table("tiles").select("zoom", "col", "row", "band", "val")
    parents = t.select(
        F.lit(5).alias("zoom"),
        F.floor(F.col("col") / 2.0).cast("bigint").alias("col"),
        F.floor(F.col("row") / 2.0).cast("bigint").alias("row"),
        "band", "val")
    multi = t.unionByName(parents)
    joined = tiling.windows_tiles_join(spark.table("windows"), multi, TILES_ZOOM)
    return (joined.groupBy("win_id")
            .agg(F.count("*").alias("n_tiles"), F.sum("val").alias("sum_val")))


# global-pixel window for the pixel-bounds read (crosses tile boundaries,
# crops edge tiles; tile (col,row) covers pixels [col*64,(col+1)*64))
WINPX = (1200, 1560, 1362, 1700)


def q_window_read_px(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed pixel read by PIXEL BOUNDS — the reference's read(bounds)
    contract (RasterSourceF.scala:100-112): key-range-pruned scan + one
    mapInPandas crop; edge tiles crop to the window, disjoint tiles drop.
    Output: per emitted window, its placement + exact pixel checksum.
    Oracle: the fixture arithmetic filtered to the global pixel window."""
    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark.operators import pixels as px

    tiles = corpus_mod.synth_px_tiles(spark, tile_size=64)
    win = px.read_window(tiles, WINPX, tile_size=64)
    return px.window_stats(
        win, keys=("source_id", "band", "px_col_min", "px_row_min", "h", "w")) \
        .select("source_id", "band", "px_col_min", "px_row_min", "h", "w",
                "px_sum", "px_count")


def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) sorted write layout under the oracle gate: anchors
    keyed at zoom 12, morton-interleaved, ranked WITHIN their zoom-6
    parent cell (the range-partition bucket) — the locality-preserving
    (cell, morton) layout a 100TB tile/doc table is written in (scan
    pruning + neighbor locality). Rank is per-bucket, so the sort is a
    per-partition sort at scale, never a global one. Oracle: identical
    bit-spreading arithmetic in DuckDB (<< / & / |) + the same window."""
    _views(spark, sf_dir)
    a = spark.table("anchors").filter(F.col("lon").isNotNull())
    from pyspark.sql import Window as W
    a = (a.select("doc_id",
                  C.tile_col(F.col("lon"), 12).alias("col12"),
                  C.tile_row(F.col("lat"), 12).alias("row12"),
                  C.tile_col(F.col("lon"), 6).alias("c6"),
                  C.tile_row(F.col("lat"), 6).alias("r6"))
         .withColumn("morton", C.morton_code("col12", "row12"))
         .withColumn("bucket", C.cell_id(F.lit(6), F.col("c6"), F.col("r6"))))
    w = W.partitionBy("bucket").orderBy("morton", "doc_id")
    return a.select("doc_id", "bucket", "morton",
                    F.row_number().over(w).alias("zrank"))


def q_spacetime_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPACE-TIME key layout (GeoTrellis SpaceTimeKey + the Z3 curve,
    store.index.zcurve.Z3: z = spread(x) | spread(y)<<1 | spread(t)<<2 —
    the temporal-layer layout the reference's catalog tier indexes by):
    events located at their user's anchor (a broadcast dimension join —
    the locate-enrichment every spatio-temporal fact table needs), keyed
    (col12, row12, epoch-day) and Z3-interleaved, then ranked WITHIN
    their (zoom-6 cell, week) bucket — a per-partition sort at scale,
    never global (zorder_layout's discipline extended by the time axis).
    Day bins come from DATE arithmetic (datediff), not epoch seconds, so
    sub-second timestamp semantics can't skew the bin edge. Oracle:
    identical bit-spreading arithmetic in DuckDB + the same window."""
    from pyspark.sql import Window as W

    _views(spark, sf_dir)
    e = spark.table("events")
    a = spark.table("anchors").filter(F.col("lon").isNotNull())
    j = e.join(F.broadcast(a), e.user_id == a.doc_id)
    k = (j.select(
            "event_id",
            C.tile_col(F.col("lon"), 12).alias("col12"),
            C.tile_row(F.col("lat"), 12).alias("row12"),
            C.tile_col(F.col("lon"), 6).alias("c6"),
            C.tile_row(F.col("lat"), 6).alias("r6"),
            F.datediff(F.to_date("ts"),
                       F.to_date(F.lit("1970-01-01"))).alias("tbin"))
         .withColumn("z3", C.morton3_code("col12", "row12", "tbin"))
         .withColumn("bucket", C.cell_id(F.lit(6), F.col("c6"),
                                         F.col("r6")))
         .withColumn("tweek", F.floor(F.col("tbin") / F.lit(7))
                               .cast("long")))
    w = W.partitionBy("bucket", "tweek").orderBy("z3", "event_id")
    return k.select("event_id", "bucket", "tweek", "z3",
                    F.row_number().over(w).alias("strank"))


def q_pyramid_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the zoom-5 overview level from zoom-6 tiles (2x2 fold —
    pyramid-as-materialized-aggregate, SURVEY.md §2.4 overview selection)."""
    _views(spark, sf_dir)
    return raster_ops.build_pyramid_level(spark.table("tiles"))


def q_bbox_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bbox-overlap select (`geom @&& bbox`, PostgisSpec.scala:161-170):
    anchors inside the hot-cluster box, half-open semantics."""
    _views(spark, sf_dir)
    from geotrellis_contrib_spark.functions import geometry as G
    a = spark.table("anchors")
    return a.filter(F.col("lon").isNotNull()
                    & G.point_in_box(F.col("lon"), F.col("lat"),
                                     F.lit(-74.25), F.lit(40.45),
                                     F.lit(-73.75), F.lit(40.95))) \
            .select("doc_id", "lon", "lat")


def q_poly_lang_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composition: spatial join output joined back to document attributes —
    doc counts per (polygon, language), plus the docs with NO geometry
    handled by the isNull path (Option[Point] analog)."""
    _views(spark, sf_dir)
    hits = sj.pip_join_boxes(spark.table("anchors"), spark.table("polygon_boxes"), zoom=6) \
             .select("doc_id", "poly_id")
    docs = spark.table("documents").select("doc_id", "lang")
    return (hits.join(docs, "doc_id")
            .groupBy("poly_id", "lang")
            .agg(F.count("*").alias("n_docs"),
                 F.countDistinct("doc_id").alias("n_distinct_docs")))


def q_cell_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median/p90 of tile values per source+band (order statistics —
    linear-interpolated percentiles agree across engines on exact input)."""
    _views(spark, sf_dir)
    t = spark.table("tiles").filter(F.col("val").isNotNull())
    return (t.groupBy("source_id", "band")
            .agg(F.expr("percentile(val, 0.5)").alias("p50"),
                 F.expr("percentile(val, 0.9)").alias("p90"),
                 F.count("*").alias("n")))


def q_raster_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source raster metadata aggregation (RasterSummary analog)."""
    _views(spark, sf_dir)
    out = raster_ops.raster_summary(spark.table("tiles"))
    return out.select("source_id", "n_tiles", "n_bands", "col_min", "col_max",
                      "row_min", "row_max", "n_nodata")


# 5-gram shingles: the corpus vocabulary is tiny (~30 words), so 3-gram sets
# are massively shared across unrelated docs and the exact pair join blows up
# (sum-of-count^2). 5-grams make sharing ~= true duplication. (LSH remains
# the scale path either way.)
JACCARD_N = 5
JACCARD_T = 0.6
# stop-shingle document-frequency cap: a no-op on the test corpus (max df
# there is ~corpus/97) but bounds any hot shingle's pair fan-out to cap^2
# at 100TB — the standard MinHash-era boilerplate filter
JACCARD_MAX_DF = 500
WINNOW_W = 4
EMB_DIMS = 64
EMB_K = 5
EMB_MIN_COS = 0.25
# multi-table hyperplane LSH: 4 tables x 12 planes = 4096 buckets/table
# (high-cardinality keys; union-of-tables recall instead of one 256-bucket
# table — the r2 structure was both a recall ceiling and a quadratic-block
# risk at 10^12 vectors)
EMB_LSH_TABLES = 4
EMB_LSH_PLANES = 12


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash over the duplicated corpus."""
    _views(spark, sf_dir)
    return dd.exact_dedup(spark.table("dup_docs")) \
             .select("text_hash", "survivor_doc_id", "n_dups")


def q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-5-gram Jaccard near-dup pairs (>= 0.6), hot shingles capped at
    df <= JACCARD_MAX_DF (scale guard; no-op on this corpus)."""
    _views(spark, sf_dir)
    return dd.jaccard_pairs(spark.table("dup_docs"), n=JACCARD_N,
                            threshold=JACCARD_T, max_df=JACCARD_MAX_DF)


def q_winnow_fps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WINNOWING document fingerprints (Schleimer/Wilkerson/Aiken 2003,
    the MOSS algorithm — the local-fingerprint tier of the dedup family):
    positional word-5-gram hashes, every 4-hash window selects its
    minimum (rightmost on ties), selections dedupe; guarantees any
    shared substring of >= window+n-1 tokens shares a fingerprint at
    density 2/(window+1). ONE doc_id-partitioned window pass (struct-min
    argmin, pure JVM), per-doc rollup. Oracle: the identical positional
    hash chain + windowed MIN + rightmost-tie MAX(pos) join in SQL."""
    _views(spark, sf_dir)
    fps = dd.winnow_fingerprints(spark.table("dup_docs"), n=JACCARD_N,
                                 window=WINNOW_W)
    return fps.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_fp"),
        F.sum("fp").alias("fp_sum"),
        F.min("fp_pos").alias("first_pos"),
        F.max("fp_pos").alias("last_pos"))


def q_minhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc 8-component MinHash signatures (engine-owned arithmetic hash)."""
    _views(spark, sf_dir)
    return dd.minhash_signatures(spark.table("dup_docs"), n=JACCARD_N)


def q_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH banded candidate pairs with estimated similarity >= 0.5."""
    _views(spark, sf_dir)
    sigs = dd.minhash_signatures(spark.table("dup_docs"), n=JACCARD_N)
    return dd.lsh_candidate_pairs(sigs).filter(F.col("est_sim") >= 0.5)


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup PAIRS -> duplicate CLUSTERS (the step that makes dedup
    actionable): MinHash-LSH candidate pairs (est_sim >= 0.5) fed through
    iterative min-label connected components; survivor = the cluster's min
    doc_id (the exact_dedup convention). Oracle: transitive closure via a
    recursive CTE over the identical pair set."""
    from geotrellis_contrib_spark.operators import cluster as cl
    _views(spark, sf_dir)
    sigs = dd.minhash_signatures(spark.table("dup_docs"), n=JACCARD_N)
    pairs = dd.lsh_candidate_pairs(sigs).filter(F.col("est_sim") >= 0.5)
    return cl.dup_clusters(pairs, "doc_a", "doc_b") \
             .select("id", "cluster_id", "is_survivor")


def q_embed_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup clusters: hyperplane-LSH near pairs (cos >= 0.25)
    -> connected components -> survivor per cluster (long ids keep the
    single-long join fast path)."""
    from geotrellis_contrib_spark.operators import cluster as cl
    _views(spark, sf_dir)
    pairs = sim.lsh_near_pairs(spark.table("embeddings"), dims=EMB_DIMS,
                               min_cos=EMB_MIN_COS,
                               n_tables=EMB_LSH_TABLES, n_planes=EMB_LSH_PLANES)
    return cl.dup_clusters(pairs, "vec_a", "vec_b") \
             .select("id", "cluster_id", "is_survivor")


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash fingerprints per doc."""
    _views(spark, sf_dir)
    return dd.simhash(spark.table("dup_docs"))


SIMHASH_BAND_BITS = 12   # scale mode: 4096-value band keys (see dedup.py)
SIMHASH_MAX_HAM = 3      # pigeonhole: 48/12 = 4 bands > 3


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs in the SCALE mode: 4 x 12-bit banded
    candidates (4096 key values per band — no quadratic bucket blocks at
    corpus scale) + exact hamming <= 3, pigeonhole recall guaranteed
    (n_bands > max_hamming). The wide-radius small-corpus mode (8x6 bits,
    h<=7) stays parameterized in dedup.simhash_near_pairs."""
    _views(spark, sf_dir)
    sims = dd.simhash(spark.table("dup_docs"))
    return dd.simhash_near_pairs(sims, max_hamming=SIMHASH_MAX_HAM,
                                 band_bits=SIMHASH_BAND_BITS)


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational sanity (TPC-H Q1 shape): grouped pricing aggregates over
    lineitem — shows the engine is a general Spark SQL surface too."""
    _views(spark, sf_dir)
    li = spark.table("lineitem").filter(F.col("l_shipdate") <= "1998-09-02")
    # sums accumulate in DECIMAL: exact, order-independent, engine-agnostic
    # (float sums differ in the last ulp across accumulation orders)
    dec = lambda c: F.col(c).cast("decimal(18,4)")  # noqa: E731
    return (li.groupBy("l_returnflag", "l_linestatus")
            .agg(F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
                 F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
                 F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount")))
                       .cast("decimal(18,4)")).cast("double").alias("sum_disc_price"),
                 F.count("*").alias("count_order")))


def q_segment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-join relational shape (TPC-H Q3/Q5 style): customer x orders x
    lineitem, revenue per (market segment, order priority). Catalyst picks
    broadcast for the small dims; DECIMAL-exact sums."""
    _views(spark, sf_dir)
    c = spark.table("customer")
    o = spark.table("orders")
    li = spark.table("lineitem")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    return (li.join(o, li.l_orderkey == o.o_orderkey)
              .join(c, o.o_custkey == c.c_custkey)
              .groupBy("c_mktsegment", "o_orderpriority")
              .agg(F.sum(rev).cast("double").alias("revenue"),
                   F.count("*").alias("n_items"),
                   F.countDistinct("o_orderkey").alias("n_orders")))


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionize the event stream: new session when a user's gap > 30 min;
    per-user session count + total value (lag + cumulative-sum windows)."""
    _views(spark, sf_dir)
    from pyspark.sql import Window as W
    ev = spark.table("events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    # microsecond-exact gap arithmetic (session TZ is UTC, so NTZ->TZ cast
    # matches DuckDB's EPOCH_US on the naive timestamp)
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = us - F.lag(us).over(w)
    new_s = F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0)
    return (ev.withColumn("new_s", new_s)
            .groupBy("user_id")
            .agg(F.sum("new_s").alias("n_sessions"),
                 F.count("*").alias("n_events"),
                 F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value")))


def q_pixel_mosaic_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pixel-payload tier end-to-end: synthesize binary tiles (deterministic
    fixture, sf-independent), per-pixel mosaic merge (applyInPandas), then
    the readCells full-scan checksum (mapInPandas). Oracle: the closed-form
    fixture arithmetic recomputed in SQL (RANGE-generated pixel grid +
    ARG_MIN first-non-NoData merge); exact values also asserted against the
    numpy oracle in tests/test_pixels.py."""
    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark.operators import pixels as px

    tiles = corpus_mod.synth_px_tiles(spark, tile_size=64)
    merged = px.merge_tiles(tiles, tile_size=64) \
        .withColumn("source_id", F.lit("merged")) \
        .withColumn("source_idx", F.lit(0))
    return px.read_cells_checksum(merged, tile_size=64) \
             .select("source_id", "px_sum", "px_count")


def q_retile_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tile-layout round trip under the oracle gate: 64px tiles assembled
    into 256px parents (one applyInPandas shuffle; missing children become
    NoData quadrants) then split back to 64px (narrow explode), readCells
    checksum per source. NoData-aware checksum == the original fixture's
    closed form — layout changes move pixels verbatim."""
    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark.operators import pixels as px

    tiles = corpus_mod.synth_px_tiles(spark, tile_size=64)
    up = px.retile(tiles, 64, 256)
    back = px.retile(up, 256, 64)
    return px.read_cells_checksum(back, tile_size=64) \
             .select("source_id", "px_sum", "px_count")


STREAM_ZOOM = 8
STREAM_TOTALS_ZOOM = 4  # bounded key space for the per-key state gate


def q_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM INTERVAL JOIN under the oracle gate (the one
    Structured Streaming join shape the tier lacked — stream-static is
    pip_join_stream, stateful agg is stream_totals): the events table
    read as TWO file streams (clicks / views), watermarked symmetric
    join state, every view within 12 hours after a click by the same
    user. availableNow drain of the raw pairs -> parquet -> batch
    rollup per user-id bucket with quantized order-free sums. Inner
    stream-stream joins emit every satisfying pair (the watermark only
    bounds state), so the oracle is the plain batch interval join in
    SQL — the equivalence IS what's being checked."""
    import shutil
    import tempfile

    from geotrellis_contrib_spark.streaming import stream as st

    tmp = tempfile.mkdtemp(prefix="stream_join_")
    try:
        os.makedirs(f"{tmp}/in")
        os.symlink(os.path.join(sf_dir, "events.parquet"),
                   f"{tmp}/in/events.parquet")
        schema = ("event_id bigint, ts timestamp, user_id bigint, "
                  "event_type string, value double, props string")
        clicks = st.read_event_stream(spark, f"{tmp}/in", schema=schema) \
            .filter(F.col("event_type") == "click")
        views = st.read_event_stream(spark, f"{tmp}/in", schema=schema) \
            .filter(F.col("event_type") == "view")
        pairs = st.interval_join_stream(clicks, views,
                                        interval="12 hours",
                                        watermark="13 hours")
        prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        try:
            st.run_available_now(pairs, f"{tmp}/out", f"{tmp}/ckpt")
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        out = spark.read.parquet(f"{tmp}/out")
        # localCheckpoint pins the result so the scratch dir can go
        # (the stream_rasterize convention)
        return (out.groupBy((F.col("user_id") % 16).alias("bucket"))
                .agg(F.count(F.lit(1)).alias("n_pairs"),
                     F.sum(F.floor((F.col("a_value") + F.col("b_value"))
                                   * F.lit(256.0) + F.lit(0.5))
                           .cast("long")).alias("qsum"))
                .localCheckpoint(eager=True))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def q_stream_rasterize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming under the oracle gate: the events table read as
    a FILE STREAM -> watermarked tumbling-window tile aggregation ->
    availableNow drain to parquet (fresh checkpoint per call), read back.
    Append mode emits only FINALIZED windows: window_end <= final watermark
    (max event ts - 30 min) — the oracle recomputes exactly that cutoff, so
    the late-data/watermark semantics themselves are what's being checked
    against SQL."""
    import shutil
    import tempfile

    from geotrellis_contrib_spark.streaming import stream as st

    tmp = tempfile.mkdtemp(prefix="stream_rasterize_")
    try:
        # the file stream source requires a DIRECTORY: link the table in
        os.makedirs(f"{tmp}/in")
        os.symlink(os.path.join(sf_dir, "events.parquet"), f"{tmp}/in/events.parquet")
        ev = st.read_event_stream(
            spark, f"{tmp}/in",
            schema="event_id bigint, ts timestamp, user_id bigint, "
                   "event_type string, value double, props string")
        # deterministic geo anchor from the event id (events carry no lon/lat;
        # same arithmetic the oracle recomputes)
        ev = ev.withColumn(
            "lon", -180.0 + F.pmod(F.col("event_id") * 9973 + 12345, F.lit(100000))
            .cast("double") / 100000.0 * 360.0).withColumn(
            "lat", -60.0 + F.pmod(F.col("event_id") * 7919 + 54321, F.lit(100000))
            .cast("double") / 100000.0 * 120.0)
        agg = st.rasterize_stream(ev, zoom=STREAM_ZOOM, window="1 hour",
                                  watermark="30 minutes")
        # state-store instance count = shuffle partitions at stream start
        # (the q_stream_dedup floor): 64 HDFS-backed stores for one
        # micro-batch is pure per-store commit overhead at this key
        # cardinality — a real deployment sizes this to its key volume
        prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        try:
            st.run_available_now(agg, f"{tmp}/out", f"{tmp}/ckpt")
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        out = spark.read.schema(
            "window_start timestamp, window_end timestamp, cell bigint, "
            "n_events bigint, sum_value double").parquet(f"{tmp}/out")
        # timestamps rendered as text: Spark streaming windows are TIMESTAMP
        # (UTC session) vs DuckDB TIMESTAMP — same instants, strict schema
        # compare wants one type. localCheckpoint PINS the result in the
        # block manager so the scratch dir (input symlink, checkpoint,
        # parquet) can be deleted before returning — repeated bench /
        # correctness runs no longer accumulate state in /tmp.
        return out.select(
            F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "cell", "n_events", "sum_value").localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom STATEFUL streaming under the oracle gate: exactly-once
    ingestion dedup via applyInPandasWithState (the seen-set state lives in
    the stream checkpoint). Three overlapping document-id slices (evens,
    every-3rd, evens REPLAYED) arrive as separate micro-batches
    (maxFilesPerTrigger=1); a doc_id must be emitted exactly once — the
    replayed batch is swallowed entirely by state. The output is
    batch-order-invariant by construction, so the oracle is the plain
    DISTINCT over the union of slices; any duplicate emission or dropped
    key hash-mismatches."""
    import shutil
    import tempfile

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from geotrellis_contrib_spark.streaming import stateful as stf

    tmp = tempfile.mkdtemp(prefix="stream_dedup_")
    try:
        # micro-batch FIXTURE prep (not an engine path): three overlapping
        # doc-id slices as single-file parquets, written driver-side with
        # pyarrow — replacing three coalesce(1) Spark write jobs whose
        # scheduler fixed cost dominated the query (r4 VERDICT watch item)
        os.makedirs(f"{tmp}/in")
        ids = pq.read_table(os.path.join(sf_dir, "documents.parquet"),
                            columns=["doc_id"])["doc_id"].to_numpy()
        doc_str = ids.astype("U")  # decimal repr == Spark's long->string cast
        for i, k in enumerate((2, 3, 2)):
            pq.write_table(pa.table({"doc_id": pa.array(doc_str[ids % k == 0])}),
                           f"{tmp}/in/b{i}.parquet")
        # state-store instance count = shuffle partitions at stream start;
        # floor it for the fixture's key cardinality (a real deployment
        # sizes this to its key volume — the operator itself is unchanged)
        prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        try:
            stream = spark.readStream.schema("doc_id string") \
                .option("maxFilesPerTrigger", "1").parquet(f"{tmp}/in")
            out = stf.dedup_stream(stream)
            (out.writeStream.format("parquet")
                .option("path", f"{tmp}/out")
                .option("checkpointLocation", f"{tmp}/ckpt")
                .outputMode("append")
                .trigger(availableNow=True).start().awaitTermination())
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        res = spark.read.schema("doc_id string, first_seen_batch int") \
                   .parquet(f"{tmp}/out")
        return res.select("doc_id").localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def q_stream_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming RUNNING TOTALS under the oracle gate
    (streaming/stateful.py running_cell_totals — the per-key counter state
    applyInPandasWithState pattern, SURVEY.md §2.8): events split into
    three deterministic micro-batches (event_id % 3, file mtimes pinned
    1000 s apart so the file-stream batch ORDER is deterministic), per-cell
    cumulative (count, value-sum) across batches. Values are floored to
    cents (exactly representable integers in doubles) so per-batch float
    sums are order-independent. Zoom 4 (256 cells) keeps the gate on the
    STATE semantics: applyInPandasWithState invokes the function once per
    key per batch, so key cardinality is the cost driver — at zoom 8 the
    sf0.1 corpus has ~1e5 keys = 3e5 per-key Python calls (measured 36 s,
    and the state-store maintenance drag bleeds into later queries); a
    production deployment shards state by a bounded key space the same
    way. Oracle: the same per-batch grouping + cumulative window sums."""
    import shutil
    import tempfile

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from geotrellis_contrib_spark.streaming import stateful as stf

    tmp = tempfile.mkdtemp(prefix="stream_totals_")
    try:
        os.makedirs(f"{tmp}/in")
        t = pq.read_table(os.path.join(sf_dir, "events.parquet"),
                          columns=["event_id", "value"])
        ids = t["event_id"].to_numpy()
        vals = np.floor(np.nan_to_num(
            t["value"].to_numpy(zero_copy_only=False).astype(np.float64),
            nan=0.0) * 100.0)
        for b in range(3):
            m = ids % 3 == b
            pq.write_table(pa.table({"event_id": pa.array(ids[m]),
                                     "value": pa.array(vals[m])}),
                           f"{tmp}/in/b{b}.parquet")
            os.utime(f"{tmp}/in/b{b}.parquet", (1000000 + b * 1000,) * 2)
        prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        try:
            stream = spark.readStream.schema("event_id bigint, value double") \
                .option("maxFilesPerTrigger", "1").parquet(f"{tmp}/in")
            ev = stream.withColumn(
                "lon", -180.0 + F.pmod(F.col("event_id") * 9973 + 12345,
                                       F.lit(100000))
                .cast("double") / 100000.0 * 360.0).withColumn(
                "lat", -60.0 + F.pmod(F.col("event_id") * 7919 + 54321,
                                      F.lit(100000))
                .cast("double") / 100000.0 * 120.0)
            out = stf.running_cell_totals(ev, zoom=STREAM_TOTALS_ZOOM)
            (out.writeStream.format("parquet")
                .option("path", f"{tmp}/out")
                .option("checkpointLocation", f"{tmp}/ckpt")
                .outputMode("append")
                .trigger(availableNow=True).start().awaitTermination())
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        res = spark.read.schema("cell bigint, batch_events bigint, "
                                "total_events bigint, total_value double") \
                   .parquet(f"{tmp}/out")
        return res.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def q_windowed_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-hour event aggregation per event_type (the batch shape of
    the streaming rasterize path; SURVEY.md §2.8)."""
    _views(spark, sf_dir)
    ev = spark.table("events")
    # hour_start rendered as a string: Spark would return TIMESTAMP_NTZ and
    # DuckDB TIMESTAMP — same instants, but a strict schema compare could
    # flag the type; 'yyyy-MM-dd HH:mm:ss' text is identical in both
    hour = F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss")
    return (ev.groupBy(hour.alias("hour_start"), F.col("event_type"))
            .agg(F.count("*").alias("n_events"),
                 F.countDistinct("user_id").alias("n_users"),
                 F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value")))


def q_pixel_warp_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused pixel warp chain: convert(float32) -> bilinear resample(32) ->
    region-reproject to mercator — the reproject∘resample∘convert
    composition of SURVEY.md §2.4 executed as ONE fused mapInPandas stage
    (the GDAL warp-option fusion, GDALRasterSource.scala:114-126) — then the
    readCells checksum. Oracle: the closed-form fixture arithmetic
    reproduced in SQL (bilinear at an exact 2x ratio is the 2x2 block mean;
    reprojection resamples rows by the mercator-center back-transform)."""
    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark.operators import pixels as px

    tiles = corpus_mod.synth_px_tiles(spark, tile_size=64)
    chain = px.warp_chain_to_mercator(tiles, "float32", out_size=32,
                                      method="bilinear", tile_size=64)
    return px.read_cells_checksum(chain, tile_size=32) \
             .select("source_id", "px_sum", "px_count")


def q_polygon_burn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pixel-level polygon rasterization (burn attributes into tiles) over
    the hot-cluster region polygons. Oracle: per-tile burned-pixel counts
    via the same pixel-center point-in-box SQL the pip oracle uses; pixel
    goldens asserted in tests/test_pixels.py."""
    from geotrellis_contrib_spark.functions import geometry as G
    from geotrellis_contrib_spark.operators import pixels as px
    _views(spark, sf_dir)
    boxes = spark.table("polygon_boxes").filter(F.col("poly_id").startswith("poly-r"))
    polys = boxes.withColumn("wkb", G.box_to_wkb(
        F.col("xmin"), F.col("ymin"), F.col("xmax"), F.col("ymax"))) \
        .withColumn("burn_val", (F.length("poly_id") % 7 + 1).cast("double"))
    out = px.rasterize_polygons(polys, zoom=9, tile_size=64)
    return out.select("zoom", "col", "row", "n_burned")


def q_hist_equalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HISTOGRAM EQUALIZATION (geotrellis.raster.equalization analog):
    each pixel maps through its scene's CDF — all-integer counts until
    ONE IEEE division, so engine and SQL twin agree bit-for-bit.
    Two scale-shaped passes: per-tile bincount histogram (ONE shuffle of
    (scene,band,bucket,count) rows, map-side combined), then the
    constant-small CDF table window-cumsummed JVM-side, collected once
    and closed over a narrow Arrow map. Oracle: the closed-form field
    bucketed/cumsummed/mapped with the identical expression chain,
    per-tile float sums of the 0..255 outputs (exact: <= 4096 ints)."""
    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark.operators import pixels as px
    from geotrellis_contrib_spark.operators import render as render_ops

    tiles = corpus_mod.synth_px_tiles(spark, tile_size=64)
    eq = render_ops.histogram_equalize(tiles, vmin=0.0, vmax=3400.0,
                                       nbins=64, tile_size=64)
    return px.tile_stats(eq.withColumn("tile_size", F.lit(64)),
                         keys=("source_idx", "col", "row", "band"))


def q_focal_wedge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FOCAL MEAN over a WEDGE neighborhood (geotrellis.raster.
    mapalgebra.focal.Wedge — completes the neighborhood family with
    Square/Circle/Annulus): radius-3 arc [0.3, 2.2] rad = the 9 offsets
    whose ray angle atan2(-dr, dc) falls in the arc (plus the center),
    same halo machinery and row-major accumulation chain. The fixture
    angles keep every offset >= 0.14 rad away from an arc boundary, so
    libm atan2 differences can never flip membership; the oracle
    re-derives the offset set with its own atan2 mask at SQL-generation
    time and replays the 9-term neighborhood closed-form."""
    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark.operators import focal as FO

    tiles = corpus_mod.synth_px_tiles(spark, tile_size=64)
    return FO.focal_stats(tiles, op="mean", radius=3, shape="wedge",
                          start_angle=0.3, end_angle=2.2)


def q_focal_circle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FOCAL MEAN over a CIRCLE neighborhood (geotrellis.raster.
    mapalgebra.focal.Circle — the non-square neighborhood family;
    Annulus is the same mask with an inner bound, pytest-gated):
    radius-2 disk = the 13 offsets with dr^2 + dc^2 <= 4, same halo
    machinery and accumulation chain as focal_stats (the circle chain
    is the square's with terms removed — offset order stays row-major).
    Oracle: the 13-term neighborhood recomputed per pixel from the
    closed-form fixture in SQL, identical chained-add order, identical
    single division and quantization."""
    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark.operators import focal as FO

    tiles = corpus_mod.synth_px_tiles(spark, tile_size=64)
    return FO.focal_stats(tiles, op="mean", radius=2, shape="circle")


def q_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SNAPSHOT TIME TRAVEL (the Iceberg-metadata analog,
    sources/snapshots.py — atomic manifest commits, copy-on-write
    range deletes with parquet-footer stats pruning, versioned reads):
    a table built as v1 = append(anchors with doc_id%3=0), v2 =
    append(%3=1), v3 = delete_range(doc_id in [1000, 3000]), then ONE
    query reads all three snapshots — time travel is a manifest lookup,
    so each version plans exactly its committed file list. Output:
    per-(version, doc_id%8) row counts + quantized lon sums. Oracle:
    the three logical states recomputed from the anchors derivation in
    SQL — proving every snapshot is exactly the right row set. COW
    file-sharing and commit-conflict semantics are pytest-gated."""
    import hashlib
    import os
    import tempfile
    import uuid as _uuid

    from geotrellis_contrib_spark.sources import snapshots as SN

    _views(spark, sf_dir)
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = os.path.join(tempfile.gettempdir(), f"gt_gate_snap_v1_{tag}")
    if not os.path.exists(os.path.join(path, "meta", "CURRENT")):
        build = path + "." + _uuid.uuid4().hex[:8]
        SN.create_table(build, key_col="doc_id")
        a = spark.table("anchors").select("doc_id", "lon", "lat")
        SN.append(a.filter(F.col("doc_id") % 3 == 0), build)
        SN.append(a.filter(F.col("doc_id") % 3 == 1), build)
        SN.delete_range(spark, build, 1000, 3000)
        os.rename(build, path)
    parts = [SN.read_snapshot(spark, path, v)
             .withColumn("version", F.lit(v)) for v in (1, 2, 3)]
    df = parts[0].unionByName(parts[1]).unionByName(parts[2])
    return (df.groupBy("version", (F.col("doc_id") % 8).alias("g"))
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.sum(F.floor(F.col("lon") * F.lit(256.0))
                       .cast("long")).alias("qlon")))


def q_hll_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYPERLOGLOG SKETCH STATE (operators/sketch.py — the approximate-
    distinct primitive of a 100TB pipeline: exact COUNT(DISTINCT) is a
    full key shuffle; the sketch is a constant 2^p-register state
    merging with elementwise MAX across partitions/files/days): per-
    source register states over documents. Everything under the gate
    is INTEGER arithmetic from shared SQL text with per-dialect
    XOR/shift formatters (^ means XOR in Spark but EXPONENT in DuckDB,
    whose XOR is the xor() function): the Murmur3 fmix32 finalizer
    (real avalanche — affine mixes bias sequential-id sets 20-60%),
    register = top p bits via floor-division, rho = leading-zero count
    via a generated comparison CASE chain (libm-free). The
    gate compares the full STATE exactly; estimation accuracy and the
    MAX-merge property are pytest-pinned."""
    from geotrellis_contrib_spark.operators import sketch as SK
    _views(spark, sf_dir)
    return SK.hll_state(spark.table("documents"), "doc_id", "source",
                        p=9)


def q_cm_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT-MIN FREQUENCY SKETCH STATE (operators/sketch.py — Cormode
    & Muthukrishnan 2005, the heavy-hitters sibling of hll_sketch: the
    d×w counter matrix is constant-size per group and merges by
    elementwise +, where exact per-token counts shuffle every token):
    per-source counter states over whitespace tokens of documents.
    Tokens hash with the engine-owned polynomial char fold (the dedup
    discipline), each of the d rows re-mixes (hash + j·golden-ratio
    seed) through the same dialect-formatted fmix32 as hll_sketch.
    The gate compares the full (source, row, bucket) -> count STATE
    exactly; the never-underestimate / e·N/w overestimate guarantees
    and top-1 heavy-hitter recovery are pytest-pinned."""
    from geotrellis_contrib_spark.operators import sketch as SK
    _views(spark, sf_dir)
    return SK.cm_state(spark.table("documents"), "text", "source",
                       d=4, w=256)


def q_bloom_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLOOM FILTER STATE (operators/sketch.py — Bloom 1970, the
    membership sibling: m bits per group merging by OR; the canonical
    100TB use is shipping a small filter of one join side to prune the
    big side's scan before the shuffle): per-source distinct set bit
    positions over doc_ids, k=3 fmix32 rows. Sparse (g, bit) encoding
    IS the state — the gate compares it exactly; no-false-negative and
    measured false-positive-rate-near-theory are pytest-pinned."""
    from geotrellis_contrib_spark.operators import sketch as SK
    _views(spark, sf_dir)
    return SK.bloom_state(spark.table("documents"), "doc_id", "source",
                          m=4096, k=3)


CONTOUR_ISO = 240.0625  # 1/16-multiple vs 1/4-multiple data: never equal


def q_contour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MARCHING-SQUARES CONTOURS (operators/contour.py — the isoline
    raster->vector sibling of polygonize; gdal_contour over the same
    terrain rasters the reference's aspect fixtures represent): one
    scene of the px fixture, iso picked OFF the data grid so corner
    states are strict and every referenced edge has a true sign change
    (nonzero interpolation denominator). ONE shuffle: each tile ships
    its first column/row/corner pixel to its left/upper/diagonal
    neighbor (O(perimeter) halo), then a vectorized 16-case walk.
    Engine and oracle both emit from the SAME pinned case table
    (contour.CASES / sql_segment_cases — the kriging discipline), so
    segment/endpoint order needs no canonical sort. NoData corners
    (the per-tile hole) suppress their blocks on both sides."""
    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark.operators import contour as CT

    tiles = (corpus_mod.synth_px_tiles(spark, tile_size=64)
             .filter((F.col("source_idx") == 0) & (F.col("band") == 0)))
    return CT.contour_segments(tiles, iso=CONTOUR_ISO)


def q_zonal_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZONAL PERCENTILES (operators/raster.py zonal_percentiles — the
    exact discrete-quantile polygonal summary next to zonal_stats;
    GeoTrellis exposes polygonal summaries incl. histogram/quantile
    over raster layers): p25/p50/p75 as TYPE-1 quantiles (smallest
    value whose cumulative count reaches ceil(q·n/4), integer rank
    arithmetic). Scale: tiles collapse to per-(polygon, value) COUNTS
    first — the histogram trick bounds the shuffle by distinct values,
    not observations — then one small cumulative window per polygon.
    Oracle: the identical cumulative-count threshold logic written
    independently over the same tiles×boxes center-containment join."""
    _views(spark, sf_dir)
    out = raster_ops.zonal_percentiles(spark.table("tiles"),
                                       spark.table("polygon_boxes"))
    return out.select("poly_id", "band", "cnt", "p25", "p50", "p75")


def q_temporal_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-PIXEL TEMPORAL TREND (operators/temporal.py temporal_trend —
    the change-detection sibling of temporal_stats; NDVI trend maps are
    the canonical raster-time-series product): least-squares slope over
    t = source_idx for pixels observed >= 2 times, slope = (n·Σtv −
    Σt·Σv)/(n·Σt² − (Σt)²). Every accumulator sums exactly-representable
    values, the subtractions stay exact, ONE IEEE division ends the
    chain. Oracle: the per-source closed forms with literal t
    multipliers, the identical division. Denominator is provably > 0
    when n >= 2 (each instant contributes one distinct t)."""
    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark.operators import temporal as TE

    tiles = corpus_mod.synth_px_tiles(spark, tile_size=64)
    return TE.temporal_trend(tiles)


# Per-scene calibration for the robust-trend gates: gains/offsets
# searched so ALL THREE pairwise differences hit EXACT zeros at
# attainable quarter-grid pixel values (d10 = 1085−5u zero at u=217,
# d21 = u−212, d20 = 873−4u zero at u=218.25, u the s-free part of
# the fixture value) — signs {-1, 0, +1}, ties and medians all vary
# per pixel (pytest-pinned). Integer-valued gains/offsets keep the
# quarter grid exactly representable.
MK_GAINS = {0: 3.0, 1: -2.0, 2: -1.0}
MK_OFFSETS = {0: 0.0, 1: 3085.0, 2: 2873.0}


def q_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-PIXEL MANN-KENDALL TREND TEST (operators/temporal.py —
    Mann 1945/Kendall 1975, THE standard nonparametric raster-time-
    series trend detector, the robust sibling of temporal_trend):
    S = Σ_{i<j} sign(v_j − v_i) over valid pairs after per-scene
    radiometric calibration (calibrate_stack — localMultiply/localAdd
    per scene). INTEGER arithmetic end-to-end: sign of exact
    differences, integer sums. Oracle: the same calibrated per-source
    closed forms, SIGN per pair, identical rollups."""
    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark.operators import temporal as TE

    tiles = corpus_mod.synth_px_tiles(spark, tile_size=64)
    return TE.temporal_mann_kendall(
        TE.calibrate_stack(tiles, MK_GAINS, MK_OFFSETS))


def q_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-PIXEL THEIL-SEN SLOPE (operators/temporal.py — the robust
    median-of-pairwise-slopes sibling of temporal_trend's least
    squares): median over valid pairs of (v_j − v_i)/(t_j − t_i)
    after the same calibration as mann_kendall. Exactness: each slope
    is an exact difference over an integer gap (gap-2 halving is
    exact), the median is pure SELECTION (engine's two-middle mean is
    (a+a)/2 = a for the fixture's odd pair counts {1,3}; oracle uses
    the median-of-three greatest/least identity — no arithmetic
    either side), ONE floor-quantization ends the chain."""
    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark.operators import temporal as TE

    tiles = corpus_mod.synth_px_tiles(spark, tile_size=64)
    return TE.temporal_theil_sen(
        TE.calibrate_stack(tiles, MK_GAINS, MK_OFFSETS))


def q_temporal_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BEST-PIXEL COMPOSITE (operators/temporal.py temporal_composite —
    the max-value compositing rule, THE Landsat/Sentinel mosaicking
    op; GeoTrellis = local max over a SpaceTimeKey stack): per pixel,
    the scene value maximizing the metric across the calibrated stack,
    EARLIEST scene on ties (strict `>` sweep in ascending source_idx).
    Pure SELECTION — the winner is one of the inputs, so the quarter-
    grid checksum is exact; the MK calibration makes the winning
    source VARY per pixel and produces real ties (pytest-pinned).
    Oracle: ordered CASE argmax over the per-source closed forms —
    branch k fires iff source k is valid and ≥ every later valid
    source, replaying the earliest-tie rule exactly."""
    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark.operators import temporal as TE

    tiles = corpus_mod.synth_px_tiles(spark, tile_size=64)
    return TE.temporal_composite(
        TE.calibrate_stack(tiles, MK_GAINS, MK_OFFSETS))


def q_hilbert_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HILBERT curve layout (functions/cells.py hilbert_key — the
    GeoTrellis HilbertSpatialKeyIndex, store.index.hilbert, the
    reference catalog tier's ALTERNATIVE to the Z-curve): anchors keyed
    (col10, row10), Hilbert-distance-indexed via the staged xy2d
    projections (data-dependent reflect+swap forbids a closed-form bit
    spread — the reason Z-order is everyone's default), then ranked
    WITHIN their zoom-5 bucket by (hkey, doc_id) — a per-partition
    sort at scale, never global (zorder_layout's discipline under the
    better curve: consecutive Hilbert keys are ALWAYS 4-adjacent, so
    bbox reads decompose into fewer, longer pushed key ranges).
    Oracle: the identical stage chain as nested subqueries."""
    from pyspark.sql import Window as W

    _views(spark, sf_dir)
    a = spark.table("anchors").filter(F.col("lon").isNotNull())
    k = a.select(
        "doc_id",
        C.tile_col(F.col("lon"), 10).alias("hx0"),
        C.tile_row(F.col("lat"), 10).alias("hy0"),
        C.cell_id(F.lit(5), C.tile_col(F.col("lon"), 5),
                  C.tile_row(F.col("lat"), 5)).alias("bucket"))
    h = C.hilbert_key(k, "hx0", "hy0", 10, out="hkey")
    w = W.partitionBy("bucket").orderBy("hkey", "doc_id")
    return h.select("doc_id", F.col("hx0").alias("hx"),
                    F.col("hy0").alias("hy"), "bucket", "hkey",
                    F.row_number().over(w).alias("hrank"))


def q_tpi_roughness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPI + ROUGHNESS (operators/focal.py tpi_roughness — gdaldem's
    last two modes, completing the terrain suite next to Horn
    slope/aspect, hillshade and TRI): per fully-valid-3x3 pixel (the
    GDAL edge rule) tpi = center - mean(8 neighbors) (ONE division)
    and roughness = max(3x3) - min(3x3) (pure selection on the exact
    x4 grid). Same halo machinery, ONE shuffle. Oracle: the terrain
    family's NULL-able neighbor columns, the 8-sum in the engine's
    accumulation order, GREATEST/LEAST roughness."""
    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark.operators import focal as FO

    tiles = corpus_mod.synth_px_tiles(spark, tile_size=64)
    return FO.tpi_roughness(tiles, tile_size=64)


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAIN/TEST DECONTAMINATION (operators/dedup.py decontaminate —
    the GPT-3/PaLM-style n-gram overlap sweep: a training doc sharing
    any 8-token span with an eval doc leaks the benchmark): eval set =
    doc_id % 31 == 0; per train doc the span count, contaminated-span
    count, and flag. Distinct eval spans build once (benchmarks are
    tiny — broadcastable at web scale); membership is one hash-keyed
    join. Engine matches md5 spans; oracle joins RAW strings (the
    span_dedup certification pattern)."""
    _views(spark, sf_dir)
    from geotrellis_contrib_spark.operators import dedup as DD
    return DD.decontaminate(spark.table("documents"),
                            F.col("doc_id") % 31 == 0)


def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-CORE DECOMPOSITION (operators/cluster.py kcore — coreness per
    node by distributed h-index iteration, Lü et al. 2016: start at
    degree, repeatedly take the h-index of neighbor values; the
    monotone non-increasing fixpoint IS the coreness, so no global
    peeling order is needed — the insight that makes k-core
    map-reducible). Fixture: corpus.synth_core_edges (6-clique core 5,
    bridged 8-ring core 2, leaf-fanned path core 1, shared-vertex
    triangles core 2; bridges must not lift coreness). Converges in 4
    rounds (pytest-pinned < the oracle's 8 unrolled MATERIALIZED
    rounds); the pytest also checks the fixpoint against an
    INDEPENDENT min-degree peeling replica."""
    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark.operators.cluster import kcore

    edges = spark.createDataFrame(corpus_mod.synth_core_edges(),
                                  "src long, dst long")
    return kcore(edges)


def q_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MARKOV TRANSITION MATRIX (operators/events.py transitions — the
    behavioral what-follows-what table): per (prev, next) event-type
    pair the corpus count and quantized conditional probability —
    integer counts until ONE division. One user-keyed lag window + one
    rollup + a per-prev window sum. Oracle: same LAG on EPOCH_US
    ordering."""
    _views(spark, sf_dir)
    from geotrellis_contrib_spark.operators import events as EV
    return EV.transitions(spark.table("events"))


def q_embed_outlier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMBEDDING OUTLIER SCORING (operators/similarity.py
    embed_outlier — the embedding-space quality filter: pipelines drop
    documents far from their domain centroid): cosine of every vector
    to its label centroid. Centroids ride the kmeans_lloyd integer
    state (per-(label, dim) quantized sums, constant-size collect,
    (q_sum/q)/n = two IEEE divisions -> byte-identical both sides);
    the cosine is the cosine_cols chain, which bit-matches DuckDB's
    LIST_COSINE_SIMILARITY (the embed_topk contract). Oracle: the
    same integer state in SQL, LIST(... ORDER BY i) centroids,
    LIST_COSINE_SIMILARITY."""
    _views(spark, sf_dir)
    return sim.embed_outlier(spark.table("embeddings"))


def q_euclidean_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EUCLIDEAN ALLOCATION (operators/focal.py euclidean_allocation —
    the GDAL/ArcGIS argmin sibling of the distance transform: WHICH
    mask cell is nearest): the whole comparison is the packed integer
    key d2*2^24 + gid, so ties at equal squared distance go to the
    smallest global pixel id and the scan is a running int64 MIN with
    NO float anywhere. Same halo machinery and lattice-blob mask as
    euclidean_distance. Oracle: bounded-window join + MIN of the
    identical packed key, then the same integer splits."""
    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark.operators import focal as FO

    tiles = corpus_mod.synth_px_tiles(spark, tile_size=64)
    return FO.euclidean_allocation(
        tiles, lambda vals, gr, gc: (gr % 11 < 3) & (gc % 9 < 3),
        radius=5, tile_size=64)


def q_mst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BORŮVKA MINIMUM SPANNING TREE (operators/cluster.py mst_boruvka
    — THE distributed MST: every component picks its lightest outgoing
    edge per round, components at least halve, rounds <= log2 n; each
    round is two comp-lookup joins + one struct-min + the adaptive
    connected_components merge). Fixture: a planted binary tree (edge
    (k, k//2) weight 100+k) buried under 40 heavier arithmetic edges —
    every non-tree edge outweighs every tree edge, so the unique MST
    IS the planted tree and the oracle derives it closed-form; the
    engine must DISCOVER it generically. Distinct weights enforced
    fail-loud (the unique-MST condition)."""
    from geotrellis_contrib_spark.operators.cluster import mst_boruvka
    ids = spark.range(60)
    tree = ids.filter(F.col("id") >= 1).select(
        F.col("id").alias("src"), (F.col("id") / 2).cast("long")
        .alias("dst"), (F.col("id") + 100).alias("w"))
    extra = spark.range(40).select(
        ((F.col("id") * 7 + 1) % 60).alias("src"),
        ((F.col("id") * 11 + 3) % 60).alias("dst"),
        (F.col("id") + 1000).alias("w")) \
        .filter(F.col("src") != F.col("dst"))
    return mst_boruvka(tree.unionByName(extra))


def q_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-WEIGHTED AVERAGE per user (operators/events.py twap — a
    plain mean over-weights bursts; each observation counts for the
    time it was CURRENT): numerator = exact integer sum of quantized
    value x microsecond-delta products (one lead window), denominator
    = the span, ONE IEEE division. Single-event and zero-span users
    excluded, not zeroed. Oracle: the same LEAD window on EPOCH_US."""
    _views(spark, sf_dir)
    from geotrellis_contrib_spark.operators import events as EV
    return EV.twap(spark.table("events"))


def q_events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLAP ROLLUP (operators/events.py events_rollup — the multi-level
    aggregation surface: (type, week), per-type subtotal, grand total
    in ONE map-side-combined pass; Spark expands the grouping sets
    inside the same aggregate, no self-union of three jobs). Values
    quantized BEFORE the sum so every level is an exact order-free
    integer; gid = the Postgres/Spark grouping bit convention.
    Oracle: GROUP BY ROLLUP with the same GROUPING arithmetic."""
    _views(spark, sf_dir)
    from geotrellis_contrib_spark.operators import events as EV
    return EV.events_rollup(spark.table("events"))


def q_events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT (operators/events.py events_pivot — the per-user
    event-type count matrix, the wide feature table behavioral models
    start from): the type list is PINNED (inference costs a whole
    extra job and a nondeterministic column order); absent pairs are
    0. One aggregate; the pivot is K conditional counts inside it.
    Oracle: conditional SUM(CASE) columns."""
    _views(spark, sf_dir)
    from geotrellis_contrib_spark.operators import events as EV
    return EV.events_pivot(spark.table("events"))


def q_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GINI COEFFICIENT by source (operators/retrieval.py
    gini_by_group — the corpus-inequality diagnostic: a source whose
    token mass concentrates in a few documents skews sampling): the
    exact sorted-rank identity G = (2*Sum(i*x_i) - (n+1)*Sum(x)) /
    (n*Sum(x)) with integer x — both division operands are exact int64
    sums, and Sum(i*x) is tie-permutation-invariant, so the
    row_number tie order cannot change the value. One per-group window
    + one rollup. Oracle: the same identity verbatim."""
    _views(spark, sf_dir)
    from geotrellis_contrib_spark.operators import retrieval as RT
    return RT.gini_by_group(spark.table("documents"))


def q_temporal_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPORAL GAP FILLING (operators/temporal.py temporal_fill — the
    Landsat SLC-off / cloud-gap linear interpolation, completing the
    time-series family around stats/trend/composite/median): per tile
    the gap count (plane present, pixel NoData — absent planes are NOT
    gaps), the filled count (both temporal neighbors valid; edges
    never extrapolate), and the quantized fill sum. fill = v_j +
    (v_k - v_j) * ((t_i - t_j)/(t_k - t_j)) — integer deltas divided
    ONCE, the identical chain in the oracle (the fixture's middle-gap
    case lands on the exact 1/8 grid). Same ONE-shuffle stack-reduce
    shape as temporal_stats. Pytest proves the general path (4-plane
    stacks, thirds ratios); the oracle pins the fixture's enumerable
    3-plane cases."""
    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark.operators import temporal as TE

    tiles = corpus_mod.synth_px_tiles(spark, tile_size=64)
    return TE.temporal_fill(tiles, tile_size=64)


def q_crosstab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-BAND CONTINGENCY TABLE (operators/local.py crosstab — the
    ArcGIS Tabulate Area / GRASS r.cross change-detection matrix
    between two classified epochs): per scene, pixel counts for every
    (floor(b0/64), floor(b1/64)) class pair where BOTH bands are
    valid. One zero-shuffle Arrow pass pairs each tile's band rows and
    emits per-tile pair counts (<= classes^2 rows/tile); the pixel
    bytes never shuffle; ONE map-side-combined rollup. Oracle: the
    closed-form field classed with the same single dyadic division (the
    fixture's values are exact 1/4-grid doubles, so the band-1 chain
    reassociation is harmless — every sum is exact)."""
    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark.operators import local as LO

    tiles = corpus_mod.synth_px_tiles(spark, tile_size=64)
    return LO.crosstab(tiles, class_width=64.0, tile_size=64)


def q_bpe_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ISH TOKEN COUNTING (operators/retrieval.py bpe_token_counts
    — the tokenizer-budget signal pipelines bill by): merge vocab =
    corpus top-20 in-word character bigrams under the TOTAL order
    (count DESC, pair ASC), then ONE greedy left-to-right pass per
    word (consume two chars on a vocab pair else one — single-merge-
    level BPE). The sequential scan stays in whole-stage codegen as a
    pure JVM F.aggregate fold (no Python in the hot path); the K-row
    vocab is collected once (constant-size, the IVF discipline) and
    inlined. Oracle: precomputed step table + recursive pure-join walk
    — visited positions ARE the token count."""
    _views(spark, sf_dir)
    from geotrellis_contrib_spark.operators import retrieval as RT
    return RT.bpe_token_counts(spark.table("documents"))


def q_quadtree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADAPTIVE QUADTREE partitioning (operators/skew.py
    quadtree_assign — the density-adaptive spatial index: split every
    cell holding > 16 points until it fits or zoom 10): each anchor is
    assigned its SHALLOWEST qualifying web-mercator cell (counts are
    monotone non-increasing with depth, so first-qualifying IS the
    quadtree-leaf rule; still-hot zmax cells are the residue the
    salting layers absorb). The iteration is DISSOLVED into one
    declarative plan: a bounded 7-level explode, ONE map-side-combined
    (zoom, cell) count shuffle, a same-key join back, a struct-min
    choice — no loop, no collect. Oracle: per-zoom UNION ALL keys +
    the same counts + a ROW_NUMBER pick under the identical order."""
    _views(spark, sf_dir)
    from geotrellis_contrib_spark.operators import skew as SK
    pts = spark.table("anchors").filter(F.col("lon").isNotNull())
    return SK.quadtree_assign(pts)


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDERED EVENT FUNNEL (operators/events.py funnel — the
    product-analytics staple: first view, first click STRICTLY AFTER
    that view, first purchase strictly after that click; min-per-type
    would wrongly count a purchase preceding its click): per user the
    stage reached and the microsecond epoch of each step (NULL where
    stalled). K tiny user-keyed aggregates joined back — no window, no
    state, broadcast-sized dimensions at warehouse scale. Oracle:
    chained strictly-after MIN subqueries on EPOCH_US."""
    _views(spark, sf_dir)
    from geotrellis_contrib_spark.operators import events as EV
    return EV.funnel(spark.table("events"))


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COHORT RETENTION triangle (operators/events.py cohort_retention
    — the other product-analytics staple): users bucketed by first
    signup week (DATE-arithmetic epoch weeks — the spacetime_layout
    discipline), distinct active users per (cohort_week, week_offset)
    over non-signup activity, plus cohort size — the rate is two
    integers divided by the caller. Four narrow stages, one distinct,
    one map-side-combined rollup. Oracle: the same integer-week
    arithmetic mirrored."""
    _views(spark, sf_dir)
    from geotrellis_contrib_spark.operators import events as EV
    return EV.cohort_retention(spark.table("events"))


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRIANGLE COUNTING (operators/cluster.py triangle_count — the
    clustering-coefficient numerator; the MR compact-forward
    algorithm): edges oriented under the TOTAL order (degree, id), so
    every triangle is found exactly once as a wedge at its
    smallest corner and the wedge intermediate is bounded O(m^1.5) —
    orienting by raw id would let one hub explode the wedge set.
    Deterministic arithmetic graph over 150 nodes ((a*37 + b*61) % 23
    == 0). Oracle: brute-force ordered 3-way self-join."""
    ids = spark.range(150).select(F.col("id"))
    a = ids.select(F.col("id").alias("a"))
    b = ids.select(F.col("id").alias("b"))
    edges = (a.crossJoin(b)
             .filter((F.col("a") < F.col("b"))
                     & ((F.col("a") * 37 + F.col("b") * 61) % 23 == 0)))
    from geotrellis_contrib_spark.operators.cluster import triangle_count
    return triangle_count(edges, "a", "b")


def q_hull_diameter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HULL DIAMETER / farthest pair (operators/hull.py hull_diameter
    — the ST_MaxDistance/ST_LongestLine analog): a set's diameter is
    attained between convex-hull vertices, so the O(n^2) pair scan
    collapses to O(h^2) after the two-level distributed hull (raw
    points never pair up). Squared int64 distances — exact, no sqrt;
    the reported pair is canonical under the TOTAL order (d2 DESC,
    lexicographic pair ASC). Same quantized anchor groups as
    convex_hull. Oracle: Caratheodory-derived hull vertices +
    brute-force pair argmax via ROW_NUMBER under the same order."""
    from geotrellis_contrib_spark.operators import hull as HU
    _views(spark, sf_dir)
    pts = (spark.table("anchors")
           .filter((F.col("doc_id") % 7 == 3) & F.col("lon").isNotNull())
           .select((F.col("doc_id") % 4).alias("g"),
                   F.floor(F.col("lon") * F.lit(1000.0))
                    .cast("long").alias("x"),
                   F.floor(F.col("lat") * F.lit(1000.0))
                    .cast("long").alias("y")))
    return HU.hull_diameter(pts, two_level=True)


def q_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-SUBSTRING duplication coverage (operators/dedup.py
    span_dedup — the Lee et al. 2022 ExactSubstr signal,
    token-windowed): per doc the corpus-wide duplicated 8-token-span
    count, the tokens covered by any duplicated span (1D interval
    UNION — prev-end running max, all integers), and the quantized
    coverage ratio (ONE IEEE division). Engine matches spans by md5
    of the space-joined window; the oracle groups the RAW span string
    — agreement is itself evidence the hash path is faithful. One
    doc-keyed window pass + one map-side-combined span-count shuffle
    + a semi-join back."""
    _views(spark, sf_dir)
    from geotrellis_contrib_spark.operators import dedup as DD
    return DD.span_dedup(spark.table("documents"))


def q_box_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOX UNION AREA (operators/spatial_join.py box_union_area —
    ST_Union + ST_Area for the axis-aligned case; the coverage
    statistic overlay analyses need, aggregate sibling of
    box_overlay's pair report): per 45-degree grid cell the box count
    and the EXACT quantized union area via grid-partitioned coordinate
    compression — clips are GREATEST/LEAST selections, every
    compressed piece is quantized floor(dx*dy*q + 0.5) BEFORE the sum
    (order-free integer rollup), and the piece set (distinct clipped
    edges) is engine-independent. ONE bounded explode + ONE cell-key
    shuffle; per-cell work bounded by LOCAL density. Oracle: the same
    clips, a LEAD-window compressed grid, an EXISTS coverage test, the
    same per-piece quantization."""
    _views(spark, sf_dir)
    from geotrellis_contrib_spark.operators import spatial_join as sj
    return sj.box_union_area(spark.table("polygon_boxes"))


def q_strahler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRAHLER STREAM ORDER (operators/cluster.py strahler_order —
    the classic stream-network attribute over the NHDPlus-style
    (child, parent) flow-link table; completes the hydrology family
    around flow_accumulation/watershed/stream_network): leaf = 1, a
    junction whose >= 2 maximal children tie gets max+1 else max,
    unary links copy their child. Fixture: the dendritic
    corpus.synth_stream_edges tree (pruned junction -> the
    max-without-increment rule; side-leaf tributaries -> order-1
    inflow must not bump a higher-order chain; unary chains -> the
    contraction). Adaptive: bounded probe solves small graphs in the
    driver. Oracle: the Jacobi fixpoint unrolled as 16 grouped-join
    CTE rounds over the same VALUES edge table (fixture depth 11 <
    16, pinned by pytest)."""
    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark.operators.cluster import strahler_order

    edges = spark.createDataFrame(corpus_mod.synth_stream_edges(),
                                  "child long, parent long")
    return strahler_order(edges)


def q_strahler_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRAHLER, FORCED-DISTRIBUTED (small_graph_edges=0): chain
    contraction by pointer doubling (order is constant along unary
    runs — O(log chain) tiny self-joins), then Jacobi on TERMINALS
    only (per round one map-side-combined (junction, child-order)
    count + a struct-max argmax; orders grow monotonically to the
    least fixpoint, so convergence takes junction-DEPTH rounds, not
    path-length rounds — the contraction is what buys that; 3 logical
    rounds per materialization). Same oracle."""
    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark.operators.cluster import strahler_order

    edges = spark.createDataFrame(corpus_mod.synth_stream_edges(),
                                  "child long, parent long")
    return strahler_order(edges, small_graph_edges=0)


def q_hist_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HISTOGRAM MATCHING (operators/render.py histogram_match — the
    GDAL/rasterio/scikit-image enhancement remapping scene-0 onto
    scene-1's distribution; the radiometric normalization multi-date
    mosaics apply before compositing — completing the enhancement
    family around percent_clip/hist_equalize/sigmoidal): the
    per-(band, value) EXACT type-1 quantile mapping table — integer
    ranks over per-VALUE counts, rank_b = ceil-rank rescale, matched
    value = smallest ref value whose cumulative count qualifies,
    found by the asof_join union trick (ONE per-band window ordered
    key DESC ref-first, running MIN — no V^2 join, no collect).
    Values ride the exact x4 integer grid; the mapped value is a
    SELECTION, never arithmetic. Oracle: identical counts, windows,
    and union walk over the closed-form field."""
    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark.operators import render as RD

    tiles = corpus_mod.synth_px_tiles(spark, tile_size=64)
    return RD.histogram_match(tiles, "scene-0", "scene-1", tile_size=64)


def q_morans_i(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MORAN'S I integer moments (operators/focal.py morans_moments —
    the classic global spatial-autocorrelation statistic over
    rook-adjacent pixels): per (scene, band) the EXACT quantized
    moments (n, w_pairs, s1, sdeg, sv, svv); I itself is two divisions
    away, applied ONCE by the caller — the mean-centered formulation
    would put a float subtraction inside every partial sum
    (order-dependent), while raw integer moments are order-free and
    distributable. ONE halo-strip shuffle + a map-side-combined scene
    rollup (constant per-tile state). Oracle: the terrain family's
    NULL-able neighbor columns, same quantization, same moment sums."""
    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark.operators import focal as FO

    tiles = corpus_mod.synth_px_tiles(spark, tile_size=64)
    return FO.morans_moments(tiles, tile_size=64)


def q_flow_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOWNSTREAM FLOW LENGTH (operators/focal.py flow_length — the
    ArcGIS FlowLength(DOWNSTREAM) analog completing the D8 family):
    per tile the EXACT integer step decomposition (orth_sum, diag_sum)
    of summed path lengths to each cell's terminal — length = orth +
    diag·√2 applied ONCE by the caller; a float accumulation would
    depend on addition order and pointer doubling reassociates it, so
    the integer pair is the distributable representation. Oracle: the
    flow closure as a UNION ALL walk carrying per-step type counts."""
    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark.operators import focal as FO

    tiles = corpus_mod.synth_px_tiles(spark, tile_size=64)
    return FO.flow_length(tiles, tile_size=64)


def q_flow_length_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLOW LENGTH, FORCED-DISTRIBUTED (scene_max_px=0): the
    _watershed_dist contraction with ADDITIVE integer counts riding
    the pointer doubling (``focal.contract``) — GROUP rows (chain end,
    cell count, local step sums) + the O(perimeter) border table whose
    counts ADD each doubling round; tile total = Σ_groups (local sums +
    cnt · resolved(end)). Bit-identical (integer addition is
    associative); same oracle."""
    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark.operators import focal as FO

    tiles = corpus_mod.synth_px_tiles(spark, tile_size=64)
    return FO.flow_length(tiles, tile_size=64, scene_max_px=0)


def q_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GOPHER REPETITION SIGNALS (operators/retrieval.py
    repetition_signals — the Rae et al. 2021 §A1.1 quality filters:
    web pipelines drop documents whose most-frequent n-gram covers too
    many characters or whose duplicate fraction is high): per doc
    token/dup counts, the top unigram and adjacent bigram under the
    TOTAL order (count DESC, gram ASC) with their covered-character
    counts, and the quantized duplicate-token ratio (ONE IEEE
    division). Integer counts end-to-end; argmax per doc is a
    struct-min on the already-shuffled (doc, gram) counts — no second
    shuffle. Oracle: list-subscript grams + ROW_NUMBER argmax."""
    _views(spark, sf_dir)
    from geotrellis_contrib_spark.operators import retrieval as RT
    return RT.repetition_signals(spark.table("documents"))


def q_bigram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BIGRAM NOVELTY (operators/retrieval.py bigram_novelty — the
    LM-lite corpus-fit quality signal web pipelines bucket documents
    by before sampling): per doc the adjacent-bigram count, the count
    NOT in the corpus's top-200 bigrams (TOTAL order count DESC,
    bigram ASC — deterministic ties, both sides select the identical
    set), and the quantized novelty ratio (ONE IEEE division). Scale:
    one doc-partitioned lead() window, map-side-combined counts, the
    K-row reference TakeOrdered + broadcast. Oracle: list-subscript
    bigrams (the bounded-range lateral idiom), same total order, same
    division chain."""
    _views(spark, sf_dir)
    from geotrellis_contrib_spark.operators import retrieval as RT
    return RT.bigram_novelty(spark.table("documents"))


def q_box_overlay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RECTANGLE OVERLAY JOIN (operators/spatial_join.py
    box_overlap_join — ST_Intersection for the axis-aligned case over
    the reference's bbox geometry columns, PostgisSpec.scala:133-140):
    every positive-area box pair with the EXACT intersection rectangle
    and area. Cover-cell equi-join with the FREE canonical-cell dedupe
    (the segment_intersection_join trick — no DISTINCT shuffle);
    corners are GREATEST/LEAST selections of input doubles, area one
    subtraction pair + multiply — identical IEEE ops both sides.
    Oracle: the brute-force self-join with the same expressions."""
    _views(spark, sf_dir)
    boxes = spark.table("polygon_boxes")
    return sj.box_overlap_join(boxes, boxes)


def q_percent_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERCENT-CLIP CONTRAST STRETCH (operators/render.py
    percent_clip_stats — the GDAL/ArcGIS p2–p98 linear enhancement,
    completing the family around sigmoidal_contrast and
    hist_equalize): per scene, lo/hi are exact TYPE-1 discrete
    percentiles over per-VALUE counts (the histogram trick at scene
    scope — shuffle bounded by distinct values), collected as a
    scenes×bands threshold table and closed over a zero-shuffle Arrow
    checksum map; stretch is ONE IEEE division behind exact v<=lo /
    v>=hi comparisons. Oracle: identical count/cumulative/rank/stretch
    chain over the closed-form field."""
    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark.operators import render as render_ops

    tiles = corpus_mod.synth_px_tiles(spark, tile_size=64)
    return render_ops.percent_clip_stats(tiles)


def q_curvature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PROFILE/PLAN/TOTAL CURVATURE (operators/focal.py
    curvature_stats — Zevenbergen & Thorne 1987, the GDALDEM/ArcGIS
    curvature recipe; the terrain-family member next to the Horn
    slope/aspect and TRI gates): 3x3 quadratic-fit coefficients, flat
    cells (G = H = 0) pinned to 0, full-3x3-valid edge convention,
    same single halo exchange. All +,−,*,/ in identical expression
    order both sides; quantize-first integer checksums. Oracle: the
    nine NULL-able neighbor columns of the terrain CTE pattern with
    the formulas mirrored term-for-term."""
    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark.operators import focal as FO

    tiles = corpus_mod.synth_px_tiles(spark, tile_size=64)
    return FO.curvature_stats(tiles, cell=30.0)


def q_geodesic_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GEODESIC DISTANCE SELF-JOIN (operators/spatial_join.py
    geodesic_pairs — the PostGIS geography ST_DWithin analog; the
    reference's slick tier stores exactly such point columns,
    PostgisSpec.scala:174-188 being the planar cousin): all pairs
    within 5 km along the WGS84 ellipsoid by Vincenty's INVERSE
    (grid.vincenty_distance, 16 PINNED lambda iterations). Two-phase:
    cell-ring equi-join at the conservative angular radius (1 deg >=
    100 km on WGS84 in both axes), Arrow-vectorized refine, and the
    predicate compares the mm-quantized INTEGER distance. Fixture: a
    503-point hot cluster from doc_id mod-folds (bounded at any sf,
    0.5-degree box — far from Vincenty's antipodal divergence).
    Oracle: brute-force pairs with the 16-iteration chain unrolled as
    MATERIALIZED CTEs, every constant the engine's runtime double."""
    _views(spark, sf_dir)
    ms = (spark.table("anchors")
          .select((F.col("doc_id") % 503).alias("m")).distinct())
    pts = ms.select(
        F.col("m").alias("pid"),
        (F.lit(-74.25) + ((F.col("m") * 9973 + 12345) % 100000)
         / F.lit(100000.0) * F.lit(0.5)).alias("lon"),
        (F.lit(40.45) + ((F.col("m") * 7919 + 54321) % 100000)
         / F.lit(100000.0) * F.lit(0.5)).alias("lat"))
    return sj.geodesic_pairs(pts, radius_m=5000.0, max_abs_lat=41.0)


def q_stream_network(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM NETWORK EXTRACTION (operators/focal.py stream_network —
    the hydrology product built ON TOP of D8 accumulation, the
    ArcGIS/GeoTrellis con(acc >= T) + channel-head + link recipe): per
    tile the stream-cell count (exclusive acc >= 8), channel heads (no
    upstream stream cell — the 7-idx antisymmetry of the fixed _D8
    order), and the exact integer sum of stream->stream link target
    ids (gr*4096 + gc). Selection over the converged accumulation —
    zero new arithmetic. Oracle: the flow closure extended with the
    threshold, a stream->stream edge table, and LEFT JOINs keeping
    zero-stream tiles."""
    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark.operators import focal as FO

    tiles = corpus_mod.synth_px_tiles(spark, tile_size=64)
    return FO.stream_network(tiles, tile_size=64)


def q_stream_network_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM NETWORK, FORCED-DISTRIBUTED (scene_max_px=0): one more
    halo pass over the converged flow_accumulation state of the
    focal.halo_rounds driver, with the driver's strip cut and frame
    assembly — (chosen, acc) strips exchange UNCONDITIONALLY (a
    non-flowing neighbor cell can still be a stream TARGET: a pit past
    the threshold), then the same local stream/head/link arrays. Bit-identical to the scene path by
    construction; same oracle."""
    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark.operators import focal as FO

    tiles = corpus_mod.synth_px_tiles(spark, tile_size=64)
    return FO.stream_network(tiles, tile_size=64, scene_max_px=0)


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIXED-ITERATION PAGERANK (operators/cluster.py pagerank — Brin
    & Page 1998, the link-graph quality-weighting pass web-scale
    pipelines run over crawl graphs; dangling mass dropped, the
    documented simplest variant): 3 iterations at damping 7/8 —
    DYADIC, so d·pr_q is exact and each per-edge contribution is one
    exact multiply + ONE IEEE division + one floor, summed as
    INTEGERS (order-free). One bucketable join+groupBy shuffle per
    iteration. Fixture: a deterministic 251-node multigraph from
    doc_id mod-folds (three edge rules, DISTINCT — bounded at any sf;
    out-degrees vary 1..3, in-degrees 0..many). Oracle: the identical
    three-iteration CTE chain with every literal forced DOUBLE."""
    _views(spark, sf_dir)
    from geotrellis_contrib_spark.operators import cluster as CL
    ms = (spark.table("anchors")
          .select((F.col("doc_id") % 251).alias("m")).distinct())
    e1 = ms.select(F.col("m").alias("src"),
                   ((F.col("m") * 7 + 3) % 251).alias("dst"))
    e2 = ms.filter(F.col("m") % 2 == 0) \
           .select(F.col("m").alias("src"),
                   ((F.col("m") * 13 + 5) % 251).alias("dst"))
    e3 = ms.select(F.col("m").alias("src"),
                   ((F.col("m") * F.col("m") + 1) % 251).alias("dst"))
    edges = e1.union(e2).union(e3).distinct()
    return CL.pagerank(edges, iters=3)


def q_zonal_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZONAL MAJORITY/MINORITY (operators/raster.py zonal_mode — the
    mode/histogram polygonal summary next to zonal_stats and
    zonal_percentiles; GeoTrellis exposes mode summaries over raster
    layers): per (poly, band) the most frequent value (smallest on
    ties), least frequent (same rule), n_distinct, total count. Same
    histogram-trick shape — (poly, value) COUNTS first, map-side
    combined, then struct-ordered argmin/argmax; selection only, all
    exact. Oracle: windowed max/min count + MIN(val) tie rule."""
    _views(spark, sf_dir)
    out = raster_ops.zonal_mode(spark.table("tiles"),
                                spark.table("polygon_boxes"))
    return out.select("poly_id", "band", "cnt", "n_distinct",
                      "majority", "minority")


def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF DOC-TERM WEIGHTS (operators/retrieval.py tfidf_weights —
    the canonical text vectorizer, Spärck Jones 1972; the unranked
    sibling of bm25_topk sharing its rational-idf no-log discipline):
    w = (tf/dl)·((N+1)/(df+1)), one floor-quantization to the 2^-32
    grid. Plan: explode -> ONE map-side-combined (doc, term) shuffle ->
    broadcast df + constant-N crossJoin. Fixture bound: doc_id % 17
    == 3 keeps the pair table proportional to the slice at any sf.
    Oracle: UNNEST(STR_SPLIT) twin with the identical float chain."""
    _views(spark, sf_dir)
    docs = spark.table("documents").filter(F.col("doc_id") % 17 == 3)
    from geotrellis_contrib_spark.operators import retrieval as RT
    return RT.tfidf_weights(docs)


def q_local_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-RASTER LOCAL ALGEBRA (operators/local.py local_binary —
    GeoTrellis localMultiply between CO-REGISTERED rasters; image
    differencing/ratioing is the classic change-detection use):
    source-1 × source-0 over their overlapping tile keys, NoData in
    EITHER input -> NoData out, ONE co-partitioned join shuffle, then
    the zero-shuffle per-tile checksum rollup. Exactness: quarter-grid
    × quarter-grid products land on the 1/16 grid below 2^28 — exact
    in float64, quantized at q=16 to integers. Oracle: the per-source
    closed forms multiplied per pixel with the pair validity mask."""
    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark.operators import local as LO

    tiles = corpus_mod.synth_px_tiles(spark, tile_size=64)
    a = tiles.filter(F.col("source_idx") == 1)
    b = tiles.filter(F.col("source_idx") == 0)
    prod = LO.local_binary(a, b, op="multiply")
    return LO.tile_checksums(prod, q=16.0)


def q_temporal_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEDIAN COMPOSITE (operators/temporal.py temporal_median — the
    cloud-robust Landsat mosaic recipe, the selection-median sibling of
    temporal_composite's max-value rule): per-pixel median of valid
    observations across the calibrated stack. Odd counts are pure
    selection ((a+a)/2 = a); the fixture's 2-valid pixels exercise the
    even branch with ONE exact dyadic mean of quarter-grid values.
    Oracle: the median-of-three greatest/least identity for 3-valid
    pixels, explicit pair means for 2-valid, passthrough for 1-valid."""
    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark.operators import temporal as TE

    tiles = corpus_mod.synth_px_tiles(spark, tile_size=64)
    return TE.temporal_median(
        TE.calibrate_stack(tiles, MK_GAINS, MK_OFFSETS))


def q_fill_sinks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILL SINKS — Planchon & Darboux 2001, eps=0, 8-connectivity
    (operators/focal.py fill_sinks — the standard DEM pit-filling
    preprocessing ahead of D8 flow direction/accumulation; GeoTrellis
    raster.hydrology family): W = unique fixpoint of max(dem, min of
    8-neighbor W) with NoData/edge as outlets = the level water
    settles at. Pure max/min SELECTION over dem values — zero
    arithmetic — so checksums are exact. Fixture: a strictly tilted
    plane (no native pits) with two rectangular basins per source,
    both STRADDLING tile seams; the tilt makes the fill level closed-
    form (W = max(dem, pour level of the basin's outer-ring minimum),
    W = dem elsewhere — the escape-corridor argument in
    corpus.synth_dem_tiles). Oracle: that closed form per pixel."""
    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark.operators import focal as FO
    tiles = corpus_mod.synth_dem_tiles(spark)
    return FO.fill_sinks(tiles)


def q_fill_sinks_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILL SINKS, FORCED-DISTRIBUTED (scene_max_px=0): the synchronous
    halo-rounds path — round 0 solves each tile's local fixpoint with
    unknown (+inf) data-neighbor ring and outlet (-inf) absent/NoData
    ring, then 1-px W strips exchange per round; ring inputs only
    DECREASE, so in-tile fixpoints descend monotonically to the global
    fixpoint, bit-identical to the scene solve (selection only). Same
    closed-form oracle; scene-vs-dist parity is also pytest-pinned."""
    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark.operators import focal as FO
    tiles = corpus_mod.synth_dem_tiles(spark)
    return FO.fill_sinks(tiles, scene_max_px=0)


def q_segment_intersections(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEGMENT-INTERSECTION JOIN (operators/spatial_join.py
    segment_intersection_join — the line-layer overlay op of the vector
    family; JTS geometry.intersection semantics for the proper-crossing
    case): every properly-crossing (A, B) segment pair with the
    crossing point as the EXACT rational integer triple (num_x, num_y,
    den), den pinned to |cross(a_dir, b_dir)| (the Voronoi
    representation trick — numerators uniquely determined, no gcd, no
    float anywhere). Scale shape: bounded bbox→cell explode, ONE int64
    equi-join, pair dedupe FREE via the provably-shared canonical cell
    (no DISTINCT shuffle); all int64 Column algebra in whole-stage
    codegen. Fixture: segments from doc_id mod-folds — DISTINCT by
    m = doc_id % 3001 bounds the table at 3001 rows at ANY scale
    factor. Oracle: brute-force pair test with the identical straddle
    signs and numerator formulas."""
    _views(spark, sf_dir)
    segs = (spark.table("anchors")
            .select((F.col("doc_id") % 3001).alias("m")).distinct()
            .select(F.col("m").alias("seg_id"),
                    (F.col("m") % 89).alias("x1"),
                    ((F.col("m") * 7) % 97).alias("y1"),
                    ((F.col("m") % 89) + 1 + (F.col("m") % 11))
                    .alias("x2"),
                    (((F.col("m") * 7) % 97) - 13 + ((F.col("m") * 3)
                                                     % 27)).alias("y2")))
    return sj.segment_intersection_join(
        segs.filter(F.col("seg_id") % 2 == 0),
        segs.filter(F.col("seg_id") % 2 == 1))


def q_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTRIBUTED SPHERICAL K-MEANS, 2 Lloyd iterations
    (operators/similarity.py kmeans_lloyd — the clustering pass every
    embedding pipeline runs for IVF index build / topic bucketing;
    MacQueen 1967/Lloyd 1982): Knuth-hash seeds → cosine assignment
    (in-batch argmax against the broadcast K-row centroid table, the
    ivf_assign machinery) → quantized integer update state (≤ K·d rows
    per batch — the constant-size-partial shape; no vector shuffles).
    Centroid update (q_sum/q)/n is two IEEE divisions from the integer
    state, bit-reproducible, so iteration 2's assignment runs against
    byte-identical centroids on both sides. Oracle: the full two-
    iteration chain as CTEs — seed LIMIT, ROW_NUMBER argmax, LIST()
    rebuild, identical quantized sums."""
    _views(spark, sf_dir)
    return sim.kmeans_lloyd(spark.table("embeddings"), k=8, iters=2)


def q_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTRIBUTED GRAM MATRIX (operators/linalg.py — the reduction
    every 100TB embedding pipeline runs before PCA/whitening; the
    eigen-solve is a driver-side d³ on the d×d result): upper-triangle
    Σ x_i·x_j over all embeddings. Scale shape: each Arrow batch
    yields a CONSTANT-SIZE 2080-row partial — no row-level shuffle
    exists; the only exchange is the tiny (i,j) groupBy. Exactness:
    float32 mantissas make every product exact in float64; per-term
    floor-quantization to int64 makes the sum ORDER-FREE (the
    quantize-first rule; partition-count invariance pytest-pinned).
    Oracle: identical expression over DuckDB array subscripts."""
    from geotrellis_contrib_spark.operators import linalg as LA
    _views(spark, sf_dir)
    return LA.gram_matrix(spark.table("embeddings"), dim=64)


def q_mean_vector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-DIMENSION EMBEDDING SUMS (operators/linalg.py mean_vector —
    the first-moment companion of gram_matrix; covariance = (G −
    s·sᵀ/n)/n driver-side): quantized Σ x_i per dimension plus row
    count, same constant-size-partial shape."""
    from geotrellis_contrib_spark.operators import linalg as LA
    _views(spark, sf_dir)
    return LA.mean_vector(spark.table("embeddings"), dim=64)


def q_hex_bin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HEXAGONAL BINNING (functions/cells.py hex_cell — the H3-style
    axial hex index next to the square Z-curves; the north-star cell
    family): pointy-top hexes of circumradius 3 degrees, assignment by
    the public cube-rounding rule (fractional axial -> cube -> per-
    component floor(v+0.5) -> fix the largest-error component so
    x+y+z=0). EVERY op in the chain (+,-,*,/,SQRT,FLOOR,ABS,CASE) is
    IEEE-exact or correctly rounded, so identical SQL text is bit-
    identical across engines — no libm hazard, no boundary epsilon.
    Zero shuffle until the final bin groupBy. Oracle: the same staged
    CTE chain emitted by the same generator."""
    _views(spark, sf_dir)
    a = (spark.table("anchors").filter(F.col("lon").isNotNull())
         .select("doc_id", "lon", "lat"))
    h = C.hex_cell(a, "lon", "lat", 3.0)
    return (h.groupBy("hq", "hr")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.floor(F.col("lon") * F.lit(256.0))
                       .cast("long")).alias("qlon")))


_ED_TITLES_SQL = """
SELECT d.doc_id,
       CASE d.doc_id % 3
         WHEN 0 THEN SUBSTRING(c.text, 1, 16)
         WHEN 1 THEN CONCAT(SUBSTRING(c.text, 1, 7), 'z',
                            SUBSTRING(c.text, 9, 8))
         ELSE CONCAT(SUBSTRING(c.text, 1, 16), 'y')
       END AS title
FROM documents d JOIN documents c ON c.doc_id = d.doc_id % 13
WHERE d.doc_id % 5 = 2
"""


def q_edit_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EDIT-DISTANCE-1 NEAR-DUP JOIN (operators/dedup.py
    edit_distance_pairs — SymSpell symmetric-delete blocking, the
    string sibling of MinHash/SimHash banding): titles derived from the
    canonical-text join get one of three shapes per doc (identity / one
    substitution / one trailing insertion), so real 0- and 1-distance
    pairs exist inside every canonical group and 2-distance pairs are
    correctly excluded. Candidates meet on an EQUI-join over
    {s} ∪ {single-char deletes of s} (guaranteed complete for d<=1),
    then the exact built-in levenshtein refine — bucketed like LSH,
    never all-pairs. Oracle: brute-force O(n²) self-join with DuckDB's
    identical unit-cost levenshtein."""
    _views(spark, sf_dir)
    titles = spark.sql(_ED_TITLES_SQL)
    return dd.edit_distance_pairs(titles, text_col="title",
                                  id_col="doc_id")


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF JOIN (operators/asof.py — the temporal-join primitive
    Spark lacks natively; pandas merge_asof / kdb aj semantics): every
    click matches the user's LATEST purchase with purchase.ts <=
    click.ts. Spark-first union-tag window plan — ONE shuffle on the
    key, running last(payload struct, ignorenulls) over (t, side, tie)
    — instead of a per-row subquery or range-explode; right rows sort
    before left at equal t (<= semantics), equal-t right ties resolve
    to the largest event_id. Timestamp comparisons are exact
    (microsecond integers through parquet on both engines). Oracle:
    correlated ORDER BY ts DESC, event_id DESC LIMIT 1 subqueries —
    an INDEPENDENT formulation of the same total order."""
    from geotrellis_contrib_spark.operators import asof as AS
    _views(spark, sf_dir)
    e = spark.table("events")
    clicks = (e.filter(F.col("event_type") == "click")
              .select("event_id", "user_id", "ts"))
    purch = (e.filter(F.col("event_type") == "purchase")
             .select("user_id", "ts", "event_id", "value"))
    j = AS.asof_join(clicks, purch, on=["user_id"], t_col="ts",
                     payload_cols=["event_id", "value"],
                     tie_col="event_id")
    return j.select(
        "event_id", "user_id",
        F.col("m_event_id"),
        F.floor(F.col("m_value") * F.lit(256.0))
         .cast("long").alias("m_qval"))


SAMPLE_RATES16 = {f"src{i}": (i % 4 + 1) * 4 for i in range(20)}
SPLIT_WEIGHTS = {"train": 13, "val": 2, "test": 1}


def q_sample_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC STRATIFIED SAMPLING + SPLIT ASSIGNMENT
    (operators/sampling.py — the training-pipeline primitives next to
    dedup: df.sample() is seed/partitioning-dependent, so a resumed or
    re-partitioned job samples a DIFFERENT subset; these are pure id
    functions, reproducible across runs, cluster sizes and engines):
    per-source keep rates in exact sixteenths (src0..19 get 4/8/12/16
    by i%4) via a broadcast rate table, then 13/2/1 train/val/test
    labels — INDEPENDENT Knuth multipliers, the similarity-tier masked
    overflow discipline. Output: per-(source, split) doc counts + char
    sums. Oracle: the identical masked hash arithmetic in SQL over a
    VALUES rate table."""
    from geotrellis_contrib_spark.operators import sampling as SA
    _views(spark, sf_dir)
    d = spark.table("documents")
    kept = SA.stratified_sample(d, "source", SAMPLE_RATES16)
    out = kept.select("source", "n_chars",
                      SA.split_label("doc_id", SPLIT_WEIGHTS))
    return (out.groupBy("source", "split")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_chars").alias("chars")))


def q_line_simplify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOUGLAS-PEUCKER LINE SIMPLIFICATION (operators/simplify.py — the
    JTS DouglasPeuckerSimplifier analog behind GeoTrellis vector
    simplify; the reference round-trips such geometries through slick,
    PostgisSpec.scala:133-140): 3 polylines built from ordered anchor
    subsets (centi-degree integer coords), tolerance eps=500. The whole
    recursion is EXACT integer arithmetic — the perpendicular test is
    cross² > eps²·len² (int128), split at max metric with smallest-
    index ties — so the kept set is unique and bit-stable. Oracle: the
    SAME recursion as a DuckDB RECURSIVE CTE (segment table seeded with
    each line's endpoints; the recursive term joins the argmax interior
    point via NOT EXISTS and emits both child segments through a
    2-value side picker; HUGEINT squares). DuckDB quirk pinned: UNION
    over two references to a recursive CTE fails to dedupe — kept
    endpoints need DISTINCT over UNION ALL."""
    from pyspark.sql import Window

    from geotrellis_contrib_spark.operators import simplify as SI
    _views(spark, sf_dir)
    w = Window.partitionBy("g").orderBy("doc_id")
    pts = (spark.table("anchors")
           .filter((F.col("doc_id") % 11 == 4) & F.col("lon").isNotNull())
           .select((F.col("doc_id") % 3).alias("g"),
                   F.col("doc_id"),
                   F.floor(F.col("lon") * F.lit(100.0))
                    .cast("long").alias("x"),
                   F.floor(F.col("lat") * F.lit(100.0))
                    .cast("long").alias("y"))
           .withColumn("i", F.row_number().over(w) - F.lit(1)))
    return SI.simplify_lines(pts, eps=500)


def q_cell_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRING CELL-NAMING SCHEMES (functions/cells.py geohash/quadkey —
    the public base32/base-4 siblings of the integer Z-curves backing
    the layout keys; same role as GeoTrellis SpatialKey boundable
    indexes, LayoutTileSource.scala keyed reads): geohash-6 (Niemeyer
    base32, MSB-first lat/lon bisection starting with LONGITUDE) and
    Bing quadkey-10 (base-4 digits of the web-mercator tile pair, one
    per zoom; parent = prefix). Both are ONE parsed JVM expression from
    the same SQL text the oracle runs (known-answer pytests: the
    canonical 'ezs42' vector, Bing's documented '021'/'0231010' tiles),
    plus a geohash-3 prefix rollup proving the hierarchy property.
    Boundary safety: every sf fixture lat sits >=1.9e-3 tile-fractions
    from a mercator floor boundary — libm noise cannot flip a digit."""
    _views(spark, sf_dir)
    a = (spark.table("anchors")
         .filter((F.col("doc_id") % 5 == 1) & F.col("lon").isNotNull()))
    # two-step: integer codes once, THEN digits — the inline one-shot
    # builders re-inline the spread tree per character and Catalyst
    # pays analysis+codegen per copy (measured 3.4s vs ~0.3s warm).
    # r7: the codes themselves are STAGED named-column spreads — the
    # one-expression builders still double their text per Morton stage
    # (~25 KB of SQL for the pair), and Catalyst analysis of that tree
    # dominated the query (5-7 s driver-side); same integers.
    codes = C.geohash_quadkey_codes(
        a.select("doc_id", "lon", "lat"), "lon", "lat", 6, 10,
        "ghc", "qkc").select("doc_id", "ghc", "qkc")
    out = codes.select(
        "doc_id",
        C.geohash_chars("ghc", 6).alias("gh6"),
        C.quadkey_chars("qkc", 10).alias("qk10"))
    # geohash hierarchy: the precision-3 cell is a string PREFIX
    return out.withColumn("gh3", F.substring("gh6", 1, 3))


def q_temporal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RASTER TIME SERIES (operators/temporal.py — per-pixel temporal
    count/mean/range across the scene stack; GeoTrellis models this as
    SpaceTimeKey layers fed through the same RasterSource machinery,
    LayoutTileSource.scala:31-52): source_idx is the time axis, the
    three shifted scenes overlap partially (1-3 observations per key)
    and each punches its deterministic NoData hole, so per-pixel counts
    genuinely vary. ONE shuffle (groupBy spatial key) then a vectorized
    Arrow stack reduce. Oracle: the fixture's closed-form value/hole
    predicates per source, summed in the same ascending-source order
    (all quarter-multiples — exact), ONE IEEE division for the mean,
    GREATEST/LEAST for the range, quantize-first integer tile sums."""
    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark.operators import temporal as TE

    tiles = corpus_mod.synth_px_tiles(spark, tile_size=64)
    return TE.temporal_stats(tiles)


def q_convex_hull(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-GROUP CONVEX HULL (operators/hull.py — the vector-aggregation
    sibling of the geometry scalars; reference surface: the slick tier
    round-trips JTS geometries whose convexHull is the canonical derived
    footprint, PostgisSpec.scala:133-140): anchors quantized to integer
    milli-degrees, grouped doc_id%4, TWO-LEVEL distributed hull (partial
    hull per input partition -> only candidate vertices shuffle; the
    hull(A∪B)=hull(hull A ∪ hull B) identity — pytest-pinned ≡ the
    single-level solve). Output: strict hull vertices + the closed-ring
    shoelace checksum area2 (pins the CCW ring ORDER). Oracle: vertex =
    Caratheodory membership test (on no segment of two others, in no
    nondegenerate triangle of others — pure int64 cross/dot products),
    area2 = the order-FREE edge-set shoelace (CCW hull edges are the
    directed pairs with every other vertex strictly left)."""
    from geotrellis_contrib_spark.operators import hull as HU
    _views(spark, sf_dir)
    pts = (spark.table("anchors")
           .filter((F.col("doc_id") % 7 == 3) & F.col("lon").isNotNull())
           .select((F.col("doc_id") % 4).alias("g"),
                   F.floor(F.col("lon") * F.lit(1000.0))
                    .cast("long").alias("x"),
                   F.floor(F.col("lat") * F.lit(1000.0))
                    .cast("long").alias("y")))
    return HU.convex_hull(pts, two_level=True) \
             .select("g", "x", "y", "area2")


def q_delaunay_tin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELAUNAY TRIANGULATION / TIN (operators/triangulation.py — the
    geotrellis.vector.triangulation.DelaunayTriangulation family that
    feeds TIN rasterization and euclidean distance): per-group
    Bowyer-Watson over the SAME quantized anchor sets as convex_hull,
    solved with python BIG-INT incircle determinants (milli-degree
    incircle dets reach ~10^23 — past int64 AND float64; the oracle's
    twin quantities stay in int64, the brute Delaunay pytest uses the
    same big-int dets). The data contains exactly-cocircular
    quadruples (quantized hot cluster), so the Delaunay diagonal
    choice is NON-unique — the gate therefore compares the
    triangulation-INVARIANT summary every valid full triangulation
    shares exactly: n_triangles = 2n-b-2 and n_edges = 3n-b-3 (Euler,
    b = hull-boundary points incl. collinear-on-edge ones) and
    area2_sum = the hull's order-free edge-set shoelace (triangles
    partition the hull; integer shoelace sums are exact). The
    empty-circumcircle property itself is pytest-pinned vs brute
    force on cocircular/near-collinear/grid fixtures."""
    from geotrellis_contrib_spark.operators import triangulation as TR
    _views(spark, sf_dir)
    pts = (spark.table("anchors")
           .filter((F.col("doc_id") % 7 == 3) & F.col("lon").isNotNull())
           .select((F.col("doc_id") % 4).alias("g"),
                   F.floor(F.col("lon") * F.lit(1000.0))
                    .cast("long").alias("x"),
                   F.floor(F.col("lat") * F.lit(1000.0))
                    .cast("long").alias("y")))
    return TR.tin_summary(TR.delaunay(pts))


def _parabola_pts(spark: SparkSession):
    """The unique-Delaunay fixture: points (x, x²) with distinct
    positive x. No 3 are collinear (Vandermonde) and no 4 cocircular —
    a circle meets y = x² where x⁴ + (1+E)x² + Dx + F = 0, whose four
    roots SUM TO ZERO (no x³ term), impossible for all-positive x — so
    the Delaunay triangulation is UNIQUE and a brute-force oracle can
    recompute the exact triangle set. x stays ≤ 91 (mod-89 fold), so
    every incircle det ≤ ~3·10^14: int64-safe in DuckDB, and the
    per-group point count is BOUNDED at 89 at any scale factor."""
    return (spark.table("documents")
            .select((F.col("doc_id") % 2).alias("g"),
                    (F.lit(3) + (F.col("doc_id") * 7) % 89).alias("x"))
            .distinct()
            .select("g", "x", (F.col("x") * F.col("x")).alias("y"),
                    (F.col("x") % 7 + 1 + F.col("g")).alias("z")))


def q_delaunay_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT DELAUNAY TRIANGLE SET (operators/triangulation.py over
    the parabola fixture — see _parabola_pts: uniqueness is PROVABLE
    there, unlike the anchor data's cocircular quads): the gate
    compares every canonical CCW triangle row bit-for-bit against a
    DuckDB oracle that recomputes Delaunay by brute force — a triple
    is a Delaunay triangle iff no other point lies strictly inside
    its circumcircle (int64 incircle dets; increasing-x parabola
    triples are already CCW, so the canonical smallest-vertex-first
    CCW row is just (p,q,r) by x)."""
    from geotrellis_contrib_spark.operators import triangulation as TR
    _views(spark, sf_dir)
    return TR.delaunay(_parabola_pts(spark).select("g", "x", "y"))


def q_tin_raster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIN LINEAR RASTERIZATION (DelaunayRasterizer analog,
    operators/triangulation.py tin_interpolate): sample the per-group
    TIN surface over the parabola fixture at a 25×29 integer lattice.
    Exactness: barycentric value = (wa·za + wb·zb + wc·zc)/area2 with
    exact-int64 numerator+denominator and ONE IEEE division — the
    correctly-rounded exact rational, so a lattice point on a shared
    edge gets BIT-identical doubles from either triangle and the
    engine's first-triangle-wins equals the oracle's DISTINCT over
    the containment join with no tie-break rule."""
    from geotrellis_contrib_spark.operators import triangulation as TR
    _views(spark, sf_dir)
    return TR.tin_interpolate(_parabola_pts(spark), 0, 25, 4, 0, 29, 300)


def q_voronoi_vertices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VORONOI DIAGRAM VERTICES (geotrellis.vector.voronoi
    .VoronoiDiagram analog, operators/triangulation.py): the dual of
    delaunay_exact — each triangle's circumcenter as the EXACT
    rational integer triple (cnum_x, cnum_y, den) with den pinned to
    2·area2, making the numerators representation-unique (cnum =
    cc·den is an integer identity) so no gcd/float appears anywhere.
    Pure JVM Column arithmetic over the triangle table; the oracle
    re-derives the same triple over its brute-forced Delaunay CTE.
    Equidistance of each circumcenter from its three vertices is
    pytest-pinned as a big-int identity."""
    from geotrellis_contrib_spark.operators import triangulation as TR
    _views(spark, sf_dir)
    return TR.voronoi_vertices(
        TR.delaunay(_parabola_pts(spark).select("g", "x", "y")))


def q_snapshot_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SNAPSHOT COMPACTION + EXPIRY (the Iceberg rewrite-data-files /
    expire-snapshots pair, sources/snapshots.py:206,227 — the
    maintenance half of the table format: appends fragment a 100TB
    table into small files; compaction rewrites CURRENT into
    key-range-partitioned files as a normal optimistic commit, and
    expiry garbage-collects data files no LIVE snapshot references):
    the time-travel table is rebuilt, compacted (v4), then history
    below v3 is expired — v3 keeps reading because every file it
    references is still live, v1/v2 fail loud (pytest-gated). ONE
    query reads v3 (pre-compact) and v4 (post-compact); both must be
    the SAME logical row set — compaction changes layout, never
    content. Oracle: the v3 logical state from the anchors derivation
    emitted twice. File-count collapse, byte-exact content equality
    and dead-file deletion are pytest-gated (test_snapshots.py)."""
    import hashlib
    import os
    import tempfile
    import uuid as _uuid

    from geotrellis_contrib_spark.sources import snapshots as SN

    _views(spark, sf_dir)
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = os.path.join(tempfile.gettempdir(), f"gt_gate_snapc_v1_{tag}")
    if not os.path.exists(os.path.join(path, "meta", "CURRENT")):
        build = path + "." + _uuid.uuid4().hex[:8]
        SN.create_table(build, key_col="doc_id")
        a = spark.table("anchors").select("doc_id", "lon", "lat")
        SN.append(a.filter(F.col("doc_id") % 3 == 0), build)
        SN.append(a.filter(F.col("doc_id") % 3 == 1), build)
        SN.delete_range(spark, build, 1000, 3000)
        SN.compact(spark, build, target_files=4)
        SN.expire_snapshots(build, keep_from=3)
        os.rename(build, path)
    parts = [SN.read_snapshot(spark, path, v)
             .withColumn("version", F.lit(v)) for v in (3, 4)]
    df = parts[0].unionByName(parts[1])
    return (df.groupBy("version", (F.col("doc_id") % 8).alias("g"))
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.sum(F.floor(F.col("lon") * F.lit(256.0))
                       .cast("long")).alias("qlon")))


def q_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ENCODER (product quantization, Jegou/Douze/Schmid 2011 — the
    COMPRESSION scale path of the ANN family next to brute/LSH/IVF: a
    100TB embedding store persists M/2 bytes per vector instead of
    dims*4): each vector's 8 subspaces quantize to the nearest of 16
    codewords (Knuth-hash-selected corpus vectors, the IVF budget
    trick — constant broadcast at any corpus size), ties to the
    smallest codeword index, packed into ONE BIGINT. Zero shuffle: one
    narrow Arrow map with dim-by-dim accumulation bit-matching the SQL
    left fold. Oracle: hash selection, the identical per-subspace
    distance chains, argmin and packing replayed in SQL."""
    _views(spark, sf_dir)
    return sim.pq_encode(spark.table("embeddings"), dims=EMB_DIMS)


def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ADC SEARCH: asymmetric-distance top-10 per query — approximate
    squared L2 = sum over subspaces of the query->codeword distance at
    the candidate's code; each per-subspace distance quantizes to the
    2^24 grid BEFORE the sum so the ADC reduction is an order-free
    INTEGER sum (the bm25 discipline). Encoded corpus broadcast-joined
    with the constant-small query set; the rank shuffle moves scalars
    only. Oracle: codes + per-query distance tables + integer ADC
    replayed in SQL."""
    _views(spark, sf_dir)
    e = spark.table("embeddings")
    queries = e.filter(F.col("vec_id") % 50 == 0) \
               .select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("qvec"))
    return sim.pq_topk(e, queries, dims=EMB_DIMS, k=10)


KRIG_SAMPLES = [(1200.5, 1580.5, 10.0), (1250.5, 1650.5, 24.0),
                (1310.5, 1610.5, 17.0)]
KRIG_VGRAM = (0.0, 1.0, 250.0)  # c0, c1, range a (px)


def q_kriging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDINARY KRIGING (geotrellis.raster.interpolation Kriging analog
    — the geostatistical sibling of idw_interpolate): a 3-sample
    spherical-variogram surface over the standard 4x4-tile window,
    per-tile order-free integer sums of floor(val*2^20 + 0.5). The
    spherical model keeps the whole chain +,-,*,/,sqrt (all IEEE
    correctly rounded), and the oracle's system inverse is EMITTED BY
    THE SAME pinned adjugate recursion the engine runs — over SQL
    string operands instead of floats — so both sides are the literal
    same operation chain (see operators/kriging.py). Zero shuffle:
    constant-small samples collected once, inverse closed over one
    narrow Arrow map. a=250 px < window diagonal, so both variogram
    branches (in-range polynomial, sill) are exercised."""
    from geotrellis_contrib_spark.operators import kriging as KG

    pts = spark.createDataFrame(KRIG_SAMPLES,
                                "gx double, gy double, z double")
    c0, c1, a = KRIG_VGRAM
    return KG.kriging_interpolate(pts, zoom=6, cols=(18, 21),
                                  rows=(24, 27), c0=c0, c1=c1, a=a,
                                  tile_size=64)


BM25_QUERIES = [(0, "spark join fast"), (1, "table scan"),
                (2, "window agg stream"), (3, "hash merge"),
                (4, "sort order key"), (5, "vector column batch")]


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 RANKED RETRIEVAL (text-retrieval tier of the training-data
    pipeline family): top-10 documents per query under the quantized
    rational-idf BM25 of operators/retrieval.py — no transcendentals,
    so engine and oracle compute the identical IEEE double per term and
    the per-doc reduction is an order-free INTEGER sum. Plan shape:
    broadcast vocabulary semi-join BEFORE the tf shuffle (only matching
    tokens move), constant-small df/avgdl broadcast back, per-query
    top-k window over candidates only. Oracle: the full chain replayed
    in SQL with every literal forced DOUBLE."""
    _views(spark, sf_dir)
    from geotrellis_contrib_spark.operators import retrieval as RTV

    return RTV.bm25_topk(spark.table("documents"), BM25_QUERIES,
                         k1=1.2, b=0.75, top_k=10)


def q_vectorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RASTER -> VECTOR POLYGONIZATION (geotrellis.raster.vectorize /
    Tile#toVector analog — the vector-side closer of the raster<->vector
    pair whose other half is rasterize/polygon_burn): every 4-connected
    region of the nested-rectangle fixture becomes an OGC polygon WITH
    HOLE RINGS, traced across tile boundaries. Scale shape: zero-shuffle
    per-tile boundary-edge extraction (O(boundary), never O(pixels)),
    ONE segment-key groupBy cancels cross-tile interior edges, the
    region_stats CC label merge, then perimeter-bounded per-region ring
    assembly. The fixture's frames + hole-nested solids all straddle
    64-px tile edges, so stitching is genuinely exercised. Oracle: every
    output column INCLUDING THE FULL WKT STRING rebuilt closed-form in
    SQL (integer lattice corners, the engine's canonical ring/vertex
    order) — 36 value-exact rows."""
    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark.operators import vectorize as vec

    tiles = corpus_mod.synth_vector_tiles(spark)
    return vec.vectorize_regions(
        tiles, predicate=lambda a, gr, gc: a > 0.5, tile_size=64)


def q_sigmoidal_contrast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIGMOIDAL CONTRAST (geotrellis.raster.sigmoidal.SigmoidalContrast
    analog): each pixel normalized to [0,1] and passed through the
    normalized logistic g(u) = (1/(1+exp(beta*(alpha-u))) - A) / (B - A)
    with A = 1/(1+exp(beta*alpha)), B = 1/(1+exp(beta*(alpha-1))), then
    eq = floor(g*255 + 0.5). Purely per-pixel: ONE narrow Arrow map,
    ZERO shuffle at any corpus size. Oracle: the closed-form field
    through the IDENTICAL expression chain in DuckDB SQL — exp is fed
    the same double on both sides (same expression order) and the final
    half-up floor has a verified >=1e-4 margin on every fixture value
    (pytest brute-forces the whole value set), so sub-ulp libm
    differences cannot flip a bucket. Per-tile float sums of the 0..255
    outputs (<= 4096 ints — exact, order-free)."""
    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark.operators import pixels as px
    from geotrellis_contrib_spark.operators import render as render_ops

    tiles = corpus_mod.synth_px_tiles(spark, tile_size=64)
    eq = render_ops.sigmoidal_contrast(tiles, vmin=0.0, vmax=3400.0,
                                       alpha=0.5, beta=10.0, tile_size=64)
    return px.tile_stats(eq.withColumn("tile_size", F.lit(64)),
                         keys=("source_idx", "col", "row", "band"))


def q_raster_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MASK + INVERSE MASK by AOI geometry (geotrellis.raster.mask
    TileMaskMethods — the core masking family every reference
    RasterSource read feeds; half-open pixel-center rule, the
    zonal_stats tier): three overlapping/disjoint lon-lat AOI boxes
    whose edges are placed STRICTLY BETWEEN engine pixel-center
    ordinates (lon edges on exact global pixel boundaries; lat edges at
    midpoints of adjacent center latitudes under the engine's
    linear-in-degrees-within-tile convention), so membership reduces to
    exact integer global-pixel ranges the SQL twin recomputes with zero
    transcendentals. Engine: zero-shuffle closed-over-dimension Arrow
    map (no-hit tiles skip the pixel test), both modes unioned
    under a mode column, per-tile NoData-aware sums (quarter-multiple
    values -> order-free float64). Oracle: the closed-form fixture field
    with CASE range membership per mode."""
    import math

    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark.operators import pixels as px

    tiles = corpus_mod.synth_px_tiles(spark)
    Z, T = 6, 64
    n = float(1 << Z)
    npx = (1 << Z) * T

    def lat_c(g: int) -> float:
        trow, ri = divmod(g, T)
        tymax = math.degrees(math.atan(math.sinh(math.pi * (1 - 2 * trow / n))))
        tymin = math.degrees(math.atan(math.sinh(math.pi * (1 - 2 * (trow + 1) / n))))
        return tymax - (ri + 0.5) * (tymax - tymin) / T

    def latb(g: int) -> float:  # boundary strictly between rows g-1, g
        return (lat_c(g - 1) + lat_c(g)) / 2.0

    def lon(cpx: int) -> float:
        return cpx / npx * 360.0 - 180.0

    rects = [(1180, 1320, 1550, 1650),   # (ca, cb, ra, rb) global px
             (1400, 1480, 1600, 1700),
             (1200, 1250, 1560, 1580)]   # overlaps the first (union)
    boxes = spark.createDataFrame(
        [(lon(ca), latb(rb), lon(cb), latb(ra)) for ca, cb, ra, rb in rects],
        "xmin double, ymin double, xmax double, ymax double")
    keys = ("source_idx", "col", "row", "band")
    m = px.mask_tiles(tiles, boxes, tile_size=T) \
          .withColumn("tile_size", F.lit(T))
    i = px.mask_tiles(tiles, boxes, tile_size=T, inverse=True) \
          .withColumn("tile_size", F.lit(T))
    return (px.tile_stats(m, keys=keys).withColumn("mode", F.lit("mask"))
            .unionByName(px.tile_stats(i, keys=keys)
                         .withColumn("mode", F.lit("inverse"))))


def q_mosaic_merge_multires(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed-resolution mosaic merge: two 64-px sources + one 32-px source
    over shared keys; coarser tiles resample (nearest) to the group's
    finest grid before the left-biased first-non-NoData composite — the
    reference's cell-size-mismatch behavior (MosaicRasterSource.scala:
    121-146). Output: per-tile NoData-aware checksums (exact quarters ->
    bit-stable). Oracle: the closed-form fixture on the target grids in
    SQL (upsample = integer index halving)."""
    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark.operators import pixels as px

    t64 = corpus_mod.synth_px_tiles(spark, tile_size=64, n_sources=2) \
                    .withColumn("tile_size", F.lit(64))
    t32 = corpus_mod.synth_px_tiles(spark, tile_size=32, n_sources=3) \
                    .filter(F.col("source_idx") == 2) \
                    .withColumn("tile_size", F.lit(32))
    merged = px.merge_tiles_multires(t64.unionByName(t32))
    return px.tile_stats(merged).select("col", "row", "band", "px_sum", "px_count")


# 4326 regrid target: EXACT-decimal extent (tile-column boundaries of the
# fixture are exact: 18/64*360-180 = -78.75), prime-ish dimensions so no
# target pixel center lands exactly on a source pixel boundary (round
# counts like 200 create rational collisions where engine-vs-oracle ulp
# differences could flip a floor)
RG_X0, RG_X1, RG_Y0, RG_Y1 = -78.75, -39.375, 24.0, 40.5
RG_COLS, RG_ROWS = 199, 157


def q_reproject_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """reprojectToGrid onto an arbitrary caller-supplied target grid
    (RasterSourceF.scala:60-73): the pixel fixture regridded (4326->4326,
    nearest) onto an explicit 199x157 GridExtent, then NaN-aware window
    checksums per (source, band). Oracle: per target pixel, the owning
    tile and sampled source index recomputed in SQL (all index math is
    exact-decimal arithmetic both engines share)."""
    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark import grid as GR
    from geotrellis_contrib_spark.operators import pixels as px

    tiles = corpus_mod.synth_px_tiles(spark, tile_size=64)
    target = GR.GridExtent(RG_X0, RG_Y0, RG_X1, RG_Y1,
                           (RG_X1 - RG_X0) / RG_COLS, (RG_Y1 - RG_Y0) / RG_ROWS)
    out = px.reproject_to_grid(tiles, target, method="nearest",
                               tile_size=64, dst_crs=4326)
    return px.window_stats(out).select("source_id", "band", "px_sum", "px_count")


# LAEA (EPSG:3035) target grid over the pixel fixture's footprint —
# integer-meter literals so Spark and the SQL oracle share exact doubles
LA_X0, LA_Y0, LA_X1, LA_Y1 = -3000000.0, 850000.0, 1160000.0, 6070000.0
LA_COLS, LA_ROWS = 104, 87


def q_reproject_laea(spark: SparkSession, sf_dir: str) -> DataFrame:
    """reprojectToGrid onto an EQUAL-AREA destination (EPSG:3035, oblique
    ellipsoidal LAEA — Snyder ch.24): the pixel fixture warped onto an
    explicit 3035 GridExtent, NaN-aware window checksums per (source,
    band). Oracle: the full inverse projection (rho/ce/q/lambda closed
    forms + the 8-step Newton phi(q) iteration) recomputed in SQL; all
    compared quantities are floor-index sums of exact quarter-multiples,
    robust to last-ulp libm differences."""
    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark import grid as GR
    from geotrellis_contrib_spark.operators import pixels as px

    tiles = corpus_mod.synth_px_tiles(spark, tile_size=64)
    target = GR.GridExtent(LA_X0, LA_Y0, LA_X1, LA_Y1,
                           (LA_X1 - LA_X0) / LA_COLS, (LA_Y1 - LA_Y0) / LA_ROWS)
    out = px.reproject_to_grid(tiles, target, method="nearest",
                               tile_size=64, dst_crs=3035)
    return px.window_stats(out).select("source_id", "band", "px_sum", "px_count")


# Albers Conus (EPSG:5070) target grid over the fixture footprint
AB_X0, AB_Y0, AB_X1, AB_Y1 = 1430000.0, 50000.0, 6120000.0, 3640000.0
AB_COLS, AB_ROWS = 96, 72


def q_reproject_albers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """reprojectToGrid onto an Albers Equal-Area Conic destination
    (EPSG:5070, Snyder ch.14 ellipsoidal): the pixel fixture warped onto
    an explicit 5070 GridExtent, window checksums per (source, band).
    Oracle: the conic inverse (rho/theta closed form + the Newton phi(q)
    iteration) recomputed in SQL."""
    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark import grid as GR
    from geotrellis_contrib_spark.operators import pixels as px

    tiles = corpus_mod.synth_px_tiles(spark, tile_size=64)
    target = GR.GridExtent(AB_X0, AB_Y0, AB_X1, AB_Y1,
                           (AB_X1 - AB_X0) / AB_COLS, (AB_Y1 - AB_Y0) / AB_ROWS)
    out = px.reproject_to_grid(tiles, target, method="nearest",
                               tile_size=64, dst_crs=5070)
    return px.window_stats(out).select("source_id", "band", "px_sum", "px_count")


# Lambert-93 (EPSG:2154) target grid over the fixture footprint (the
# conformal/state-plane family joins LAEA + Albers under the hard gate);
# integer-meter literals, prime-ish dims (see RG_COLS note)
LC_X0, LC_Y0, LC_X1, LC_Y1 = -6900000.0, 5100000.0, -2750000.0, 9200000.0
LC_COLS, LC_ROWS = 101, 89


def q_reproject_lcc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """reprojectToGrid onto a CONFORMAL destination (EPSG:2154, Lambert
    Conformal Conic 2SP — Snyder ch.15 ellipsoidal): the pixel fixture
    warped onto an explicit 2154 GridExtent, NaN-aware window checksums per
    (source, band). Oracle: the LCC inverse (rho/theta closed form +
    Snyder 7-9 fixed-point phi(t) iteration, 8 unrolled MATERIALIZED
    steps) recomputed in SQL — the same evidence bar as the equal-area
    siblings reproject_laea / reproject_albers."""
    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark import grid as GR
    from geotrellis_contrib_spark.operators import pixels as px

    tiles = corpus_mod.synth_px_tiles(spark, tile_size=64)
    target = GR.GridExtent(LC_X0, LC_Y0, LC_X1, LC_Y1,
                           (LC_X1 - LC_X0) / LC_COLS, (LC_Y1 - LC_Y0) / LC_ROWS)
    out = px.reproject_to_grid(tiles, target, method="nearest",
                               tile_size=64, dst_crs=2154)
    return px.window_stats(out).select("source_id", "band", "px_sum", "px_count")


# proj4-string dispatch under the oracle gate: a shifted-center LAEA that
# exists in NO EPSG registry entry of the engine — the generic parallels/
# centers path (grid.parse_proj4), checked by the SAME full-inverse oracle
# machinery as EPSG:3035, just with different constants
PJ_DEF = ("+proj=laea +lat_0=48 +lon_0=8 +x_0=4000000 +y_0=2800000 "
          "+ellps=WGS84 +units=m +no_defs")
PJ_X0, PJ_Y0, PJ_X1, PJ_Y1 = -3290000.0, 1310000.0, 280000.0, 5770000.0
PJ_COLS, PJ_ROWS = 97, 83


def q_reproject_proj4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """reprojectToGrid onto a proj4-STRING destination (no EPSG code):
    arbitrary-center ellipsoidal LAEA parsed by grid.parse_proj4 and
    dispatched onto the same Snyder kernels as the named registry —
    reference parity with accepting any CRS object
    (GeoTiffReprojectRasterSource.scala:39). Oracle: the full LAEA inverse
    with the shifted constants recomputed in SQL."""
    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark import grid as GR
    from geotrellis_contrib_spark.operators import pixels as px

    tiles = corpus_mod.synth_px_tiles(spark, tile_size=64)
    target = GR.GridExtent(PJ_X0, PJ_Y0, PJ_X1, PJ_Y1,
                           (PJ_X1 - PJ_X0) / PJ_COLS, (PJ_Y1 - PJ_Y0) / PJ_ROWS)
    out = px.reproject_to_grid(tiles, target, method="nearest",
                               tile_size=64, dst_crs=PJ_DEF)
    return px.window_stats(out).select("source_id", "band", "px_sum", "px_count")


# Datum-shift destination: the EPSG:27700 OSGB chain (tmerc on the AIRY
# ellipsoid + the published OSGB 7-parameter Helmert +towgs84) relocated
# onto the fixture footprint (central meridian -62; Krueger diverges past
# ~30 deg of lon_0, and the real OSGB grid sits over Britain, not the
# fixture's Atlantic footprint — ellipsoid, scale, false origin, and datum
# parameters are the real EPSG:27700 ones). Integer-meter extent literals,
# prime-ish dims (see RG_COLS note).
DT_DEF = ("+proj=tmerc +lat_0=30 +lon_0=-62 +k=0.9996012717 +x_0=400000 "
          "+y_0=-100000 +ellps=airy "
          "+towgs84=446.448,-125.157,542.06,0.15,0.247,0.842,-20.489 "
          "+units=m +no_defs")
DT_X0, DT_Y0, DT_X1, DT_Y1 = -1200000.0, -900000.0, 2100000.0, 1200000.0
DT_COLS, DT_ROWS = 103, 97


def q_reproject_datum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """reprojectToGrid onto a DATUM-SHIFTED destination (Airy ellipsoid +
    7-parameter Helmert — the EPSG:27700/OSGB national-grid chain through
    grid.parse_proj4): the pixel fixture warped onto an explicit target
    GridExtent, NaN-aware window checksums per (source, band). Oracle: the
    FULL inverse chain recomputed in SQL — Krueger tmerc inverse on Airy
    (closed-form beta/delta series), geodetic->geocentric on Airy, the
    exact 7-param Helmert matrix (literal entries), then the 8-step
    geocentric->geodetic fixed-point iteration on WGS84 — the same
    dual-execution bar as the other reproject gates. Reference parity:
    arbitrary CRS objects at GeoTiffReprojectRasterSource.scala:39."""
    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark import grid as GR
    from geotrellis_contrib_spark.operators import pixels as px

    tiles = corpus_mod.synth_px_tiles(spark, tile_size=64)
    target = GR.GridExtent(DT_X0, DT_Y0, DT_X1, DT_Y1,
                           (DT_X1 - DT_X0) / DT_COLS, (DT_Y1 - DT_Y0) / DT_ROWS)
    out = px.reproject_to_grid(tiles, target, method="nearest",
                               tile_size=64, dst_crs=DT_DEF)
    return px.window_stats(out).select("source_id", "band", "px_sum", "px_count")


# Spherical destination: Lambert conformal conic on the authalic sphere
# (Snyder PP1395 closed forms — the +R / +a=+b / +ellps=sphere family of
# proj4 CRS; grid.lcc_sph_* kernels, goldens in tests/test_sphere.py from
# Snyder's own worked example). Parallels are the classic 33/45 conic pair,
# relocated to the fixture footprint's central meridian like the datum gate.
SP_DEF = ("+proj=lcc +lat_1=33 +lat_2=45 +lat_0=23 +lon_0=-62 +x_0=500000 "
          "+y_0=-300000 +R=6370997 +units=m +no_defs")
SP_X0, SP_Y0, SP_X1, SP_Y1 = -1350000.0, -500000.0, 2950000.0, 2000000.0
SP_COLS, SP_ROWS = 101, 89


def q_reproject_sphere(spark: SparkSession, sf_dir: str) -> DataFrame:
    """reprojectToGrid onto a SPHERICAL destination (the +R proj4 family —
    spherical LCC closed forms, grid.lcc_sph_to_lonlat): the pixel fixture
    warped onto an explicit target GridExtent, NaN-aware window checksums
    per (source, band). Oracle: the Snyder 15-5/14-11 inverse recomputed
    in SQL with the engine's own (n, rf=k0*R*F, rho0, 1/n) constants as
    literals — rho/theta/phi arithmetic term-for-term. Reference parity:
    arbitrary CRS objects at GeoTiffReprojectRasterSource.scala:39."""
    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark import grid as GR
    from geotrellis_contrib_spark.operators import pixels as px

    tiles = corpus_mod.synth_px_tiles(spark, tile_size=64)
    target = GR.GridExtent(SP_X0, SP_Y0, SP_X1, SP_Y1,
                           (SP_X1 - SP_X0) / SP_COLS, (SP_Y1 - SP_Y0) / SP_ROWS)
    out = px.reproject_to_grid(tiles, target, method="nearest",
                               tile_size=64, dst_crs=SP_DEF)
    return px.window_stats(out).select("source_id", "band", "px_sum", "px_count")


# Polar stereographic destination: the EPSG:3413 parameter set (NSIDC
# sea-ice north polar grid — lat_ts=70, lon_0=-45, WGS84) with shifted
# false origins. The fixture footprint sits at lat 22-41, far from the
# pole, which exercises the radial geometry hard (rho ~ 6-8e6 m).
ST_DEF = ("+proj=stere +lat_0=90 +lat_ts=70 +lon_0=-45 +x_0=2000000 "
          "+y_0=-3000000 +ellps=WGS84 +units=m +no_defs")
ST_X0, ST_Y0, ST_X1, ST_Y1 = -1300000.0, -11050000.0, 2600000.0, -8500000.0
ST_COLS, ST_ROWS = 103, 97


def q_reproject_stere(spark: SparkSession, sf_dir: str) -> DataFrame:
    """reprojectToGrid onto a POLAR STEREOGRAPHIC destination (the
    EPSG:3413/3031/5041 family — grid.stere_polar_* kernels, +lat_ts
    scaling via rf = a*m(ts)/t(ts)): the pixel fixture warped onto an
    explicit target GridExtent, NaN-aware window checksums per (source,
    band). Oracle: the Snyder 21-39/40 inverse + the same 8-step pinned
    conformal fixed point the engine runs, recomputed in SQL with the
    engine's rf constant as a literal. Golden anchor: Snyder PP1395 polar
    example bit-matched in tests/test_sphere.py. Reference parity:
    arbitrary CRS objects at GeoTiffReprojectRasterSource.scala:39."""
    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark import grid as GR
    from geotrellis_contrib_spark.operators import pixels as px

    tiles = corpus_mod.synth_px_tiles(spark, tile_size=64)
    target = GR.GridExtent(ST_X0, ST_Y0, ST_X1, ST_Y1,
                           (ST_X1 - ST_X0) / ST_COLS, (ST_Y1 - ST_Y0) / ST_ROWS)
    out = px.reproject_to_grid(tiles, target, method="nearest",
                               tile_size=64, dst_crs=ST_DEF)
    return px.window_stats(out).select("source_id", "band", "px_sum", "px_count")


# MODIS sinusoidal destination: the CANONICAL MODIS land-product grid CRS
# (sphere R=6371007.181, lon_0=0 — the single most common non-EPSG raster
# CRS in the wild). Spherical sinusoidal inverse is exact closed form
# (Snyder 30-5/30-6), so the SQL twin carries no iteration.
SN_DEF = "+proj=sinu +lon_0=0 +x_0=0 +y_0=0 +R=6371007.181 +units=m +no_defs"
SN_X0, SN_Y0, SN_X1, SN_Y1 = -8300000.0, 2300000.0, -3600000.0, 4700000.0
SN_COLS, SN_ROWS = 107, 93


def q_reproject_sinu(spark: SparkSession, sf_dir: str) -> DataFrame:
    """reprojectToGrid onto the MODIS SINUSOIDAL grid (grid.sinu_sph_*
    kernels on the MODIS sphere): the pixel fixture warped onto an explicit
    target GridExtent, NaN-aware window checksums per (source, band).
    Oracle: the exact closed-form spherical inverse (phi = y/R, lam =
    x/(R cos phi)) incl. the engine's wrap arithmetic, recomputed in SQL.
    Goldens: published MODIS grid extent/tile-size constants in
    tests/test_sinu_cea.py. Reference parity: arbitrary CRS objects at
    GeoTiffReprojectRasterSource.scala:39."""
    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark import grid as GR
    from geotrellis_contrib_spark.operators import pixels as px

    tiles = corpus_mod.synth_px_tiles(spark, tile_size=64)
    target = GR.GridExtent(SN_X0, SN_Y0, SN_X1, SN_Y1,
                           (SN_X1 - SN_X0) / SN_COLS, (SN_Y1 - SN_Y0) / SN_ROWS)
    out = px.reproject_to_grid(tiles, target, method="nearest",
                               tile_size=64, dst_crs=SN_DEF)
    return px.window_stats(out).select("source_id", "band", "px_sum", "px_count")


# Cylindrical equal-area destination: the EASE-Grid 2.0 global CRS
# (EPSG:6933 — +lat_ts=30 on WGS84, the standard passive-microwave /
# soil-moisture product grid). The ellipsoidal CEA inverse rides the SAME
# 8-step pinned phi(q) Newton as LAEA/Albers, so the SQL twin reuses the
# MATERIALIZED iteration CTEs.
CE_DEF = ("+proj=cea +lat_ts=30 +lon_0=0 +x_0=0 +y_0=0 +ellps=WGS84 "
          "+units=m +no_defs")
CE_X0, CE_Y0, CE_X1, CE_Y1 = -7800000.0, 2600000.0, -4100000.0, 4950000.0
CE_COLS, CE_ROWS = 101, 89


def q_reproject_cea(spark: SparkSession, sf_dir: str) -> DataFrame:
    """reprojectToGrid onto the EASE-Grid 2.0 CYLINDRICAL EQUAL-AREA grid
    (EPSG:6933 — grid.cea_* ellipsoidal kernels, k0 = m(30 deg)): the pixel
    fixture warped onto an explicit target GridExtent, NaN-aware window
    checksums per (source, band). Oracle: Snyder 10-26 (q = 2*k0*y/a,
    lam = x/(a*k0)) + the same 8-step phi(q) fixed point as the
    LAEA/Albers oracles, recomputed in SQL with the engine's k0 double as
    a literal. Goldens: published EASE2 extent constants in
    tests/test_sinu_cea.py. Reference parity:
    GeoTiffReprojectRasterSource.scala:39."""
    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark import grid as GR
    from geotrellis_contrib_spark.operators import pixels as px

    tiles = corpus_mod.synth_px_tiles(spark, tile_size=64)
    target = GR.GridExtent(CE_X0, CE_Y0, CE_X1, CE_Y1,
                           (CE_X1 - CE_X0) / CE_COLS, (CE_Y1 - CE_Y0) / CE_ROWS)
    out = px.reproject_to_grid(tiles, target, method="nearest",
                               tile_size=64, dst_crs=CE_DEF)
    return px.window_stats(out).select("source_id", "band", "px_sum", "px_count")


# Oblique (double) stereographic destination: the EPSG:28992 RD New METHOD
# (Gauss conformal sphere + oblique spherical stere; +proj=sterea) with
# the real RD scale/false-origin constants on Bessel, relocated to the
# fixture footprint (lat_0=32, lon_0=-62) like the datum gate. Golden
# anchor: the EPSG GN7-2 Amersfoort worked example (196105.283/557057.739)
# sub-mm in tests/test_sterea.py.
SA_DEF = ("+proj=sterea +lat_0=32 +lon_0=-62 +k_0=0.9999079 +x_0=155000 "
          "+y_0=463000 +ellps=bessel +units=m +no_defs")
SA_X0, SA_Y0, SA_X1, SA_Y1 = -1650000.0, -700000.0, 2000000.0, 1650000.0
SA_COLS, SA_ROWS = 109, 97


def q_reproject_sterea(spark: SparkSession, sf_dir: str) -> DataFrame:
    """reprojectToGrid onto an OBLIQUE DOUBLE-STEREOGRAPHIC destination
    (the EPSG oblique stereographic method of RD New / EPSG:28992 —
    grid.lonlat_to_sterea/sterea_to_lonlat, conformal-sphere chain): the
    pixel fixture warped onto an explicit target GridExtent, NaN-aware
    window checksums per (source, band). Oracle: the EPSG GN7-2 inverse
    (g/h/i/j closed forms to (chi, Lambda), then the 8-step pinned
    isometric-latitude fixed point) recomputed in SQL with the engine's
    conformal-sphere constants (R, n, c, chi0) as literals. Reference
    parity: arbitrary CRS objects at GeoTiffReprojectRasterSource.scala:39."""
    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark import grid as GR
    from geotrellis_contrib_spark.operators import pixels as px

    tiles = corpus_mod.synth_px_tiles(spark, tile_size=64)
    target = GR.GridExtent(SA_X0, SA_Y0, SA_X1, SA_Y1,
                           (SA_X1 - SA_X0) / SA_COLS, (SA_Y1 - SA_Y0) / SA_ROWS)
    out = px.reproject_to_grid(tiles, target, method="nearest",
                               tile_size=64, dst_crs=SA_DEF)
    return px.window_stats(out).select("source_id", "band", "px_sum", "px_count")


# Geostationary destination: the GOES-East ABI fixed-grid CRS (the native
# projection of geostationary weather rasters — projected coords are
# h-scaled scan angles; +sweep=x is the GOES convention). Golden anchor:
# the GOES-R PUG vol. 3 worked example (x=-0.024052, y=0.095340 rad ->
# lon -84.690932, lat 33.846162) in tests/test_geos_moll.py.
GE_DEF = ("+proj=geos +h=35786023.0 +lon_0=-75.0 +sweep=x +ellps=GRS80 "
          "+units=m +no_defs")
GE_X0, GE_Y0, GE_X1, GE_Y1 = -300000.0, 2300000.0, 2800000.0, 3900000.0
GE_COLS, GE_ROWS = 103, 97


def q_reproject_geos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """reprojectToGrid onto the GOES-East GEOSTATIONARY fixed grid
    (+proj=geos +sweep=x — grid.lonlat_to_geos/geos_to_lonlat, the CGMS
    scan-angle geometry): the pixel fixture warped onto an explicit target
    GridExtent, NaN-aware window checksums per (source, band). Oracle: the
    exact closed-form inverse (tan scan angles -> view ray -> nearest
    ellipsoid intersection via the quadratic, atan2/atan chain to geodetic
    lon/lat) recomputed in SQL with the engine's rg/rp2/h doubles as
    literals. Reference parity: arbitrary CRS objects at
    GeoTiffReprojectRasterSource.scala:39."""
    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark import grid as GR
    from geotrellis_contrib_spark.operators import pixels as px

    tiles = corpus_mod.synth_px_tiles(spark, tile_size=64)
    target = GR.GridExtent(GE_X0, GE_Y0, GE_X1, GE_Y1,
                           (GE_X1 - GE_X0) / GE_COLS, (GE_Y1 - GE_Y0) / GE_ROWS)
    out = px.reproject_to_grid(tiles, target, method="nearest",
                               tile_size=64, dst_crs=GE_DEF)
    return px.window_stats(out).select("source_id", "band", "px_sum", "px_count")


# Mollweide destination: ESRI:54009 "World Mollweide" (proj4 spherical-on-a
# semantics, like eqc). The inverse is exact closed form (asin chains).
MO_DEF = "+proj=moll +lon_0=0 +x_0=0 +y_0=0 +ellps=WGS84 +units=m +no_defs"
MO_X0, MO_Y0, MO_X1, MO_Y1 = -7400000.0, 2750000.0, -3900000.0, 4820000.0
MO_COLS, MO_ROWS = 107, 93

# Krovak destination: the S-JTSK METHOD (EPSG 9819 — oblique conformal
# conic via the tilted conformal sphere; +proj=krovak, EPSG:5514 axes)
# with the real alpha/k/phiP constants, RELOCATED to the fixture
# footprint (lat_0=32, lon_0=-45 — east of the footprint so westing
# stays positive, like the real grid east of Czechia). The genuine
# EPSG:5514 parameter set (Bessel + 589/76/480 Helmert, GN7-2 worked
# example, Prague) is pytest-gated in tests/test_proj4.py.
KR_DEF = ("+proj=krovak +lat_0=32 +lon_0=-45 +alpha=30.28813972222222 "
          "+k=0.9999 +x_0=0 +y_0=0 +ellps=bessel +units=m +no_defs")
KR_X0, KR_Y0, KR_X1, KR_Y1 = -3500000.0, -4100000.0, 400000.0, -1600000.0
KR_COLS, KR_ROWS = 101, 89


def q_reproject_krovak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """reprojectToGrid onto a KROVAK destination (EPSG method 9819 —
    grid.lonlat_to_krovak/krovak_to_lonlat): conic unroll to (T, D),
    rotation back to the conformal sphere (U, V), and the pinned 8-step
    isometric-latitude fixed point, all mirrored term-for-term by the
    SQL oracle with the GN7-2 constant set (B, t0, n, r0, sin/cos
    alpha_C) as literals."""
    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark import grid as GR
    from geotrellis_contrib_spark.operators import pixels as px

    tiles = corpus_mod.synth_px_tiles(spark, tile_size=64)
    target = GR.GridExtent(KR_X0, KR_Y0, KR_X1, KR_Y1,
                           (KR_X1 - KR_X0) / KR_COLS,
                           (KR_Y1 - KR_Y0) / KR_ROWS)
    out = px.reproject_to_grid(tiles, target, method="nearest",
                               tile_size=64, dst_crs=KR_DEF)
    return px.window_stats(out).select("source_id", "band", "px_sum",
                                       "px_count")


# Azimuthal equidistant destination centered in the fixture footprint
# (spherical closed form — ellipsoidal aeqd is fail-loud): odd col/row
# counts + non-half-integer X0/cw keep every pixel center off rho=0.
AE_LON0, AE_LAT0 = -60.0, 32.0
AE_DEF = (f"+proj=aeqd +lat_0={AE_LAT0} +lon_0={AE_LON0} +x_0=0 +y_0=0 "
          f"+R=6371000 +units=m +no_defs")
AE_X0, AE_Y0, AE_X1, AE_Y1 = -1800000.0, -1000000.0, 1900000.0, 1100000.0
AE_COLS, AE_ROWS = 103, 91


def q_reproject_aeqd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """reprojectToGrid onto an AZIMUTHAL EQUIDISTANT destination
    (+proj=aeqd spherical — grid.lonlat_to_aeqd_sph/aeqd_sph_to_lonlat,
    Snyder 25; distances from the center are TRUE, verified bit-equal to
    the haversine in tests): the pixel fixture warped onto an explicit
    target GridExtent, NaN-aware window checksums per (source, band).
    Oracle: the inverse chain — c = rho/R, asin/atan2 with literal
    sin/cos(lat_0) constants, the same clamps (LEAST/GREATEST) and
    +180 %360 -180 wrap — recomputed in SQL."""
    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark import grid as GR
    from geotrellis_contrib_spark.operators import pixels as px

    tiles = corpus_mod.synth_px_tiles(spark, tile_size=64)
    target = GR.GridExtent(AE_X0, AE_Y0, AE_X1, AE_Y1,
                           (AE_X1 - AE_X0) / AE_COLS,
                           (AE_Y1 - AE_Y0) / AE_ROWS)
    out = px.reproject_to_grid(tiles, target, method="nearest",
                               tile_size=64, dst_crs=AE_DEF)
    return px.window_stats(out).select("source_id", "band", "px_sum",
                                       "px_count")


# Ellipsoidal aeqd destination (r5 verdict task 7): the SAME footprint,
# but on the WGS84 ellipsoid — each inverse is a Vincenty DIRECT solve.
AEE_DEF = (f"+proj=aeqd +lat_0={AE_LAT0} +lon_0={AE_LON0} +x_0=0 +y_0=0 "
           f"+ellps=WGS84 +units=m +no_defs")


def q_reproject_aeqd_ell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """reprojectToGrid onto an ELLIPSOIDAL azimuthal equidistant
    destination (+proj=aeqd +ellps=WGS84 — grid.aeqd_ell_to_lonlat,
    Vincenty 1975 geodesics; geodesic distances from the center are
    TRUE, goldened against the published Flinders Peak->Buninyong
    worked example in tests): the pixel fixture warped onto the same
    target GridExtent as reproject_aeqd, NaN-aware window checksums per
    (source, band). Oracle: the Vincenty DIRECT chain — alpha1 =
    atan2(x,y), s = hypot, the pinned 4-step sigma iteration (unrolled
    CTEs, grid._VINC_DIRECT_ITERS), then the closed-form phi/lambda
    with literal U1/ellipsoid constants — recomputed in SQL."""
    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark import grid as GR
    from geotrellis_contrib_spark.operators import pixels as px

    tiles = corpus_mod.synth_px_tiles(spark, tile_size=64)
    target = GR.GridExtent(AE_X0, AE_Y0, AE_X1, AE_Y1,
                           (AE_X1 - AE_X0) / AE_COLS,
                           (AE_Y1 - AE_Y0) / AE_ROWS)
    out = px.reproject_to_grid(tiles, target, method="nearest",
                               tile_size=64, dst_crs=AEE_DEF)
    return px.window_stats(out).select("source_id", "band", "px_sum",
                                       "px_count")


def q_reproject_moll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """reprojectToGrid onto a MOLLWEIDE destination (ESRI:54009 world
    equal-area — grid.lonlat_to_moll/moll_to_lonlat, pinned-Newton forward
    + exact closed-form inverse): the pixel fixture warped onto an explicit
    target GridExtent, NaN-aware window checksums per (source, band).
    Oracle: theta = asin(y/(sqrt2 R)), phi = asin((2 theta + sin 2 theta)/pi),
    lam = x/((2 sqrt2/pi) R cos theta) recomputed in SQL with the engine's
    constants as literals (clips mirrored as LEAST/GREATEST)."""
    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark import grid as GR
    from geotrellis_contrib_spark.operators import pixels as px

    tiles = corpus_mod.synth_px_tiles(spark, tile_size=64)
    target = GR.GridExtent(MO_X0, MO_Y0, MO_X1, MO_Y1,
                           (MO_X1 - MO_X0) / MO_COLS, (MO_Y1 - MO_Y0) / MO_ROWS)
    out = px.reproject_to_grid(tiles, target, method="nearest",
                               tile_size=64, dst_crs=MO_DEF)
    return px.window_stats(out).select("source_id", "band", "px_sum", "px_count")


# Swiss oblique Mercator destination: the CH1903 / LV03 (EPSG:21781)
# METHOD (Gauss conformal sphere + rotated-sphere Mercator; +proj=somerc)
# with the LV03 false origins, relocated to the fixture footprint
# (lat_0=32, lon_0=-62) like the sterea/datum gates.
SO_DEF = ("+proj=somerc +lat_0=32 +lon_0=-62 +k_0=1 +x_0=600000 "
          "+y_0=200000 +ellps=bessel +units=m +no_defs")
SO_X0, SO_Y0, SO_X1, SO_Y1 = -1100000.0, -880000.0, 2350000.0, 1270000.0
SO_COLS, SO_ROWS = 101, 89


def q_reproject_somerc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """reprojectToGrid onto a SWISS OBLIQUE MERCATOR destination (the
    CH1903/LV03 national-grid method — grid.lonlat_to_somerc/
    somerc_to_lonlat, Gauss conformal-sphere chain + rotated-sphere
    Mercator): the pixel fixture warped onto an explicit target
    GridExtent, NaN-aware window checksums per (source, band). Oracle:
    the Mercator inverse on the rotated sphere, the inverse rotation, and
    the SAME 8-step pinned isometric-latitude fixed point as the sterea
    oracle, recomputed in SQL with the engine's conformal-sphere doubles
    (R, alpha, b0, K) as literals. Reference parity: arbitrary CRS objects
    at GeoTiffReprojectRasterSource.scala:39."""
    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark import grid as GR
    from geotrellis_contrib_spark.operators import pixels as px

    tiles = corpus_mod.synth_px_tiles(spark, tile_size=64)
    target = GR.GridExtent(SO_X0, SO_Y0, SO_X1, SO_Y1,
                           (SO_X1 - SO_X0) / SO_COLS, (SO_Y1 - SO_Y0) / SO_ROWS)
    out = px.reproject_to_grid(tiles, target, method="nearest",
                               tile_size=64, dst_crs=SO_DEF)
    return px.window_stats(out).select("source_id", "band", "px_sum", "px_count")


# Hotine oblique Mercator destination: the Timbalai 1948 / RSO Borneo
# METHOD (EPSG 9815 variant B — +proj=omerc +alpha) with the real RSO
# azimuth/grid-angle/k_0/false-origin parameters, relocated to the
# fixture footprint (lat_0=40, lonc=-62) like the somerc/sterea gates.
# Everest Sabah-Sarawak ellipsoid — a FRESH ellipsoid under a gate.
OM_DEF = ("+proj=omerc +lat_0=40 +lonc=-62 +alpha=53.31582047222222 "
          "+gamma=53.13010236111111 +k_0=0.99984 +x_0=590476.87 "
          "+y_0=442857.65 +ellps=evrstSS +units=m +no_defs")
OM_X0, OM_Y0, OM_X1, OM_Y1 = -1100000.0, -1540000.0, 2380000.0, 660000.0
OM_COLS, OM_ROWS = 103, 91


def q_reproject_omerc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """reprojectToGrid onto a HOTINE OBLIQUE MERCATOR destination (EPSG
    method 9815 variant B — the Timbalai 1948 / RSO Borneo and Malaysia
    RSO national-grid method; grid.lonlat_to_omerc/omerc_to_lonlat, GN7-2
    B/A/H/gamma0/lam0/u_c constant set on the Everest Sabah-Sarawak
    ellipsoid): the pixel fixture warped onto an explicit target
    GridExtent, NaN-aware window checksums per (source, band). Oracle:
    the de-rectification, Q'/S'/T'/U'/V' chain to t', and the SAME pinned
    isometric-latitude fixed point as the somerc/sterea oracles (psi =
    -ln t' IS the isometric latitude), recomputed in SQL with the
    engine's constants as literals. Reference parity: arbitrary CRS
    objects at GeoTiffReprojectRasterSource.scala:39."""
    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark import grid as GR
    from geotrellis_contrib_spark.operators import pixels as px

    tiles = corpus_mod.synth_px_tiles(spark, tile_size=64)
    target = GR.GridExtent(OM_X0, OM_Y0, OM_X1, OM_Y1,
                           (OM_X1 - OM_X0) / OM_COLS, (OM_Y1 - OM_Y0) / OM_ROWS)
    out = px.reproject_to_grid(tiles, target, method="nearest",
                               tile_size=64, dst_crs=OM_DEF)
    return px.window_stats(out).select("source_id", "band", "px_sum", "px_count")


def q_focal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Focal (3x3 neighborhood) MEAN over the tiled raster with CROSS-TILE
    halo exchange (operators/focal.py — strip extraction before the one
    co-partitioned shuffle, vectorized numpy stencil per assembled tile;
    NoData and mosaic-edge cells excluded from the neighborhood). Output:
    per-tile quantized checksums (floor(focal*2^20+0.5) summed as int64 —
    order-independent by construction). Oracle: the 9-term neighborhood
    recomputed per pixel from the closed-form fixture values in SQL, same
    fixed chained-add order, same single division, same quantization.
    Reference parity: the reference's fixtures feed GeoTrellis focal ops
    (aspect-tiled.tif, RasterSourceSpec); the contrib tier owns exactly
    this tiling/halo plumbing."""
    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark.operators import focal as FO

    tiles = corpus_mod.synth_px_tiles(spark, tile_size=64)
    return FO.focal_stats(tiles, op="mean", radius=1)


def q_focal_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Focal MEDIAN (3x3, cross-tile halo exchange) — rank-based over the
    VARIABLE-count valid window (NoData holes and mosaic edges shrink it),
    so the per-pixel value is EXACT: sort, take the two middle order
    statistics, (lo+hi)/2.0 (bitwise lo for odd counts). Oracle: DuckDB
    list_filter/list_sort over the nine recomputed NULL-able neighbor
    columns with the same 1-based middle picks and the same division.
    Reference parity: GeoTrellis focal.Median over the reference's tiled
    fixtures (RasterSourceSpec)."""
    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark.operators import focal as FO

    tiles = corpus_mod.synth_px_tiles(spark, tile_size=64)
    return FO.focal_stats(tiles, op="median", radius=1)


def q_focal_stddev(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Focal STANDARD DEVIATION (3x3, cross-tile halo exchange —
    GeoTrellis focal.StandardDeviation): population stddev over the
    variable-count valid window. Exactness: the fixture's quarter-
    multiples make both the sum and the sum-of-squares accumulators
    EXACT (hence order-free); then ONE division each for mean and
    mean-of-squares, var = m2 - m*m clamped at 0, sqrt, quantize-first
    integer checksums. Oracle: the nine value and value^2 terms
    recomputed per pixel from the closed-form fixture in SQL, identical
    division/subtract/GREATEST/SQRT chain."""
    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark.operators import focal as FO

    tiles = corpus_mod.synth_px_tiles(spark, tile_size=64)
    return FO.focal_stats(tiles, op="stddev", radius=1)


def q_focal_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Focal MODE / majority filter (3x3, halo exchange — GeoTrellis
    focal.Mode, a categorical-raster op): cells are first RECLASSIFIED
    (floor(v/500) — small integer classes so neighborhoods have real
    ties), then each pixel takes the most frequent class in its valid
    window, SMALLEST class on ties (deterministic categorical rule).
    Oracle: the nine NULL-able class columns recomputed in SQL, UNNEST +
    count + ROW_NUMBER ordered by (count DESC, class ASC) — the same
    majority-with-smallest-tie-break rule."""
    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark.operators import focal as FO

    tiles = corpus_mod.synth_px_tiles(spark, tile_size=64)
    return FO.focal_stats(tiles, op="mode", radius=1, classify_div=500.0)


def q_focal_conv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kernel CONVOLUTION (GeoTrellis focal.Convolve with the binomial
    3x3 kernel 1,2,1/2,4,2/1,2,1) with halo exchange and NoData
    RENORMALIZATION: out = sum(w*v over valid)/sum(w over valid). The
    integer kernel times the fixture's quarter-multiples keeps both
    accumulators exact; one division, quantize-first checksums. Oracle:
    per-pixel weighted terms recomputed from the closed-form fixture in
    SQL, identical chained-add order and division."""
    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark.operators import focal as FO

    tiles = corpus_mod.synth_px_tiles(spark, tile_size=64)
    return FO.convolve_stats(tiles)


def q_viewshed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VIEWSHED (GeoTrellis raster.viewshed R3 analog): per (scene,
    band) one observer at (1640 + 3*band, (18+s)*64 + 104) with height
    2.0 over the closed-form elevation fixture; target visible iff its
    slope (z_t - zbase)/n >= max over DDA samples k of (z_k - zbase)/k
    (samples at floor(o + k*d/n + 0.5) in GLOBAL coords, NoData
    transparent, n<=1 always visible). Scene is the parallel unit (ONE
    groupBy(source,band) applyInPandas, vectorized k-sweep — viewshed
    has global ray dependency; at 100 TB the corpus is many scenes).
    Oracle: the identical sampling/slope arithmetic unrolled in SQL
    (targets x bounded step range, MAX per target, per-tile rollup)."""
    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark.operators import viewshed as VS

    tiles = corpus_mod.synth_px_tiles(spark, tile_size=64)
    obs = lambda sid, band: (1640 + 3 * band,  # noqa: E731
                             (18 + int(sid.split("-")[1])) * 64 + 104)
    return VS.viewshed(tiles, obs, height=2.0, tile_size=64)


def q_viewshed_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VIEWSHED, forced-distributed (max_px=0 — the LAST scene-bound op
    now has a no-scene-size-bound path): R3's sample-index
    decomposition — every DDA sample k lands in exactly one tile, so
    per-target max slopes split into per-(sample-tile, target-tile)
    partial maxima (bounded t+1-wide k-windows solved per pair, the
    scene sweep's own global-floor expression bit-for-bit) reduced by
    an order-free elementwise max; pairs pruned JVM-side by the
    observer->target-tile cone bbox, only the sample tile's 32 KB blob
    rides each pair row. Same fixture/observers/oracle as viewshed;
    pytest bit-parity on the NoData-holed fixture."""
    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark.operators import viewshed as VS

    tiles = corpus_mod.synth_px_tiles(spark, tile_size=64)
    obs = lambda sid, band: (1640 + 3 * band,  # noqa: E731
                             (18 + int(sid.split("-")[1])) * 64 + 104)
    return VS.viewshed(tiles, obs, height=2.0, tile_size=64, max_px=0)


def q_flow_accumulation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D8 FLOW ACCUMULATION (GeoTrellis raster.hydrology analog): per
    valid cell the exclusive count of upstream cells whose
    single-direction D8 path passes through it (ties pick the FIRST
    direction in the fixed row-major order). Whole-scene dependency ->
    scene is the parallel unit (one applyInPandas per (source, band),
    synchronous vectorized inflow sweeps to the fixpoint — acyclic
    because drops are strictly positive). Oracle: the direction cascade
    mirrored in SQL, then a recursive path closure (reach rows = every
    (origin, cell-on-path) pair) counted per cell, rolled up per tile
    with exact integer sums."""
    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark.operators import focal as FO

    tiles = corpus_mod.synth_px_tiles(spark, tile_size=64)
    return FO.flow_accumulation(tiles, tile_size=64)


def q_watershed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WATERSHED / drainage-basin labeling: every valid cell labeled
    with the terminal pit its single-direction D8 path drains to
    (pointer DOUBLING on the flow forest inside the scene task).
    Oracle: the flow_accumulation closure joined to the terminal set —
    each origin's unique terminal is its label; per-tile exact integer
    label sums + distinct-basin counts."""
    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark.operators import focal as FO

    tiles = corpus_mod.synth_px_tiles(spark, tile_size=64)
    return FO.watershed_labels(tiles, tile_size=64)


def q_flow_accumulation_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D8 FLOW ACCUMULATION, DISTRIBUTED PATH FORCED (scene_max_px=0 —
    r5 verdict task 1): the cost_distance synchronous-rounds template
    ported to the hydrology inflow fixpoint. Round 0 computes per-tile
    D8 directions from a 1-px elevation halo and the in-tile fixpoint
    with zero boundary inflow; each round exchanges 1-px (acc, chosen)
    edge strips and re-sweeps — values increase monotonically to the
    exact accumulation, so the global no-improvement fixpoint is
    BIT-IDENTICAL to the scene solve (pytest-proven) and the oracle is
    the SAME recursive-closure SQL as flow_accumulation."""
    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark.operators import focal as FO

    tiles = corpus_mod.synth_px_tiles(spark, tile_size=64)
    return FO.flow_accumulation(tiles, tile_size=64, scene_max_px=0)


def q_watershed_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WATERSHED, DISTRIBUTED PATH FORCED (scene_max_px=0 — r5 verdict
    task 1): pointer doubling lifted OUT of the scene task. In-tile
    doubling resolves every cell to an in-tile terminal or its first
    out-of-tile border cell (a 16x contraction at t=64); the border
    table — O(perimeter), not O(pixels) — pointer-doubles via
    log2(max tile crossings) tiny self-joins; rollups are pure JVM
    aggregation. Labels are bit-identical to the scene solve
    (pytest-proven); oracle = the SAME closure SQL as watershed."""
    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark.operators import focal as FO

    tiles = corpus_mod.synth_px_tiles(spark, tile_size=64)
    return FO.watershed_labels(tiles, tile_size=64, scene_max_px=0)


def q_flow_direction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D8 FLOW DIRECTION (GeoTrellis raster.hydrology FlowDirection /
    ArcGIS encoding) across tile boundaries: max positive drop rate
    (z - z_n)/dist over the 8 neighbors (sqrt(2) diagonals), tied
    directions SUM their power-of-two codes, pits/flats -> 0; focal halo
    machinery, ONE shuffle. Oracle: the 8 neighbor values recomputed
    arithmetically from the closed-form field (NULL outside the mosaic /
    in holes), identical rate arithmetic, GREATEST max, integer code
    sums per tile — no quantization needed."""
    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark.operators import focal as FO

    tiles = corpus_mod.synth_px_tiles(spark, tile_size=64)
    return FO.flow_direction(tiles, tile_size=64)


def q_pyramid_px_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIXEL-level overview build with AVERAGE resampling (GeoTrellis
    overview generation, zoom 6 -> 5): each child tile downsamples
    MAP-SIDE to 32x32 (1/4 of the bytes cross the shuffle), ONE
    groupBy(parent).applyInPandas assembles quadrants (missing children
    stay NoData). Average = NoData-aware mean of each 2x2 block with the
    FIXED chained-add order v00+v01+v10+v11 and ONE division — the SQL
    oracle mirrors the chain term-for-term and quantizes the identical
    quotient (floor(mean*2^20+0.5)). Per-parent-tile rollup."""
    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark.operators import pixels as px
    from geotrellis_contrib_spark.sources.geotiff import per_tile_checksum

    tiles = corpus_mod.synth_px_tiles(spark, tile_size=64)
    up = px.build_overview_px(tiles, method="average", tile_size=64)
    return per_tile_checksum(up, quant=1048576.0)


def q_region_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REGION VECTORIZE stats (raster->vector per-region summary, the
    polygonize sibling of region_group): per 4-connected component its
    pixel count, PERIMETER (exposed cell edges = 4n - 2*adjacent pairs
    — in-tile pairs counted in the zero-shuffle scan, cross-tile pairs
    from the same boundary joins that merge labels, restricted to pairs
    actually crossing a tile edge) and global-pixel bbox. Oracle: the
    region_group reachability closure extended with a one-directional
    adjacency count per root and MIN/MAX bbox."""
    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark.operators import region as RG

    tiles = corpus_mod.synth_px_tiles(spark, tile_size=64)
    return RG.region_stats(
        tiles, lambda vals, gr, gc: (gr % 11 < 3) & (gc % 9 < 3),
        tile_size=64, npx=4096)


def q_euclidean_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-radius EUCLIDEAN DISTANCE TRANSFORM across tile
    boundaries (focal halo machinery, r=5 strips, ONE shuffle): per
    valid pixel the distance to the nearest lattice-blob mask cell
    ((gr%11<3)&(gc%9<3), NoData excluded) within 5 cells — MIN over
    offsets is order-independent; the per-tile rollup quantizes each
    pixel's single SQRT identically on both sides. Oracle: a bounded
    range join px x mask (±5 window, d^2 <= 25 circle cutoff) with
    MIN(SQRT(d2)) per pixel, rolled up per tile."""
    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark.operators import focal as FO

    tiles = corpus_mod.synth_px_tiles(spark, tile_size=64)
    return FO.euclidean_distance(
        tiles, lambda vals, gr, gc: (gr % 11 < 3) & (gc % 9 < 3),
        radius=5, tile_size=64)


def q_idw_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDW INTERPOLATION (GeoTrellis raster.interpolation
    InverseDistanceWeighted analog — vector->raster): every anchor
    carries z = floor((lon+180)*8) % 64 and contributes w = 1/max(d^2,
    0.25) to the pixels within R=4 px of it (the 0.5-px clamp bounds w so
    per-(pixel,point) contributions quantize to int64 and per-pixel sums
    are ORDER-INDEPENDENT). Same bounded <=2x2 replication + ONE-shuffle
    stamp plan as kernel_density. Exact-1/d^p semantics (unclamped,
    coincident-point rule) are pytest-gated against a brute force.
    Oracle: the identical contribution arithmetic in SQL over the bounded
    offset range, per pixel then per tile."""
    from geotrellis_contrib_spark.operators import pixels as px

    _views(spark, sf_dir)
    pts = spark.table("anchors").withColumn(
        "z", (F.floor((F.col("lon") + F.lit(180.0)) * F.lit(8.0))
              .cast("long") % 64).cast("double"))
    return px.idw_interpolate(pts, zoom=6, radius_px=4.0, tile_size=64)


def q_least_cost_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAST-COST PATH backtracking (GeoTrellis LeastCostPath analog):
    from two far-corner targets per (scene, band), walk predecessors on
    the accumulated-cost surface using the EXACT optimality equation
    cost(cur) == cost(n) + step (first match in fixed row-major order,
    in-grid neighbors only) until a seed. Dyadic costs make the equality
    exact, and on the uniform fixture the surface equals the octile
    closed form — so the SQL oracle walks the IDENTICAL rule as a
    recursive CTE over pure arithmetic (the 9-seed LEAST expression),
    no joins. Output: one row per target with path length and quantized
    target cost."""
    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark.operators import costdistance as CD

    tiles = corpus_mod.synth_friction_tiles(spark, tile_size=64)
    tgt = lambda sid, band: [  # noqa: E731
        (1789, (18 + int(sid.split("-")[1])) * 64 + 253),
        (1538, (18 + int(sid.split("-")[1])) * 64 + 2)]
    return CD.least_cost_path(
        tiles, lambda vals, gr, gc: (gr % 97 == 5) & (gc % 89 == 7),
        tgt, tile_size=64, straight=1.0, diag=1.5)


def q_least_cost_path_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAST-COST PATH, forced-distributed (max_px=0 — no scene-size
    bound anywhere in the hydrology/cost family now): halo-rounds cost
    state (bit-identical fixpoint), per-tile vectorized predecessor +
    pointer collapse with exact hop counts, O(perimeter) border table
    pointer-doubled in log2(tile crossings) tiny joins, one join
    resolves targets. Same fixture/targets/oracle as least_cost_path;
    pytest bit-parity on uniform AND varying-friction fixtures."""
    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark.operators import costdistance as CD

    tiles = corpus_mod.synth_friction_tiles(spark, tile_size=64)
    tgt = lambda sid, band: [  # noqa: E731
        (1789, (18 + int(sid.split("-")[1])) * 64 + 253),
        (1538, (18 + int(sid.split("-")[1])) * 64 + 2)]
    return CD.least_cost_path(
        tiles, lambda vals, gr, gc: (gr % 97 == 5) & (gc % 89 == 7),
        tgt, tile_size=64, straight=1.0, diag=1.5, max_px=0)


def q_cost_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COST DISTANCE (GeoTrellis CostDistance / iterative cost-distance
    analog) ACROSS tile boundaries: accumulated 8-connected cost from 9
    seed cells over the uniform-friction fixture (step cost = dist *
    (fa+fb)/2; dist 1.0 straight / 1.5 diagonal — dyadic, so float sums
    are exact and order-independent). Engine: synchronous tile rounds —
    in-tile vectorized min-relaxation to a local fixpoint, then 1-px
    (cost, friction) halo strips through ONE co-partitioned shuffle per
    round until the global fixpoint (fail-loud at max_iter). Oracle: on
    uniform friction the shortest-path metric has the octile closed form
    min over seeds of 1.5*min(dx,dy) + (max(dx,dy)-min(dx,dy)),
    recomputed per pixel in SQL and rolled up per tile (quantize-first
    int64 sums). Obstacles/varying-friction/sqrt(2) legs are pytest-gated
    against an untiled Dijkstra (tests/test_costdistance.py)."""
    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark.operators import costdistance as CD

    tiles = corpus_mod.synth_friction_tiles(spark, tile_size=64)
    return CD.cost_distance(
        tiles, lambda vals, gr, gc: (gr % 97 == 5) & (gc % 89 == 7),
        tile_size=64, straight=1.0, diag=1.5)


def q_geotiff_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GeoTiff source end-to-end (GeoTiffRasterSource.scala:46 — streaming
    RangeReader open + windowed segment reads): the three-scene fixture
    written as REAL GeoTiffs (one byte-order/compression/interleave combo
    per file: LE+deflate+planar2+overview, BE+deflate+planar2,
    LE+none+chunky), driver-side header/IFD parse into a tile CATALOG
    DataFrame (one row per band-tile byte range), mapInPandas ranged
    fetch+decode, then a ZERO-shuffle per-tile quantized checksum — every
    decoded byte and the (col,row) placement sit under the value gate.
    Oracle: the closed-form fixture arithmetic recomputed in SQL (the
    pixel_mosaic_checksum field), rolled up per tile. The scratch
    GeoTiffs are write-once/atomic under a content-versioned dir (the
    read must hit real files at execution time)."""
    import os
    import tempfile

    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark.sources import geotiff as GT

    root = os.path.join(tempfile.gettempdir(), "gt_gate_v1")
    specs = corpus_mod.synth_geotiff_scenes(root)
    cat = GT.geotiff_tile_catalog(spark, specs)
    return GT.per_tile_checksum(GT.read_catalog_tiles(cat))


def q_geotiff_read_lzw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GeoTiff LZW decode end-to-end (r5 verdict task 2 — the single
    most common real-world GeoTiff compression; the reference's own
    aspect-tiled.tif fixture family is LZW-tiled): the three-scene
    fixture quantized to int32 (sample = 4*val exactly) and written
    with from-scratch TIFF 6.0 §13 LZW — early-change code widths,
    Clear at 4094 — under predictor 2 (horizontal differencing, the
    GDAL write default) on scenes 0-1 (LE+planar2+overview,
    BE+chunky) and predictor 1 on scene 2. Catalog parse -> pruned
    ranged fetch -> per-tile checksum at quant=1 (the int32 IS the
    4*val integer). Oracle: geotiff_read's closed-form SQL verbatim —
    the LZW path must reproduce the uncompressed values bit-for-bit."""
    import os
    import tempfile

    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark.sources import geotiff as GT

    root = os.path.join(tempfile.gettempdir(), "gt_gate_lzw_v1")
    specs = corpus_mod.synth_geotiff_scenes_lzw(root)
    cat = GT.geotiff_tile_catalog(spark, specs)
    return GT.per_tile_checksum(GT.read_catalog_tiles(cat), quant=1.0)


def q_geotiff_read_packbits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GeoTiff PackBits decode end-to-end (TIFF 6.0 §9 byte RLE —
    with LZW and deflate this closes the classic lossless-compression
    trio real archives use): the int32 4*val fixture written with the
    from-scratch PackBits codec (spec-golden pytested against the §9
    worked example) under LE+planar2+predictor2+overview, BE+chunky,
    and LE+predictor1. Catalog parse -> pruned ranged fetch -> per-tile
    checksum at quant=1; oracle: geotiff_read's closed-form SQL
    verbatim — the RLE path must reproduce the values bit-for-bit."""
    import os
    import tempfile

    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark.sources import geotiff as GT

    root = os.path.join(tempfile.gettempdir(), "gt_gate_pb_v1")
    specs = corpus_mod.synth_geotiff_scenes_packbits(root)
    cat = GT.geotiff_tile_catalog(spark, specs)
    return GT.per_tile_checksum(GT.read_catalog_tiles(cat), quant=1.0)


def q_geotiff_read_lzma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GeoTiff LZMA decode end-to-end (compression 34925, the libtiff
    tif_lzma.c extension real archives use for high-ratio lossless
    storage; per-segment .xz streams, stdlib ``lzma`` both directions):
    the int32 4*val fixture written under LE+planar2+predictor2+
    overview, BE+chunky, and LE+COG layout (the IFD-first chain parses
    in one ranged read with LZMA segments untouched). Catalog parse ->
    pruned ranged fetch -> per-tile checksum at quant=1; oracle:
    geotiff_read's closed-form SQL verbatim — the LZMA path must
    reproduce the values bit-for-bit."""
    import os
    import tempfile

    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark.sources import geotiff as GT

    root = os.path.join(tempfile.gettempdir(), "gt_gate_xz_v1")
    specs = corpus_mod.synth_geotiff_scenes_lzma(root)
    cat = GT.geotiff_tile_catalog(spark, specs)
    return GT.per_tile_checksum(GT.read_catalog_tiles(cat), quant=1.0)


def q_geotiff_read_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GeoTiff BASELINE JPEG decode end-to-end (compression 7, the
    "new-style JPEG" of real aerial/satellite archives; from-scratch
    T.81 codec — canonical Huffman, zigzag, DCT — in jpegcodec.py):
    the closed-form field at aligned 8x8-block corners broadcast
    block-constant and byte-reduced to (round(4*val) % 255) + 1 with
    NoData -> 0, written LE+planar2+overview+JPEGTables tag /
    BE+self-contained streams / LE+COG+restart markers. Block-constant
    under a unit quant table decodes BIT-EXACTLY (only the DC
    coefficient survives the DCT), so the catalog parse -> pruned
    ranged fetch -> Huffman decode -> IDCT -> per-tile checksum chain
    sits under a full value gate despite JPEG being lossy in general.
    Oracle: the same block-corner reduction recomputed in SQL."""
    import os
    import tempfile

    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark.sources import geotiff as GT

    root = os.path.join(tempfile.gettempdir(), "gt_gate_jpg_v1")
    specs = corpus_mod.synth_geotiff_scenes_jpeg(root)
    cat = GT.geotiff_tile_catalog(spark, specs)
    return GT.per_tile_checksum(GT.read_catalog_tiles(cat), quant=1.0)


def q_geotiff_read_overview(spark: SparkSession, sf_dir: str
                            ) -> DataFrame:
    """GeoTiff OVERVIEW-LEVEL catalog read (the AutoHigherResolution
    read path — GeoTiffRasterSource.resolutions — against overview
    DATA, not a re-read of the base): scene-0 of the LZW fixture
    (int32 4*val, predictor 2, 1 overview) cataloged at level=1, ranged
    fetch + LZW/predictor decode of the 2x-decimated IFD, per-tile
    checksums. Oracle: the decimation IS the closed form — overview
    pixel (R, C) = the quantized field at scene-local (2R, 2C),
    recomputed with pure integer arithmetic in SQL."""
    import os
    import tempfile

    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark.sources import geotiff as GT

    root = os.path.join(tempfile.gettempdir(), "gt_gate_lzw_v1")
    specs = corpus_mod.synth_geotiff_scenes_lzw(root)
    cat = GT.geotiff_tile_catalog(spark, [specs[0]], level=1)
    return GT.per_tile_checksum(GT.read_catalog_tiles(cat), quant=1.0)


def q_geotiff_read_jpeg_ycbcr(spark: SparkSession, sf_dir: str
                              ) -> DataFrame:
    """GeoTiff INTERLEAVED YCbCr JPEG decode end-to-end (compression 7 +
    PhotometricInterpretation 6, chunky 3-band — THE wire format of
    real RGB aerial archives; 4:4:4 AND the libtiff/GDAL-default 4:2:0
    with restart markers + COG): grayscale-in-RGB block-constant
    fixture, so RGB->YCbCr is exact (Y=v, Cb=Cr=128), chroma stays
    constant under subsampling, and the LOSSY color pipeline decodes
    BIT-EXACTLY through Huffman -> dequant -> IDCT -> chroma upsample
    -> YCbCr->RGB. Catalog parse -> pruned ranged fetch -> per-band
    tile rows (chunky slicing) -> checksums. Oracle: band-0's
    block-corner reduction replicated across the 3 output bands."""
    import os
    import tempfile

    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark.sources import geotiff as GT

    root = os.path.join(tempfile.gettempdir(), "gt_gate_jcc_v1")
    specs = corpus_mod.synth_geotiff_scenes_jpeg_ycbcr(root)
    cat = GT.geotiff_tile_catalog(spark, specs)
    return GT.per_tile_checksum(GT.read_catalog_tiles(cat), quant=1.0)


def q_geotiff_read_subbyte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GeoTiff SUB-BYTE sample decode end-to-end (TIFF 6.0 §4-5: 1-bit
    bilevel masks and 2-/4-bit grayscale — MSB-first packed samples,
    byte-aligned rows; the wire format of real-world raster validity
    masks): the closed-form field reduced per scene to
    ``pmod(4*val, 2^bits - 1) + 1`` (NoData -> 0) and written 4-bit
    LE+deflate+planar2+overview, 2-bit BE+lzw+chunky, 1-bit
    LE+packbits+planar2 (every data pixel exactly 1 — the footprint
    mask itself sits under the gate). Catalog parse -> pruned ranged
    fetch -> bit-unpack to uint8 engine tiles -> per-tile checksum at
    quant=1. Oracle: the same mod-reduction recomputed in SQL over the
    fixture arithmetic — every decoded BIT and tile placement is
    value-gated."""
    import os
    import tempfile

    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark.sources import geotiff as GT

    root = os.path.join(tempfile.gettempdir(), "gt_gate_sb_v1")
    specs = corpus_mod.synth_geotiff_scenes_subbyte(root)
    cat = GT.geotiff_tile_catalog(spark, specs)
    return GT.per_tile_checksum(GT.read_catalog_tiles(cat), quant=1.0)


def q_resample_methods(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESAMPLE METHOD family beyond nearest/bilinear (the reference
    accepts the full GeoTrellis ResampleMethod enum wherever a resample
    is parameterized — RasterSourceF.scala:45): the pixel fixture
    resampled 64->32 per tile under 'average' / 'max' / 'sum'
    (NoData-EXCLUDING aggregate downsamplers; empty blocks -> NoData)
    and 'cubic' (Keys 1981 a=-0.5 convolution; at the exact 2x ratio
    every target center sits at frac 0.5 so the taps are EXACTLY
    [-1,9,9,-1]/16 — all arithmetic dyadic, order-independent, and the
    NoData holes participate numerically like bilinear). Output: per
    (tile, method) quantized checksums. Oracle: the closed-form fixture
    field reduced per 2x2 block (AVG/MAX/SUM over non-NoData) and the
    16-tap clamped weighted sum for cubic, identical quantization."""
    import numpy as np
    import pandas as pd

    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark.operators.pixels import (
        RESAMPLE_AGG_KERNELS, RESAMPLE_KERNELS, unpack)

    tiles = corpus_mod.synth_px_tiles(spark, tile_size=64)

    # r7: ONE fused Arrow stage — the previous shape ran four resample
    # mapInPandas branches over four fixture scans, unioned them, and
    # checksummed in a fifth Python stage; every tile now decodes once
    # and emits its four (method, qsum) rows directly. The per-method
    # kernels (and the x4096 quantized checksum) are the same functions,
    # so the values are bit-identical.
    def fused(batches):
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                a = unpack(r.px, r.dtype, 64)
                for m in ("average", "max", "sum", "cubic"):
                    if m == "cubic":
                        res = RESAMPLE_KERNELS[m](a, 32, 32)
                    else:
                        res = RESAMPLE_AGG_KERNELS[m](a, 32, 32, r.nodata)
                    res = np.asarray(res, dtype=np.float64)
                    v = res[~np.isnan(res)]
                    out.append({"source_id": r.source_id,
                                "band": int(r.band),
                                "col": int(r.col), "row": int(r.row),
                                "method": m,
                                "qsum": int(np.floor(v * 4096.0
                                                     + 0.5).sum()),
                                "n_valid": int(v.size)})
            yield pd.DataFrame(out, columns=["source_id", "band", "col",
                                             "row", "method", "qsum",
                                             "n_valid"])

    return tiles.mapInPandas(
        fused, "source_id string, band bigint, col bigint, row bigint, "
               "method string, qsum bigint, n_valid bigint")


def q_geotiff_read_pred3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GeoTiff floating-point predictor decode end-to-end (TIFF TechNote
    3, Predictor=3 — what libtiff/GDAL write by default for compressed
    float rasters, so any real float DEM archive hits this path): the
    ORIGINAL float64 three-scene fixture written with the byte-plane
    MSB-split + stride-diff predictor under LE+lzw+planar2+overview,
    BE+deflate+chunky, LE+packbits+planar2. Catalog parse -> pruned
    ranged fetch -> per-tile checksum at the default quant; oracle:
    geotiff_read's closed-form SQL verbatim — predictor 3 must be
    byte-transparent (same floats in, same floats out)."""
    import os
    import tempfile

    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark.sources import geotiff as GT

    root = os.path.join(tempfile.gettempdir(), "gt_gate_p3_v1")
    specs = corpus_mod.synth_geotiff_scenes_pred3(root)
    cat = GT.geotiff_tile_catalog(spark, specs)
    return GT.per_tile_checksum(GT.read_catalog_tiles(cat))


def q_geotiff_read_bigtiff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GeoTiff BigTIFF decode end-to-end (TIFF version 43 — 8-byte
    offsets, 20-byte IFD entries, LONG8 segment tables; the wire format
    any >4 GiB mosaic in a real archive uses, and what GDAL writes under
    BIGTIFF=YES): the int32 4*val fixture written as BigTIFF across the
    codec matrix — LE+deflate+planar2+overview, BE+lzw+predictor2+chunky,
    LE+uncompressed+COG layout. Catalog parse (the LONG8 IFD walk) ->
    pruned ranged fetch -> per-tile checksum at quant=1; oracle:
    geotiff_read's closed-form SQL verbatim — the BigTIFF path must
    reproduce the classic-TIFF values bit-for-bit."""
    import os
    import tempfile

    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark.sources import geotiff as GT

    root = os.path.join(tempfile.gettempdir(), "gt_gate_bt_v1")
    specs = corpus_mod.synth_geotiff_scenes_bigtiff(root)
    cat = GT.geotiff_tile_catalog(spark, specs)
    return GT.per_tile_checksum(GT.read_catalog_tiles(cat), quant=1.0)


_HTTP_FIXTURE_SERVERS: dict = {}


def _gate_http_base(root: str) -> str:
    """Singleton Range-honouring localhost server per fixture dir
    (daemon threads; lives for the process so the returned DataFrame
    stays collectable after the query function returns)."""
    if root not in _HTTP_FIXTURE_SERVERS:
        from geotrellis_contrib_spark.sources.rangereader import \
            serve_directory
        _HTTP_FIXTURE_SERVERS[root] = serve_directory(root)
    return _HTTP_FIXTURE_SERVERS[root][1]


def q_geotiff_read_http(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GeoTiff catalog read over HTTP RANGED GETS (r5 verdict task 3 —
    the reference's signature IT reads a NASA COG over HTTP/S3,
    SubsceneReadingIT.scala:36-38; RangeReader URI dispatch is
    GeoTiffRasterSource.scala:45-46): the SAME three-scene fixture as
    geotiff_read, but served by a hermetic localhost Range-honouring
    HTTP server — header/IFD parse through the 32 KiB block-cached
    RangeReader, mapInPandas tile fetches as sorted+coalesced ranged
    GETs (one GET per contiguous segment run; the reader FAILS LOUD if
    the server ignores Range). Every decoded byte must therefore
    survive the HTTP transport bit-for-bit: the oracle is
    geotiff_read's closed-form fixture SQL verbatim."""
    import os
    import tempfile

    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark.sources import geotiff as GT

    root = os.path.join(tempfile.gettempdir(), "gt_gate_v1")
    specs = corpus_mod.synth_geotiff_scenes(root)
    base = _gate_http_base(root)
    specs = [dict(s, path=f"{base}/{os.path.basename(s['path'])}")
             for s in specs]
    cat = GT.geotiff_tile_catalog(spark, specs)
    return GT.per_tile_checksum(GT.read_catalog_tiles(cat))


def q_region_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REGION GROUP (GeoTrellis RegionGroup — raster connected
    components) ACROSS tile boundaries: 4-connected components of a
    lattice-blob mask ((gr%11<3) & (gc%9<3), NoData excluded — blobs
    straddle tile edges in x, y AND at a 4-tile corner, and the NoData
    holes split some blobs) labeled with the MIN global pixel id.
    Two-phase scale plan: zero-shuffle in-tile min-label propagation +
    boundary-only equivalence merge through the engine's iterative
    doubling CC on the label graph (O(border) shuffle bytes). Oracle: the
    mask recomputed from the closed-form fixture, adjacency self-joins,
    and a recursive-CTE reachability closure with MIN-root labels —
    feasible exactly because regions are small; the ENGINE's plan never
    builds a transitive closure."""
    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark.operators import region as RG

    tiles = corpus_mod.synth_px_tiles(spark, tile_size=64)
    out = RG.region_group(
        tiles, lambda vals, gr, gc: (gr % 11 < 3) & (gc % 9 < 3),
        tile_size=64, npx=4096)
    return out.select("source_id", "band", "region_id", "n_pixels")


def q_terrain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slope + aspect via the HORN (1981) 3x3 kernel with cross-tile halo
    exchange (operators/focal.py terrain_stats — the op family behind the
    reference's own aspect-tiled.tif fixture, RasterSourceSpec). Output:
    per-tile quantized checksums of slope/aspect over cells whose FULL
    3x3 neighborhood is valid (GDAL edge convention). Oracle: the nine
    neighbor values recomputed from the closed-form fixture field, the
    identical Horn expressions (p, q, atan/sqrt/atan2 chains, flat-cell
    rule, (x+360)%360 wrap on positive operands), identical quantization."""
    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark.operators import focal as FO

    tiles = corpus_mod.synth_px_tiles(spark, tile_size=64)
    return FO.terrain_stats(tiles, dx=30.0, dy=30.0)


def q_local_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCAL (per-pixel) map algebra — the GeoTrellis Tile.combine /
    reclassify family (operators/local.py ndvi_reclass_stats): per pixel
    ndvi = (b0 - b1)/(b0 + b1) (NoData in either band -> excluded) and a
    fixed-breaks reclassify of b0 (exact comparisons), cross-band rows
    assembled by ONE co-partitioned shuffle on (source_id, col, row).
    Output: per-tile order-independent quantized checksums. Oracle: both
    band values recomputed per pixel from the closed-form fixture in SQL,
    identical subtract/add/divide and CASE-comparison chains."""
    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark.operators import local as LO

    tiles = corpus_mod.synth_px_tiles(spark, tile_size=64)
    return LO.ndvi_reclass_stats(tiles, breaks=(500.0, 1500.0, 2250.0))


def q_render_ramp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Color-ramp RENDER checksum (operators/render.py render_stats — the
    GeoTrellis ColorRamp/Png family): every valid pixel maps through the
    8-stop linear ramp to (r,g,b,255) packed as one exact integer, summed
    per tile; NoData is transparent/excluded. Zero shuffles (per-tile
    map). Oracle: the identical clip/floor/lerp chain in SQL with the
    ramp stops as DOUBLE list literals."""
    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark.operators import render as RD

    tiles = corpus_mod.synth_px_tiles(spark, tile_size=64)
    return RD.render_stats(tiles, vmin=0.0, vmax=2400.0)


def q_raster_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-bucket raster HISTOGRAM per (source, band) — per-tile bucket
    counts computed inside the Arrow batch (numpy bincount), ONE shuffle
    of only (source, band, bucket, count) rows (map-side combine; at
    100 TB the shuffled volume is KBs). Bucketing is
    clip(floor((v-vmin)/(vmax-vmin)*nbins)) — exact integers. Oracle:
    the same bucket expression per pixel in SQL, GROUP BY bucket."""
    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark.operators import render as RD

    tiles = corpus_mod.synth_px_tiles(spark, tile_size=64)
    return RD.histogram_stats(tiles, vmin=0.0, vmax=2400.0, nbins=256)


def q_raster_breaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram QUANTILE BREAKS (quartiles) — the classification-breaks
    path of the rendering pipeline, pure JVM after the histogram: window
    cumulative sum over the tiny histogram + a broadcast join against the
    integer ceil-division targets, first bucket reaching each target.
    Oracle: the same window/target/min-bucket logic in SQL (all-integer,
    then one mirrored float op for the break value)."""
    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark.operators import render as RD

    tiles = corpus_mod.synth_px_tiles(spark, tile_size=64)
    hist = RD.histogram_stats(tiles, vmin=0.0, vmax=2400.0, nbins=256)
    return RD.quantile_breaks(hist, vmin=0.0, vmax=2400.0, nbins=256, k=4)


def q_hillshade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hillshade (GDALDEM/ESRI convention, sun az 315 / alt 45) on the Horn
    p/q derivatives with cross-tile halo exchange (operators/focal.py
    hillshade_stats): shade = 255*max(0, cos(zen)cos(slope) +
    sin(zen)sin(slope)cos(az - aspect)), all-9-valid GDAL edge rule,
    per-tile quantized checksums. Oracle: the identical arithmetic chain in
    SQL over the nine recomputed neighbor columns, with the engine's
    cos(zen)/sin(zen)/az doubles embedded as exact literals. Reference
    parity: the aspect-tiled.tif kernel family (RasterSourceSpec)."""
    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark.operators import focal as FO

    tiles = corpus_mod.synth_px_tiles(spark, tile_size=64)
    return FO.hillshade_stats(tiles, azimuth=315.0, altitude=45.0,
                              dx=30.0, dy=30.0)


def q_tri_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRI (Wilson) + TPI + roughness — the rest of the GDALDEM terrain
    family (operators/focal.py tri_stats) on the same halo machinery and
    all-9-valid edge rule. Output: per-tile quantized checksums (TPI can be
    negative — floor-toward--inf quantization is identical in numpy and
    SQL). Oracle: the identical 8-term chained-add / single-division /
    GREATEST-LEAST arithmetic over the nine recomputed neighbor columns."""
    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark.operators import focal as FO

    tiles = corpus_mod.synth_px_tiles(spark, tile_size=64)
    return FO.tri_stats(tiles)


# NTv2 grid-file datum destination: datum-shifted longlat regridding (the
# NAD27-raster shape: same graticule, grid-file datum). Target GridExtent
# in FROM-datum degrees; the synthetic .gsb (corpus.synth_nadgrid) covers
# it with >=1 degree margin on every side.
ND_X0, ND_Y0, ND_X1, ND_Y1 = -79.0, 21.5, -39.0, 41.5
ND_COLS, ND_ROWS = 101, 89


def q_reproject_nadgrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """reprojectToGrid onto an NTv2 GRID-FILE datum destination (the
    +nadgrids family a 7-param Helmert cannot express — NAD27/OSTN-style):
    the query writes the canonical synthetic .gsb (public NTv2 binary
    layout, gridshift.write_ntv2), parse_proj4 loads it EAGERLY at plan
    build (the closures carry the shift arrays, so the scratch file is
    gone before execution), and the pixel fixture regrids onto a
    FROM-datum longlat GridExtent. Oracle: the forward bilinear shift
    (gridshift._bilinear term-for-term — row/col scaling, clamped floor,
    w00..w11 weighted sum) with node values from the closed-form field
    (corpus.synth_nadgrid_field) recomputed arithmetically in SQL.
    Reference parity: GeoTiffReprojectRasterSource.scala:39."""
    import shutil
    import tempfile

    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark import grid as GR
    from geotrellis_contrib_spark.operators import pixels as px

    tmp = tempfile.mkdtemp(prefix="nadgrid_")
    try:
        path = corpus_mod.synth_nadgrid(os.path.join(tmp, "synth.gsb"))
        dst = f"+proj=longlat +ellps=clrk66 +nadgrids={path} +no_defs"
        tiles = corpus_mod.synth_px_tiles(spark, tile_size=64)
        target = GR.GridExtent(ND_X0, ND_Y0, ND_X1, ND_Y1,
                               (ND_X1 - ND_X0) / ND_COLS,
                               (ND_Y1 - ND_Y0) / ND_ROWS)
        out = px.reproject_to_grid(tiles, target, method="nearest",
                                   tile_size=64, dst_crs=dst)
        return px.window_stats(out).select("source_id", "band",
                                           "px_sum", "px_count")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def q_text_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text analysis battery: token counts (ws + BPE-ish), quality ratios,
    language-ID heuristic, rolling-hash fingerprint — all JVM-side."""
    _views(spark, sf_dir)
    d = spark.table("documents")
    t = F.col("text")
    return d.select(
        "doc_id",
        TXT.ws_token_count(t).alias("ws_tokens"),
        TXT.bpe_token_count(t).alias("bpe_tokens"),
        TXT.alpha_ratio(t).alias("alpha_ratio"),
        TXT.punct_ratio(t).alias("punct_ratio"),
        TXT.stopword_hits(t).alias("stop_hits"),
        TXT.quality_score(t).alias("quality"),
        TXT.lang_id(t).alias("lang_pred"),
        TXT.char_poly_hash(t).alias("fingerprint"),
    )


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal tier under the oracle gate: opaque binary payloads ->
    (stub) decode -> pooled feature chunks, one mapInPandas — the real
    Spark plumbing with a deterministic decoder whose seed is the
    engine-owned polynomial BYTE hash of the payload, so DuckDB recomputes
    decode + chunk means from the same bytes. Features explode to scalar
    rows for the value-hash compare."""
    from geotrellis_contrib_spark.operators import media as md
    _views(spark, sf_dir)
    m = md.synth_media(spark.table("media")
                       .select(F.col("doc_id").cast("string").alias("doc_id"),
                               F.col("media_idx").alias("span_idx"),
                               "media_ref"))
    feats = md.extract_features(m)
    return feats.select("doc_id", "span_idx", "kind",
                        F.posexplode("feature").alias("chunk_idx", "feat"))


def q_media_real_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GENUINE byte decoding under the oracle gate (round-3 gap closed):
    deterministic content -> REAL encoders (zlib PNG / RIFF-WAVE 16-bit
    PCM) -> opaque binary payloads -> REAL decoders (all-filter PNG
    inflate, PCM frames) -> pooled feature chunks. The encoder input is
    closed-form arithmetic of the media_ref seed and both codecs
    round-trip bit-exactly (PNG: lossless by construction; WAV: the
    samples are exact multiples of 2^-15, so PCM quantization is the
    identity), so DuckDB recomputes the decoded chunk means WITHOUT
    decoding — what the engine must get right is the actual byte work."""
    from geotrellis_contrib_spark.operators import media as md
    _views(spark, sf_dir)
    m = md.synth_real_media(spark.table("media")
                            .select(F.col("doc_id").cast("string").alias("doc_id"),
                                    F.col("media_idx").alias("span_idx"),
                                    "media_ref"))
    feats = md.extract_features(m, decoders=md.REAL_DECODERS)
    return feats.select("doc_id", "span_idx", "kind",
                        F.posexplode("feature").alias("chunk_idx", "feat"))


def q_geom_scalars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar geometry functions under the value gate (SURVEY.md §2.7;
    PostGIS slick surface, PostGisProjectionSupportSpec.scala:60-92 length/
    centroid, PostgisSpec.scala:193-196 asGeoJSON): every polygon box round-
    trips through REAL WKB — a 5-point polygon ring (centroid via the
    shoelace kernel) and an L-path linestring (segment-sum length) — and
    the integral-center nation boxes additionally emit the GeoJSON point
    string. Oracle: the shoelace/segment arithmetic mirrored term-for-term
    in SQL (sequential-sum order preserved -> identical doubles)."""
    from geotrellis_contrib_spark.functions import geometry as G
    _views(spark, sf_dir)
    b = spark.table("polygon_boxes")
    g = (b.withColumn("wkb", G.box_to_wkb(
            F.col("xmin"), F.col("ymin"), F.col("xmax"), F.col("ymax")))
          .withColumn("path", G.lpath_to_wkb(
            F.col("xmin"), F.col("ymin"), F.col("xmax"), F.col("ymax")))
          .withColumn("cen", G.centroid_wkb(F.col("wkb")))
          .withColumn("path_len", G.linestring_length_wkb(F.col("path"))))
    cx, cy = F.col("cen.x"), F.col("cen.y")
    return g.select(
        "poly_id",
        F.col("path_len"),
        cx.alias("cx"), cy.alias("cy"),
        F.when(F.col("poly_id").startswith("poly-n"),
               G.point_geojson(cx, cy)).alias("geojson"))


def q_embed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 neighbors for every 50th embedding."""
    _views(spark, sf_dir)
    e = spark.table("embeddings")
    queries = e.filter(F.col("vec_id") % 50 == 0) \
               .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"))
    return sim.cosine_topk(e, queries, k=EMB_K, dims=EMB_DIMS)


IVF_K = 64       # FIXED centroid budget: broadcast size is corpus-independent
IVF_NPROBE = 4


def q_embed_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k: fixed budget of K=64 deterministic centroids
    (smallest id-hash — the broadcast stays constant-size at 10^12 vectors),
    nprobe=4 posting-list probe + exact re-rank — the ANN scale path next to
    the brute-force baseline (embed_topk)."""
    _views(spark, sf_dir)
    e = spark.table("embeddings")
    centroids = sim.select_centroids(e, IVF_K)
    queries = e.filter(F.col("vec_id") % 50 == 0) \
               .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"))
    return sim.ivf_topk(e, queries, centroids, k=EMB_K, nprobe=IVF_NPROBE, dims=EMB_DIMS)


def q_embed_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table hyperplane-LSH buckets per embedding (4 tables x 12
    deterministic planes; one row per (vector, table))."""
    _views(spark, sf_dir)
    return sim.lsh_tables(spark.table("embeddings"), dims=EMB_DIMS,
                          n_tables=EMB_LSH_TABLES, n_planes=EMB_LSH_PLANES)


def q_embed_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate embeddings: per-table bucket equi-joins unioned across
    the 4 LSH tables + one exact cosine refine."""
    _views(spark, sf_dir)
    return sim.lsh_near_pairs(spark.table("embeddings"), dims=EMB_DIMS,
                              min_cos=EMB_MIN_COS,
                              n_tables=EMB_LSH_TABLES, n_planes=EMB_LSH_PLANES)


# --------------------------------------------------------------------------
# oracle SQL (DuckDB dialect-common recomputations)
# --------------------------------------------------------------------------

def _dist_sql(x1, y1, x2, y2):
    return f"SQRT(({x1} - {x2}) * ({x1} - {x2}) + ({y1} - {y2}) * ({y1} - {y2}))"


def _oracles() -> dict[str, str]:
    col12 = C.sql_tile_col("lon", 12)
    row12 = C.sql_tile_row("lat", 12)
    o = {}

    o["cell_encode"] = f"""
{derive.cte('anchors')}
SELECT doc_id, {col12} AS col12, {row12} AS row12,
       {C.sql_cell_id('12', col12, row12)} AS cell12
FROM anchors WHERE lon IS NOT NULL
"""

    zc6 = C.sql_tile_col("lon", 6)
    zr6 = C.sql_tile_row("lat", 6)
    o["zorder_layout"] = f"""
{derive.cte('anchors')},
keyed AS (
  SELECT doc_id,
         {C.sql_tile_col('lon', 12)} AS col12,
         {C.sql_tile_row('lat', 12)} AS row12,
         {C.sql_cell_id('6', zc6, zr6)} AS bucket
  FROM anchors WHERE lon IS NOT NULL)
SELECT doc_id, bucket,
       {C.sql_morton_duckdb('col12', 'row12')} AS morton,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY bucket
         ORDER BY {C.sql_morton_duckdb('col12', 'row12')}, doc_id)
        AS INT) AS zrank
FROM keyed
"""

    # Space-time Z3 layout (spacetime_layout): identical 3D bit-spread
    # arithmetic (<< / & / |), DATE-level day bins, same per-(bucket,
    # week) window — exact int64 end to end.
    o["spacetime_layout"] = f"""
{derive.cte('anchors')},
j AS (
  SELECT e.event_id, a.lon, a.lat,
         DATEDIFF('day', DATE '1970-01-01', CAST(e.ts AS DATE)) AS tbin
  FROM events e JOIN anchors a ON e.user_id = a.doc_id
  WHERE a.lon IS NOT NULL),
keyed AS (
  SELECT event_id,
         {C.sql_tile_col('lon', 12)} AS col12,
         {C.sql_tile_row('lat', 12)} AS row12,
         {C.sql_cell_id('6', zc6, zr6)} AS bucket,
         tbin
  FROM j)
SELECT event_id, bucket, tbin // 7 AS tweek,
       {C.sql_morton3_duckdb('col12', 'row12', 'tbin')} AS z3,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY bucket, tbin // 7
         ORDER BY {C.sql_morton3_duckdb('col12', 'row12', 'tbin')},
                  event_id)
        AS INT) AS strank
FROM keyed
"""

    assigns = []
    for z in TILE_ZOOMS:
        cz = C.sql_tile_col("lon", z)
        rz = C.sql_tile_row("lat", z)
        assigns.append(
            f"SELECT doc_id, media_ref, CAST({z} AS INT) AS zoom, {cz} AS col, {rz} AS row, "
            f"{C.sql_cell_id(str(z), cz, rz)} AS cell_id FROM media"
        )
    o["tile_assign"] = derive.cte("media") + "\n" + "\nUNION ALL\n".join(assigns)

    o["pip_join"] = f"""
{derive.cte('anchors', 'polygon_boxes')}
SELECT a.doc_id, p.poly_id
FROM anchors a JOIN polygon_boxes p
  ON a.lon >= p.xmin AND a.lon < p.xmax AND a.lat >= p.ymin AND a.lat < p.ymax
WHERE a.lon IS NOT NULL
"""

    # the salted join is semantically the SAME join — one oracle text
    o["pip_join_salted"] = o["pip_join"]

    # 90%-hot-cell skew gate: the planted corpus regenerated closed-form
    # (op order mirrors _hot_anchors exactly; all quantities are exact
    # IEEE sequences shared by both engines)
    o["pip_join_hot"] = f"""
{derive.cte('polygon_boxes')},
pts AS (
  SELECT id AS doc_id,
    CASE WHEN id % 10 < 9
         THEN -74.2 + CAST((id*9973+12345) % 100000 AS DOUBLE)/100000.0*0.4
         ELSE -180.0 + CAST((id*9973+12345) % 100000 AS DOUBLE)/100000.0*360.0
    END AS lon,
    CASE WHEN id % 10 < 9
         THEN 40.5 + CAST((id*7919+54321) % 100000 AS DOUBLE)/100000.0*0.4
         ELSE -60.0 + CAST((id*7919+54321) % 100000 AS DOUBLE)/100000.0*120.0
    END AS lat
  FROM range(0, {HOT_N}) t(id))
SELECT p.poly_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(a.doc_id) AS BIGINT) AS id_sum
FROM pts a JOIN polygon_boxes p
  ON a.lon >= p.xmin AND a.lon < p.xmax AND a.lat >= p.ymin AND a.lat < p.ymax
GROUP BY 1
"""

    # arbitrary-WKB polygon PIP: crossing-number parity recomputed in SQL
    # over the unified edge set — box rings derived from polygon_boxes
    # columns (vertex-order-independent: parity only reads each edge's
    # (y1<=py)<>(y2<=py) straddle and the ray-intersection x), fixture
    # rings as literal VALUES from the same PIP_WKB_POLYS tuples the engine
    # encodes to WKB. The ray-x expression is term-for-term the engine's
    # geom.point_in_ring arithmetic, so boundary parities agree exactly.
    fix_edges = []
    for pid, rings in PIP_WKB_POLYS.items():
        for ri, ring in enumerate(rings):
            pts = ring[:-1] if ring[0] == ring[-1] else ring
            for i, (x1, y1) in enumerate(pts):
                x2, y2 = pts[(i + 1) % len(pts)]
                fix_edges.append(f"('{pid}', {ri}, CAST({x1!r} AS DOUBLE), "
                                 f"CAST({y1!r} AS DOUBLE), CAST({x2!r} AS DOUBLE), "
                                 f"CAST({y2!r} AS DOUBLE))")
    _fix_vals = ",\n    ".join(fix_edges)
    _cross = ("(e.y1 <= a.lat) <> (e.y2 <= a.lat) AND a.lon < "
              "e.x1 + (a.lat - e.y1) / (e.y2 - e.y1) * (e.x2 - e.x1)")
    o["pip_join_wkb"] = f"""
{derive.cte('anchors', 'polygon_boxes')},
edges AS (
  SELECT poly_id, 0 AS ring, xmin AS x1, ymin AS y1, xmin AS x2, ymax AS y2 FROM polygon_boxes
  UNION ALL SELECT poly_id, 0, xmin, ymax, xmax, ymax FROM polygon_boxes
  UNION ALL SELECT poly_id, 0, xmax, ymax, xmax, ymin FROM polygon_boxes
  UNION ALL SELECT poly_id, 0, xmax, ymin, xmin, ymin FROM polygon_boxes
  UNION ALL SELECT * FROM (VALUES
    {_fix_vals}) fx(poly_id, ring, x1, y1, x2, y2)
), par AS (
  SELECT a.doc_id, e.poly_id, e.ring,
         SUM(CASE WHEN {_cross} THEN 1 ELSE 0 END) % 2 AS parity
  FROM anchors a CROSS JOIN edges e
  WHERE a.lon IS NOT NULL
  GROUP BY 1, 2, 3
)
SELECT doc_id, poly_id FROM par
GROUP BY doc_id, poly_id
HAVING MAX(CASE WHEN ring = 0 THEN parity END) = 1
   AND COALESCE(MAX(CASE WHEN ring > 0 THEN parity END), 0) = 0
"""

    # scalar geometry functions: the shoelace centroid of the box ring
    # [(x0,y0),(x0,y1),(x1,y1),(x1,y0)] and the L-path segment-sum length,
    # mirrored term-for-term in numpy's sequential-sum order (identical
    # doubles); GeoJSON only over the integral-center nation boxes, where
    # the integer formatting branch is exact in both engines.
    _gs_cross = ("(xmin*ymax - xmin*ymin) AS c0, (xmin*ymax - xmax*ymax) AS c1, "
                 "(xmax*ymin - xmax*ymax) AS c2, (xmax*ymin - xmin*ymin) AS c3")
    _gs_fmt = lambda v: (f"CASE WHEN {v} = CAST(CAST({v} AS BIGINT) AS DOUBLE) "  # noqa: E731
                         f"THEN CAST(CAST({v} AS BIGINT) AS VARCHAR) "
                         f"ELSE CAST({v} AS VARCHAR) END")
    o["geom_scalars"] = f"""
{derive.cte('polygon_boxes')},
g AS (
  SELECT poly_id, xmin, ymin, xmax, ymax, {_gs_cross}
  FROM polygon_boxes
), ar AS (
  SELECT *, (((c0 + c1) + c2) + c3) / 2.0 AS a FROM g
), cen AS (
  SELECT poly_id,
    SQRT(0.0*0.0 + (ymax - ymin)*(ymax - ymin))
      + SQRT((xmax - xmin)*(xmax - xmin) + 0.0*0.0) AS path_len,
    ((((xmin+xmin)*c0 + (xmin+xmax)*c1) + (xmax+xmax)*c2) + (xmax+xmin)*c3)
      / (6.0 * a) AS cx,
    ((((ymin+ymax)*c0 + (ymax+ymax)*c1) + (ymax+ymin)*c2) + (ymin+ymin)*c3)
      / (6.0 * a) AS cy
  FROM ar
)
SELECT poly_id, path_len, cx, cy,
       CASE WHEN poly_id LIKE 'poly-n%' THEN
         CONCAT('{{"type":"Point","coordinates":[', {_gs_fmt('cx')}, ',',
                {_gs_fmt('cy')}, ']}}')
       END AS geojson
FROM cen
"""

    dd = _dist_sql("a.lon", "a.lat", "b.lon", "b.lat")
    o["distance_join"] = f"""
{derive.cte('anchors')}
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, {dd} AS dist,
       CAST(FLOOR({dd} * 10000.0 + 0.5) AS BIGINT) AS dist_e4
FROM anchors a JOIN anchors b ON a.doc_id < b.doc_id
WHERE a.lon IS NOT NULL AND b.lon IS NOT NULL AND {dd} < {DIST_RADIUS}
"""

    hav = ("12742017.6 * ASIN(SQRT("
           "POWER(SIN((RADIANS(b.lat) - RADIANS(a.lat)) / 2), 2) "
           "+ COS(RADIANS(a.lat)) * COS(RADIANS(b.lat)) "
           "* POWER(SIN((RADIANS(b.lon) - RADIANS(a.lon)) / 2), 2)))")
    pd_ = _dist_sql("a.lon", "a.lat", "b.lon", "b.lat")
    o["haversine_pairs"] = f"""
{derive.cte('anchors')},
hot AS (SELECT doc_id, lon, lat FROM anchors
        WHERE lon IS NOT NULL AND lon >= -74.25 AND lon < -73.75
          AND lat >= 40.45 AND lat < 40.95)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(FLOOR({hav}) AS BIGINT) AS dist_m_floor
FROM hot a JOIN hot b ON a.doc_id < b.doc_id
WHERE {pd_} < 0.2 AND {hav} < 10000.0
"""

    qd = _dist_sql("q.qlon", "q.qlat", "a.lon", "a.lat")
    o["knn"] = f"""
{derive.cte('anchors', 'query_points')}
SELECT query_id, point_id, CAST(rank AS INT) AS rank, dist FROM (
  SELECT q.query_id, a.doc_id AS point_id, {qd} AS dist,
         ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY {qd}, a.doc_id) AS rank
  FROM query_points q CROSS JOIN anchors a
  WHERE a.lon IS NOT NULL
) t WHERE rank <= {KNN_K}
"""

    qd2 = _dist_sql("q.qlon", "q.qlat", "a.lon", "a.lat")
    o["knn_exact"] = f"""
{derive.cte('anchors')},
q AS (SELECT doc_id AS query_id, lon AS qlon, lat AS qlat FROM anchors
      WHERE lon IS NOT NULL AND doc_id % 199 = 3)
SELECT query_id, point_id, CAST(rank AS INT) AS rank, dist FROM (
  SELECT q.query_id, a.doc_id AS point_id, {qd2} AS dist,
         ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY {qd2}, a.doc_id) AS rank
  FROM q CROSS JOIN anchors a
  WHERE a.lon IS NOT NULL
) t WHERE rank <= {KNN_EXACT_K}
"""

    clon, clat = raster_ops.sql_tile_center("t.zoom", "t.col", "t.row")
    o["zonal_stats"] = f"""
{derive.cte('tiles', 'polygon_boxes')}
SELECT p.poly_id, t.band,
       CAST(COUNT(t.val) AS BIGINT) AS cnt,
       SUM(t.val) AS sum_val, MIN(t.val) AS min_val, MAX(t.val) AS max_val,
       SUM(t.val) / COUNT(t.val) AS mean_val
FROM tiles t JOIN polygon_boxes p
  ON {clon} >= p.xmin AND {clon} < p.xmax AND {clat} >= p.ymin AND {clat} < p.ymax
GROUP BY p.poly_id, t.band
"""

    # HLL sketch (hll_sketch): the same generated hash/register/rho
    # SQL text (DuckDB xor/shift formatters), MAX per register.
    from geotrellis_contrib_spark.operators import sketch as SK
    o["hll_sketch"] = SK.sql_hll_state_duckdb(
        "documents", "doc_id", "source", p=9)

    # Count-min / Bloom (cm_sketch, bloom_filter): same generated
    # integer-hash text, full-state exact compares.
    o["cm_sketch"] = SK.sql_cm_state_duckdb(
        "documents", "text", "source", d=4, w=256)
    o["bloom_filter"] = SK.sql_bloom_state_duckdb(
        "documents", "doc_id", "source", m=4096, k=3)

    # Marching squares (contour): blocks over the scene-0 global pixel
    # grid; corner values/validity from the fixture closed form (hole
    # h0=0 for s=0), then the case/segment fragment emitted by the
    # SAME table the engine runs (contour.sql_segment_cases).
    from geotrellis_contrib_spark.operators import contour as CT

    def _ct_v(dr: int, dc: int) -> str:
        R = f"(gr + {dr})"
        C = f"(gc + {dc})"
        val = (f"(({C} // 64) * 7.0 + ({R} // 64) * 3.0"
               f" + ({R} % 64) * 0.5 + ({C} % 64) * 0.25"
               f" + CAST((({R} % 64) * 31 + ({C} % 64) * 17) % 13"
               f" AS DOUBLE))")
        return (f"(CASE WHEN NOT (({R} % 64) < 16 AND ({C} % 64) < 16)"
                f" THEN {val} ELSE NULL END)")

    o["contour"] = f"""
WITH blocks AS (
  SELECT gr, gc
  FROM range(1536, 1791) g1(gr), range(1152, 1407) g2(gc)
),
{CT.sql_segment_cases(_ct_v, repr(CONTOUR_ISO))}
SELECT gr, gc, CAST(seg AS INT) AS seg, qx1, qy1, qx2, qy2 FROM segs
"""

    # Zonal percentiles (zonal_percentiles): same containment join,
    # counts per (poly, band, val), cumulative window, type-1 rank
    # thresholds floor((q*n+3)/4) — integer arithmetic end to end
    # (values are the fixture's integral doubles).
    o["zonal_percentiles"] = f"""
{derive.cte('tiles', 'polygon_boxes')},
cnts AS (
  SELECT p.poly_id, t.band, t.val, COUNT(*) AS c
  FROM tiles t JOIN polygon_boxes p
    ON {clon} >= p.xmin AND {clon} < p.xmax
   AND {clat} >= p.ymin AND {clat} < p.ymax
  WHERE t.val IS NOT NULL
  GROUP BY 1, 2, 3
),
cum AS (
  SELECT poly_id, band, val,
         SUM(c) OVER (PARTITION BY poly_id, band ORDER BY val
                      ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(c) OVER (PARTITION BY poly_id, band) AS n
  FROM cnts
)
SELECT poly_id, band, CAST(MAX(n) AS BIGINT) AS cnt,
       MIN(CASE WHEN cum >= (1 * n + 3) // 4 THEN val END) AS p25,
       MIN(CASE WHEN cum >= (2 * n + 3) // 4 THEN val END) AS p50,
       MIN(CASE WHEN cum >= (3 * n + 3) // 4 THEN val END) AS p75
FROM cum GROUP BY 1, 2
"""

    # PageRank (pagerank): identical 3-iteration chain. Every float
    # literal is CAST to DOUBLE — DuckDB parses bare decimal literals
    # as DECIMAL and would run exact-decimal arithmetic where the
    # engine runs IEEE doubles (the bm25 lesson).
    _pr_iter = """
c{k} AS (
  SELECT e.dst AS node,
         SUM(CAST(FLOOR(CAST(0.875 AS DOUBLE) * p.pr_q / deg.deg
                        + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS in_q
  FROM edges e JOIN deg ON deg.src = e.src
  JOIN pr{j} p ON p.node = e.src
  GROUP BY 1),
pr{k} AS (
  SELECT nodes.node,
         CAST(FLOOR(CAST(137438953472 AS DOUBLE) / n.nn
                    + CAST(0.5 AS DOUBLE)) AS BIGINT)
           + COALESCE(c{k}.in_q, 0) AS pr_q
  FROM nodes CROSS JOIN n LEFT JOIN c{k} ON c{k}.node = nodes.node)"""
    o["pagerank"] = (derive.cte('anchors') + """,
ms AS (SELECT DISTINCT doc_id % 251 AS m FROM anchors),
edges AS (
  SELECT DISTINCT src, dst FROM (
    SELECT m AS src, (m * 7 + 3) % 251 AS dst FROM ms
    UNION ALL
    SELECT m, (m * 13 + 5) % 251 FROM ms WHERE m % 2 = 0
    UNION ALL
    SELECT m, (m * m + 1) % 251 FROM ms)),
nodes AS (SELECT DISTINCT node FROM (
    SELECT src AS node FROM edges
    UNION ALL SELECT dst FROM edges)),
deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY 1),
n AS (SELECT COUNT(*) AS nn FROM nodes),
pr0 AS (
  SELECT node, CAST(FLOOR(CAST(1099511627776 AS DOUBLE) / n.nn
                          + CAST(0.5 AS DOUBLE)) AS BIGINT) AS pr_q
  FROM nodes CROSS JOIN n),"""
        + _pr_iter.format(k=1, j=0) + ","
        + _pr_iter.format(k=2, j=1) + ","
        + _pr_iter.format(k=3, j=2) + """
SELECT node, CAST(pr_q AS BIGINT) AS pr_q FROM pr3
""")

    # Zonal mode (zonal_mode): same containment-join histogram CTE;
    # majority = MIN(val) among max-count rows (smallest-value tie
    # rule), minority symmetric — selection only, exact.
    o["zonal_mode"] = f"""
{derive.cte('tiles', 'polygon_boxes')},
cnts AS (
  SELECT p.poly_id, t.band, t.val, COUNT(*) AS c
  FROM tiles t JOIN polygon_boxes p
    ON {clon} >= p.xmin AND {clon} < p.xmax
   AND {clat} >= p.ymin AND {clat} < p.ymax
  WHERE t.val IS NOT NULL
  GROUP BY 1, 2, 3
),
m AS (
  SELECT *, MAX(c) OVER (PARTITION BY poly_id, band) AS mx,
            MIN(c) OVER (PARTITION BY poly_id, band) AS mn
  FROM cnts
)
SELECT poly_id, band, CAST(SUM(c) AS BIGINT) AS cnt,
       CAST(COUNT(*) AS BIGINT) AS n_distinct,
       MIN(CASE WHEN c = mx THEN val END) AS majority,
       MIN(CASE WHEN c = mn THEN val END) AS minority
FROM m GROUP BY 1, 2
"""

    rc = C.sql_tile_col("lon", RASTERIZE_ZOOM)
    rr = C.sql_tile_row("lat", RASTERIZE_ZOOM)
    o["rasterize"] = f"""
{derive.cte('anchors')}
SELECT {rc} AS col, {rr} AS row,
       CAST(COUNT(*) AS BIGINT) AS n_points,
       CAST(SUM(doc_id % 256) AS BIGINT) AS sum_weight
FROM anchors WHERE lon IS NOT NULL
GROUP BY 1, 2
"""

    # Linestring rasterization (line_burn): the SAME supercover column
    # walk replayed in SQL — identical gpix twins and identical float
    # expression ORDER (orient CASE, slope division, GREATEST/LEAST
    # clamps), so every floor() lands on the same double; DuckDB
    # generate_series (inclusive) replays Spark's F.sequence explodes.
    _lb_npx = (1 << 5) * 64
    o["line_burn"] = f"""
{derive.cte('anchors')},
pts AS (
  SELECT doc_id, doc_id % 64 AS line_id,
         {C.sql_gpix_x('lon', 5, 64)} AS px,
         {C.sql_gpix_y('lat', 5, 64)} AS py
  FROM anchors WHERE lon IS NOT NULL AND lat IS NOT NULL
), segs AS (
  SELECT line_id, px AS px0, py AS py0,
         LEAD(px) OVER (PARTITION BY line_id ORDER BY doc_id) AS px1,
         LEAD(py) OVER (PARTITION BY line_id ORDER BY doc_id) AS py1
  FROM pts
), o AS (
  SELECT line_id,
         CASE WHEN px0 <= px1 THEN px0 ELSE px1 END AS xa,
         CASE WHEN px0 <= px1 THEN py0 ELSE py1 END AS ya,
         CASE WHEN px0 <= px1 THEN px1 ELSE px0 END AS xb,
         CASE WHEN px0 <= px1 THEN py1 ELSE py0 END AS yb
  FROM segs WHERE px1 IS NOT NULL
), colwalk AS (
  -- bounded cross join + filter (this DuckDB lacks lateral
  -- generate_series with column params); off-grid columns are clipped
  -- here exactly as the engine's [0,npx) cell filter clips them
  SELECT line_id, xa, ya, xb, yb, k
  FROM o, range(0, {_lb_npx}) t(k)
  WHERE k >= CAST(FLOOR(xa) AS BIGINT) AND k <= CAST(FLOOR(xb) AS BIGINT)
), yr AS (
  SELECT line_id, k,
         CASE WHEN xb = xa THEN ya
              ELSE ya + (GREATEST(xa, CAST(k AS DOUBLE)) - xa)
                        * ((yb - ya) / (xb - xa)) END AS y_lo,
         CASE WHEN xb = xa THEN yb
              ELSE ya + (LEAST(xb, CAST(k + 1 AS DOUBLE)) - xa)
                        * ((yb - ya) / (xb - xa)) END AS y_hi
  FROM colwalk
), cells AS (
  SELECT DISTINCT line_id, k AS cx, cy
  FROM yr, range(0, {_lb_npx}) g(cy)
  WHERE cy >= CAST(FLOOR(LEAST(y_lo, y_hi)) AS BIGINT)
    AND cy <= CAST(FLOOR(GREATEST(y_lo, y_hi)) AS BIGINT)
)
SELECT cx // 64 AS col, cy // 64 AS row,
       CAST(COUNT(*) AS BIGINT) AS n_hits,
       CAST(COUNT(DISTINCT cx * {_lb_npx} + cy) AS BIGINT) AS n_cells
FROM cells GROUP BY 1, 2
"""

    # Kernel density (kernel_density): per-(pixel, point) triangle-kernel
    # contribution recomputed in SQL — the engine's continuous global-
    # pixel coords (sql_gpix twins of gpix), identical dy^2+dx^2 /
    # GREATEST / quantize chain, bounded 10x10 candidate-offset range
    # (pixels past the engine's window quantize to 0), per-pixel integer
    # sums then per-tile rollup over positive tiles only.
    _kd_npx = (1 << 6) * 64
    _kd_dx = "(CAST(pxx AS DOUBLE) + 0.5 - gx)"
    _kd_dy = "(CAST(pyy AS DOUBLE) + 0.5 - gy)"
    o["kernel_density"] = f"""
{derive.cte('anchors')}
, pts AS (
  SELECT {C.sql_gpix_x('lon', 6, 64)} AS gx,
         {C.sql_gpix_y('lat', 6, 64)} AS gy
  FROM anchors WHERE lon IS NOT NULL AND lat IS NOT NULL
), contrib AS (
  SELECT CAST(CEIL(gx - 0.5 - 4.0) AS BIGINT) + ox AS pxx,
         CAST(CEIL(gy - 0.5 - 4.0) AS BIGINT) + oy AS pyy,
         gx, gy
  FROM pts, range(0, 10) o1(ox), range(0, 10) o2(oy)
), qw AS (
  SELECT pxx, pyy,
         CAST(FLOOR(GREATEST(0.0, 1.0 - SQRT({_kd_dy}*{_kd_dy}
                                             + {_kd_dx}*{_kd_dx}) / 4.0)
                    * 1048576.0 + 0.5) AS BIGINT) AS q
  FROM contrib
  WHERE pxx BETWEEN 0 AND {_kd_npx - 1} AND pyy BETWEEN 0 AND {_kd_npx - 1}
), pxsum AS (
  SELECT pxx // 64 AS col, pyy // 64 AS row, pxx, pyy, SUM(q) AS s
  FROM qw GROUP BY 1, 2, 3, 4
)
SELECT CAST(6 AS INT) AS zoom, col, row,
       CAST(SUM(s) AS BIGINT) AS density_sum,
       CAST(COUNT(*) FILTER (WHERE s > 0) AS BIGINT) AS n_nonzero
FROM pxsum GROUP BY 1, 2, 3 HAVING SUM(s) > 0
"""

    o["mosaic_merge"] = f"""
{derive.cte('tiles')}
SELECT zoom, col, row, band, val, source_idx FROM (
  SELECT zoom, col, row, band, val, source_idx,
         ROW_NUMBER() OVER (
           PARTITION BY zoom, col, row, band
           ORDER BY CASE WHEN val IS NULL THEN 1 ELSE 0 END, source_idx,
                    val ASC NULLS LAST) AS rn
  FROM tiles
) t WHERE rn = 1
"""

    wc0 = C.sql_tile_col("w.xmin", TILES_ZOOM)
    wc1 = C.sql_tile_col("w.xmax", TILES_ZOOM)
    wr0 = C.sql_tile_row("w.ymax", TILES_ZOOM)
    wr1 = C.sql_tile_row("w.ymin", TILES_ZOOM)
    o["windows_read"] = f"""
{derive.cte('windows', 'tiles')}
SELECT w.win_id, CAST(COUNT(*) AS BIGINT) AS n_tiles, SUM(t.val) AS sum_val
FROM windows w JOIN tiles t
  ON t.col BETWEEN {wc0} AND {wc1} AND t.row BETWEEN {wr0} AND {wr1}
GROUP BY w.win_id
"""

    # multizoom variant joins an engine-side multi-zoom union but must
    # return exactly the single-zoom result (the zoom filter in
    # windows_tiles_join) — one oracle text
    o["windows_read_multizoom"] = o["windows_read"]

    o["raster_summary"] = f"""
{derive.cte('tiles')}
SELECT source_id, CAST(COUNT(*) AS BIGINT) AS n_tiles,
       CAST(COUNT(DISTINCT band) AS BIGINT) AS n_bands,
       MIN(col) AS col_min, MAX(col) AS col_max,
       MIN(row) AS row_min, MAX(row) AS row_max,
       CAST(SUM(CASE WHEN val IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nodata
FROM tiles GROUP BY source_id
"""

    o["pyramid_build"] = f"""
{derive.cte('tiles')}
SELECT CAST(zoom - 1 AS INT) AS zoom,
       CAST(FLOOR(col / 2.0) AS BIGINT) AS col,
       CAST(FLOOR(row / 2.0) AS BIGINT) AS row,
       band,
       CAST(COUNT(val) AS BIGINT) AS cnt,
       SUM(val) AS sum_val, MIN(val) AS min_val, MAX(val) AS max_val
FROM tiles GROUP BY 1, 2, 3, 4
"""

    o["poly_lang_rollup"] = f"""
{derive.cte('anchors', 'polygon_boxes')}
SELECT p.poly_id, d.lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT d.doc_id) AS BIGINT) AS n_distinct_docs
FROM anchors a
JOIN polygon_boxes p
  ON a.lon >= p.xmin AND a.lon < p.xmax AND a.lat >= p.ymin AND a.lat < p.ymax
JOIN documents d ON d.doc_id = a.doc_id
WHERE a.lon IS NOT NULL
GROUP BY 1, 2
"""

    o["cell_percentiles"] = f"""
{derive.cte('tiles')}
SELECT source_id, band,
       QUANTILE_CONT(val, 0.5) AS p50, QUANTILE_CONT(val, 0.9) AS p90,
       CAST(COUNT(*) AS BIGINT) AS n
FROM tiles WHERE val IS NOT NULL GROUP BY 1, 2
"""

    o["bbox_select"] = f"""
{derive.cte('anchors')}
SELECT doc_id, lon, lat FROM anchors
WHERE lon IS NOT NULL
  AND lon >= -74.25 AND lon < -73.75 AND lat >= 40.45 AND lat < 40.95
"""

    # ---- dedup / text / similarity -------------------------------------
    from geotrellis_contrib_spark.operators.dedup import (
        MINHASH_A, MINHASH_B, N_HASHES, SIMHASH_BITS)
    from geotrellis_contrib_spark.functions.text import FP_BASE, FP_MOD

    def char_hash_sql(col: str) -> str:
        return (f"LIST_REDUCE(LIST_PREPEND(CAST(0 AS BIGINT), "
                f"[CAST(ASCII(c) AS BIGINT) for c in STRING_SPLIT({col}, '')]), "
                f"(acc, ch) -> (acc * {FP_BASE} + ch) % {FP_MOD})")

    o["dedup_exact"] = f"""
{derive.cte('dup_docs')}
SELECT MD5(text) AS text_hash, MIN(doc_id) AS survivor_doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_dups
FROM dup_docs GROUP BY 1
"""

    from geotrellis_contrib_spark.operators.dedup import SHINGLE_COMBINE
    comb = "hs[i]"
    for j in range(1, JACCARD_N):
        comb = f"({comb} * {SHINGLE_COMBINE} + hs[i+{j}]) % {FP_MOD}"
    sh_cte = f"""
sh AS (
  SELECT DISTINCT doc_id, s AS sh FROM (
    SELECT doc_id,
           UNNEST(LIST_TRANSFORM(RANGE(1, GREATEST(LEN(hs) - {JACCARD_N - 2}, 2)),
             i -> {comb})) AS s
    FROM (SELECT doc_id, [{char_hash_sql('t')}
          for t in STRING_SPLIT(text, ' ')] AS hs FROM dup_docs) x) t
  WHERE s IS NOT NULL)
"""
    num, den = int(JACCARD_T * 1000), 1000
    o["jaccard_pairs"] = f"""
{derive.cte('dup_docs')}, {sh_cte},
shf AS (SELECT doc_id, sh FROM sh WHERE sh IN (
          SELECT sh FROM sh GROUP BY sh HAVING COUNT(*) <= {JACCARD_MAX_DF})),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM shf GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS inter
  FROM shf a JOIN shf b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT i.doc_a, i.doc_b, i.inter, sa.sz AS size_a, sb.sz AS size_b,
       i.inter / (sa.sz + sb.sz - i.inter) AS jaccard
FROM inter i JOIN sizes sa ON sa.doc_id = i.doc_a JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE i.inter * {den} >= {num} * (sa.sz + sb.sz - i.inter)
"""

    # Winnowing fingerprints (winnow_fps): positional 5-gram hashes via
    # the SAME char-fold list machinery, windowed MIN over 4 consecutive
    # shingles (ROWS BETWEEN), rightmost tie via MAX(pos) among
    # window members equal to the min, DISTINCT selections, per-doc
    # integer rollups (fp < 2^31 so SUM fits int64; cast for pandas).
    o["winnow_fps"] = f"""
{derive.cte('dup_docs')},
shp AS (
  SELECT doc_id,
         UNNEST(RANGE(1, GREATEST(LEN(hs) - {JACCARD_N - 2}, 2))) AS pos,
         UNNEST(LIST_TRANSFORM(RANGE(1, GREATEST(LEN(hs) - {JACCARD_N - 2}, 2)),
           i -> {comb})) AS s
  FROM (SELECT doc_id, [{char_hash_sql('t')}
        for t in STRING_SPLIT(text, ' ')] AS hs FROM dup_docs) x),
shf AS (SELECT doc_id, pos - 1 AS pos, s  -- 1-based list index ->
        FROM shp WHERE s IS NOT NULL),    -- 0-based engine token pos
winm AS (
  SELECT doc_id, pos AS ws,
         MIN(s) OVER win AS m,
         COUNT(*) OVER win AS cnt
  FROM shf
  WINDOW win AS (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING)),
sel AS (
  SELECT wm.doc_id, wm.ws, wm.m AS fp, MAX(p.pos) AS fp_pos
  FROM winm wm JOIN shf p ON p.doc_id = wm.doc_id
       AND p.pos BETWEEN wm.ws AND wm.ws + {WINNOW_W - 1} AND p.s = wm.m
  WHERE wm.cnt = {WINNOW_W}
  GROUP BY 1, 2, 3),
fps AS (SELECT DISTINCT doc_id, fp, fp_pos FROM sel)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fp,
       CAST(SUM(fp) AS BIGINT) AS fp_sum,
       CAST(MIN(fp_pos) AS BIGINT) AS first_pos,
       CAST(MAX(fp_pos) AS BIGINT) AS last_pos
FROM fps GROUP BY doc_id
"""

    mh_aggs = ", ".join(
        f"MIN(({MINHASH_A[i]} * sh + {MINHASH_B[i]}) % {FP_MOD}) AS mh{i}"
        for i in range(N_HASHES))
    sig_cte = f"""
sigs AS (SELECT doc_id, {mh_aggs} FROM sh GROUP BY doc_id)
"""
    o["minhash_sigs"] = f"""
{derive.cte('dup_docs')}, {sh_cte}, {sig_cte}
SELECT * FROM sigs
"""

    band_selects = "\nUNION ALL\n".join(
        f"SELECT doc_id, {bi} AS band_idx, CONCAT_WS('_', mh{2*bi}, mh{2*bi+1}) AS band_key FROM sigs"
        for bi in range(N_HASHES // 2))
    match_expr = " + ".join(
        f"CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END" for i in range(N_HASHES))
    o["lsh_pairs"] = f"""
{derive.cte('dup_docs')}, {sh_cte}, {sig_cte},
bands AS ({band_selects}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
  WHERE a.doc_id < b.doc_id)
SELECT c.doc_a, c.doc_b, ({match_expr}) / {N_HASHES}.0 AS est_sim
FROM cand c JOIN sigs sa ON sa.doc_id = c.doc_a JOIN sigs sb ON sb.doc_id = c.doc_b
WHERE ({match_expr}) / {N_HASHES}.0 >= 0.5
"""

    # connected components in SQL: transitive closure over the same pair
    # set (recursive CTE; component = MIN reachable id). The WITH list is
    # promoted to WITH RECURSIVE below.
    def _cc_sql(pairs_select: str, a: str, b: str) -> str:
        return f"""
pairs AS ({pairs_select}),
nodes AS (SELECT {a} AS id FROM pairs UNION SELECT {b} FROM pairs),
cedges AS (SELECT {a} AS src, {b} AS dst FROM pairs
           UNION SELECT {b}, {a} FROM pairs),
reach(id, r) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT reach.id, e.dst FROM reach JOIN cedges e ON e.src = reach.r
)
SELECT id, MIN(r) AS cluster_id, (id = MIN(r)) AS is_survivor
FROM reach GROUP BY id
"""

    lsh_pairs_select = f"""
  SELECT c.doc_a, c.doc_b
  FROM cand c JOIN sigs sa ON sa.doc_id = c.doc_a JOIN sigs sb ON sb.doc_id = c.doc_b
  WHERE ({match_expr}) / {N_HASHES}.0 >= 0.5
"""
    o["dedup_clusters"] = (
        f"{derive.cte('dup_docs')}, {sh_cte}, {sig_cte},\n"
        f"bands AS ({band_selects}),\n"
        "cand AS (\n"
        "  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b\n"
        "  FROM bands a JOIN bands b ON a.band_idx = b.band_idx AND a.band_key = b.band_key\n"
        "  WHERE a.doc_id < b.doc_id),\n"
        + _cc_sql(lsh_pairs_select, "doc_a", "doc_b")
    ).replace("WITH ", "WITH RECURSIVE ", 1)

    simhash_cte = f"""
toks AS (
  SELECT DISTINCT doc_id, tok FROM (
    SELECT doc_id, UNNEST(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS tok FROM dup_docs) t),
th AS (SELECT doc_id, {char_hash_sql('tok')} AS h FROM toks),
h64 AS (SELECT doc_id,
        (h * 2654435761) % 2147483648 + ((h * 40503 + 9973) % 2147483648) * 2147483648 AS h64
        FROM th),
bitsum AS (
  SELECT doc_id, j, SUM(CASE WHEN ((h64 >> CAST(j AS INT)) & 1) = 1 THEN 1 ELSE -1 END) AS s
  FROM h64 CROSS JOIN (SELECT UNNEST(RANGE(0, {SIMHASH_BITS})) AS j) js
  GROUP BY doc_id, j),
shash AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << CAST(j AS INT)) ELSE 0 END) AS BIGINT) AS simhash
  FROM bitsum GROUP BY doc_id)
"""
    o["simhash"] = f"""
{derive.cte('dup_docs')}, {simhash_cte}
SELECT * FROM shash
"""

    # scale mode: 4 bands x 12 bits (4096-value keys), hamming <= 3;
    # n_bands > max_hamming => pigeonhole recall
    band_bits = SIMHASH_BAND_BITS
    n_bands = SIMHASH_BITS // band_bits
    sim_max_ham = SIMHASH_MAX_HAM
    sim_bands = "\nUNION ALL\n".join(
        f"SELECT doc_id, simhash, {bi} AS band_idx, "
        f"(simhash >> {bi * band_bits}) & {(1 << band_bits) - 1} AS band_key FROM shash"
        for bi in range(n_bands))
    o["simhash_pairs"] = f"""
{derive.cte('dup_docs')}, {simhash_cte},
bands AS ({sim_bands}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, a.simhash AS sim_a,
                  b.doc_id AS doc_b, b.simhash AS sim_b
  FROM bands a JOIN bands b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
  WHERE a.doc_id < b.doc_id)
SELECT doc_a, doc_b, CAST(BIT_COUNT(XOR(sim_a, sim_b)) AS INT) AS hamming
FROM cand WHERE BIT_COUNT(XOR(sim_a, sim_b)) <= {sim_max_ham}
"""

    # ---- pixel-payload tier (closed-form fixture arithmetic in SQL) -----
    # synth_px_tiles (corpus.py) is pure arithmetic: value
    # f(s,col,row,band,r,c) = s*1000 + band*100 + col*7 + row*3 + r/2 + c/4
    # + ((r*31+c*17)%13), NoData hole [h0,h0+16)^2 at h0=(s*11)%48, sources
    # shifted east by one tile. All values are exact multiples of 1/4 far
    # below 2^53, so every sum below is EXACT (order-independent) and the
    # DuckDB recomputation hashes bit-identically.
    _hole = lambda rr, cc: (f"{rr} >= (s*11)%48 AND {rr} < (s*11)%48+16 "  # noqa: E731
                            f"AND {cc} >= (s*11)%48 AND {cc} < (s*11)%48+16")
    _fval = lambda rr, cc: (f"CASE WHEN {_hole(rr, cc)} THEN -9999.0 ELSE "  # noqa: E731
                            f"s*1000.0 + band*100.0 + (18+tc+s)*7.0 + (24+tr)*3.0 "
                            f"+ ({rr})*0.5 + ({cc})*0.25 "
                            f"+ CAST((({rr})*31 + ({cc})*17) % 13 AS DOUBLE) END")

    # D8 flow direction (flow_direction): neighbor values as arithmetic
    # CASEs over global coords, identical rate chains, GREATEST max,
    # exact integer code sums.
    _fd_v = lambda gr, gc: (  # noqa: E731
        f"CASE WHEN ({gr}) < 1536 OR ({gr}) >= 1792 "
        f"OR ({gc}) < (18+s)*64 OR ({gc}) >= (22+s)*64 THEN NULL "
        f"WHEN (({gr})%64) >= (s*11)%48 AND (({gr})%64) < (s*11)%48+16 "
        f"AND (({gc})%64) >= (s*11)%48 AND (({gc})%64) < (s*11)%48+16 "
        f"THEN NULL "
        f"ELSE s*1000.0 + band*100.0 + (({gc})//64)*7.0 "
        f"+ (({gr})//64)*3.0 + (({gr})%64)*0.5 + (({gc})%64)*0.25 "
        f"+ CAST(((({gr})%64)*31 + (({gc})%64)*17) % 13 AS DOUBLE) END")
    _fd_dirs = [("-1", "-1", "1.4142135623730951", 32),
                ("-1", "+0", "1.0", 64),
                ("-1", "+1", "1.4142135623730951", 128),
                ("+0", "-1", "1.0", 16), ("+0", "+1", "1.0", 1),
                ("+1", "-1", "1.4142135623730951", 8),
                ("+1", "+0", "1.0", 4),
                ("+1", "+1", "1.4142135623730951", 2)]
    _fd_rates = ", ".join(
        f"(v - {_fd_v(f'gr{dr}', f'gc{dc}')}) / {dist} AS r{i}"
        for i, (dr, dc, dist, code) in enumerate(_fd_dirs))
    _fd_max = ", ".join(
        f"COALESCE(r{i}, CAST('-infinity' AS DOUBLE))"
        for i in range(8))
    _fd_codes = " + ".join(
        f"CASE WHEN r{i} IS NOT NULL AND r{i} = m AND m > 0.0 "
        f"THEN {code} ELSE 0 END"
        for i, (dr, dc, dist, code) in enumerate(_fd_dirs))
    o["flow_direction"] = f"""
WITH px AS (
  SELECT s, band, 18 + s + tcc AS col, 24 + trr AS row,
         (24*64 + trr*64 + ri) AS gr, ((18+s)*64 + tcc*64 + ci) AS gc
  FROM range(0,3) ss(s), range(0,2) bs(band), range(0,4) tcs(tcc),
       range(0,4) trs(trr), range(0,64) rs(ri), range(0,64) cs(ci)
  WHERE NOT (ri >= (s*11)%48 AND ri < (s*11)%48+16
             AND ci >= (s*11)%48 AND ci < (s*11)%48+16)
), rates AS (
  SELECT s, band, col, row, {_fd_v('gr', 'gc')} AS v, {_fd_rates}
  FROM px
), mx AS (
  SELECT s, band, col, row, GREATEST({_fd_max}) AS m,
         r0, r1, r2, r3, r4, r5, r6, r7
  FROM rates
)
SELECT CONCAT('scene-', CAST(s AS VARCHAR)) AS source_id,
       CAST(band AS INT) AS band,
       CAST(col AS BIGINT) AS col, CAST(row AS BIGINT) AS row,
       CAST(SUM({_fd_codes}) AS BIGINT) AS dir_sum,
       CAST(COUNT(*) FILTER (WHERE m <= 0.0) AS BIGINT) AS n_pits,
       CAST(COUNT(*) AS BIGINT) AS n_valid
FROM mx GROUP BY 1, 2, 3, 4
"""

    # D8 flow accumulation (flow_accumulation): the SAME rate chains,
    # a FIRST-max direction cascade, downstream edges on encoded ids,
    # recursive path closure counted per cell (reach includes the
    # origin itself, so exclusive acc = COUNT - 1).
    _fa_pick = " ".join(
        f"WHEN r{i} IS NOT NULL AND r{i} = m AND m > 0.0 THEN {i}"
        for i in range(8))
    _fa_dgr = {0: -1, 1: -1, 2: -1, 3: 0, 4: 0, 5: 1, 6: 1, 7: 1}
    _fa_dgc = {0: -1, 1: 0, 2: 1, 3: -1, 4: 1, 5: -1, 6: 0, 7: 1}
    _fa_dgr_sql = " ".join(f"WHEN pick = {i} THEN {d}"
                           for i, d in _fa_dgr.items())
    _fa_dgc_sql = " ".join(f"WHEN pick = {i} THEN {d}"
                           for i, d in _fa_dgc.items())
    o["flow_accumulation"] = f"""
WITH RECURSIVE px AS (
  SELECT s, band, 18 + s + tcc AS col, 24 + trr AS row,
         (24*64 + trr*64 + ri) AS gr, ((18+s)*64 + tcc*64 + ci) AS gc
  FROM range(0,3) ss(s), range(0,2) bs(band), range(0,4) tcs(tcc),
       range(0,4) trs(trr), range(0,64) rs(ri), range(0,64) cs(ci)
  WHERE NOT (ri >= (s*11)%48 AND ri < (s*11)%48+16
             AND ci >= (s*11)%48 AND ci < (s*11)%48+16)
), rates AS MATERIALIZED (
  SELECT s, band, col, row, gr, gc,
         (s*2 + band)*16777216 + gr*4096 + gc AS eid,
         {_fd_v('gr', 'gc')} AS v, {_fd_rates}
  FROM px
), mx AS MATERIALIZED (
  SELECT *, GREATEST({_fd_max}) AS m FROM rates
), pk AS MATERIALIZED (
  SELECT s, band, col, row, gr, gc, eid,
         CASE {_fa_pick} ELSE -1 END AS pick
  FROM mx
), ed AS MATERIALIZED (
  SELECT eid,
         (s*2 + band)*16777216
         + (gr + CASE {_fa_dgr_sql} END)*4096
         + (gc + CASE {_fa_dgc_sql} END) AS did
  FROM pk WHERE pick >= 0
), reach(u, x) AS (
  SELECT eid, eid FROM pk
  UNION
  SELECT reach.u, ed.did FROM reach JOIN ed ON ed.eid = reach.x
), acc AS (
  SELECT x AS eid, COUNT(*) - 1 AS a FROM reach GROUP BY x
)
SELECT CONCAT('scene-', CAST(p.s AS VARCHAR)) AS source_id,
       CAST(p.band AS INT) AS band,
       CAST(p.col AS BIGINT) AS col, CAST(p.row AS BIGINT) AS row,
       CAST(SUM(a.a) AS BIGINT) AS acc_sum,
       CAST(MAX(a.a) AS BIGINT) AS acc_max,
       CAST(COUNT(*) AS BIGINT) AS n_valid
FROM pk p JOIN acc a ON a.eid = p.eid
GROUP BY 1, 2, 3, 4
"""

    # Watershed (watershed): reuse the flow closure — terminals are
    # cells with pick = -1; each origin's unique terminal is its label
    # (low 24 bits = gr*4096+gc, the engine's basin id).
    o["watershed"] = o["flow_accumulation"].replace(
        """), acc AS (
  SELECT x AS eid, COUNT(*) - 1 AS a FROM reach GROUP BY x
)
SELECT CONCAT('scene-', CAST(p.s AS VARCHAR)) AS source_id,
       CAST(p.band AS INT) AS band,
       CAST(p.col AS BIGINT) AS col, CAST(p.row AS BIGINT) AS row,
       CAST(SUM(a.a) AS BIGINT) AS acc_sum,
       CAST(MAX(a.a) AS BIGINT) AS acc_max,
       CAST(COUNT(*) AS BIGINT) AS n_valid
FROM pk p JOIN acc a ON a.eid = p.eid
GROUP BY 1, 2, 3, 4
""",
        """), lab AS (
  SELECT r.u, r.x AS label FROM reach r
  JOIN pk t ON t.eid = r.x AND t.pick = -1
)
SELECT CONCAT('scene-', CAST(p.s AS VARCHAR)) AS source_id,
       CAST(p.band AS INT) AS band,
       CAST(p.col AS BIGINT) AS col, CAST(p.row AS BIGINT) AS row,
       CAST(SUM(l.label % 16777216) AS BIGINT) AS basin_qsum,
       CAST(COUNT(DISTINCT l.label) AS BIGINT) AS n_basins,
       CAST(COUNT(*) AS BIGINT) AS n_valid
FROM pk p JOIN lab l ON l.u = p.eid
GROUP BY 1, 2, 3, 4
""")

    # Forced-distributed hydrology (r5 verdict task 1): same values by
    # construction (pytest bit-parity), same oracles.
    o["flow_accumulation_dist"] = o["flow_accumulation"]
    o["watershed_dist"] = o["watershed"]

    # Stream network (stream_network): the flow closure extended —
    # stream cells at exclusive acc >= 8, stream->stream links, channel
    # heads = stream cells absent from the link-target set; LEFT JOINs
    # keep zero-stream tiles (the engine emits every tile).
    o["stream_network"] = o["flow_accumulation"].replace(
        """), acc AS (
  SELECT x AS eid, COUNT(*) - 1 AS a FROM reach GROUP BY x
)
SELECT CONCAT('scene-', CAST(p.s AS VARCHAR)) AS source_id,
       CAST(p.band AS INT) AS band,
       CAST(p.col AS BIGINT) AS col, CAST(p.row AS BIGINT) AS row,
       CAST(SUM(a.a) AS BIGINT) AS acc_sum,
       CAST(MAX(a.a) AS BIGINT) AS acc_max,
       CAST(COUNT(*) AS BIGINT) AS n_valid
FROM pk p JOIN acc a ON a.eid = p.eid
GROUP BY 1, 2, 3, 4
""",
        """), acc AS (
  SELECT x AS eid, COUNT(*) - 1 AS a FROM reach GROUP BY x
), st AS (
  SELECT p.* FROM pk p JOIN acc a ON a.eid = p.eid WHERE a.a >= 8
), lk AS (
  SELECT u.eid, e.did FROM ed e
  JOIN st u ON u.eid = e.eid JOIN st d ON d.eid = e.did
), il AS (SELECT DISTINCT did FROM lk),
ag AS (
  SELECT p.s, p.band, p.col, p.row,
         COUNT(*) AS n_stream,
         COUNT(*) FILTER (WHERE il.did IS NULL) AS n_heads,
         SUM(COALESCE(lk.did % 16777216, 0)) AS link_qsum
  FROM st p LEFT JOIN lk ON lk.eid = p.eid
            LEFT JOIN il ON il.did = p.eid
  GROUP BY 1, 2, 3, 4)
SELECT CONCAT('scene-', CAST(t.s AS VARCHAR)) AS source_id,
       CAST(t.band AS INT) AS band,
       CAST(t.col AS BIGINT) AS col, CAST(t.row AS BIGINT) AS row,
       CAST(COALESCE(ag.n_stream, 0) AS BIGINT) AS n_stream,
       CAST(COALESCE(ag.n_heads, 0) AS BIGINT) AS n_heads,
       CAST(COALESCE(ag.link_qsum, 0) AS BIGINT) AS link_qsum
FROM (SELECT DISTINCT s, band, col, row FROM pk) t
LEFT JOIN ag ON ag.s = t.s AND ag.band = t.band
            AND ag.col = t.col AND ag.row = t.row
""")
    o["stream_network_dist"] = o["stream_network"]

    # Hilbert layout: the identical staged xy2d chain (integer CASE
    # arithmetic only — dialect-common, bit-identical by construction)
    # as nested subqueries, then the same per-bucket window.
    _hc10 = C.sql_tile_col("lon", 10)
    _hr10 = C.sql_tile_row("lat", 10)
    _hc5 = C.sql_tile_col("lon", 5)
    _hr5 = C.sql_tile_row("lat", 5)
    o["hilbert_layout"] = f"""
{derive.cte('anchors')},
keyed AS (
  SELECT doc_id, {_hc10} AS hx0, {_hr10} AS hy0,
         {C.sql_cell_id('5', _hc5, _hr5)} AS bucket
  FROM anchors WHERE lon IS NOT NULL),
hil AS ({C.sql_hilbert_ctes('keyed', 'hx0', 'hy0', 10,
                            'doc_id, hx0, hy0, bucket')})
SELECT doc_id, hx0 AS hx, hy0 AS hy, bucket, hkey,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY bucket ORDER BY hkey, doc_id) AS INT) AS hrank
FROM hil
"""

    # Downstream flow length (flow_length, flow_length_dist): the flow
    # closure rewritten as a UNION ALL walk carrying per-step type
    # counts (orthogonal vs diagonal — picks {0,2,5,7} are diagonal in
    # the fixed row-major _D8 order); acyclicity terminates the
    # recursion and every valid cell reaches exactly ONE terminal, so
    # fl has one row per cell. Integer counts end-to-end — no float
    # path length anywhere (the engine's pointer doubling would
    # reassociate a float sum; integers are immune).
    o["flow_length"] = o["flow_accumulation"].replace(
        """         + (gc + CASE {dgc} END) AS did
  FROM pk WHERE pick >= 0
)""".replace("{dgc}", _fa_dgc_sql),
        """         + (gc + CASE {dgc} END) AS did,
         CASE WHEN pick IN (0, 2, 5, 7) THEN 1 ELSE 0 END AS dg
  FROM pk WHERE pick >= 0
)""".replace("{dgc}", _fa_dgc_sql)).replace(
        """, reach(u, x) AS (
  SELECT eid, eid FROM pk
  UNION
  SELECT reach.u, ed.did FROM reach JOIN ed ON ed.eid = reach.x
), acc AS (
  SELECT x AS eid, COUNT(*) - 1 AS a FROM reach GROUP BY x
)
SELECT CONCAT('scene-', CAST(p.s AS VARCHAR)) AS source_id,
       CAST(p.band AS INT) AS band,
       CAST(p.col AS BIGINT) AS col, CAST(p.row AS BIGINT) AS row,
       CAST(SUM(a.a) AS BIGINT) AS acc_sum,
       CAST(MAX(a.a) AS BIGINT) AS acc_max,
       CAST(COUNT(*) AS BIGINT) AS n_valid
FROM pk p JOIN acc a ON a.eid = p.eid
GROUP BY 1, 2, 3, 4
""",
        """, walk(u, x, no, nd) AS (
  SELECT eid, eid, CAST(0 AS BIGINT), CAST(0 AS BIGINT) FROM pk
  UNION ALL
  SELECT w.u, e.did, w.no + (1 - e.dg), w.nd + e.dg
  FROM walk w JOIN ed e ON e.eid = w.x
), fl AS (
  SELECT w.u, w.no, w.nd
  FROM walk w JOIN pk tt ON tt.eid = w.x AND tt.pick = -1
)
SELECT CONCAT('scene-', CAST(p.s AS VARCHAR)) AS source_id,
       CAST(p.band AS INT) AS band,
       CAST(p.col AS BIGINT) AS col, CAST(p.row AS BIGINT) AS row,
       CAST(COUNT(*) AS BIGINT) AS n_valid,
       CAST(SUM(f.no) AS BIGINT) AS orth_sum,
       CAST(SUM(f.nd) AS BIGINT) AS diag_sum
FROM pk p JOIN fl f ON f.u = p.eid
GROUP BY 1, 2, 3, 4
""")
    assert "walk(u, x, no, nd)" in o["flow_length"] \
        and "AS dg" in o["flow_length"], \
        "flow_length oracle rewrite failed to anchor"
    o["flow_length_dist"] = o["flow_length"]

    # Pixel overview average (pyramid_px_avg): the 2x2 block mean over
    # the closed-form child values — CASE-guarded chained adds in the
    # engine's fixed order, one division, identical quantization.
    _pv = lambda rr, cc: (  # noqa: E731
        f"CASE WHEN ({rr}) >= (s*11)%48 AND ({rr}) < (s*11)%48+16 "
        f"AND ({cc}) >= (s*11)%48 AND ({cc}) < (s*11)%48+16 THEN NULL "
        f"ELSE s*1000.0 + band*100.0 + (18+tc+s)*7.0 + (24+tr)*3.0 "
        f"+ ({rr})*0.5 + ({cc})*0.25 "
        f"+ CAST((({rr})*31 + ({cc})*17) % 13 AS DOUBLE) END")
    o["pyramid_px_avg"] = f"""
WITH blocks AS (
  SELECT s, band, tc, tr, r2, c2,
         {_pv('2*r2', '2*c2')} AS v00, {_pv('2*r2', '2*c2+1')} AS v01,
         {_pv('2*r2+1', '2*c2')} AS v10, {_pv('2*r2+1', '2*c2+1')} AS v11
  FROM range(0,3) ss(s), range(0,2) bs(band), range(0,4) tcs(tc),
       range(0,4) trs(tr), range(0,32) r2s(r2), range(0,32) c2s(c2)
), means AS (
  SELECT s, band, (18 + tc + s) // 2 AS col, (24 + tr) // 2 AS row,
         (CASE WHEN v00 IS NULL THEN 0 ELSE 1 END
          + CASE WHEN v01 IS NULL THEN 0 ELSE 1 END
          + CASE WHEN v10 IS NULL THEN 0 ELSE 1 END
          + CASE WHEN v11 IS NULL THEN 0 ELSE 1 END) AS cnt,
         (COALESCE(v00, 0.0) + COALESCE(v01, 0.0)
          + COALESCE(v10, 0.0) + COALESCE(v11, 0.0)) AS num
  FROM blocks
)
SELECT CONCAT('scene-', CAST(s AS VARCHAR)) AS source_id,
       CAST(band AS INT) AS band,
       CAST(col AS BIGINT) AS col, CAST(row AS BIGINT) AS row,
       CAST(SUM(CASE WHEN cnt > 0
                     THEN CAST(FLOOR(num / cnt * 1048576.0 + 0.5)
                               AS BIGINT) ELSE 0 END) AS BIGINT)
         AS px_qsum,
       CAST(COUNT(*) FILTER (WHERE cnt > 0) AS BIGINT) AS px_count
FROM means GROUP BY 1, 2, 3, 4
"""

    # Viewshed (viewshed): the R3 sampling/slope arithmetic unrolled —
    # targets x bounded step range, nearest-cell sample via the same
    # FLOOR(+0.5) in global coords, NoData-transparent MAX per target.
    o["viewshed"] = f"""
WITH px AS (
  SELECT s, band, (24*64 + trr*64 + ri) AS gr,
         ((18+s)*64 + tcc*64 + ci) AS gc,
         18 + s + tcc AS col, 24 + trr AS row,
         CASE WHEN ri >= (s*11)%48 AND ri < (s*11)%48+16
                   AND ci >= (s*11)%48 AND ci < (s*11)%48+16 THEN NULL
              ELSE s*1000.0 + band*100.0 + (18+tcc+s)*7.0 + (24+trr)*3.0
                   + ri*0.5 + ci*0.25
                   + CAST((ri*31 + ci*17) % 13 AS DOUBLE) END AS val
  FROM range(0,3) ss(s), range(0,2) bs(band), range(0,4) tcs(tcc),
       range(0,4) trs(trr), range(0,64) rs(ri), range(0,64) cs(ci)
), obs AS (
  SELECT s, band, gr AS ogr, gc AS ogc, val + 2.0 AS zbase
  FROM px WHERE gr = 1640 + 3*band AND gc = (18+s)*64 + 104
), tgt AS (
  SELECT p.s, p.band, p.gr, p.gc, p.col, p.row, p.val,
         GREATEST(ABS(p.gr - o.ogr), ABS(p.gc - o.ogc)) AS n,
         o.ogr, o.ogc, o.zbase
  FROM px p JOIN obs o ON o.s = p.s AND o.band = p.band
  WHERE p.val IS NOT NULL
), samp AS (
  SELECT t.s, t.band, t.gr, t.gc, t.zbase, k,
    CAST(FLOOR(CAST(t.ogr AS DOUBLE)
               + (CAST(k AS DOUBLE) * CAST(t.gr - t.ogr AS DOUBLE))
                 / CAST(t.n AS DOUBLE) + 0.5) AS BIGINT) AS rr,
    CAST(FLOOR(CAST(t.ogc AS DOUBLE)
               + (CAST(k AS DOUBLE) * CAST(t.gc - t.ogc AS DOUBLE))
                 / CAST(t.n AS DOUBLE) + 0.5) AS BIGINT) AS cc
  FROM tgt t JOIN range(1, 256) ks(k) ON k < t.n
), sl AS (
  SELECT sp.s, sp.band, sp.gr, sp.gc,
         MAX((p.val - sp.zbase) / CAST(sp.k AS DOUBLE)) AS ms
  FROM samp sp JOIN px p ON p.s = sp.s AND p.band = sp.band
       AND p.gr = sp.rr AND p.gc = sp.cc
  WHERE p.val IS NOT NULL
  GROUP BY 1, 2, 3, 4
)
SELECT CONCAT('scene-', CAST(t.s AS VARCHAR)) AS source_id,
       CAST(t.band AS INT) AS band,
       CAST(t.col AS BIGINT) AS col, CAST(t.row AS BIGINT) AS row,
       CAST(SUM(CASE WHEN t.n <= 1 OR sl.ms IS NULL
                     OR (t.val - t.zbase) / CAST(t.n AS DOUBLE) >= sl.ms
                THEN 1 ELSE 0 END) AS BIGINT) AS n_visible,
       CAST(COUNT(*) AS BIGINT) AS n_valid
FROM tgt t LEFT JOIN sl ON sl.s = t.s AND sl.band = t.band
     AND sl.gr = t.gr AND sl.gc = t.gc
GROUP BY 1, 2, 3, 4
"""

    # Forced-distributed variant (viewshed_dist): identical fixture,
    # identical sampling contract — same oracle.
    o["viewshed_dist"] = o["viewshed"]

    # Region vectorize stats (region_stats): the region_group closure
    # plus a ONE-directional adjacency count per root (perimeter =
    # 4n - 2*pairs) and bbox MIN/MAX.
    o["region_stats"] = """
WITH RECURSIVE px AS (
  SELECT s, band, 18 + s + tcc AS col, 24 + trr AS row, ri, ci,
         (s*11) % 48 AS h0
  FROM range(0,3) ss(s), range(0,2) bs(band),
       range(0,4) tcs(tcc), range(0,4) trs(trr),
       range(0,64) ris(ri), range(0,64) cis(ci)
), mask AS (
  SELECT s, band, (row*64 + ri) AS gr2, (col*64 + ci) AS gc2,
         (s*2 + band)*16777216 + (row*64 + ri)*4096 + (col*64 + ci) AS eid
  FROM px
  WHERE NOT (ri >= h0 AND ri < h0+16 AND ci >= h0 AND ci < h0+16)
    AND ((row*64 + ri) % 11) < 3 AND ((col*64 + ci) % 9) < 3
), adj AS (
  SELECT a.eid AS src, b.eid AS dst FROM mask a JOIN mask b
    ON a.s = b.s AND a.band = b.band AND a.gr2 = b.gr2 AND a.gc2 + 1 = b.gc2
  UNION ALL
  SELECT a.eid, b.eid FROM mask a JOIN mask b
    ON a.s = b.s AND a.band = b.band AND a.gr2 + 1 = b.gr2 AND a.gc2 = b.gc2
), cedges AS (
  SELECT src, dst FROM adj UNION ALL SELECT dst, src FROM adj
), reach(id, r) AS (
  SELECT eid, eid FROM mask
  UNION
  SELECT reach.id, e.dst FROM reach JOIN cedges e ON e.src = reach.r
), lab AS (
  SELECT id, MIN(r) AS root FROM reach GROUP BY id
), cell AS (
  SELECT m.eid, m.gr2, m.gc2, l.root
  FROM mask m JOIN lab l ON l.id = m.eid
), adjroot AS (
  SELECT c.root, COUNT(*) AS pairs
  FROM adj a JOIN cell c ON c.eid = a.src GROUP BY 1
)
SELECT CONCAT('scene-', CAST(c.root // 16777216 // 2 AS VARCHAR))
         AS source_id,
       CAST((c.root // 16777216) % 2 AS BIGINT) AS band,
       CAST(c.root % 16777216 AS BIGINT) AS region_id,
       CAST(COUNT(*) AS BIGINT) AS n_pixels,
       CAST(4 * COUNT(*) - 2 * COALESCE(MAX(ar.pairs), 0) AS BIGINT)
         AS perimeter,
       CAST(MIN(c.gr2) AS BIGINT) AS gr_min,
       CAST(MAX(c.gr2) AS BIGINT) AS gr_max,
       CAST(MIN(c.gc2) AS BIGINT) AS gc_min,
       CAST(MAX(c.gc2) AS BIGINT) AS gc_max
FROM cell c LEFT JOIN adjroot ar ON ar.root = c.root
GROUP BY 1, 2, 3, c.root
"""

    # Euclidean distance transform (euclidean_distance): bounded range
    # join px x mask with the same circle cutoff; MIN(SQRT) per pixel is
    # order-independent and quantizes bit-identically.
    o["euclidean_distance"] = """
WITH px AS (
  SELECT s, band, 18 + s + tcc AS col, 24 + trr AS row,
         (24*64 + trr*64 + ri) AS gr, ((18+s)*64 + tcc*64 + ci) AS gc
  FROM range(0,3) ss(s), range(0,2) bs(band), range(0,4) tcs(tcc),
       range(0,4) trs(trr), range(0,64) rs(ri), range(0,64) cs(ci)
  WHERE NOT (ri >= (s*11)%48 AND ri < (s*11)%48+16
             AND ci >= (s*11)%48 AND ci < (s*11)%48+16)
), mask AS (
  SELECT s, band, gr, gc FROM px WHERE gr % 11 < 3 AND gc % 9 < 3
), nearest AS (
  SELECT p.s, p.band, p.col, p.row, p.gr, p.gc,
         MIN(CASE WHEN (m.gr-p.gr)*(m.gr-p.gr)
                       + (m.gc-p.gc)*(m.gc-p.gc) <= 25
                  THEN SQRT(CAST((m.gr-p.gr)*(m.gr-p.gr)
                                 + (m.gc-p.gc)*(m.gc-p.gc) AS DOUBLE))
             END) AS d
  FROM px p JOIN mask m
    ON m.s = p.s AND m.band = p.band
   AND m.gr BETWEEN p.gr - 5 AND p.gr + 5
   AND m.gc BETWEEN p.gc - 5 AND p.gc + 5
  GROUP BY 1, 2, 3, 4, 5, 6
)
SELECT CONCAT('scene-', CAST(s AS VARCHAR)) AS source_id,
       CAST(band AS INT) AS band,
       CAST(col AS BIGINT) AS col, CAST(row AS BIGINT) AS row,
       CAST(SUM(CAST(FLOOR(d * 1048576.0 + 0.5) AS BIGINT)) AS BIGINT)
         AS dist_qsum,
       CAST(COUNT(*) AS BIGINT) AS n_within
FROM nearest WHERE d IS NOT NULL GROUP BY 1, 2, 3, 4
"""

    # Least-cost path (least_cost_path): the identical backtrack rule
    # as a recursive CTE over PURE ARITHMETIC — cost() is the 9-seed
    # octile LEAST expression, the predecessor pick is a first-match
    # CASE cascade with the engine's bounds checks, dyadic equality.
    o["least_cost_path"] = """
WITH RECURSIVE tgts AS (
  SELECT s, band, tgr, tgc FROM range(0,3) ss(s), range(0,2) bs(band),
       (VALUES (0), (1)) tv(ti),
       LATERAL (SELECT CASE ti WHEN 0 THEN 1789 ELSE 1538 END AS tgr,
                       CASE ti WHEN 0 THEN (18+s)*64 + 253
                               ELSE (18+s)*64 + 2 END AS tgc)
), walk(s, band, tgr, tgc, gr, gc, depth) AS (
  SELECT s, band, tgr, tgc, tgr, tgc, 0 FROM tgts
  UNION ALL
  SELECT s, band, tgr, tgc,
         gr + CASE pick WHEN 0 THEN -1 WHEN 1 THEN -1 WHEN 2 THEN -1 WHEN 3 THEN 0 WHEN 4 THEN 0 WHEN 5 THEN 1 WHEN 6 THEN 1 WHEN 7 THEN 1 END, gc + CASE pick WHEN 0 THEN -1 WHEN 1 THEN 0 WHEN 2 THEN 1 WHEN 3 THEN -1 WHEN 4 THEN 1 WHEN 5 THEN -1 WHEN 6 THEN 0 WHEN 7 THEN 1 END, depth + 1
  FROM (
    SELECT *, CASE WHEN (gr + -1) BETWEEN 1536 AND 1791 AND (gc + -1) BETWEEN (18+s)*64 AND (22+s)*64 - 1 AND LEAST(1.5*LEAST(ABS((gr) - 1557), ABS((gc) - (1164 + 89*(s + 0)))) + (GREATEST(ABS((gr) - 1557), ABS((gc) - (1164 + 89*(s + 0)))) - LEAST(ABS((gr) - 1557), ABS((gc) - (1164 + 89*(s + 0))))), 1.5*LEAST(ABS((gr) - 1557), ABS((gc) - (1164 + 89*(s + 1)))) + (GREATEST(ABS((gr) - 1557), ABS((gc) - (1164 + 89*(s + 1)))) - LEAST(ABS((gr) - 1557), ABS((gc) - (1164 + 89*(s + 1))))), 1.5*LEAST(ABS((gr) - 1557), ABS((gc) - (1164 + 89*(s + 2)))) + (GREATEST(ABS((gr) - 1557), ABS((gc) - (1164 + 89*(s + 2)))) - LEAST(ABS((gr) - 1557), ABS((gc) - (1164 + 89*(s + 2))))), 1.5*LEAST(ABS((gr) - 1654), ABS((gc) - (1164 + 89*(s + 0)))) + (GREATEST(ABS((gr) - 1654), ABS((gc) - (1164 + 89*(s + 0)))) - LEAST(ABS((gr) - 1654), ABS((gc) - (1164 + 89*(s + 0))))), 1.5*LEAST(ABS((gr) - 1654), ABS((gc) - (1164 + 89*(s + 1)))) + (GREATEST(ABS((gr) - 1654), ABS((gc) - (1164 + 89*(s + 1)))) - LEAST(ABS((gr) - 1654), ABS((gc) - (1164 + 89*(s + 1))))), 1.5*LEAST(ABS((gr) - 1654), ABS((gc) - (1164 + 89*(s + 2)))) + (GREATEST(ABS((gr) - 1654), ABS((gc) - (1164 + 89*(s + 2)))) - LEAST(ABS((gr) - 1654), ABS((gc) - (1164 + 89*(s + 2))))), 1.5*LEAST(ABS((gr) - 1751), ABS((gc) - (1164 + 89*(s + 0)))) + (GREATEST(ABS((gr) - 1751), ABS((gc) - (1164 + 89*(s + 0)))) - LEAST(ABS((gr) - 1751), ABS((gc) - (1164 + 89*(s + 0))))), 1.5*LEAST(ABS((gr) - 1751), ABS((gc) - (1164 + 89*(s + 1)))) + (GREATEST(ABS((gr) - 1751), ABS((gc) - (1164 + 89*(s + 1)))) - LEAST(ABS((gr) - 1751), ABS((gc) - (1164 + 89*(s + 1))))), 1.5*LEAST(ABS((gr) - 1751), ABS((gc) - (1164 + 89*(s + 2)))) + (GREATEST(ABS((gr) - 1751), ABS((gc) - (1164 + 89*(s + 2)))) - LEAST(ABS((gr) - 1751), ABS((gc) - (1164 + 89*(s + 2)))))) = LEAST(1.5*LEAST(ABS((gr + -1) - 1557), ABS((gc + -1) - (1164 + 89*(s + 0)))) + (GREATEST(ABS((gr + -1) - 1557), ABS((gc + -1) - (1164 + 89*(s + 0)))) - LEAST(ABS((gr + -1) - 1557), ABS((gc + -1) - (1164 + 89*(s + 0))))), 1.5*LEAST(ABS((gr + -1) - 1557), ABS((gc + -1) - (1164 + 89*(s + 1)))) + (GREATEST(ABS((gr + -1) - 1557), ABS((gc + -1) - (1164 + 89*(s + 1)))) - LEAST(ABS((gr + -1) - 1557), ABS((gc + -1) - (1164 + 89*(s + 1))))), 1.5*LEAST(ABS((gr + -1) - 1557), ABS((gc + -1) - (1164 + 89*(s + 2)))) + (GREATEST(ABS((gr + -1) - 1557), ABS((gc + -1) - (1164 + 89*(s + 2)))) - LEAST(ABS((gr + -1) - 1557), ABS((gc + -1) - (1164 + 89*(s + 2))))), 1.5*LEAST(ABS((gr + -1) - 1654), ABS((gc + -1) - (1164 + 89*(s + 0)))) + (GREATEST(ABS((gr + -1) - 1654), ABS((gc + -1) - (1164 + 89*(s + 0)))) - LEAST(ABS((gr + -1) - 1654), ABS((gc + -1) - (1164 + 89*(s + 0))))), 1.5*LEAST(ABS((gr + -1) - 1654), ABS((gc + -1) - (1164 + 89*(s + 1)))) + (GREATEST(ABS((gr + -1) - 1654), ABS((gc + -1) - (1164 + 89*(s + 1)))) - LEAST(ABS((gr + -1) - 1654), ABS((gc + -1) - (1164 + 89*(s + 1))))), 1.5*LEAST(ABS((gr + -1) - 1654), ABS((gc + -1) - (1164 + 89*(s + 2)))) + (GREATEST(ABS((gr + -1) - 1654), ABS((gc + -1) - (1164 + 89*(s + 2)))) - LEAST(ABS((gr + -1) - 1654), ABS((gc + -1) - (1164 + 89*(s + 2))))), 1.5*LEAST(ABS((gr + -1) - 1751), ABS((gc + -1) - (1164 + 89*(s + 0)))) + (GREATEST(ABS((gr + -1) - 1751), ABS((gc + -1) - (1164 + 89*(s + 0)))) - LEAST(ABS((gr + -1) - 1751), ABS((gc + -1) - (1164 + 89*(s + 0))))), 1.5*LEAST(ABS((gr + -1) - 1751), ABS((gc + -1) - (1164 + 89*(s + 1)))) + (GREATEST(ABS((gr + -1) - 1751), ABS((gc + -1) - (1164 + 89*(s + 1)))) - LEAST(ABS((gr + -1) - 1751), ABS((gc + -1) - (1164 + 89*(s + 1))))), 1.5*LEAST(ABS((gr + -1) - 1751), ABS((gc + -1) - (1164 + 89*(s + 2)))) + (GREATEST(ABS((gr + -1) - 1751), ABS((gc + -1) - (1164 + 89*(s + 2)))) - LEAST(ABS((gr + -1) - 1751), ABS((gc + -1) - (1164 + 89*(s + 2)))))) + 1.5 THEN 0 WHEN (gr + -1) BETWEEN 1536 AND 1791 AND (gc + 0) BETWEEN (18+s)*64 AND (22+s)*64 - 1 AND LEAST(1.5*LEAST(ABS((gr) - 1557), ABS((gc) - (1164 + 89*(s + 0)))) + (GREATEST(ABS((gr) - 1557), ABS((gc) - (1164 + 89*(s + 0)))) - LEAST(ABS((gr) - 1557), ABS((gc) - (1164 + 89*(s + 0))))), 1.5*LEAST(ABS((gr) - 1557), ABS((gc) - (1164 + 89*(s + 1)))) + (GREATEST(ABS((gr) - 1557), ABS((gc) - (1164 + 89*(s + 1)))) - LEAST(ABS((gr) - 1557), ABS((gc) - (1164 + 89*(s + 1))))), 1.5*LEAST(ABS((gr) - 1557), ABS((gc) - (1164 + 89*(s + 2)))) + (GREATEST(ABS((gr) - 1557), ABS((gc) - (1164 + 89*(s + 2)))) - LEAST(ABS((gr) - 1557), ABS((gc) - (1164 + 89*(s + 2))))), 1.5*LEAST(ABS((gr) - 1654), ABS((gc) - (1164 + 89*(s + 0)))) + (GREATEST(ABS((gr) - 1654), ABS((gc) - (1164 + 89*(s + 0)))) - LEAST(ABS((gr) - 1654), ABS((gc) - (1164 + 89*(s + 0))))), 1.5*LEAST(ABS((gr) - 1654), ABS((gc) - (1164 + 89*(s + 1)))) + (GREATEST(ABS((gr) - 1654), ABS((gc) - (1164 + 89*(s + 1)))) - LEAST(ABS((gr) - 1654), ABS((gc) - (1164 + 89*(s + 1))))), 1.5*LEAST(ABS((gr) - 1654), ABS((gc) - (1164 + 89*(s + 2)))) + (GREATEST(ABS((gr) - 1654), ABS((gc) - (1164 + 89*(s + 2)))) - LEAST(ABS((gr) - 1654), ABS((gc) - (1164 + 89*(s + 2))))), 1.5*LEAST(ABS((gr) - 1751), ABS((gc) - (1164 + 89*(s + 0)))) + (GREATEST(ABS((gr) - 1751), ABS((gc) - (1164 + 89*(s + 0)))) - LEAST(ABS((gr) - 1751), ABS((gc) - (1164 + 89*(s + 0))))), 1.5*LEAST(ABS((gr) - 1751), ABS((gc) - (1164 + 89*(s + 1)))) + (GREATEST(ABS((gr) - 1751), ABS((gc) - (1164 + 89*(s + 1)))) - LEAST(ABS((gr) - 1751), ABS((gc) - (1164 + 89*(s + 1))))), 1.5*LEAST(ABS((gr) - 1751), ABS((gc) - (1164 + 89*(s + 2)))) + (GREATEST(ABS((gr) - 1751), ABS((gc) - (1164 + 89*(s + 2)))) - LEAST(ABS((gr) - 1751), ABS((gc) - (1164 + 89*(s + 2)))))) = LEAST(1.5*LEAST(ABS((gr + -1) - 1557), ABS((gc + 0) - (1164 + 89*(s + 0)))) + (GREATEST(ABS((gr + -1) - 1557), ABS((gc + 0) - (1164 + 89*(s + 0)))) - LEAST(ABS((gr + -1) - 1557), ABS((gc + 0) - (1164 + 89*(s + 0))))), 1.5*LEAST(ABS((gr + -1) - 1557), ABS((gc + 0) - (1164 + 89*(s + 1)))) + (GREATEST(ABS((gr + -1) - 1557), ABS((gc + 0) - (1164 + 89*(s + 1)))) - LEAST(ABS((gr + -1) - 1557), ABS((gc + 0) - (1164 + 89*(s + 1))))), 1.5*LEAST(ABS((gr + -1) - 1557), ABS((gc + 0) - (1164 + 89*(s + 2)))) + (GREATEST(ABS((gr + -1) - 1557), ABS((gc + 0) - (1164 + 89*(s + 2)))) - LEAST(ABS((gr + -1) - 1557), ABS((gc + 0) - (1164 + 89*(s + 2))))), 1.5*LEAST(ABS((gr + -1) - 1654), ABS((gc + 0) - (1164 + 89*(s + 0)))) + (GREATEST(ABS((gr + -1) - 1654), ABS((gc + 0) - (1164 + 89*(s + 0)))) - LEAST(ABS((gr + -1) - 1654), ABS((gc + 0) - (1164 + 89*(s + 0))))), 1.5*LEAST(ABS((gr + -1) - 1654), ABS((gc + 0) - (1164 + 89*(s + 1)))) + (GREATEST(ABS((gr + -1) - 1654), ABS((gc + 0) - (1164 + 89*(s + 1)))) - LEAST(ABS((gr + -1) - 1654), ABS((gc + 0) - (1164 + 89*(s + 1))))), 1.5*LEAST(ABS((gr + -1) - 1654), ABS((gc + 0) - (1164 + 89*(s + 2)))) + (GREATEST(ABS((gr + -1) - 1654), ABS((gc + 0) - (1164 + 89*(s + 2)))) - LEAST(ABS((gr + -1) - 1654), ABS((gc + 0) - (1164 + 89*(s + 2))))), 1.5*LEAST(ABS((gr + -1) - 1751), ABS((gc + 0) - (1164 + 89*(s + 0)))) + (GREATEST(ABS((gr + -1) - 1751), ABS((gc + 0) - (1164 + 89*(s + 0)))) - LEAST(ABS((gr + -1) - 1751), ABS((gc + 0) - (1164 + 89*(s + 0))))), 1.5*LEAST(ABS((gr + -1) - 1751), ABS((gc + 0) - (1164 + 89*(s + 1)))) + (GREATEST(ABS((gr + -1) - 1751), ABS((gc + 0) - (1164 + 89*(s + 1)))) - LEAST(ABS((gr + -1) - 1751), ABS((gc + 0) - (1164 + 89*(s + 1))))), 1.5*LEAST(ABS((gr + -1) - 1751), ABS((gc + 0) - (1164 + 89*(s + 2)))) + (GREATEST(ABS((gr + -1) - 1751), ABS((gc + 0) - (1164 + 89*(s + 2)))) - LEAST(ABS((gr + -1) - 1751), ABS((gc + 0) - (1164 + 89*(s + 2)))))) + 1.0 THEN 1 WHEN (gr + -1) BETWEEN 1536 AND 1791 AND (gc + 1) BETWEEN (18+s)*64 AND (22+s)*64 - 1 AND LEAST(1.5*LEAST(ABS((gr) - 1557), ABS((gc) - (1164 + 89*(s + 0)))) + (GREATEST(ABS((gr) - 1557), ABS((gc) - (1164 + 89*(s + 0)))) - LEAST(ABS((gr) - 1557), ABS((gc) - (1164 + 89*(s + 0))))), 1.5*LEAST(ABS((gr) - 1557), ABS((gc) - (1164 + 89*(s + 1)))) + (GREATEST(ABS((gr) - 1557), ABS((gc) - (1164 + 89*(s + 1)))) - LEAST(ABS((gr) - 1557), ABS((gc) - (1164 + 89*(s + 1))))), 1.5*LEAST(ABS((gr) - 1557), ABS((gc) - (1164 + 89*(s + 2)))) + (GREATEST(ABS((gr) - 1557), ABS((gc) - (1164 + 89*(s + 2)))) - LEAST(ABS((gr) - 1557), ABS((gc) - (1164 + 89*(s + 2))))), 1.5*LEAST(ABS((gr) - 1654), ABS((gc) - (1164 + 89*(s + 0)))) + (GREATEST(ABS((gr) - 1654), ABS((gc) - (1164 + 89*(s + 0)))) - LEAST(ABS((gr) - 1654), ABS((gc) - (1164 + 89*(s + 0))))), 1.5*LEAST(ABS((gr) - 1654), ABS((gc) - (1164 + 89*(s + 1)))) + (GREATEST(ABS((gr) - 1654), ABS((gc) - (1164 + 89*(s + 1)))) - LEAST(ABS((gr) - 1654), ABS((gc) - (1164 + 89*(s + 1))))), 1.5*LEAST(ABS((gr) - 1654), ABS((gc) - (1164 + 89*(s + 2)))) + (GREATEST(ABS((gr) - 1654), ABS((gc) - (1164 + 89*(s + 2)))) - LEAST(ABS((gr) - 1654), ABS((gc) - (1164 + 89*(s + 2))))), 1.5*LEAST(ABS((gr) - 1751), ABS((gc) - (1164 + 89*(s + 0)))) + (GREATEST(ABS((gr) - 1751), ABS((gc) - (1164 + 89*(s + 0)))) - LEAST(ABS((gr) - 1751), ABS((gc) - (1164 + 89*(s + 0))))), 1.5*LEAST(ABS((gr) - 1751), ABS((gc) - (1164 + 89*(s + 1)))) + (GREATEST(ABS((gr) - 1751), ABS((gc) - (1164 + 89*(s + 1)))) - LEAST(ABS((gr) - 1751), ABS((gc) - (1164 + 89*(s + 1))))), 1.5*LEAST(ABS((gr) - 1751), ABS((gc) - (1164 + 89*(s + 2)))) + (GREATEST(ABS((gr) - 1751), ABS((gc) - (1164 + 89*(s + 2)))) - LEAST(ABS((gr) - 1751), ABS((gc) - (1164 + 89*(s + 2)))))) = LEAST(1.5*LEAST(ABS((gr + -1) - 1557), ABS((gc + 1) - (1164 + 89*(s + 0)))) + (GREATEST(ABS((gr + -1) - 1557), ABS((gc + 1) - (1164 + 89*(s + 0)))) - LEAST(ABS((gr + -1) - 1557), ABS((gc + 1) - (1164 + 89*(s + 0))))), 1.5*LEAST(ABS((gr + -1) - 1557), ABS((gc + 1) - (1164 + 89*(s + 1)))) + (GREATEST(ABS((gr + -1) - 1557), ABS((gc + 1) - (1164 + 89*(s + 1)))) - LEAST(ABS((gr + -1) - 1557), ABS((gc + 1) - (1164 + 89*(s + 1))))), 1.5*LEAST(ABS((gr + -1) - 1557), ABS((gc + 1) - (1164 + 89*(s + 2)))) + (GREATEST(ABS((gr + -1) - 1557), ABS((gc + 1) - (1164 + 89*(s + 2)))) - LEAST(ABS((gr + -1) - 1557), ABS((gc + 1) - (1164 + 89*(s + 2))))), 1.5*LEAST(ABS((gr + -1) - 1654), ABS((gc + 1) - (1164 + 89*(s + 0)))) + (GREATEST(ABS((gr + -1) - 1654), ABS((gc + 1) - (1164 + 89*(s + 0)))) - LEAST(ABS((gr + -1) - 1654), ABS((gc + 1) - (1164 + 89*(s + 0))))), 1.5*LEAST(ABS((gr + -1) - 1654), ABS((gc + 1) - (1164 + 89*(s + 1)))) + (GREATEST(ABS((gr + -1) - 1654), ABS((gc + 1) - (1164 + 89*(s + 1)))) - LEAST(ABS((gr + -1) - 1654), ABS((gc + 1) - (1164 + 89*(s + 1))))), 1.5*LEAST(ABS((gr + -1) - 1654), ABS((gc + 1) - (1164 + 89*(s + 2)))) + (GREATEST(ABS((gr + -1) - 1654), ABS((gc + 1) - (1164 + 89*(s + 2)))) - LEAST(ABS((gr + -1) - 1654), ABS((gc + 1) - (1164 + 89*(s + 2))))), 1.5*LEAST(ABS((gr + -1) - 1751), ABS((gc + 1) - (1164 + 89*(s + 0)))) + (GREATEST(ABS((gr + -1) - 1751), ABS((gc + 1) - (1164 + 89*(s + 0)))) - LEAST(ABS((gr + -1) - 1751), ABS((gc + 1) - (1164 + 89*(s + 0))))), 1.5*LEAST(ABS((gr + -1) - 1751), ABS((gc + 1) - (1164 + 89*(s + 1)))) + (GREATEST(ABS((gr + -1) - 1751), ABS((gc + 1) - (1164 + 89*(s + 1)))) - LEAST(ABS((gr + -1) - 1751), ABS((gc + 1) - (1164 + 89*(s + 1))))), 1.5*LEAST(ABS((gr + -1) - 1751), ABS((gc + 1) - (1164 + 89*(s + 2)))) + (GREATEST(ABS((gr + -1) - 1751), ABS((gc + 1) - (1164 + 89*(s + 2)))) - LEAST(ABS((gr + -1) - 1751), ABS((gc + 1) - (1164 + 89*(s + 2)))))) + 1.5 THEN 2 WHEN (gr + 0) BETWEEN 1536 AND 1791 AND (gc + -1) BETWEEN (18+s)*64 AND (22+s)*64 - 1 AND LEAST(1.5*LEAST(ABS((gr) - 1557), ABS((gc) - (1164 + 89*(s + 0)))) + (GREATEST(ABS((gr) - 1557), ABS((gc) - (1164 + 89*(s + 0)))) - LEAST(ABS((gr) - 1557), ABS((gc) - (1164 + 89*(s + 0))))), 1.5*LEAST(ABS((gr) - 1557), ABS((gc) - (1164 + 89*(s + 1)))) + (GREATEST(ABS((gr) - 1557), ABS((gc) - (1164 + 89*(s + 1)))) - LEAST(ABS((gr) - 1557), ABS((gc) - (1164 + 89*(s + 1))))), 1.5*LEAST(ABS((gr) - 1557), ABS((gc) - (1164 + 89*(s + 2)))) + (GREATEST(ABS((gr) - 1557), ABS((gc) - (1164 + 89*(s + 2)))) - LEAST(ABS((gr) - 1557), ABS((gc) - (1164 + 89*(s + 2))))), 1.5*LEAST(ABS((gr) - 1654), ABS((gc) - (1164 + 89*(s + 0)))) + (GREATEST(ABS((gr) - 1654), ABS((gc) - (1164 + 89*(s + 0)))) - LEAST(ABS((gr) - 1654), ABS((gc) - (1164 + 89*(s + 0))))), 1.5*LEAST(ABS((gr) - 1654), ABS((gc) - (1164 + 89*(s + 1)))) + (GREATEST(ABS((gr) - 1654), ABS((gc) - (1164 + 89*(s + 1)))) - LEAST(ABS((gr) - 1654), ABS((gc) - (1164 + 89*(s + 1))))), 1.5*LEAST(ABS((gr) - 1654), ABS((gc) - (1164 + 89*(s + 2)))) + (GREATEST(ABS((gr) - 1654), ABS((gc) - (1164 + 89*(s + 2)))) - LEAST(ABS((gr) - 1654), ABS((gc) - (1164 + 89*(s + 2))))), 1.5*LEAST(ABS((gr) - 1751), ABS((gc) - (1164 + 89*(s + 0)))) + (GREATEST(ABS((gr) - 1751), ABS((gc) - (1164 + 89*(s + 0)))) - LEAST(ABS((gr) - 1751), ABS((gc) - (1164 + 89*(s + 0))))), 1.5*LEAST(ABS((gr) - 1751), ABS((gc) - (1164 + 89*(s + 1)))) + (GREATEST(ABS((gr) - 1751), ABS((gc) - (1164 + 89*(s + 1)))) - LEAST(ABS((gr) - 1751), ABS((gc) - (1164 + 89*(s + 1))))), 1.5*LEAST(ABS((gr) - 1751), ABS((gc) - (1164 + 89*(s + 2)))) + (GREATEST(ABS((gr) - 1751), ABS((gc) - (1164 + 89*(s + 2)))) - LEAST(ABS((gr) - 1751), ABS((gc) - (1164 + 89*(s + 2)))))) = LEAST(1.5*LEAST(ABS((gr + 0) - 1557), ABS((gc + -1) - (1164 + 89*(s + 0)))) + (GREATEST(ABS((gr + 0) - 1557), ABS((gc + -1) - (1164 + 89*(s + 0)))) - LEAST(ABS((gr + 0) - 1557), ABS((gc + -1) - (1164 + 89*(s + 0))))), 1.5*LEAST(ABS((gr + 0) - 1557), ABS((gc + -1) - (1164 + 89*(s + 1)))) + (GREATEST(ABS((gr + 0) - 1557), ABS((gc + -1) - (1164 + 89*(s + 1)))) - LEAST(ABS((gr + 0) - 1557), ABS((gc + -1) - (1164 + 89*(s + 1))))), 1.5*LEAST(ABS((gr + 0) - 1557), ABS((gc + -1) - (1164 + 89*(s + 2)))) + (GREATEST(ABS((gr + 0) - 1557), ABS((gc + -1) - (1164 + 89*(s + 2)))) - LEAST(ABS((gr + 0) - 1557), ABS((gc + -1) - (1164 + 89*(s + 2))))), 1.5*LEAST(ABS((gr + 0) - 1654), ABS((gc + -1) - (1164 + 89*(s + 0)))) + (GREATEST(ABS((gr + 0) - 1654), ABS((gc + -1) - (1164 + 89*(s + 0)))) - LEAST(ABS((gr + 0) - 1654), ABS((gc + -1) - (1164 + 89*(s + 0))))), 1.5*LEAST(ABS((gr + 0) - 1654), ABS((gc + -1) - (1164 + 89*(s + 1)))) + (GREATEST(ABS((gr + 0) - 1654), ABS((gc + -1) - (1164 + 89*(s + 1)))) - LEAST(ABS((gr + 0) - 1654), ABS((gc + -1) - (1164 + 89*(s + 1))))), 1.5*LEAST(ABS((gr + 0) - 1654), ABS((gc + -1) - (1164 + 89*(s + 2)))) + (GREATEST(ABS((gr + 0) - 1654), ABS((gc + -1) - (1164 + 89*(s + 2)))) - LEAST(ABS((gr + 0) - 1654), ABS((gc + -1) - (1164 + 89*(s + 2))))), 1.5*LEAST(ABS((gr + 0) - 1751), ABS((gc + -1) - (1164 + 89*(s + 0)))) + (GREATEST(ABS((gr + 0) - 1751), ABS((gc + -1) - (1164 + 89*(s + 0)))) - LEAST(ABS((gr + 0) - 1751), ABS((gc + -1) - (1164 + 89*(s + 0))))), 1.5*LEAST(ABS((gr + 0) - 1751), ABS((gc + -1) - (1164 + 89*(s + 1)))) + (GREATEST(ABS((gr + 0) - 1751), ABS((gc + -1) - (1164 + 89*(s + 1)))) - LEAST(ABS((gr + 0) - 1751), ABS((gc + -1) - (1164 + 89*(s + 1))))), 1.5*LEAST(ABS((gr + 0) - 1751), ABS((gc + -1) - (1164 + 89*(s + 2)))) + (GREATEST(ABS((gr + 0) - 1751), ABS((gc + -1) - (1164 + 89*(s + 2)))) - LEAST(ABS((gr + 0) - 1751), ABS((gc + -1) - (1164 + 89*(s + 2)))))) + 1.0 THEN 3 WHEN (gr + 0) BETWEEN 1536 AND 1791 AND (gc + 1) BETWEEN (18+s)*64 AND (22+s)*64 - 1 AND LEAST(1.5*LEAST(ABS((gr) - 1557), ABS((gc) - (1164 + 89*(s + 0)))) + (GREATEST(ABS((gr) - 1557), ABS((gc) - (1164 + 89*(s + 0)))) - LEAST(ABS((gr) - 1557), ABS((gc) - (1164 + 89*(s + 0))))), 1.5*LEAST(ABS((gr) - 1557), ABS((gc) - (1164 + 89*(s + 1)))) + (GREATEST(ABS((gr) - 1557), ABS((gc) - (1164 + 89*(s + 1)))) - LEAST(ABS((gr) - 1557), ABS((gc) - (1164 + 89*(s + 1))))), 1.5*LEAST(ABS((gr) - 1557), ABS((gc) - (1164 + 89*(s + 2)))) + (GREATEST(ABS((gr) - 1557), ABS((gc) - (1164 + 89*(s + 2)))) - LEAST(ABS((gr) - 1557), ABS((gc) - (1164 + 89*(s + 2))))), 1.5*LEAST(ABS((gr) - 1654), ABS((gc) - (1164 + 89*(s + 0)))) + (GREATEST(ABS((gr) - 1654), ABS((gc) - (1164 + 89*(s + 0)))) - LEAST(ABS((gr) - 1654), ABS((gc) - (1164 + 89*(s + 0))))), 1.5*LEAST(ABS((gr) - 1654), ABS((gc) - (1164 + 89*(s + 1)))) + (GREATEST(ABS((gr) - 1654), ABS((gc) - (1164 + 89*(s + 1)))) - LEAST(ABS((gr) - 1654), ABS((gc) - (1164 + 89*(s + 1))))), 1.5*LEAST(ABS((gr) - 1654), ABS((gc) - (1164 + 89*(s + 2)))) + (GREATEST(ABS((gr) - 1654), ABS((gc) - (1164 + 89*(s + 2)))) - LEAST(ABS((gr) - 1654), ABS((gc) - (1164 + 89*(s + 2))))), 1.5*LEAST(ABS((gr) - 1751), ABS((gc) - (1164 + 89*(s + 0)))) + (GREATEST(ABS((gr) - 1751), ABS((gc) - (1164 + 89*(s + 0)))) - LEAST(ABS((gr) - 1751), ABS((gc) - (1164 + 89*(s + 0))))), 1.5*LEAST(ABS((gr) - 1751), ABS((gc) - (1164 + 89*(s + 1)))) + (GREATEST(ABS((gr) - 1751), ABS((gc) - (1164 + 89*(s + 1)))) - LEAST(ABS((gr) - 1751), ABS((gc) - (1164 + 89*(s + 1))))), 1.5*LEAST(ABS((gr) - 1751), ABS((gc) - (1164 + 89*(s + 2)))) + (GREATEST(ABS((gr) - 1751), ABS((gc) - (1164 + 89*(s + 2)))) - LEAST(ABS((gr) - 1751), ABS((gc) - (1164 + 89*(s + 2)))))) = LEAST(1.5*LEAST(ABS((gr + 0) - 1557), ABS((gc + 1) - (1164 + 89*(s + 0)))) + (GREATEST(ABS((gr + 0) - 1557), ABS((gc + 1) - (1164 + 89*(s + 0)))) - LEAST(ABS((gr + 0) - 1557), ABS((gc + 1) - (1164 + 89*(s + 0))))), 1.5*LEAST(ABS((gr + 0) - 1557), ABS((gc + 1) - (1164 + 89*(s + 1)))) + (GREATEST(ABS((gr + 0) - 1557), ABS((gc + 1) - (1164 + 89*(s + 1)))) - LEAST(ABS((gr + 0) - 1557), ABS((gc + 1) - (1164 + 89*(s + 1))))), 1.5*LEAST(ABS((gr + 0) - 1557), ABS((gc + 1) - (1164 + 89*(s + 2)))) + (GREATEST(ABS((gr + 0) - 1557), ABS((gc + 1) - (1164 + 89*(s + 2)))) - LEAST(ABS((gr + 0) - 1557), ABS((gc + 1) - (1164 + 89*(s + 2))))), 1.5*LEAST(ABS((gr + 0) - 1654), ABS((gc + 1) - (1164 + 89*(s + 0)))) + (GREATEST(ABS((gr + 0) - 1654), ABS((gc + 1) - (1164 + 89*(s + 0)))) - LEAST(ABS((gr + 0) - 1654), ABS((gc + 1) - (1164 + 89*(s + 0))))), 1.5*LEAST(ABS((gr + 0) - 1654), ABS((gc + 1) - (1164 + 89*(s + 1)))) + (GREATEST(ABS((gr + 0) - 1654), ABS((gc + 1) - (1164 + 89*(s + 1)))) - LEAST(ABS((gr + 0) - 1654), ABS((gc + 1) - (1164 + 89*(s + 1))))), 1.5*LEAST(ABS((gr + 0) - 1654), ABS((gc + 1) - (1164 + 89*(s + 2)))) + (GREATEST(ABS((gr + 0) - 1654), ABS((gc + 1) - (1164 + 89*(s + 2)))) - LEAST(ABS((gr + 0) - 1654), ABS((gc + 1) - (1164 + 89*(s + 2))))), 1.5*LEAST(ABS((gr + 0) - 1751), ABS((gc + 1) - (1164 + 89*(s + 0)))) + (GREATEST(ABS((gr + 0) - 1751), ABS((gc + 1) - (1164 + 89*(s + 0)))) - LEAST(ABS((gr + 0) - 1751), ABS((gc + 1) - (1164 + 89*(s + 0))))), 1.5*LEAST(ABS((gr + 0) - 1751), ABS((gc + 1) - (1164 + 89*(s + 1)))) + (GREATEST(ABS((gr + 0) - 1751), ABS((gc + 1) - (1164 + 89*(s + 1)))) - LEAST(ABS((gr + 0) - 1751), ABS((gc + 1) - (1164 + 89*(s + 1))))), 1.5*LEAST(ABS((gr + 0) - 1751), ABS((gc + 1) - (1164 + 89*(s + 2)))) + (GREATEST(ABS((gr + 0) - 1751), ABS((gc + 1) - (1164 + 89*(s + 2)))) - LEAST(ABS((gr + 0) - 1751), ABS((gc + 1) - (1164 + 89*(s + 2)))))) + 1.0 THEN 4 WHEN (gr + 1) BETWEEN 1536 AND 1791 AND (gc + -1) BETWEEN (18+s)*64 AND (22+s)*64 - 1 AND LEAST(1.5*LEAST(ABS((gr) - 1557), ABS((gc) - (1164 + 89*(s + 0)))) + (GREATEST(ABS((gr) - 1557), ABS((gc) - (1164 + 89*(s + 0)))) - LEAST(ABS((gr) - 1557), ABS((gc) - (1164 + 89*(s + 0))))), 1.5*LEAST(ABS((gr) - 1557), ABS((gc) - (1164 + 89*(s + 1)))) + (GREATEST(ABS((gr) - 1557), ABS((gc) - (1164 + 89*(s + 1)))) - LEAST(ABS((gr) - 1557), ABS((gc) - (1164 + 89*(s + 1))))), 1.5*LEAST(ABS((gr) - 1557), ABS((gc) - (1164 + 89*(s + 2)))) + (GREATEST(ABS((gr) - 1557), ABS((gc) - (1164 + 89*(s + 2)))) - LEAST(ABS((gr) - 1557), ABS((gc) - (1164 + 89*(s + 2))))), 1.5*LEAST(ABS((gr) - 1654), ABS((gc) - (1164 + 89*(s + 0)))) + (GREATEST(ABS((gr) - 1654), ABS((gc) - (1164 + 89*(s + 0)))) - LEAST(ABS((gr) - 1654), ABS((gc) - (1164 + 89*(s + 0))))), 1.5*LEAST(ABS((gr) - 1654), ABS((gc) - (1164 + 89*(s + 1)))) + (GREATEST(ABS((gr) - 1654), ABS((gc) - (1164 + 89*(s + 1)))) - LEAST(ABS((gr) - 1654), ABS((gc) - (1164 + 89*(s + 1))))), 1.5*LEAST(ABS((gr) - 1654), ABS((gc) - (1164 + 89*(s + 2)))) + (GREATEST(ABS((gr) - 1654), ABS((gc) - (1164 + 89*(s + 2)))) - LEAST(ABS((gr) - 1654), ABS((gc) - (1164 + 89*(s + 2))))), 1.5*LEAST(ABS((gr) - 1751), ABS((gc) - (1164 + 89*(s + 0)))) + (GREATEST(ABS((gr) - 1751), ABS((gc) - (1164 + 89*(s + 0)))) - LEAST(ABS((gr) - 1751), ABS((gc) - (1164 + 89*(s + 0))))), 1.5*LEAST(ABS((gr) - 1751), ABS((gc) - (1164 + 89*(s + 1)))) + (GREATEST(ABS((gr) - 1751), ABS((gc) - (1164 + 89*(s + 1)))) - LEAST(ABS((gr) - 1751), ABS((gc) - (1164 + 89*(s + 1))))), 1.5*LEAST(ABS((gr) - 1751), ABS((gc) - (1164 + 89*(s + 2)))) + (GREATEST(ABS((gr) - 1751), ABS((gc) - (1164 + 89*(s + 2)))) - LEAST(ABS((gr) - 1751), ABS((gc) - (1164 + 89*(s + 2)))))) = LEAST(1.5*LEAST(ABS((gr + 1) - 1557), ABS((gc + -1) - (1164 + 89*(s + 0)))) + (GREATEST(ABS((gr + 1) - 1557), ABS((gc + -1) - (1164 + 89*(s + 0)))) - LEAST(ABS((gr + 1) - 1557), ABS((gc + -1) - (1164 + 89*(s + 0))))), 1.5*LEAST(ABS((gr + 1) - 1557), ABS((gc + -1) - (1164 + 89*(s + 1)))) + (GREATEST(ABS((gr + 1) - 1557), ABS((gc + -1) - (1164 + 89*(s + 1)))) - LEAST(ABS((gr + 1) - 1557), ABS((gc + -1) - (1164 + 89*(s + 1))))), 1.5*LEAST(ABS((gr + 1) - 1557), ABS((gc + -1) - (1164 + 89*(s + 2)))) + (GREATEST(ABS((gr + 1) - 1557), ABS((gc + -1) - (1164 + 89*(s + 2)))) - LEAST(ABS((gr + 1) - 1557), ABS((gc + -1) - (1164 + 89*(s + 2))))), 1.5*LEAST(ABS((gr + 1) - 1654), ABS((gc + -1) - (1164 + 89*(s + 0)))) + (GREATEST(ABS((gr + 1) - 1654), ABS((gc + -1) - (1164 + 89*(s + 0)))) - LEAST(ABS((gr + 1) - 1654), ABS((gc + -1) - (1164 + 89*(s + 0))))), 1.5*LEAST(ABS((gr + 1) - 1654), ABS((gc + -1) - (1164 + 89*(s + 1)))) + (GREATEST(ABS((gr + 1) - 1654), ABS((gc + -1) - (1164 + 89*(s + 1)))) - LEAST(ABS((gr + 1) - 1654), ABS((gc + -1) - (1164 + 89*(s + 1))))), 1.5*LEAST(ABS((gr + 1) - 1654), ABS((gc + -1) - (1164 + 89*(s + 2)))) + (GREATEST(ABS((gr + 1) - 1654), ABS((gc + -1) - (1164 + 89*(s + 2)))) - LEAST(ABS((gr + 1) - 1654), ABS((gc + -1) - (1164 + 89*(s + 2))))), 1.5*LEAST(ABS((gr + 1) - 1751), ABS((gc + -1) - (1164 + 89*(s + 0)))) + (GREATEST(ABS((gr + 1) - 1751), ABS((gc + -1) - (1164 + 89*(s + 0)))) - LEAST(ABS((gr + 1) - 1751), ABS((gc + -1) - (1164 + 89*(s + 0))))), 1.5*LEAST(ABS((gr + 1) - 1751), ABS((gc + -1) - (1164 + 89*(s + 1)))) + (GREATEST(ABS((gr + 1) - 1751), ABS((gc + -1) - (1164 + 89*(s + 1)))) - LEAST(ABS((gr + 1) - 1751), ABS((gc + -1) - (1164 + 89*(s + 1))))), 1.5*LEAST(ABS((gr + 1) - 1751), ABS((gc + -1) - (1164 + 89*(s + 2)))) + (GREATEST(ABS((gr + 1) - 1751), ABS((gc + -1) - (1164 + 89*(s + 2)))) - LEAST(ABS((gr + 1) - 1751), ABS((gc + -1) - (1164 + 89*(s + 2)))))) + 1.5 THEN 5 WHEN (gr + 1) BETWEEN 1536 AND 1791 AND (gc + 0) BETWEEN (18+s)*64 AND (22+s)*64 - 1 AND LEAST(1.5*LEAST(ABS((gr) - 1557), ABS((gc) - (1164 + 89*(s + 0)))) + (GREATEST(ABS((gr) - 1557), ABS((gc) - (1164 + 89*(s + 0)))) - LEAST(ABS((gr) - 1557), ABS((gc) - (1164 + 89*(s + 0))))), 1.5*LEAST(ABS((gr) - 1557), ABS((gc) - (1164 + 89*(s + 1)))) + (GREATEST(ABS((gr) - 1557), ABS((gc) - (1164 + 89*(s + 1)))) - LEAST(ABS((gr) - 1557), ABS((gc) - (1164 + 89*(s + 1))))), 1.5*LEAST(ABS((gr) - 1557), ABS((gc) - (1164 + 89*(s + 2)))) + (GREATEST(ABS((gr) - 1557), ABS((gc) - (1164 + 89*(s + 2)))) - LEAST(ABS((gr) - 1557), ABS((gc) - (1164 + 89*(s + 2))))), 1.5*LEAST(ABS((gr) - 1654), ABS((gc) - (1164 + 89*(s + 0)))) + (GREATEST(ABS((gr) - 1654), ABS((gc) - (1164 + 89*(s + 0)))) - LEAST(ABS((gr) - 1654), ABS((gc) - (1164 + 89*(s + 0))))), 1.5*LEAST(ABS((gr) - 1654), ABS((gc) - (1164 + 89*(s + 1)))) + (GREATEST(ABS((gr) - 1654), ABS((gc) - (1164 + 89*(s + 1)))) - LEAST(ABS((gr) - 1654), ABS((gc) - (1164 + 89*(s + 1))))), 1.5*LEAST(ABS((gr) - 1654), ABS((gc) - (1164 + 89*(s + 2)))) + (GREATEST(ABS((gr) - 1654), ABS((gc) - (1164 + 89*(s + 2)))) - LEAST(ABS((gr) - 1654), ABS((gc) - (1164 + 89*(s + 2))))), 1.5*LEAST(ABS((gr) - 1751), ABS((gc) - (1164 + 89*(s + 0)))) + (GREATEST(ABS((gr) - 1751), ABS((gc) - (1164 + 89*(s + 0)))) - LEAST(ABS((gr) - 1751), ABS((gc) - (1164 + 89*(s + 0))))), 1.5*LEAST(ABS((gr) - 1751), ABS((gc) - (1164 + 89*(s + 1)))) + (GREATEST(ABS((gr) - 1751), ABS((gc) - (1164 + 89*(s + 1)))) - LEAST(ABS((gr) - 1751), ABS((gc) - (1164 + 89*(s + 1))))), 1.5*LEAST(ABS((gr) - 1751), ABS((gc) - (1164 + 89*(s + 2)))) + (GREATEST(ABS((gr) - 1751), ABS((gc) - (1164 + 89*(s + 2)))) - LEAST(ABS((gr) - 1751), ABS((gc) - (1164 + 89*(s + 2)))))) = LEAST(1.5*LEAST(ABS((gr + 1) - 1557), ABS((gc + 0) - (1164 + 89*(s + 0)))) + (GREATEST(ABS((gr + 1) - 1557), ABS((gc + 0) - (1164 + 89*(s + 0)))) - LEAST(ABS((gr + 1) - 1557), ABS((gc + 0) - (1164 + 89*(s + 0))))), 1.5*LEAST(ABS((gr + 1) - 1557), ABS((gc + 0) - (1164 + 89*(s + 1)))) + (GREATEST(ABS((gr + 1) - 1557), ABS((gc + 0) - (1164 + 89*(s + 1)))) - LEAST(ABS((gr + 1) - 1557), ABS((gc + 0) - (1164 + 89*(s + 1))))), 1.5*LEAST(ABS((gr + 1) - 1557), ABS((gc + 0) - (1164 + 89*(s + 2)))) + (GREATEST(ABS((gr + 1) - 1557), ABS((gc + 0) - (1164 + 89*(s + 2)))) - LEAST(ABS((gr + 1) - 1557), ABS((gc + 0) - (1164 + 89*(s + 2))))), 1.5*LEAST(ABS((gr + 1) - 1654), ABS((gc + 0) - (1164 + 89*(s + 0)))) + (GREATEST(ABS((gr + 1) - 1654), ABS((gc + 0) - (1164 + 89*(s + 0)))) - LEAST(ABS((gr + 1) - 1654), ABS((gc + 0) - (1164 + 89*(s + 0))))), 1.5*LEAST(ABS((gr + 1) - 1654), ABS((gc + 0) - (1164 + 89*(s + 1)))) + (GREATEST(ABS((gr + 1) - 1654), ABS((gc + 0) - (1164 + 89*(s + 1)))) - LEAST(ABS((gr + 1) - 1654), ABS((gc + 0) - (1164 + 89*(s + 1))))), 1.5*LEAST(ABS((gr + 1) - 1654), ABS((gc + 0) - (1164 + 89*(s + 2)))) + (GREATEST(ABS((gr + 1) - 1654), ABS((gc + 0) - (1164 + 89*(s + 2)))) - LEAST(ABS((gr + 1) - 1654), ABS((gc + 0) - (1164 + 89*(s + 2))))), 1.5*LEAST(ABS((gr + 1) - 1751), ABS((gc + 0) - (1164 + 89*(s + 0)))) + (GREATEST(ABS((gr + 1) - 1751), ABS((gc + 0) - (1164 + 89*(s + 0)))) - LEAST(ABS((gr + 1) - 1751), ABS((gc + 0) - (1164 + 89*(s + 0))))), 1.5*LEAST(ABS((gr + 1) - 1751), ABS((gc + 0) - (1164 + 89*(s + 1)))) + (GREATEST(ABS((gr + 1) - 1751), ABS((gc + 0) - (1164 + 89*(s + 1)))) - LEAST(ABS((gr + 1) - 1751), ABS((gc + 0) - (1164 + 89*(s + 1))))), 1.5*LEAST(ABS((gr + 1) - 1751), ABS((gc + 0) - (1164 + 89*(s + 2)))) + (GREATEST(ABS((gr + 1) - 1751), ABS((gc + 0) - (1164 + 89*(s + 2)))) - LEAST(ABS((gr + 1) - 1751), ABS((gc + 0) - (1164 + 89*(s + 2)))))) + 1.0 THEN 6 WHEN (gr + 1) BETWEEN 1536 AND 1791 AND (gc + 1) BETWEEN (18+s)*64 AND (22+s)*64 - 1 AND LEAST(1.5*LEAST(ABS((gr) - 1557), ABS((gc) - (1164 + 89*(s + 0)))) + (GREATEST(ABS((gr) - 1557), ABS((gc) - (1164 + 89*(s + 0)))) - LEAST(ABS((gr) - 1557), ABS((gc) - (1164 + 89*(s + 0))))), 1.5*LEAST(ABS((gr) - 1557), ABS((gc) - (1164 + 89*(s + 1)))) + (GREATEST(ABS((gr) - 1557), ABS((gc) - (1164 + 89*(s + 1)))) - LEAST(ABS((gr) - 1557), ABS((gc) - (1164 + 89*(s + 1))))), 1.5*LEAST(ABS((gr) - 1557), ABS((gc) - (1164 + 89*(s + 2)))) + (GREATEST(ABS((gr) - 1557), ABS((gc) - (1164 + 89*(s + 2)))) - LEAST(ABS((gr) - 1557), ABS((gc) - (1164 + 89*(s + 2))))), 1.5*LEAST(ABS((gr) - 1654), ABS((gc) - (1164 + 89*(s + 0)))) + (GREATEST(ABS((gr) - 1654), ABS((gc) - (1164 + 89*(s + 0)))) - LEAST(ABS((gr) - 1654), ABS((gc) - (1164 + 89*(s + 0))))), 1.5*LEAST(ABS((gr) - 1654), ABS((gc) - (1164 + 89*(s + 1)))) + (GREATEST(ABS((gr) - 1654), ABS((gc) - (1164 + 89*(s + 1)))) - LEAST(ABS((gr) - 1654), ABS((gc) - (1164 + 89*(s + 1))))), 1.5*LEAST(ABS((gr) - 1654), ABS((gc) - (1164 + 89*(s + 2)))) + (GREATEST(ABS((gr) - 1654), ABS((gc) - (1164 + 89*(s + 2)))) - LEAST(ABS((gr) - 1654), ABS((gc) - (1164 + 89*(s + 2))))), 1.5*LEAST(ABS((gr) - 1751), ABS((gc) - (1164 + 89*(s + 0)))) + (GREATEST(ABS((gr) - 1751), ABS((gc) - (1164 + 89*(s + 0)))) - LEAST(ABS((gr) - 1751), ABS((gc) - (1164 + 89*(s + 0))))), 1.5*LEAST(ABS((gr) - 1751), ABS((gc) - (1164 + 89*(s + 1)))) + (GREATEST(ABS((gr) - 1751), ABS((gc) - (1164 + 89*(s + 1)))) - LEAST(ABS((gr) - 1751), ABS((gc) - (1164 + 89*(s + 1))))), 1.5*LEAST(ABS((gr) - 1751), ABS((gc) - (1164 + 89*(s + 2)))) + (GREATEST(ABS((gr) - 1751), ABS((gc) - (1164 + 89*(s + 2)))) - LEAST(ABS((gr) - 1751), ABS((gc) - (1164 + 89*(s + 2)))))) = LEAST(1.5*LEAST(ABS((gr + 1) - 1557), ABS((gc + 1) - (1164 + 89*(s + 0)))) + (GREATEST(ABS((gr + 1) - 1557), ABS((gc + 1) - (1164 + 89*(s + 0)))) - LEAST(ABS((gr + 1) - 1557), ABS((gc + 1) - (1164 + 89*(s + 0))))), 1.5*LEAST(ABS((gr + 1) - 1557), ABS((gc + 1) - (1164 + 89*(s + 1)))) + (GREATEST(ABS((gr + 1) - 1557), ABS((gc + 1) - (1164 + 89*(s + 1)))) - LEAST(ABS((gr + 1) - 1557), ABS((gc + 1) - (1164 + 89*(s + 1))))), 1.5*LEAST(ABS((gr + 1) - 1557), ABS((gc + 1) - (1164 + 89*(s + 2)))) + (GREATEST(ABS((gr + 1) - 1557), ABS((gc + 1) - (1164 + 89*(s + 2)))) - LEAST(ABS((gr + 1) - 1557), ABS((gc + 1) - (1164 + 89*(s + 2))))), 1.5*LEAST(ABS((gr + 1) - 1654), ABS((gc + 1) - (1164 + 89*(s + 0)))) + (GREATEST(ABS((gr + 1) - 1654), ABS((gc + 1) - (1164 + 89*(s + 0)))) - LEAST(ABS((gr + 1) - 1654), ABS((gc + 1) - (1164 + 89*(s + 0))))), 1.5*LEAST(ABS((gr + 1) - 1654), ABS((gc + 1) - (1164 + 89*(s + 1)))) + (GREATEST(ABS((gr + 1) - 1654), ABS((gc + 1) - (1164 + 89*(s + 1)))) - LEAST(ABS((gr + 1) - 1654), ABS((gc + 1) - (1164 + 89*(s + 1))))), 1.5*LEAST(ABS((gr + 1) - 1654), ABS((gc + 1) - (1164 + 89*(s + 2)))) + (GREATEST(ABS((gr + 1) - 1654), ABS((gc + 1) - (1164 + 89*(s + 2)))) - LEAST(ABS((gr + 1) - 1654), ABS((gc + 1) - (1164 + 89*(s + 2))))), 1.5*LEAST(ABS((gr + 1) - 1751), ABS((gc + 1) - (1164 + 89*(s + 0)))) + (GREATEST(ABS((gr + 1) - 1751), ABS((gc + 1) - (1164 + 89*(s + 0)))) - LEAST(ABS((gr + 1) - 1751), ABS((gc + 1) - (1164 + 89*(s + 0))))), 1.5*LEAST(ABS((gr + 1) - 1751), ABS((gc + 1) - (1164 + 89*(s + 1)))) + (GREATEST(ABS((gr + 1) - 1751), ABS((gc + 1) - (1164 + 89*(s + 1)))) - LEAST(ABS((gr + 1) - 1751), ABS((gc + 1) - (1164 + 89*(s + 1))))), 1.5*LEAST(ABS((gr + 1) - 1751), ABS((gc + 1) - (1164 + 89*(s + 2)))) + (GREATEST(ABS((gr + 1) - 1751), ABS((gc + 1) - (1164 + 89*(s + 2)))) - LEAST(ABS((gr + 1) - 1751), ABS((gc + 1) - (1164 + 89*(s + 2)))))) + 1.5 THEN 7 ELSE -1 END AS pick
    FROM walk WHERE LEAST(1.5*LEAST(ABS((gr) - 1557), ABS((gc) - (1164 + 89*(s + 0)))) + (GREATEST(ABS((gr) - 1557), ABS((gc) - (1164 + 89*(s + 0)))) - LEAST(ABS((gr) - 1557), ABS((gc) - (1164 + 89*(s + 0))))), 1.5*LEAST(ABS((gr) - 1557), ABS((gc) - (1164 + 89*(s + 1)))) + (GREATEST(ABS((gr) - 1557), ABS((gc) - (1164 + 89*(s + 1)))) - LEAST(ABS((gr) - 1557), ABS((gc) - (1164 + 89*(s + 1))))), 1.5*LEAST(ABS((gr) - 1557), ABS((gc) - (1164 + 89*(s + 2)))) + (GREATEST(ABS((gr) - 1557), ABS((gc) - (1164 + 89*(s + 2)))) - LEAST(ABS((gr) - 1557), ABS((gc) - (1164 + 89*(s + 2))))), 1.5*LEAST(ABS((gr) - 1654), ABS((gc) - (1164 + 89*(s + 0)))) + (GREATEST(ABS((gr) - 1654), ABS((gc) - (1164 + 89*(s + 0)))) - LEAST(ABS((gr) - 1654), ABS((gc) - (1164 + 89*(s + 0))))), 1.5*LEAST(ABS((gr) - 1654), ABS((gc) - (1164 + 89*(s + 1)))) + (GREATEST(ABS((gr) - 1654), ABS((gc) - (1164 + 89*(s + 1)))) - LEAST(ABS((gr) - 1654), ABS((gc) - (1164 + 89*(s + 1))))), 1.5*LEAST(ABS((gr) - 1654), ABS((gc) - (1164 + 89*(s + 2)))) + (GREATEST(ABS((gr) - 1654), ABS((gc) - (1164 + 89*(s + 2)))) - LEAST(ABS((gr) - 1654), ABS((gc) - (1164 + 89*(s + 2))))), 1.5*LEAST(ABS((gr) - 1751), ABS((gc) - (1164 + 89*(s + 0)))) + (GREATEST(ABS((gr) - 1751), ABS((gc) - (1164 + 89*(s + 0)))) - LEAST(ABS((gr) - 1751), ABS((gc) - (1164 + 89*(s + 0))))), 1.5*LEAST(ABS((gr) - 1751), ABS((gc) - (1164 + 89*(s + 1)))) + (GREATEST(ABS((gr) - 1751), ABS((gc) - (1164 + 89*(s + 1)))) - LEAST(ABS((gr) - 1751), ABS((gc) - (1164 + 89*(s + 1))))), 1.5*LEAST(ABS((gr) - 1751), ABS((gc) - (1164 + 89*(s + 2)))) + (GREATEST(ABS((gr) - 1751), ABS((gc) - (1164 + 89*(s + 2)))) - LEAST(ABS((gr) - 1751), ABS((gc) - (1164 + 89*(s + 2)))))) > 0.0
  ) w
)
SELECT CONCAT('scene-', CAST(w.s AS VARCHAR)) AS source_id,
       CAST(w.band AS INT) AS band,
       CAST(w.tgr AS BIGINT) AS tgr, CAST(w.tgc AS BIGINT) AS tgc,
       CAST(MAX(w.depth) AS BIGINT) AS path_len,
       CAST(FLOOR(LEAST(1.5*LEAST(ABS((w.tgr) - 1557), ABS((w.tgc) - (1164 + 89*(w.s + 0)))) + (GREATEST(ABS((w.tgr) - 1557), ABS((w.tgc) - (1164 + 89*(w.s + 0)))) - LEAST(ABS((w.tgr) - 1557), ABS((w.tgc) - (1164 + 89*(w.s + 0))))), 1.5*LEAST(ABS((w.tgr) - 1557), ABS((w.tgc) - (1164 + 89*(w.s + 1)))) + (GREATEST(ABS((w.tgr) - 1557), ABS((w.tgc) - (1164 + 89*(w.s + 1)))) - LEAST(ABS((w.tgr) - 1557), ABS((w.tgc) - (1164 + 89*(w.s + 1))))), 1.5*LEAST(ABS((w.tgr) - 1557), ABS((w.tgc) - (1164 + 89*(w.s + 2)))) + (GREATEST(ABS((w.tgr) - 1557), ABS((w.tgc) - (1164 + 89*(w.s + 2)))) - LEAST(ABS((w.tgr) - 1557), ABS((w.tgc) - (1164 + 89*(w.s + 2))))), 1.5*LEAST(ABS((w.tgr) - 1654), ABS((w.tgc) - (1164 + 89*(w.s + 0)))) + (GREATEST(ABS((w.tgr) - 1654), ABS((w.tgc) - (1164 + 89*(w.s + 0)))) - LEAST(ABS((w.tgr) - 1654), ABS((w.tgc) - (1164 + 89*(w.s + 0))))), 1.5*LEAST(ABS((w.tgr) - 1654), ABS((w.tgc) - (1164 + 89*(w.s + 1)))) + (GREATEST(ABS((w.tgr) - 1654), ABS((w.tgc) - (1164 + 89*(w.s + 1)))) - LEAST(ABS((w.tgr) - 1654), ABS((w.tgc) - (1164 + 89*(w.s + 1))))), 1.5*LEAST(ABS((w.tgr) - 1654), ABS((w.tgc) - (1164 + 89*(w.s + 2)))) + (GREATEST(ABS((w.tgr) - 1654), ABS((w.tgc) - (1164 + 89*(w.s + 2)))) - LEAST(ABS((w.tgr) - 1654), ABS((w.tgc) - (1164 + 89*(w.s + 2))))), 1.5*LEAST(ABS((w.tgr) - 1751), ABS((w.tgc) - (1164 + 89*(w.s + 0)))) + (GREATEST(ABS((w.tgr) - 1751), ABS((w.tgc) - (1164 + 89*(w.s + 0)))) - LEAST(ABS((w.tgr) - 1751), ABS((w.tgc) - (1164 + 89*(w.s + 0))))), 1.5*LEAST(ABS((w.tgr) - 1751), ABS((w.tgc) - (1164 + 89*(w.s + 1)))) + (GREATEST(ABS((w.tgr) - 1751), ABS((w.tgc) - (1164 + 89*(w.s + 1)))) - LEAST(ABS((w.tgr) - 1751), ABS((w.tgc) - (1164 + 89*(w.s + 1))))), 1.5*LEAST(ABS((w.tgr) - 1751), ABS((w.tgc) - (1164 + 89*(w.s + 2)))) + (GREATEST(ABS((w.tgr) - 1751), ABS((w.tgc) - (1164 + 89*(w.s + 2)))) - LEAST(ABS((w.tgr) - 1751), ABS((w.tgc) - (1164 + 89*(w.s + 2)))))) * 2.0 + 0.5) AS BIGINT) AS cost_q2
FROM walk w GROUP BY w.s, w.band, w.tgr, w.tgc
"""

    # Forced-distributed variant (least_cost_path_dist): identical
    # fixture, identical walk semantics — same oracle.
    o["least_cost_path_dist"] = o["least_cost_path"]

    # IDW interpolation (idw_interpolate): identical clamped-weight
    # contribution arithmetic in SQL — w = 1/GREATEST(d2, 0.25) inside
    # d2 <= 16, z = floor((lon+180)*8) % 64 — quantized per contribution
    # then integer-summed per pixel and per tile.
    _idw_d2 = (f"({_kd_dy}*{_kd_dy} + {_kd_dx}*{_kd_dx})")
    o["idw_interpolate"] = f"""
{derive.cte('anchors')}
, pts AS (
  SELECT {C.sql_gpix_x('lon', 6, 64)} AS gx,
         {C.sql_gpix_y('lat', 6, 64)} AS gy,
         CAST(CAST(FLOOR((lon + 180.0) * 8.0) AS BIGINT) % 64 AS DOUBLE)
           AS z
  FROM anchors WHERE lon IS NOT NULL AND lat IS NOT NULL
), contrib AS (
  SELECT CAST(CEIL(gx - 0.5 - 4.0) AS BIGINT) + ox AS pxx,
         CAST(CEIL(gy - 0.5 - 4.0) AS BIGINT) + oy AS pyy,
         gx, gy, z
  FROM pts, range(0, 10) o1(ox), range(0, 10) o2(oy)
), qw AS (
  SELECT pxx, pyy,
         CASE WHEN {_idw_d2} <= 16.0
              THEN CAST(FLOOR(1.0 / GREATEST({_idw_d2}, 0.25) * z
                              * 1048576.0 + 0.5) AS BIGINT)
              ELSE 0 END AS nq,
         CASE WHEN {_idw_d2} <= 16.0
              THEN CAST(FLOOR(1.0 / GREATEST({_idw_d2}, 0.25)
                              * 1048576.0 + 0.5) AS BIGINT)
              ELSE 0 END AS dq
  FROM contrib
  WHERE pxx BETWEEN 0 AND {_kd_npx - 1} AND pyy BETWEEN 0 AND {_kd_npx - 1}
), pxsum AS (
  SELECT pxx // 64 AS col, pyy // 64 AS row, pxx, pyy,
         SUM(nq) AS ns, SUM(dq) AS ds
  FROM qw GROUP BY 1, 2, 3, 4
)
SELECT CAST(6 AS INT) AS zoom, col, row,
       CAST(SUM(ns) AS BIGINT) AS num_sum,
       CAST(SUM(ds) AS BIGINT) AS den_sum,
       CAST(COUNT(*) FILTER (WHERE ds > 0) AS BIGINT) AS n_px
FROM pxsum GROUP BY 1, 2, 3 HAVING SUM(ds) > 0
"""

    # Cost distance (cost_distance): octile closed form on the uniform
    # fixture — min over the 9 seeds of 1.5*min(dx,dy) + (max-min);
    # 2*cost = 3*min + 2*(max-min) is integer-exact, so the quantized
    # per-tile rollup is order-independent on both sides.
    o["cost_distance"] = """
WITH px AS (
  SELECT s, band, 18 + s + tcc AS col, 24 + trr AS row,
         (24*64 + trr*64 + ri) AS gr, ((18+s)*64 + tcc*64 + ci) AS gc
  FROM range(0,3) ss(s), range(0,2) bs(band), range(0,4) tcs(tcc),
       range(0,4) trs(trr), range(0,64) rs(ri), range(0,64) cs(ci)
), seeds AS (
  SELECT DISTINCT s, gr AS sr, gc AS sc FROM px
  WHERE band = 0 AND gr % 97 = 5 AND gc % 89 = 7
), cost AS (
  SELECT p.s, p.band, p.col, p.row, p.gr, p.gc,
         MIN(1.5 * LEAST(ABS(p.gr - e.sr), ABS(p.gc - e.sc))
             + (GREATEST(ABS(p.gr - e.sr), ABS(p.gc - e.sc))
                - LEAST(ABS(p.gr - e.sr), ABS(p.gc - e.sc)))) AS c
  FROM px p JOIN seeds e ON p.s = e.s
  GROUP BY 1, 2, 3, 4, 5, 6
)
SELECT CONCAT('scene-', CAST(s AS VARCHAR)) AS source_id,
       CAST(band AS INT) AS band,
       CAST(col AS BIGINT) AS col, CAST(row AS BIGINT) AS row,
       CAST(SUM(CAST(FLOOR(c * 2 + 0.5) AS BIGINT)) AS BIGINT)
         AS cost_qsum,
       CAST(COUNT(*) AS BIGINT) AS n_reached
FROM cost GROUP BY 1, 2, 3, 4
"""

    # GeoTiff source gate (geotiff_read): per-tile quantized checksum of
    # the closed-form fixture field — 4*val is an exact int64 (quarter
    # multiples), so integer sums are order-independent across the three
    # byte-order/compression/interleave variants the files encode.
    o["geotiff_read"] = f"""
WITH px AS (
  SELECT s, band, tc, tr, r, c, {_fval('r', 'c')} AS val
  FROM range(0,3) ss(s), range(0,2) bs(band), range(0,4) tcs(tc),
       range(0,4) trs(tr), range(0,64) rs(r), range(0,64) cs(c)
)
SELECT CONCAT('scene-', CAST(s AS VARCHAR)) AS source_id,
       CAST(band AS INT) AS band,
       CAST(18 + tc + s AS BIGINT) AS col,
       CAST(24 + tr AS BIGINT) AS row,
       CAST(SUM(CASE WHEN val <> -9999.0
                     THEN CAST(val * 4 AS BIGINT) ELSE 0 END) AS BIGINT)
         AS px_qsum,
       CAST(COUNT(CASE WHEN val <> -9999.0 THEN 1 END) AS BIGINT)
         AS px_count
FROM px GROUP BY 1, 2, 3, 4
"""

    # LZW variant (geotiff_read_lzw): the int32 sample IS 4*val, read
    # through the LZW+predictor decode paths — same closed form.
    o["geotiff_read_lzw"] = o["geotiff_read"]

    # HTTP-transport variant (geotiff_read_http): same fixture, same
    # closed form — the ranged-GET path must be byte-transparent.
    o["geotiff_read_http"] = o["geotiff_read"]

    # PackBits variant (geotiff_read_packbits): int32 sample IS 4*val,
    # read at quant=1 like the LZW gate — same closed form.
    o["geotiff_read_packbits"] = o["geotiff_read"]

    # BigTIFF variant (geotiff_read_bigtiff): same quantized fixture
    # through the version-43 LONG8 IFD/segment parse — same closed form.
    o["geotiff_read_bigtiff"] = o["geotiff_read"]

    # LZMA variant (geotiff_read_lzma): int32 sample IS 4*val, read
    # through the 34925 .xz-segment decode — same closed form.
    o["geotiff_read_lzma"] = o["geotiff_read"]

    # Mask / inverseMask (raster_mask): AOI edges sit strictly between
    # engine pixel-center ordinates, so membership is an exact integer
    # global-pixel range — zero transcendentals in the twin; NoData-aware
    # per-tile sums of the closed-form field (quarter multiples ->
    # order-free float64), both modes via a cross-joined mode axis.
    _msk = ("((gc >= 1180 AND gc < 1320 AND gr >= 1550 AND gr < 1650) "
            "OR (gc >= 1400 AND gc < 1480 AND gr >= 1600 AND gr < 1700) "
            "OR (gc >= 1200 AND gc < 1250 AND gr >= 1560 AND gr < 1580))")
    _keep = ("val <> -9999.0 AND ((mode = 'mask' AND inm = 1) "
             "OR (mode = 'inverse' AND inm = 0))")
    o["raster_mask"] = f"""
WITH px AS (
  SELECT s, band, tc, tr, {_fval('r', 'c')} AS val,
         (24 + tr) * 64 + r AS gr, (18 + tc + s) * 64 + c AS gc
  FROM range(0,3) ss(s), range(0,2) bs(band), range(0,4) tcs(tc),
       range(0,4) trs(tr), range(0,64) rs(r), range(0,64) cs(c)
), km AS (
  SELECT s, band, tc, tr, val,
         CASE WHEN {_msk} THEN 1 ELSE 0 END AS inm
  FROM px
)
SELECT CAST(s AS BIGINT) AS source_idx,
       CAST(18 + tc + s AS BIGINT) AS col,
       CAST(24 + tr AS BIGINT) AS row,
       CAST(band AS BIGINT) AS band,
       SUM(CASE WHEN {_keep} THEN val ELSE 0.0 END) AS px_sum,
       CAST(COUNT(CASE WHEN {_keep} THEN 1 END) AS BIGINT) AS px_count,
       mode
FROM km, (SELECT 'mask' AS mode UNION ALL SELECT 'inverse') modes
GROUP BY 1, 2, 3, 4, 7
"""

    # Histogram equalization (hist_equalize): bucket/cumsum/map chain
    # replayed with identical expression order; counts stay integer
    # until the single division; per-tile float sums of 0..255 ints.
    _he = "LEAST(GREATEST(FLOOR((val - 0.0) / (3400.0 - 0.0) * 64), 0), 63)"
    o["hist_equalize"] = f"""
WITH px AS (
  SELECT s, band, tc, tr, {_fval('r', 'c')} AS val
  FROM range(0,3) ss(s), range(0,2) bs(band), range(0,4) tcs(tc),
       range(0,4) trs(tr), range(0,64) rs(r), range(0,64) cs(c)
), b AS (
  SELECT s, band, tc, tr, val,
         CASE WHEN val <> -9999.0
              THEN CAST({_he} AS BIGINT) END AS bucket
  FROM px
), hist AS (
  SELECT s, band, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM b WHERE bucket IS NOT NULL GROUP BY 1, 2, 3
), cdf AS (
  SELECT s, band, bucket,
         SUM(cnt) OVER (PARTITION BY s, band ORDER BY bucket) AS cum,
         SUM(cnt) OVER (PARTITION BY s, band) AS total,
         FIRST_VALUE(cnt) OVER (PARTITION BY s, band
                                ORDER BY bucket) AS cdf_min
  FROM hist
), eqmap AS (
  SELECT s, band, bucket,
         FLOOR((CAST(cum - cdf_min AS DOUBLE)
                / CAST(GREATEST(total - cdf_min, 1) AS DOUBLE))
               * 255 + 0.5) AS eq
  FROM cdf
)
SELECT CAST(b.s AS BIGINT) AS source_idx,
       CAST(18 + b.tc + b.s AS BIGINT) AS col,
       CAST(24 + b.tr AS BIGINT) AS row,
       CAST(b.band AS BIGINT) AS band,
       SUM(CASE WHEN b.bucket IS NOT NULL THEN m.eq ELSE 0.0 END)
         AS px_sum,
       CAST(COUNT(b.bucket) AS BIGINT) AS px_count
FROM b LEFT JOIN eqmap m ON m.s = b.s AND m.band = b.band
     AND m.bucket = b.bucket
GROUP BY 1, 2, 3, 4
"""

    # Snapshot time travel (time_travel): the three committed states
    # recomputed from the anchors derivation — v1 = doc_id%3=0, v2 =
    # %3 in (0,1), v3 = v2 minus the COW-deleted [1000, 3000] range;
    # quantized lon sums are integer (order-free), NULL lons skipped
    # by SUM on both sides.
    o["time_travel"] = f"""
{derive.cte('anchors')},
base AS (SELECT doc_id, lon FROM anchors),
states AS (
  SELECT 1 AS version, doc_id, lon FROM base WHERE doc_id % 3 = 0
  UNION ALL
  SELECT 2, doc_id, lon FROM base WHERE doc_id % 3 IN (0, 1)
  UNION ALL
  SELECT 3, doc_id, lon FROM base WHERE doc_id % 3 IN (0, 1)
    AND doc_id NOT BETWEEN 1000 AND 3000
)
SELECT CAST(version AS INT) AS version, doc_id % 8 AS g,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(FLOOR(lon * 256.0) AS BIGINT)) AS BIGINT) AS qlon
FROM states GROUP BY 1, 2
"""

    # Hex binning (hex_bin): the staged cube-rounding CTE chain from
    # the shared generator (bit-identical arithmetic — the whole chain
    # is IEEE +,-,*,/,SQRT,FLOOR,ABS).
    _hx = C.sql_hex_ctes(
        "(SELECT doc_id, lon, lat FROM anchors WHERE lon IS NOT NULL)",
        "lon", "lat", 3.0, "doc_id, lon")
    o["hex_bin"] = f"""
{derive.cte('anchors')}
SELECT hq, hr, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(FLOOR(lon * 256.0) AS BIGINT)) AS BIGINT) AS qlon
FROM ({_hx}) GROUP BY 1, 2
"""

    # Edit-distance pairs (edit_pairs): brute-force quadratic refine —
    # independent of the engine's deletion blocking, same levenshtein.
    o["edit_pairs"] = f"""
WITH titles AS ({_ED_TITLES_SQL.strip()})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(levenshtein(a.title, b.title) AS INT) AS dist
FROM titles a JOIN titles b ON a.doc_id < b.doc_id
WHERE levenshtein(a.title, b.title) <= 1
"""

    # As-of join (asof_join): the matched purchase re-derived per click
    # by an independent correlated-subquery formulation (ORDER BY ts
    # DESC, event_id DESC LIMIT 1 = the engine's window total order);
    # two subqueries share the deterministic order so the (id, value)
    # pair is consistent.
    o["asof_join"] = """
WITH clicks AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
),
purch AS (
  SELECT user_id, ts, event_id, value FROM events
  WHERE event_type = 'purchase'
)
SELECT c.event_id, c.user_id,
       (SELECT p.event_id FROM purch p
        WHERE p.user_id = c.user_id AND p.ts <= c.ts
        ORDER BY p.ts DESC, p.event_id DESC LIMIT 1) AS m_event_id,
       (SELECT CAST(FLOOR(p.value * 256.0) AS BIGINT) FROM purch p
        WHERE p.user_id = c.user_id AND p.ts <= c.ts
        ORDER BY p.ts DESC, p.event_id DESC LIMIT 1) AS m_qval
FROM clicks c
"""

    # Stratified sampling + split (sample_split): the masked Knuth
    # hashes replayed verbatim — sample keep-test with multiplier
    # 2246822519 mod 16 against the VALUES rate table, split label
    # with multiplier 2654435761 mod 16 through the cumulative CASE.
    from geotrellis_contrib_spark.operators import sampling as SA
    _sr_vals = ", ".join(f"('{k}', {v})"
                         for k, v in SAMPLE_RATES16.items())
    o["sample_split"] = f"""
WITH rates(source, r) AS (VALUES {_sr_vals}),
kept AS (
  SELECT d.source, d.n_chars, d.doc_id
  FROM documents d JOIN rates t ON t.source = d.source
  WHERE ({SA.sql_knuth31('d.doc_id', SA.KNUTH_SAMPLE)}) % 16 < t.r
)
SELECT source,
       {SA.sql_split_label('doc_id', SPLIT_WEIGHTS)} AS split,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS chars
FROM kept GROUP BY 1, 2
"""

    # Line simplify (line_simplify): the DP recursion as a RECURSIVE
    # CTE. metric(P) = cross(a,b,P)² (radial |P-a|² when a==b), both as
    # HUGEINT so squares of centi-degree crosses cannot overflow;
    # threshold eps²·len² (eps² alone when degenerate); the argmax
    # interior point is selected by NOT EXISTS (strictly-larger metric,
    # or equal with smaller index) and both child segments are emitted
    # via a (VALUES (0),(1)) side picker. Kept vertices = DISTINCT over
    # UNION ALL of segment endpoints (DuckDB quirk: plain UNION over
    # two references to a recursive CTE fails to dedupe).
    _ls_eps2 = 500 * 500

    def _ls_metric(P: str) -> str:
        cr = f"(b.x - a.x) * ({P}.y - a.y) - (b.y - a.y) * ({P}.x - a.x)"
        rad = (f"({P}.x - a.x) * ({P}.x - a.x)"
               f" + ({P}.y - a.y) * ({P}.y - a.y)")
        return (f"(CASE WHEN a.x = b.x AND a.y = b.y"
                f" THEN CAST({rad} AS HUGEINT)"
                f" ELSE CAST({cr} AS HUGEINT) * CAST({cr} AS HUGEINT)"
                f" END)")

    _ls_thr = (f"(CASE WHEN a.x = b.x AND a.y = b.y"
               f" THEN CAST({_ls_eps2} AS HUGEINT)"
               f" ELSE CAST({_ls_eps2} AS HUGEINT) * CAST("
               f"(b.x - a.x) * (b.x - a.x) + (b.y - a.y) * (b.y - a.y)"
               f" AS HUGEINT) END)")
    o["line_simplify"] = f"""
{derive.cte('anchors').replace("WITH ", "WITH RECURSIVE ", 1)},
pts AS (
  SELECT doc_id % 3 AS g,
         ROW_NUMBER() OVER (PARTITION BY doc_id % 3 ORDER BY doc_id)
           - 1 AS i,
         CAST(FLOOR(lon * 100.0) AS BIGINT) AS x,
         CAST(FLOOR(lat * 100.0) AS BIGINT) AS y
  FROM anchors WHERE doc_id % 11 = 4 AND lon IS NOT NULL
),
rec AS (
  SELECT g, MIN(i) AS i, MAX(i) AS j FROM pts GROUP BY g
  UNION ALL
  SELECT r.g,
         CASE WHEN d.s = 0 THEN r.i ELSE p.i END,
         CASE WHEN d.s = 0 THEN p.i ELSE r.j END
  FROM rec r
  JOIN pts a ON a.g = r.g AND a.i = r.i
  JOIN pts b ON b.g = r.g AND b.i = r.j
  JOIN pts p ON p.g = r.g AND p.i > r.i AND p.i < r.j
  CROSS JOIN (VALUES (0), (1)) d(s)
  WHERE {_ls_metric('p')} > {_ls_thr}
    AND NOT EXISTS (
      SELECT 1 FROM pts p2
      WHERE p2.g = r.g AND p2.i > r.i AND p2.i < r.j AND p2.i <> p.i
        AND ({_ls_metric('p2')} > {_ls_metric('p')}
             OR ({_ls_metric('p2')} = {_ls_metric('p')}
                 AND p2.i < p.i)))
),
kept AS (
  SELECT DISTINCT g, i FROM (
    SELECT g, i FROM rec UNION ALL SELECT g, j FROM rec) u
)
SELECT k.g, k.i, p.x, p.y
FROM kept k JOIN pts p ON p.g = k.g AND p.i = k.i
"""

    # Cell names (cell_names): the geohash/quadkey SQL twins emitted by
    # the same generators the engine parses (shift operators swapped
    # per dialect) — identical bisection arithmetic, base32/base-4
    # SUBSTRING lookups.
    o["cell_names"] = f"""
{derive.cte('anchors')},
codes AS (
  SELECT doc_id,
         {C.sql_geohash_code('lon', 'lat', 6, C._SHIFT_DUCKDB[0])} AS ghc,
         {C.sql_quadkey_code('lon', 'lat', 10, C._SHIFT_DUCKDB[0])} AS qkc
  FROM anchors WHERE doc_id % 5 = 1 AND lon IS NOT NULL
),
strs AS (
  SELECT doc_id,
         {C.sql_code_chars('ghc', C._GEOHASH32, 5, 6, C._SHIFT_DUCKDB[1])} AS gh6,
         {C.sql_code_chars('qkc', '0123', 2, 10, C._SHIFT_DUCKDB[1])} AS qk10
  FROM codes
)
SELECT doc_id, gh6, qk10, SUBSTRING(gh6, 1, 3) AS gh3 FROM strs
"""

    # Temporal stack stats (temporal_stats): per-source validity =
    # coverage (source s spans cols 18+s..21+s) minus its NoData hole
    # (h0=(s*11)%48 -> 0/11/22 literal per source); values are the
    # fixture closed form (quarter-multiples, so the ascending-source
    # chained add is exact), mean = one IEEE division, range via
    # GREATEST/LEAST over +-1e18 sentinels (identical to the engine's
    # -inf/+inf running extremes on n>0 pixels), quantize-first sums.
    def _ts_term(s):
        h0 = (s * 11) % 48
        valid = (f"(col BETWEEN {18 + s} AND {21 + s}"
                 f" AND NOT (ri >= {h0} AND ri < {h0 + 16}"
                 f" AND ci >= {h0} AND ci < {h0 + 16}))")
        v = (f"({s}*1000.0 + band*100.0 + col*7.0 + row*3.0"
             f" + ri*0.5 + ci*0.25"
             f" + CAST((ri*31 + ci*17) % 13 AS DOUBLE))")
        return (f"CASE WHEN {valid} THEN {v} ELSE 0.0 END",
                f"CASE WHEN {valid} THEN 1 ELSE 0 END",
                f"CASE WHEN {valid} THEN {v} ELSE -1.0e18 END",
                f"CASE WHEN {valid} THEN {v} ELSE 1.0e18 END",
                valid, v)

    _ts = [_ts_term(s) for s in range(3)]

    # TF-IDF (tfidf): UNNEST(STR_SPLIT) tokenizer twin; tf/dl and the
    # rational idf are the IDENTICAL float chain (one division each,
    # one multiply, one floor) — integer inputs make every operand
    # bit-identical before the IEEE ops.
    o["tfidf"] = """
WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id % 17 = 3),
toks AS (
  SELECT doc_id, LEN(STR_SPLIT(text, ' ')) AS dl,
         UNNEST(STR_SPLIT(text, ' ')) AS tok
  FROM d),
tf AS (SELECT doc_id, tok, COUNT(*) AS tf, MIN(dl) AS dl
       FROM toks GROUP BY 1, 2),
dft AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
n AS (SELECT COUNT(*) AS n_docs FROM d)
SELECT tf.doc_id, tf.tok, CAST(tf.tf AS BIGINT) AS tf,
       CAST(FLOOR((tf.tf / tf.dl)
                  * ((n.n_docs + 1.0) / (dft.df + 1.0))
                  * 4294967296.0 + 0.5) AS BIGINT) AS w_q
FROM tf JOIN dft USING (tok) CROSS JOIN n
"""

    # Two-raster local algebra (local_binary): source-1 × source-0 over
    # the joined tile keys (cols 19..21 = the sources' overlap), pair
    # validity = both holes avoided; quarter×quarter products live on
    # the exact 1/16 grid, quantized at 16.
    o["local_binary"] = f"""
WITH px AS (
  SELECT band, col, row, ri, ci,
         {_ts_term(0)[1]} AS c0, {_ts_term(1)[1]} AS c1,
         {_ts_term(0)[5]} AS v0, {_ts_term(1)[5]} AS v1
  FROM range(0,2) bs(band), range(19,22) cs(col), range(24,28) rs(row),
       range(0,64) ris(ri), range(0,64) cis(ci)
)
SELECT 'scene-1' AS source_id, 6 AS zoom, col, row,
       CAST(band AS INT) AS band,
       CAST(SUM(c0 * c1) AS BIGINT) AS n_valid,
       CAST(SUM(CASE WHEN c0 * c1 = 1 THEN
            CAST(FLOOR(v1 * v0 * 16.0 + 0.5) AS BIGINT)
            ELSE 0 END) AS BIGINT) AS q_sum
FROM px GROUP BY 3, 4, 5
"""

    o["temporal_stats"] = f"""
WITH px AS (
  SELECT band, col, row, ri, ci,
         {" + ".join(t[0] for t in _ts)} AS a,
         {" + ".join(t[1] for t in _ts)} AS n,
         GREATEST({", ".join(t[2] for t in _ts)}) AS mx,
         LEAST({", ".join(t[3] for t in _ts)}) AS mn
  FROM range(0,2) bs(band), range(18,24) cs(col), range(24,28) rs(row),
       range(0,64) ris(ri), range(0,64) cis(ci)
)
SELECT 6 AS zoom, col, row, CAST(band AS INT) AS band,
       CAST(SUM(CASE WHEN n > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_px,
       CAST(SUM(n) AS BIGINT) AS cnt_sum,
       CAST(SUM(CASE WHEN n > 0 THEN CAST(FLOOR(
            a / CAST(n AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT)
            ELSE 0 END) AS BIGINT) AS q_mean_sum,
       CAST(SUM(CASE WHEN n > 0 THEN CAST(FLOOR(
            (mx - mn) * 4.0 + 0.5) AS BIGINT)
            ELSE 0 END) AS BIGINT) AS q_range_sum
FROM px GROUP BY 2, 3, 4
"""

    # Temporal trend (temporal_trend): Σt/Σt²/Σv/Σtv from the same
    # per-source validity/value closed forms (_ts_term), literal t
    # multipliers (t*v ascending-source chained adds — exact on the
    # quarter grid), then the engine's float expression verbatim:
    # (n·stv − st·sv) / (n·st2 − st·st), one IEEE division.
    _tt = [_ts_term(s) for s in range(3)]
    _tt_v = [t[0] for t in _tt]   # CASE valid THEN v ELSE 0.0
    _tt_c = [t[1] for t in _tt]   # CASE valid THEN 1 ELSE 0
    o["temporal_trend"] = f"""
WITH px AS (
  SELECT band, col, row, ri, ci,
         {" + ".join(_tt_c)} AS n,
         {" + ".join(f"{s} * {c}" for s, c in enumerate(_tt_c))} AS st,
         {" + ".join(f"{s * s} * {c}" for s, c in enumerate(_tt_c))}
           AS st2,
         {" + ".join(_tt_v)} AS sv,
         {" + ".join(f"CAST({s} AS DOUBLE) * {v}"
                     for s, v in enumerate(_tt_v))} AS stv
  FROM range(0,2) bs(band), range(18,24) cs(col), range(24,28) rs(row),
       range(0,64) ris(ri), range(0,64) cis(ci)
), sl AS (
  -- single-scene tiles have NO n>=2 pixel but the engine still emits
  -- their (0, 0) row: keep every pixel and gate the division by CASE
  -- (n<2 can make the denominator 0 -> inf -> FLOOR cast error)
  SELECT band, col, row, n,
         CASE WHEN n >= 2 THEN CAST(FLOOR(
           (CAST(n AS DOUBLE) * stv - CAST(st AS DOUBLE) * sv)
           / (CAST(n AS DOUBLE) * CAST(st2 AS DOUBLE)
              - CAST(st AS DOUBLE) * CAST(st AS DOUBLE))
           * 1048576.0 + 0.5) AS BIGINT) ELSE 0 END AS qs
  FROM px
)
SELECT 6 AS zoom, col, row, CAST(band AS INT) AS band,
       CAST(SUM(CASE WHEN n >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_px2,
       CAST(SUM(qs) AS BIGINT) AS q_slope_sum
FROM sl GROUP BY 2, 3, 4
"""

    # Fill sinks (fill_sinks, fill_sinks_dist): the designed-basin DEM's
    # closed form — W = max(dem, pour) inside a basin (pour = the
    # basin's outer-ring minimum, sitting at the ring's top-left corner
    # of the tilted plane), W = dem elsewhere (the escape-corridor
    # argument in corpus.synth_dem_tiles). All quarter-grid exact.
    _fill_sql = """
WITH px AS (
  SELECT s, col, row,
         (row - 40) * 64 + ri AS rg, (col - 30) * 64 + ci AS cg
  FROM range(0,2) ss(s), range(30,34) cs(col), range(40,44) rs(row),
       range(0,64) ris(ri), range(0,64) cis(ci)
),
d AS (
  SELECT s, col, row,
         NOT (rg BETWEEN 200 AND 215 AND cg BETWEEN 20 AND 35) AS valid,
         (rg + 2 * cg) * 0.25
           - (CASE WHEN rg BETWEEN 40 AND 70 AND cg BETWEEN 50 AND 90
                   THEN 12.0 + 3.0 * s
                   WHEN rg BETWEEN 150 AND 180
                        AND cg BETWEEN 130 AND 200
                   THEN 25.0 + 5.0 * s ELSE 0.0 END) AS dem,
         CASE WHEN rg BETWEEN 40 AND 70 AND cg BETWEEN 50 AND 90
              THEN 34.25
              WHEN rg BETWEEN 150 AND 180 AND cg BETWEEN 130 AND 200
              THEN 101.75 ELSE NULL END AS pour
  FROM px
)
SELECT CONCAT('dem-', s) AS source_id, 0 AS band, col, row,
       CAST(SUM(CASE WHEN valid THEN 1 ELSE 0 END) AS BIGINT)
         AS n_valid,
       CAST(SUM(CASE WHEN valid AND pour IS NOT NULL AND pour > dem
                THEN 1 ELSE 0 END) AS BIGINT) AS n_filled,
       CAST(SUM(CASE WHEN valid THEN
            CAST(FLOOR(GREATEST(dem, COALESCE(pour, dem)) * 4.0 + 0.5)
                 AS BIGINT) ELSE 0 END) AS BIGINT) AS q_fill_sum
FROM d GROUP BY 1, 2, 3, 4
"""
    o["fill_sinks"] = _fill_sql
    o["fill_sinks_dist"] = _fill_sql

    # Segment-intersection join (segment_intersections): brute-force
    # pair test over the mod-folded segment fixture with the IDENTICAL
    # integer straddle signs and rational-point numerators (den pinned
    # to |cross| — the Voronoi representation trick, no gcd). Proper
    # crossings only: strict sign opposition on both tests.
    o["segment_intersections"] = derive.cte('anchors') + """,
segs AS (SELECT DISTINCT doc_id % 3001 AS m FROM anchors),
s AS (SELECT m AS seg_id, m % 89 AS x1, (m * 7) % 97 AS y1,
             (m % 89) + 1 + (m % 11) AS x2,
             ((m * 7) % 97) - 13 + ((m * 3) % 27) AS y2
      FROM segs),
d AS (
  SELECT a.seg_id AS a_id, b.seg_id AS b_id,
         a.x1 AS ax1, a.y1 AS ay1,
         a.x2 - a.x1 AS rx, a.y2 - a.y1 AS ry,
         b.x2 - b.x1 AS sx, b.y2 - b.y1 AS sy,
         (a.x2 - a.x1) * (b.y1 - a.y1)
           - (a.y2 - a.y1) * (b.x1 - a.x1) AS d1,
         (a.x2 - a.x1) * (b.y2 - a.y1)
           - (a.y2 - a.y1) * (b.x2 - a.x1) AS d2,
         (b.x2 - b.x1) * (a.y1 - b.y1)
           - (b.y2 - b.y1) * (a.x1 - b.x1) AS d3,
         (b.x2 - b.x1) * (a.y2 - b.y1)
           - (b.y2 - b.y1) * (a.x2 - b.x1) AS d4,
         (a.x2 - a.x1) * (b.y2 - b.y1)
           - (a.y2 - a.y1) * (b.x2 - b.x1) AS den0,
         (b.x1 - a.x1) * (b.y2 - b.y1)
           - (b.y1 - a.y1) * (b.x2 - b.x1) AS tn
  FROM s a JOIN s b ON a.seg_id % 2 = 0 AND b.seg_id % 2 = 1)
SELECT a_id, b_id,
       (CASE WHEN den0 < 0 THEN -1 ELSE 1 END)
         * (ax1 * den0 + rx * tn) AS num_x,
       (CASE WHEN den0 < 0 THEN -1 ELSE 1 END)
         * (ay1 * den0 + ry * tn) AS num_y,
       (CASE WHEN den0 < 0 THEN -1 ELSE 1 END) * den0 AS den
FROM d
WHERE ((d1 > 0 AND d2 < 0) OR (d1 < 0 AND d2 > 0))
  AND ((d3 > 0 AND d4 < 0) OR (d3 < 0 AND d4 > 0))
"""

    # Spherical k-means, 2 Lloyd iterations (kmeans_lloyd): the seed
    # CTE is the select_centroids Knuth order; each assignment is the
    # ROW_NUMBER cosine argmax with smallest-cid ties (the ivf_assign
    # twin); iteration-2 centroids are rebuilt with the IDENTICAL
    # (q_sum / q) / n two-division chain so both sides compare cosines
    # against byte-identical doubles. SUM(BIGINT) → HUGEINT cast back.
    o["kmeans_lloyd"] = """
WITH cent0 AS (
  SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec FROM embeddings
  ORDER BY ((vec_id % 2147483648) * 2654435761) % 2147483648, vec_id
  LIMIT 8),
v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
a1 AS (
  SELECT vec_id, cid FROM (
    SELECT v.vec_id, c.cid,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id
             ORDER BY LIST_COSINE_SIMILARITY(v.vec, c.cvec) DESC,
                      c.cid) AS rn
    FROM v CROSS JOIN cent0 c) t WHERE rn = 1),
s1 AS (
  SELECT a1.cid, kk.k AS i,
         SUM(CAST(FLOOR(vec[kk.k + 1] * 1073741824.0 + 0.5)
                  AS BIGINT)) AS q_sum,
         COUNT(*) AS n
  FROM a1 JOIN v USING (vec_id), range(0, 64) kk(k)
  GROUP BY 1, 2),
cent1 AS (
  SELECT cid, LIST(q_sum / 1073741824.0 / n ORDER BY i) AS cvec
  FROM s1 GROUP BY cid),
a2 AS (
  SELECT vec_id, cid FROM (
    SELECT v.vec_id, c.cid,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id
             ORDER BY LIST_COSINE_SIMILARITY(v.vec, c.cvec) DESC,
                      c.cid) AS rn
    FROM v CROSS JOIN cent1 c) t WHERE rn = 1)
SELECT a2.cid AS centroid_id, CAST(kk.k AS INT) AS i,
       CAST(SUM(CAST(FLOOR(vec[kk.k + 1] * 1073741824.0 + 0.5)
                     AS BIGINT)) AS BIGINT) AS q_sum,
       CAST(COUNT(*) AS BIGINT) AS n_vecs
FROM a2 JOIN v USING (vec_id), range(0, 64) kk(k)
GROUP BY 1, 2
"""

    # Gram matrix + mean vector (gram_matrix, mean_vector): identical
    # per-term floor-quantization over array subscripts (1-based in
    # DuckDB), CAST to DOUBLE before multiplying so float32 products
    # are exact, integer sums order-free.
    o["gram_matrix"] = """
SELECT CAST(i.k AS INT) AS i, CAST(j.k AS INT) AS j,
       CAST(SUM(FLOOR(CAST(embedding[i.k + 1] AS DOUBLE)
                      * CAST(embedding[j.k + 1] AS DOUBLE)
                      * 1073741824.0 + 0.5)) AS BIGINT) AS q_gram,
       CAST(COUNT(*) AS BIGINT) AS n_vecs
FROM embeddings, range(0, 64) i(k), range(0, 64) j(k)
WHERE j.k >= i.k
GROUP BY 1, 2
"""

    o["mean_vector"] = """
SELECT CAST(i.k AS INT) AS i,
       CAST(SUM(FLOOR(CAST(embedding[i.k + 1] AS DOUBLE)
                      * 1073741824.0 + 0.5)) AS BIGINT) AS q_sum,
       CAST(COUNT(*) AS BIGINT) AS n_vecs
FROM embeddings, range(0, 64) i(k)
GROUP BY 1
"""

    # Mann-Kendall + Theil-Sen (mann_kendall, theil_sen): calibrated
    # per-source closed forms w_s = gain_s·v_s + offset_s (CASE-gated
    # by the same validity), pairwise SIGNs / slopes, median-of-three
    # via the greatest/least selection identity.
    _mk = [_ts_term(s) for s in range(3)]
    _mk_c = [t[1] for t in _mk]
    _mk_w = [f"({MK_GAINS[s]!r} * ({t[5]}) + {MK_OFFSETS[s]!r})"
             for s, t in enumerate(_mk)]
    _mk_px = f"""
px AS (
  SELECT band, col, row, ri, ci,
         {_mk_c[0]} AS c0, {_mk_c[1]} AS c1, {_mk_c[2]} AS c2,
         {_mk_w[0]} AS w0, {_mk_w[1]} AS w1, {_mk_w[2]} AS w2
  FROM range(0,2) bs(band), range(18,24) cs(col), range(24,28) rs(row),
       range(0,64) ris(ri), range(0,64) cis(ci)
)"""
    o["mann_kendall"] = f"""
WITH {_mk_px}, sl AS (
  SELECT band, col, row,
         c0*c1 + c1*c2 + c0*c2 AS p,
         c0*c1 * CAST(SIGN(w1 - w0) AS BIGINT)
       + c1*c2 * CAST(SIGN(w2 - w1) AS BIGINT)
       + c0*c2 * CAST(SIGN(w2 - w0) AS BIGINT) AS s
  FROM px
)
SELECT 6 AS zoom, col, row, CAST(band AS INT) AS band,
       CAST(SUM(CASE WHEN p >= 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_px_pairs,
       CAST(SUM(p) AS BIGINT) AS p_sum,
       CAST(SUM(CASE WHEN p >= 1 THEN s ELSE 0 END) AS BIGINT) AS s_sum
FROM sl GROUP BY 2, 3, 4
"""

    # Best-pixel composite (temporal_composite): ordered CASE argmax —
    # branch k fires iff source k is valid and >= every LATER valid
    # source (w's are identical doubles on both sides, so tie
    # comparisons agree bit-for-bit); earliest index wins ties exactly
    # like the engine's strict-> ascending sweep.
    o["temporal_composite"] = f"""
WITH {_mk_px}, sl AS (
  SELECT band, col, row, c0 + c1 + c2 AS n,
         CASE WHEN c0 = 1 AND (c1 = 0 OR w0 >= w1)
                         AND (c2 = 0 OR w0 >= w2) THEN w0
              WHEN c1 = 1 AND (c2 = 0 OR w1 >= w2) THEN w1
              ELSE w2 END AS best,
         CASE WHEN c0 = 1 AND (c1 = 0 OR w0 >= w1)
                         AND (c2 = 0 OR w0 >= w2) THEN 0
              WHEN c1 = 1 AND (c2 = 0 OR w1 >= w2) THEN 1
              ELSE 2 END AS src
  FROM px
)
SELECT 6 AS zoom, col, row, CAST(band AS INT) AS band,
       CAST(SUM(CASE WHEN n >= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_px,
       CAST(SUM(CASE WHEN n >= 1 THEN
            CAST(FLOOR(best * 4.0 + 0.5) AS BIGINT)
            ELSE 0 END) AS BIGINT) AS q_best_sum,
       CAST(SUM(CASE WHEN n >= 1 THEN src ELSE 0 END) AS BIGINT)
         AS src_sum
FROM sl GROUP BY 2, 3, 4
"""

    # Median composite (temporal_median): median-of-three identity for
    # 3-valid pixels, exact dyadic pair means for 2-valid, passthrough
    # for 1-valid; addition is exact on the calibrated quarter grid so
    # operand order cannot differ.
    o["temporal_median"] = f"""
WITH {_mk_px}, sl AS (
  SELECT band, col, row, c0 + c1 + c2 AS n,
         CASE WHEN c0 + c1 + c2 = 3 THEN GREATEST(
                LEAST(w0, w1), LEAST(GREATEST(w0, w1), w2))
              WHEN c0 = 1 AND c1 = 1 THEN (w0 + w1) / 2.0
              WHEN c0 = 1 AND c2 = 1 THEN (w0 + w2) / 2.0
              WHEN c1 = 1 AND c2 = 1 THEN (w1 + w2) / 2.0
              WHEN c0 = 1 THEN w0
              WHEN c1 = 1 THEN w1
              WHEN c2 = 1 THEN w2 ELSE 0.0 END AS med
  FROM px
)
SELECT 6 AS zoom, col, row, CAST(band AS INT) AS band,
       CAST(SUM(CASE WHEN n >= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_px,
       CAST(SUM(CASE WHEN n >= 1 THEN
            CAST(FLOOR(med * 4.0 + 0.5) AS BIGINT)
            ELSE 0 END) AS BIGINT) AS q_med_sum
FROM sl GROUP BY 2, 3, 4
"""

    o["theil_sen"] = f"""
WITH {_mk_px}, sl AS (
  SELECT band, col, row, c0*c1 + c1*c2 + c0*c2 AS p,
         CASE
           WHEN c0 + c1 + c2 = 3 THEN GREATEST(
             LEAST((w1 - w0), (w2 - w1)),
             LEAST(GREATEST((w1 - w0), (w2 - w1)), (w2 - w0) / 2.0))
           WHEN c0 * c1 = 1 THEN (w1 - w0)
           WHEN c1 * c2 = 1 THEN (w2 - w1)
           WHEN c0 * c2 = 1 THEN (w2 - w0) / 2.0
           ELSE 0.0 END AS med
  FROM px
)
SELECT 6 AS zoom, col, row, CAST(band AS INT) AS band,
       CAST(SUM(CASE WHEN p >= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_px1,
       CAST(SUM(CASE WHEN p >= 1 THEN
            CAST(FLOOR(med * 1048576.0 + 0.5) AS BIGINT)
            ELSE 0 END) AS BIGINT) AS q_ts_sum
FROM sl GROUP BY 2, 3, 4
"""

    # Convex hull (convex_hull): hull VERTICES via the Caratheodory
    # membership test (p is a vertex iff p is in the convex hull of no
    # <=3 other points: no segment, no nondegenerate triangle), all in
    # exact int64 cross/dot products; area2 via the order-free CCW
    # edge-set shoelace (a directed vertex pair is a hull edge iff every
    # other hull vertex lies strictly left), matching the engine's
    # seq-ordered closed-ring sum bit for bit.
    # The pts→verts→edges→areas chain is shared with the delaunay_tin
    # oracle (same point sets, same exact-integer hull machinery).
    hull_ctes = f"""
{derive.cte('anchors')},
pts AS (
  SELECT DISTINCT doc_id % 4 AS g,
         CAST(FLOOR(lon * 1000.0) AS BIGINT) AS x,
         CAST(FLOOR(lat * 1000.0) AS BIGINT) AS y
  FROM anchors WHERE doc_id % 7 = 3 AND lon IS NOT NULL
),
verts AS (
  SELECT p.g, p.x, p.y FROM pts p
  WHERE NOT EXISTS (
    SELECT 1 FROM pts q, pts r
    WHERE q.g = p.g AND r.g = p.g
      AND NOT (q.x = p.x AND q.y = p.y)
      AND NOT (r.x = p.x AND r.y = p.y)
      AND NOT (q.x = r.x AND q.y = r.y)
      AND (r.x - q.x) * (p.y - q.y) - (r.y - q.y) * (p.x - q.x) = 0
      AND (p.x - q.x) * (r.x - p.x) + (p.y - q.y) * (r.y - p.y) >= 0
  ) AND NOT EXISTS (
    SELECT 1 FROM pts q, pts r, pts s
    WHERE q.g = p.g AND r.g = p.g AND s.g = p.g
      AND NOT (q.x = p.x AND q.y = p.y)
      AND NOT (r.x = p.x AND r.y = p.y)
      AND NOT (s.x = p.x AND s.y = p.y)
      AND (r.x - q.x) * (s.y - q.y) - (r.y - q.y) * (s.x - q.x) <> 0
      AND (
        ((r.x - q.x) * (s.y - q.y) - (r.y - q.y) * (s.x - q.x) > 0
         AND (r.x - q.x) * (p.y - q.y) - (r.y - q.y) * (p.x - q.x) >= 0
         AND (s.x - r.x) * (p.y - r.y) - (s.y - r.y) * (p.x - r.x) >= 0
         AND (q.x - s.x) * (p.y - s.y) - (q.y - s.y) * (p.x - s.x) >= 0)
        OR
        ((r.x - q.x) * (s.y - q.y) - (r.y - q.y) * (s.x - q.x) < 0
         AND (r.x - q.x) * (p.y - q.y) - (r.y - q.y) * (p.x - q.x) <= 0
         AND (s.x - r.x) * (p.y - r.y) - (s.y - r.y) * (p.x - r.x) <= 0
         AND (q.x - s.x) * (p.y - s.y) - (q.y - s.y) * (p.x - s.x) <= 0)
      )
  )
),
edges AS (
  SELECT a.g, a.x AS qx, a.y AS qy, b.x AS rx, b.y AS ry
  FROM verts a JOIN verts b
    ON a.g = b.g AND NOT (a.x = b.x AND a.y = b.y)
  WHERE NOT EXISTS (
    SELECT 1 FROM verts s
    WHERE s.g = a.g
      AND NOT (s.x = a.x AND s.y = a.y)
      AND NOT (s.x = b.x AND s.y = b.y)
      AND (b.x - a.x) * (s.y - a.y) - (b.y - a.y) * (s.x - a.x) <= 0
  )
),
areas AS (
  SELECT g, CAST(SUM(qx * ry - rx * qy) AS BIGINT) AS area2
  FROM edges GROUP BY g
)"""

    o["convex_hull"] = f"""
{hull_ctes}
SELECT v.g, v.x, v.y, COALESCE(a.area2, 0) AS area2
FROM verts v LEFT JOIN areas a ON a.g = v.g
"""

    # Hull diameter (hull_diameter): the same Caratheodory vertex
    # derivation, then brute-force pair argmax under the same total
    # order (d2 DESC, lexicographic canonical pair ASC).
    o["hull_diameter"] = f"""
{hull_ctes},
pairs AS (
  SELECT a.g, a.x AS ax, a.y AS ay, b.x AS bx, b.y AS b_y,
         (b.x - a.x) * (b.x - a.x) + (b.y - a.y) * (b.y - a.y) AS d2
  FROM verts a JOIN verts b
    ON a.g = b.g AND (a.x < b.x OR (a.x = b.x AND a.y < b.y))),
best AS (
  SELECT g, ax, ay, bx, b_y, d2,
         ROW_NUMBER() OVER (PARTITION BY g ORDER BY d2 DESC,
                            ax ASC, ay ASC, bx ASC, b_y ASC) AS rn
  FROM pairs),
nh AS (SELECT g, COUNT(*) AS n_hull FROM verts GROUP BY 1)
SELECT n.g, CAST(n.n_hull AS BIGINT) AS n_hull,
       CAST(b.d2 AS BIGINT) AS diam2,
       CAST(b.ax AS BIGINT) AS ax, CAST(b.ay AS BIGINT) AS ay,
       CAST(b.bx AS BIGINT) AS bx, CAST(b.b_y AS BIGINT) AS b_y
FROM nh n JOIN best b ON b.g = n.g AND b.rn = 1
"""

    # Delaunay TIN (delaunay_tin): triangulation-invariant summary —
    # n/b from the shared hull machinery (boundary = strict vertices
    # plus points strictly between hull-edge endpoints), Euler's
    # T = 2n-b-2 / E = 3n-b-3, area2 = the order-free edge-set
    # shoelace. Every valid full triangulation of the point set
    # (Delaunay diagonals are tie-broken on cocircular quads) shares
    # these EXACTLY, so the compare is value-exact without pinning
    # the engine's diagonal choices.
    # Exact Delaunay + TIN rasterization (delaunay_exact, tin_raster)
    # over the parabola fixture (unique triangulation — see
    # _parabola_pts): brute-force Delaunay = CCW triples with no point
    # strictly inside the circumcircle, int64 incircle dets.
    def _incircle_gt0(a, b, c, s) -> str:
        d = {}
        for k, p in (("a", a), ("b", b), ("c", c)):
            d[k + "dx"] = f"({p}.x - {s}.x)"
            d[k + "dy"] = f"({p}.y - {s}.y)"
        return (f"(({d['adx']}*{d['adx']} + {d['ady']}*{d['ady']})"
                f" * ({d['bdx']}*{d['cdy']} - {d['bdy']}*{d['cdx']})"
                f" - ({d['bdx']}*{d['bdx']} + {d['bdy']}*{d['bdy']})"
                f" * ({d['adx']}*{d['cdy']} - {d['ady']}*{d['cdx']})"
                f" + ({d['cdx']}*{d['cdx']} + {d['cdy']}*{d['cdy']})"
                f" * ({d['adx']}*{d['bdy']} - {d['ady']}*{d['bdx']})"
                f") > 0")

    parab_ctes = """
ppts AS (
  SELECT g, x, x * x AS y, x % 7 + 1 + g AS z FROM (
    SELECT DISTINCT doc_id % 2 AS g, 3 + (doc_id * 7) % 89 AS x
    FROM documents) d
),
tri AS (
  SELECT p.g, p.x AS ax, p.y AS ay, q.x AS bxx, q.y AS byy,
         r.x AS cxx, r.y AS cyy, p.z AS za, q.z AS zb, r.z AS zc,
         (q.x - p.x) * (r.y - p.y) - (q.y - p.y) * (r.x - p.x) AS area2
  FROM ppts p
  JOIN ppts q ON q.g = p.g AND q.x > p.x
  JOIN ppts r ON r.g = p.g AND r.x > q.x
  WHERE NOT EXISTS (
    SELECT 1 FROM ppts s
    WHERE s.g = p.g AND s.x NOT IN (p.x, q.x, r.x)
      AND """ + _incircle_gt0("p", "q", "r", "s") + """
  )
)"""

    o["delaunay_exact"] = f"""
WITH {parab_ctes}
SELECT g, ax, ay, bxx AS bx, byy AS "by", cxx AS cx, cyy AS cy, area2
FROM tri
"""

    # Voronoi vertices (voronoi_vertices): circumcenter rationals over
    # the same brute-forced Delaunay CTE, den pinned to 2*area2.
    o["voronoi_vertices"] = f"""
WITH {parab_ctes}
SELECT g,
       2 * area2 * ax + ((cyy - ay) * ((bxx - ax) * (bxx - ax) + (byy - ay) * (byy - ay))
                         - (byy - ay) * ((cxx - ax) * (cxx - ax) + (cyy - ay) * (cyy - ay)))
         AS cnum_x,
       2 * area2 * ay + ((bxx - ax) * ((cxx - ax) * (cxx - ax) + (cyy - ay) * (cyy - ay))
                         - (cxx - ax) * ((bxx - ax) * (bxx - ax) + (byy - ay) * (byy - ay)))
         AS cnum_y,
       2 * area2 AS den
FROM tri
"""

    _wa = '((t.cxx - t.bxx) * (gr.py - t.byy) - (t.cyy - t.byy) * (gr.px - t.bxx))'
    _wb = '((t.ax - t.cxx) * (gr.py - t.cyy) - (t.ay - t.cyy) * (gr.px - t.cxx))'
    _wc = '((t.bxx - t.ax) * (gr.py - t.ay) - (t.byy - t.ay) * (gr.px - t.ax))'
    o["tin_raster"] = f"""
WITH {parab_ctes},
grid AS (
  SELECT 4 * i.k AS px, 300 * j.k AS py
  FROM range(0, 25) i(k), range(0, 29) j(k)
)
SELECT DISTINCT t.g, gr.px, gr.py,
       CAST({_wa} * t.za + {_wb} * t.zb + {_wc} * t.zc AS DOUBLE)
         / t.area2 AS val
FROM tri t JOIN grid gr
  ON {_wa} >= 0 AND {_wb} >= 0 AND {_wc} >= 0
"""

    o["delaunay_tin"] = f"""
{hull_ctes},
onedge AS (
  SELECT DISTINCT p.g, p.x, p.y
  FROM pts p JOIN edges e ON e.g = p.g
  WHERE (e.rx - e.qx) * (p.y - e.qy) - (e.ry - e.qy) * (p.x - e.qx) = 0
    AND (p.x - e.qx) * (e.rx - p.x) + (p.y - e.qy) * (e.ry - p.y) > 0
),
boundary AS (
  SELECT g, x, y FROM verts UNION SELECT g, x, y FROM onedge
),
np AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n FROM pts GROUP BY 1),
nb AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS b FROM boundary GROUP BY 1)
SELECT np.g, np.n AS n_points, nb.b AS n_boundary,
       2 * np.n - nb.b - 2 AS n_triangles,
       3 * np.n - nb.b - 3 AS n_edges,
       a.area2 AS area2_sum
FROM np JOIN nb ON nb.g = np.g JOIN areas a ON a.g = np.g
"""

    # Snapshot compaction (snapshot_compact): v3 = the COW-deleted
    # state, v4 = its compaction — logically IDENTICAL row sets, so
    # the oracle emits the v3 derivation twice. Compaction is a
    # layout-only rewrite; the value gate proves content invariance.
    o["snapshot_compact"] = f"""
{derive.cte('anchors')},
base AS (SELECT doc_id, lon FROM anchors
         WHERE doc_id % 3 IN (0, 1)
           AND doc_id NOT BETWEEN 1000 AND 3000),
states AS (
  SELECT 3 AS version, doc_id, lon FROM base
  UNION ALL
  SELECT 4, doc_id, lon FROM base
)
SELECT CAST(version AS INT) AS version, doc_id % 8 AS g,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(FLOOR(lon * 256.0) AS BIGINT)) AS BIGINT) AS qlon
FROM states GROUP BY 1, 2
"""

    # Product quantization (pq_codes / pq_topk): Knuth-hash codeword
    # selection (the IVF oracle's snippet), per-subspace squared-L2
    # left folds identical to the engine's dim-by-dim accumulation,
    # argmin with smallest-j ties, 4-bit packing as an integer sum, and
    # the 2^24-quantized order-free ADC integer sum.
    def _pq_d2(a: str, b: str, m: int) -> str:
        lo = m * (EMB_DIMS // sim.PQ_M) + 1
        return " + ".join(
            f"({a}[{i}] - {b}[{i}]) * ({a}[{i}] - {b}[{i}])"
            for i in range(lo, lo + EMB_DIMS // sim.PQ_M))

    _pq_cb = f"""cb AS (
  SELECT ROW_NUMBER() OVER (ORDER BY centroid_id) - 1 AS j, cvec FROM (
    SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS cvec
    FROM embeddings
    ORDER BY ((vec_id % 2147483648) * 2654435761) % 2147483648, vec_id
    LIMIT {sim.PQ_K})),
v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
d AS ({' UNION ALL '.join(
    f"SELECT v.vec_id, {m} AS m, CAST({1 << (4 * m)} AS BIGINT) AS mult, "
    f"cb.j, {_pq_d2('v.vec', 'cb.cvec', m)} AS d2 "
    f"FROM v CROSS JOIN cb" for m in range(sim.PQ_M))}),
codes AS (
  SELECT vec_id, m, mult, j AS code FROM (
    SELECT vec_id, m, mult, j, ROW_NUMBER() OVER (
      PARTITION BY vec_id, m ORDER BY d2 ASC, j ASC) AS rn FROM d)
  WHERE rn = 1)"""
    o["pq_codes"] = f"""
WITH {_pq_cb}
SELECT vec_id, CAST(SUM(code * mult) AS BIGINT) AS pq_code
FROM codes GROUP BY vec_id
"""
    o["pq_topk"] = f"""
WITH {_pq_cb},
q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id % 50 = 0),
dtab AS ({' UNION ALL '.join(
    f"SELECT q.query_id, {m} AS m, cb.j, "
    f"CAST(FLOOR(({_pq_d2('q.qv', 'cb.cvec', m)}) "
    f"* CAST(16777216.0 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) "
    f"AS dq FROM q CROSS JOIN cb" for m in range(sim.PQ_M))}),
adc AS (
  SELECT t.query_id, c.vec_id, CAST(SUM(t.dq) AS BIGINT) AS adc_q
  FROM codes c JOIN dtab t ON t.m = c.m AND t.j = c.code
  WHERE c.vec_id <> t.query_id
  GROUP BY 1, 2)
SELECT query_id, vec_id, adc_q, CAST(rank AS BIGINT) AS rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
    ORDER BY adc_q ASC, vec_id ASC) AS rank FROM adc)
WHERE rank <= 10
"""

    # Ordinary kriging (kriging): the oracle is EMITTED by the engine's
    # own pinned adjugate recursion running over SQL-string operands
    # (kriging.Sym) — DuckDB re-executes the identical +,-,*,/,sqrt
    # chain from the sample literals, so every double matches
    # bit-for-bit; per-pixel quantized contributions integer-sum per
    # tile. Sample gammas and inverse entries are named MATERIALIZED
    # CTE columns so the per-pixel fold references 3-char operands.
    from geotrellis_contrib_spark.operators.kriging import (
        Sym, _inv, sql_gamma_spherical, sql_sqrt)

    _kp = sorted(KRIG_SAMPLES)
    _kc0, _kc1, _ka = KRIG_VGRAM
    _kk = len(_kp)

    def _k_h(x1, y1, x2, y2) -> Sym:
        dx = Sym.lit(x1) - Sym.lit(x2)
        dy = Sym.lit(y1) - Sym.lit(y2)
        return sql_sqrt(dx * dx + dy * dy)

    _kg_cols = []
    for _i in range(_kk):
        for _j in range(_kk):
            if _i < _j:
                g = sql_gamma_spherical(
                    _k_h(_kp[_i][0], _kp[_i][1], _kp[_j][0], _kp[_j][1]),
                    _kc0, _kc1, _ka)
                _kg_cols.append(f"{g.s} AS g{_i}{_j}")
    _kA = [[None] * (_kk + 1) for _ in range(_kk + 1)]
    for _i in range(_kk):
        for _j in range(_kk):
            _kA[_i][_j] = (Sym.lit(0.0) if _i == _j
                           else Sym(f"g{min(_i, _j)}{max(_i, _j)}"))
        _kA[_i][_kk] = Sym.lit(1.0)
        _kA[_kk][_i] = Sym.lit(1.0)
    _kA[_kk][_kk] = Sym.lit(0.0)
    _kinv, _ = _inv(_kA)
    _ki_cols = [f"{_kinv[_i][_j].s} AS i{_i}{_j}"
                for _i in range(_kk + 1) for _j in range(_kk + 1)]
    _kb_cols = []
    for _j in range(_kk):
        dxs = Sym("(CAST(gx AS DOUBLE) + CAST(0.5 AS DOUBLE))") \
            - Sym.lit(_kp[_j][0])
        dys = Sym("(CAST(gy AS DOUBLE) + CAST(0.5 AS DOUBLE))") \
            - Sym.lit(_kp[_j][1])
        g = sql_gamma_spherical(sql_sqrt(dxs * dxs + dys * dys),
                                _kc0, _kc1, _ka)
        _kb_cols.append(f"{g.s} AS b{_j}")
    _kval = None
    for _i in range(_kk):
        _w = None
        for _j in range(_kk + 1):
            _bj = Sym(f"b{_j}") if _j < _kk else Sym.lit(1.0)
            _term = Sym(f"i{_i}{_j}") * _bj
            _w = _term if _w is None else _w + _term
        _term = _w * Sym.lit(_kp[_i][2])
        _kval = _term if _kval is None else _kval + _term
    o["kriging"] = f"""
WITH g AS MATERIALIZED (SELECT {', '.join(_kg_cols)}),
inv AS MATERIALIZED (SELECT {', '.join(_ki_cols)} FROM g),
px AS (
  SELECT c, r, c * 64 + cx AS gx, r * 64 + cy AS gy
  FROM range(18,22) cs(c), range(24,28) rs(r),
       range(0,64) xs(cx), range(0,64) ys(cy)
), b AS (
  SELECT c, r, {', '.join(_kb_cols)} FROM px
), v AS (
  SELECT c, r,
         CAST(FLOOR(({_kval.s} * CAST(1048576.0 AS DOUBLE))
                    + CAST(0.5 AS DOUBLE)) AS BIGINT) AS q
  FROM b, inv
)
SELECT CAST(6 AS INT) AS zoom, CAST(c AS BIGINT) AS col,
       CAST(r AS BIGINT) AS row, CAST(SUM(q) AS BIGINT) AS ksum,
       CAST(COUNT(*) AS BIGINT) AS n_px
FROM v GROUP BY 1, 2, 3
"""

    # BM25 ranked retrieval (bm25_topk): the rational-idf quantized
    # chain replayed term-by-term — same split/tf/df/avgdl, the same
    # +,*,/ expression ORDER (every decimal literal forced DOUBLE:
    # DuckDB bare decimals are DECIMALs and would compute exact-decimal
    # instead of IEEE), floor to the 2^32 grid, integer sum, rank.
    _bm_vals = ", ".join(f"({qid}, '{qt}')" for qid, qt in [
        (0, "spark join fast"), (1, "table scan"),
        (2, "window agg stream"), (3, "hash merge"),
        (4, "sort order key"), (5, "vector column batch")])
    _d = "CAST({} AS DOUBLE)".format
    _bm_idf = (f"((c.n_docs - dft.df) + {_d('0.5')}) "
               f"/ (dft.df + {_d('0.5')})")
    _bm_tfn = (f"(tf.tf * {_d('2.2')}) / (tf.tf + {_d('1.2')} "
               f"* ({_d('0.25')} + {_d('0.75')} "
               f"* (CAST(tf.dl AS DOUBLE) "
               f"/ (CAST(c.sum_dl AS DOUBLE) / c.n_docs))))")
    o["bm25_topk"] = f"""
WITH q(query_id, qtext) AS (VALUES {_bm_vals}),
qt AS (
  SELECT DISTINCT query_id, tok FROM (
    SELECT query_id, unnest(string_split(qtext, ' ')) AS tok FROM q)
), toks AS (
  SELECT doc_id, len(string_split(text, ' ')) AS dl,
         unnest(string_split(text, ' ')) AS tok
  FROM documents
), hits AS (
  SELECT t.doc_id, t.dl, t.tok
  FROM toks t JOIN (SELECT DISTINCT tok FROM qt) v USING (tok)
), tf AS (
  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf,
         MIN(dl) AS dl
  FROM hits GROUP BY 1, 2
), dft AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1
), c AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_dl
  FROM documents
), sc AS (
  SELECT qt.query_id, tf.doc_id,
         CAST(FLOOR((({_bm_idf}) * ({_bm_tfn}))
                    * {_d('4294967296.0')} + {_d('0.5')}) AS BIGINT)
           AS cq
  FROM tf JOIN dft USING (tok) JOIN qt USING (tok), c
), pd AS (
  SELECT query_id, doc_id, CAST(SUM(cq) AS BIGINT) AS score_q
  FROM sc GROUP BY 1, 2
)
SELECT CAST(query_id AS INT) AS query_id, doc_id, score_q,
       CAST(rank AS BIGINT) AS rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY score_q DESC, doc_id ASC)
               AS rank FROM pd)
WHERE rank <= 10
"""

    # Vectorize (vectorize): the nested-rectangle fixture's polygons
    # rebuilt closed-form — integer lattice corners, the engine's
    # canonical order (exterior clockwise-on-screen from the min vertex:
    # east first; holes counterclockwise: south first), full WKT string
    # equality. kind 0 = frame (exterior + hole ring), 1 = nested solid.
    def _wkt_pt(x: str, y: str) -> str:
        return (f"CAST({x} AS VARCHAR), ' ', CAST({y} AS VARCHAR)")

    def _wkt_ring(x0: str, y0: str, x1: str, y1: str,
                  hole: bool) -> str:
        if hole:   # min vertex, then SOUTH first (ccw on screen)
            seq = [(x0, y0), (x0, y1), (x1, y1), (x1, y0), (x0, y0)]
        else:      # min vertex, then EAST first (cw on screen)
            seq = [(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)]
        inner = ", ', ', ".join(_wkt_pt(x, y) for x, y in seq)
        return f"CONCAT('(', {inner}, ')')"

    _v_ext = _wkt_ring("x0", "y0", "x0 + 70", "y0 + 70", hole=False)
    _v_hole = _wkt_ring("x0 + w", "y0 + w", "x0 + 70 - w", "y0 + 70 - w",
                        hole=True)
    _v_solid = _wkt_ring("x0 + w + 10", "y0 + w + 10",
                         "x0 + 60 - w", "y0 + 60 - w", hole=False)
    o["vectorize"] = f"""
WITH base AS (
  SELECT s, band, k, kind,
         (18 + s) * 64 + 12 + 82 * k + 2 * s + band AS x0,
         1536 + 12 + 82 * k + 2 * s + band AS y0,
         8 + 2 * k AS w
  FROM range(0,3) ss(s), range(0,2) bs(band), range(0,3) ks(k),
       range(0,2) kk(kind)
)
SELECT CONCAT('scene-', CAST(s AS VARCHAR)) AS source_id,
       CAST(band AS BIGINT) AS band,
       CAST(CASE WHEN kind = 0 THEN y0 ELSE y0 + w + 10 END AS BIGINT)
         * 4194304
         + CAST(CASE WHEN kind = 0 THEN x0 ELSE x0 + w + 10 END
                AS BIGINT) AS region_id,
       CAST(CASE WHEN kind = 0 THEN 2 ELSE 1 END AS BIGINT) AS n_rings,
       CAST(CASE WHEN kind = 0
                 THEN 70 * 70 - (70 - 2 * w) * (70 - 2 * w)
                 ELSE (50 - 2 * w) * (50 - 2 * w) END AS BIGINT)
         AS n_pixels,
       CAST(CASE WHEN kind = 0 THEN 4 * 70 + 4 * (70 - 2 * w)
                 ELSE 4 * (50 - 2 * w) END AS BIGINT) AS perimeter,
       CASE WHEN kind = 0
            THEN CONCAT('POLYGON (', {_v_ext}, ', ', {_v_hole}, ')')
            ELSE CONCAT('POLYGON (', {_v_solid}, ')') END AS wkt
FROM base
"""

    # Sigmoidal contrast (sigmoidal_contrast): the normalized logistic
    # replayed with identical expression ORDER (alpha-u, then *beta,
    # then EXP) so both sides feed exp the same double; the half-up
    # floor has a pytest-verified >=1e-4 margin on every fixture value.
    _sg_u = ("LEAST(GREATEST((val - 0.0) / (3400.0 - 0.0), 0.0), 1.0)")
    _sg = (f"FLOOR(((1.0/(1.0 + EXP(10.0*(0.5 - {_sg_u}))) "
           f"- 1.0/(1.0 + EXP(10.0*0.5))) "
           f"/ (1.0/(1.0 + EXP(10.0*(0.5 - 1.0))) "
           f"- 1.0/(1.0 + EXP(10.0*0.5)))) * 255.0 + 0.5)")
    o["sigmoidal_contrast"] = f"""
WITH px AS (
  SELECT s, band, tc, tr, {_fval('r', 'c')} AS val
  FROM range(0,3) ss(s), range(0,2) bs(band), range(0,4) tcs(tc),
       range(0,4) trs(tr), range(0,64) rs(r), range(0,64) cs(c)
)
SELECT CAST(s AS BIGINT) AS source_idx,
       CAST(18 + tc + s AS BIGINT) AS col,
       CAST(24 + tr AS BIGINT) AS row,
       CAST(band AS BIGINT) AS band,
       SUM(CASE WHEN val <> -9999.0 THEN {_sg} ELSE 0.0 END) AS px_sum,
       CAST(SUM(CASE WHEN val <> -9999.0 THEN 1 ELSE 0 END) AS BIGINT)
         AS px_count
FROM px
GROUP BY 1, 2, 3, 4
"""

    # Baseline-JPEG variant (geotiff_read_jpeg): the field sampled at
    # aligned 8x8-block corners (r//8*8, c//8*8 — blocks never cross
    # tile edges since 8 | 64), broadcast block-constant, reduced to
    # (round(4*val) % 255) + 1 with NoData -> 0; block-constant + unit
    # quant decodes bit-exactly, so plain integer sums gate the codec.
    o["geotiff_read_jpeg"] = f"""
WITH px AS (
  SELECT s, band, tc, tr, {_fval('(r//8)*8', '(c//8)*8')} AS val
  FROM range(0,3) ss(s), range(0,2) bs(band), range(0,4) tcs(tc),
       range(0,4) trs(tr), range(0,64) rs(r), range(0,64) cs(c)
), w AS (
  SELECT s, band, tc, tr,
         CASE WHEN val <> -9999.0
              THEN (CAST(val * 4 AS BIGINT) % 255) + 1
              ELSE 0 END AS wv
  FROM px
)
SELECT CONCAT('scene-', CAST(s AS VARCHAR)) AS source_id,
       CAST(band AS INT) AS band,
       CAST(18 + tc + s AS BIGINT) AS col,
       CAST(24 + tr AS BIGINT) AS row,
       CAST(SUM(CASE WHEN wv <> 0 THEN wv ELSE 0 END) AS BIGINT)
         AS px_qsum,
       CAST(COUNT(CASE WHEN wv <> 0 THEN 1 END) AS BIGINT)
         AS px_count
FROM w GROUP BY 1, 2, 3, 4
"""

    # Overview-level catalog read (geotiff_read_overview): overview
    # pixel (R, C) = the int32-quantized field at scene-local (2R, 2C)
    # — 4*val unrolled to pure integer arithmetic (band*400 +
    # col*28 + row*12 + ri*2 + ci + 4*mod13), hole h0 = 0 for scene-0.
    o["geotiff_read_overview"] = """
WITH px AS (
  SELECT band, tc, tr,
         ((tr * 64 + r) * 2) AS gr, ((tc * 64 + c) * 2) AS gc
  FROM range(0,2) bs(band), range(0,2) tcs(tc), range(0,2) trs(tr),
       range(0,64) rs(r), range(0,64) cs(c)
), v AS (
  SELECT band, tc, tr,
         CASE WHEN (gr % 64) < 16 AND (gc % 64) < 16 THEN NULL
              ELSE band * 400 + (18 + (gc // 64)) * 28
                   + (24 + (gr // 64)) * 12 + (gr % 64) * 2
                   + (gc % 64)
                   + 4 * (((gr % 64) * 31 + (gc % 64) * 17) % 13)
         END AS wv
  FROM px
)
SELECT 'scene-0' AS source_id, CAST(band AS INT) AS band,
       CAST(18 + tc AS BIGINT) AS col, CAST(24 + tr AS BIGINT) AS row,
       CAST(SUM(wv) AS BIGINT) AS px_qsum,
       CAST(COUNT(wv) AS BIGINT) AS px_count
FROM v GROUP BY 1, 2, 3, 4
"""

    # Interleaved-YCbCr JPEG variant (geotiff_read_jpeg_ycbcr): band-0's
    # block-corner reduction (the geotiff_read_jpeg rule) over the TWO
    # color scenes, replicated across the 3 RGB output bands
    # (grayscale-in-RGB: the whole YCbCr chain is exact).
    _fv0 = _fval("(r//8)*8", "(c//8)*8").replace("band*100.0",
                                                 "0*100.0")
    o["geotiff_read_jpeg_ycbcr"] = f"""
WITH px AS (
  SELECT s, tc, tr, {_fv0} AS val
  FROM range(0,2) ss(s), range(0,4) tcs(tc),
       range(0,4) trs(tr), range(0,64) rs(r), range(0,64) cs(c)
), w AS (
  SELECT s, tc, tr,
         CASE WHEN val <> -9999.0
              THEN (CAST(val * 4 AS BIGINT) % 255) + 1
              ELSE 0 END AS wv
  FROM px
)
SELECT CONCAT('scene-', CAST(s AS VARCHAR)) AS source_id,
       CAST(b AS INT) AS band,
       CAST(18 + tc + s AS BIGINT) AS col,
       CAST(24 + tr AS BIGINT) AS row,
       CAST(SUM(CASE WHEN wv <> 0 THEN wv ELSE 0 END) AS BIGINT)
         AS px_qsum,
       CAST(COUNT(CASE WHEN wv <> 0 THEN 1 END) AS BIGINT)
         AS px_count
FROM w, range(0,3) bs(b) GROUP BY 1, 2, 3, 4
"""

    # Sub-byte variant (geotiff_read_subbyte): the field reduced to
    # pmod(4*val, 2^bits - 1) + 1 per scene (bits 4/2/1, NoData -> 0 =
    # the declared nodata), recomputed in SQL with the pmod spelled
    # ((x % m) + m) % m so negative quarters agree with numpy's
    # non-negative % — quant=1 integer sums, order-independent.
    o["geotiff_read_subbyte"] = f"""
WITH px AS (
  SELECT s, band, tc, tr, r, c, {_fval('r', 'c')} AS val,
         CASE WHEN s = 0 THEN 15 WHEN s = 1 THEN 3 ELSE 1 END AS m
  FROM range(0,3) ss(s), range(0,2) bs(band), range(0,4) tcs(tc),
       range(0,4) trs(tr), range(0,64) rs(r), range(0,64) cs(c)
), w AS (
  SELECT s, band, tc, tr,
         CASE WHEN val <> -9999.0
              THEN ((CAST(val * 4 AS BIGINT) % m) + m) % m + 1
              ELSE 0 END AS wv
  FROM px
)
SELECT CONCAT('scene-', CAST(s AS VARCHAR)) AS source_id,
       CAST(band AS INT) AS band,
       CAST(18 + tc + s AS BIGINT) AS col,
       CAST(24 + tr AS BIGINT) AS row,
       CAST(SUM(CASE WHEN wv <> 0 THEN wv ELSE 0 END) AS BIGINT)
         AS px_qsum,
       CAST(COUNT(CASE WHEN wv <> 0 THEN 1 END) AS BIGINT)
         AS px_count
FROM w GROUP BY 1, 2, 3, 4
"""

    # Floating-point-predictor variant (geotiff_read_pred3): the
    # original float64 fixture through the TechNote-3 byte-plane
    # predictor — same closed form at the default quant.
    o["geotiff_read_pred3"] = o["geotiff_read"]

    # Resample-method family (resample_methods): closed-form field per
    # 2x2 block — NoData-excluding AVG/MAX/SUM (one IEEE division for
    # AVG on an exact quarter-sum: identical in numpy and DuckDB) and
    # the 16-tap clamped cubic (weights wi*wj/256 with wi in {-1,9}:
    # every product/sum dyadic and < 2^53, so association is free).
    o["resample_methods"] = f"""
WITH px AS MATERIALIZED (
  SELECT s, band, tc, tr, r, c, {_fval('r', 'c')} AS val
  FROM range(0,3) ss(s), range(0,4) tcs(tc), range(0,4) trs(tr),
       range(0,2) bs(band), range(0,64) rs(r), range(0,64) cs(c)
), blocks AS (
  SELECT s, band, tc, tr, r // 2 AS r2, c // 2 AS c2,
         AVG(CASE WHEN val <> -9999.0 THEN val END) AS avg_v,
         MAX(CASE WHEN val <> -9999.0 THEN val END) AS max_v,
         SUM(CASE WHEN val <> -9999.0 THEN val END) AS sum_v
  FROM px GROUP BY 1, 2, 3, 4, 5, 6
), wtab(d, w) AS (VALUES (-1, -1.0), (0, 9.0), (1, 9.0), (2, -1.0)),
cub AS (
  SELECT o.s, o.band, o.tc, o.tr, o.r2, o.c2,
         SUM(wr.w * wc.w * p.val) / 256.0 AS cub_v
  FROM (SELECT DISTINCT s, band, tc, tr, r2, c2 FROM blocks) o
  CROSS JOIN wtab wr CROSS JOIN wtab wc
  JOIN px p ON p.s = o.s AND p.band = o.band AND p.tc = o.tc
           AND p.tr = o.tr
           AND p.r = LEAST(GREATEST(2 * o.r2 + wr.d, 0), 63)
           AND p.c = LEAST(GREATEST(2 * o.c2 + wc.d, 0), 63)
  GROUP BY 1, 2, 3, 4, 5, 6
), per AS (
  SELECT s, band, tc, tr, 'average' AS method,
         SUM(CAST(FLOOR(avg_v * 4096.0 + 0.5) AS BIGINT)) AS qsum,
         COUNT(avg_v) AS n_valid
  FROM blocks GROUP BY 1, 2, 3, 4
  UNION ALL
  SELECT s, band, tc, tr, 'max',
         SUM(CAST(FLOOR(max_v * 4096.0 + 0.5) AS BIGINT)), COUNT(max_v)
  FROM blocks GROUP BY 1, 2, 3, 4
  UNION ALL
  SELECT s, band, tc, tr, 'sum',
         SUM(CAST(FLOOR(sum_v * 4096.0 + 0.5) AS BIGINT)), COUNT(sum_v)
  FROM blocks GROUP BY 1, 2, 3, 4
  UNION ALL
  SELECT s, band, tc, tr, 'cubic',
         SUM(CAST(FLOOR(cub_v * 4096.0 + 0.5) AS BIGINT)), COUNT(*)
  FROM cub GROUP BY 1, 2, 3, 4
)
SELECT 'scene-' || s AS source_id, band, 18 + tc + s AS col,
       24 + tr AS row, method, CAST(qsum AS BIGINT) AS qsum,
       CAST(n_valid AS BIGINT) AS n_valid
FROM per
"""

    o["pixel_mosaic_checksum"] = f"""
WITH px AS (
  SELECT s, 18+tc+s AS col, 24+tr AS row, band, r, c, {_fval('r', 'c')} AS val
  FROM range(0,3) ss(s), range(0,4) tcs(tc), range(0,4) trs(tr),
       range(0,2) bs(band), range(0,64) rs(r), range(0,64) cs(c)
), merged AS (
  -- first-non-NoData wins, left-biased by source order
  -- (MosaicRasterSource.scala:121-131)
  SELECT col, row, band, r, c,
         COALESCE(ARG_MIN(CASE WHEN val <> -9999.0 THEN val END,
                          CASE WHEN val <> -9999.0 THEN s END), -9999.0) AS mval
  FROM px GROUP BY col, row, band, r, c
)
SELECT 'merged' AS source_id,
       SUM(CASE WHEN mval <> -9999.0 THEN mval END) AS px_sum,
       COUNT(CASE WHEN mval <> -9999.0 THEN 1 END) AS px_count
FROM merged
"""

    # Warp chain: convert(float32) is lossless on this fixture (quarters
    # below 2^22); bilinear at the exact 2x ratio degenerates to the 2x2
    # block mean (fr = 2*r2+0.5 -> w = 0.5); the mercator region reproject
    # is the INDEX IDENTITY here (verified: uniform-mercator target centers
    # land in their own source row at zoom-6 rows 24..27 with 32-px tiles),
    # so the checksum is exactly the post-resample checksum.
    _q = lambda rr, cc: f"CAST(CAST({_fval(rr, cc)} AS REAL) AS DOUBLE)"  # noqa: E731
    o["pixel_warp_chain"] = f"""
WITH px AS (
  SELECT s, band, tc, tr, r2, c2,
    ({_q('2*r2', '2*c2')} + {_q('2*r2', '2*c2+1')}
     + {_q('2*r2+1', '2*c2')} + {_q('2*r2+1', '2*c2+1')}) / 4.0 AS v
  FROM range(0,3) ss(s), range(0,2) bs(band), range(0,4) tcs(tc),
       range(0,4) trs(tr), range(0,32) rs(r2), range(0,32) cs(c2)
)
SELECT CONCAT('scene-', CAST(s AS VARCHAR)) AS source_id,
       SUM(CASE WHEN v <> -9999.0 THEN v END) AS px_sum,
       COUNT(CASE WHEN v <> -9999.0 THEN 1 END) AS px_count
FROM px GROUP BY 1
"""

    _wc0, _wr0, _wc1, _wr1 = WINPX
    o["window_read_px"] = f"""
WITH px AS (
  SELECT s, band, 18+tc+s AS col, 24+tr AS row,
         (18+tc+s)*64 + c AS P, (24+tr)*64 + r AS Q,
         {_fval('r', 'c')} AS val
  FROM range(0,3) ss(s), range(0,2) bs(band), range(0,4) tcs(tc),
       range(0,4) trs(tr), range(0,64) rs(r), range(0,64) cs(c)
), hitpx AS (
  SELECT CONCAT('scene-', CAST(s AS VARCHAR)) AS source_id,
         CAST(band AS BIGINT) AS band, col, row, P, Q, val
  FROM px WHERE P BETWEEN {_wc0} AND {_wc1} AND Q BETWEEN {_wr0} AND {_wr1})
SELECT source_id, band,
       MIN(P) AS px_col_min, MIN(Q) AS px_row_min,
       MAX(Q) - MIN(Q) + 1 AS h, MAX(P) - MIN(P) + 1 AS w,
       SUM(val) AS px_sum, CAST(COUNT(*) AS BIGINT) AS px_count
FROM hitpx GROUP BY source_id, band, col, row
"""

    # Mixed-resolution merge: the 32-px source's value formula uses ITS OWN
    # r,c in [0,32) with hole h0=(2*11)%(32-16)=6; upsampled onto the 64
    # target grid the sampled index is r//2 (nearest at an exact 2x ratio).
    # cols: s0 spans 18..21, s1 19..22, s2 20..23 -> col 23 is 32-native.
    _f32 = lambda rr, cc, col: (  # noqa: E731
        f"CASE WHEN {rr} >= 6 AND {rr} < 22 AND {cc} >= 6 AND {cc} < 22 "
        f"THEN -9999.0 ELSE 2000.0 + band*100.0 + ({col})*7.0 + (24+tr)*3.0 "
        f"+ ({rr})*0.5 + ({cc})*0.25 "
        f"+ CAST((({rr})*31 + ({cc})*17) % 13 AS DOUBLE) END")
    _f64 = lambda: (  # noqa: E731
        f"CASE WHEN {_hole('r', 'c')} THEN -9999.0 ELSE "
        f"s*1000.0 + band*100.0 + (18+tc+s)*7.0 + (24+tr)*3.0 "
        f"+ r*0.5 + c*0.25 + CAST((r*31 + c*17) % 13 AS DOUBLE) END")
    o["mosaic_merge_multires"] = f"""
WITH p64 AS (
  SELECT s, 18+tc+s AS col, 24+tr AS row, band, r, c, {_f64()} AS val
  FROM range(0,2) ss(s), range(0,4) tcs(tc), range(0,4) trs(tr),
       range(0,2) bs(band), range(0,64) rs(r), range(0,64) cs(c)
), p32up AS (
  SELECT 2 AS s, 20+tc AS col, 24+tr AS row, band, r, c,
         {_f32('(r//2)', '(c//2)', '20+tc')} AS val
  FROM range(0,3) tcs(tc), range(0,4) trs(tr), range(0,2) bs(band),
       range(0,64) rs(r), range(0,64) cs(c)
), m64 AS (
  SELECT col, row, band, r, c,
         COALESCE(ARG_MIN(CASE WHEN val <> -9999.0 THEN val END,
                          CASE WHEN val <> -9999.0 THEN s END), -9999.0) AS mval
  FROM (SELECT * FROM p64 UNION ALL SELECT * FROM p32up)
  GROUP BY col, row, band, r, c
), native32 AS (
  SELECT CAST(23 AS BIGINT) AS col, CAST(24+tr AS BIGINT) AS row, band,
         {_f32('r', 'c', '23')} AS mval
  FROM range(0,4) trs(tr), range(0,2) bs(band),
       range(0,32) rs(r), range(0,32) cs(c)
)
SELECT col, row, CAST(band AS BIGINT) AS band,
       SUM(CASE WHEN mval <> -9999.0 THEN mval END) AS px_sum,
       COUNT(CASE WHEN mval <> -9999.0 THEN 1 END) AS px_count
FROM (SELECT col, row, band, mval FROM m64
      UNION ALL SELECT col, row, band, mval FROM native32)
GROUP BY 1, 2, 3
"""

    # reproject-to-grid regrid: per target pixel, the OWNING zoom-6 tile
    # (the one containing the pixel center) and the sampled source index,
    # recomputed in SQL. Tile x-boundaries and pixel widths are exact
    # decimals (cols 18..25 -> -78.75..-39.375, cw=0.087890625); tile
    # y-boundaries use the same EXP-form lat as the other oracles.
    _rg_cw = repr((RG_X1 - RG_X0) / RG_COLS)
    _rg_ch = repr((RG_Y1 - RG_Y0) / RG_ROWS)
    _rg_lat = lambda rr: (f"DEGREES(ATAN((EXP(PI()*(1.0-2.0*({rr})/64.0)) "  # noqa: E731
                          f"- EXP(-(PI()*(1.0-2.0*({rr})/64.0))))/2.0))")
    o["reproject_grid"] = f"""
WITH tgt AS (
  SELECT {RG_X0} + (c+0.5)*{_rg_cw} AS x, {RG_Y1} - (r+0.5)*{_rg_ch} AS y
  FROM range(0,{RG_COLS}) cs(c), range(0,{RG_ROWS}) rs(r)
), own AS (
  SELECT x, y, {C.sql_tile_col('x', 6)} AS col, {C.sql_tile_row('y', 6)} AS row
  FROM tgt
), samp AS (
  SELECT s, band, col, row,
    CAST(FLOOR((x - (CAST(col AS DOUBLE)/64.0*360.0-180.0)) / 0.087890625) AS BIGINT) AS ci,
    CAST(FLOOR(({_rg_lat('CAST(row AS DOUBLE)')} - y)
         / (({_rg_lat('CAST(row AS DOUBLE)')} - {_rg_lat('CAST(row AS DOUBLE)+1.0')})/64.0)) AS BIGINT) AS ri
  FROM own, range(0,3) ss(s), range(0,2) bs(band)
  WHERE col BETWEEN 18+s AND 21+s AND row BETWEEN 24 AND 27
), vals AS (
  SELECT s, band,
    CASE WHEN ri >= (s*11)%48 AND ri < (s*11)%48+16
          AND ci >= (s*11)%48 AND ci < (s*11)%48+16 THEN -9999.0
         ELSE s*1000.0 + band*100.0 + col*7.0 + row*3.0 + ri*0.5 + ci*0.25
              + CAST((ri*31 + ci*17) % 13 AS DOUBLE) END AS v
  FROM samp
)
SELECT CONCAT('scene-', CAST(s AS VARCHAR)) AS source_id,
       CAST(band AS BIGINT) AS band,
       SUM(v) AS px_sum, CAST(COUNT(*) AS BIGINT) AS px_count
FROM vals GROUP BY 1, 2
"""

    # LAEA (EPSG:3035) reproject: full SQL twin of the oblique ellipsoidal
    # inverse (Snyder 24-16..26 + the 3-16 Newton iteration, 8 unrolled
    # steps). Constants rendered as shortest-round-trip literals of the
    # exact doubles the engine computes.
    import numpy as _np

    from geotrellis_contrib_spark import grid as _gr
    _dl = lambda x: f"CAST('{x!r}' AS DOUBLE)"  # noqa: E731 (keep literals DOUBLE: DuckDB DECIMAL literals overflow when chained)
    _la_qp = _dl(_gr._QP)
    _la_rq = _dl(float(_gr._RQ))
    _la_e = _dl(float(_gr._E1))
    _la_e2 = _dl(float(_gr._E2))
    _phi_step = (
        "POWER(1.0 - {e2}*SIN(phi)*SIN(phi), 2) / (2.0*COS(phi)) * "
        "(q/(1.0 - {e2}) - SIN(phi)/(1.0 - {e2}*SIN(phi)*SIN(phi)) "
        " + (1.0/(2.0*{e})) * LN((1.0 - {e}*SIN(phi))/(1.0 + {e}*SIN(phi))))"
    ).format(e2=_la_e2, e=_la_e)
    # MATERIALIZED: each step references phi ~6 times; un-materialized CTE
    # inlining would grow the expression 6^8-fold and hang the planner
    _phi_iters = "".join(
        f", it{i} AS MATERIALIZED (SELECT * EXCLUDE (phi), "
        f"phi + {_phi_step} AS phi FROM it{i - 1})\n"
        for i in range(1, 9))
    _la_lat6 = lambda rr: (f"DEGREES(ATAN((EXP(PI()*(1.0-2.0*({rr})/64.0)) "  # noqa: E731
                           f"- EXP(-(PI()*(1.0-2.0*({rr})/64.0))))/2.0))")

    def _laea_reproject_sql(lon0, lat0, fe, fn, x0, y0, x1, y1, cols, rows):
        """Full SQL twin of the oblique ellipsoidal LAEA inverse (Snyder
        24-16..26 + the 3-16 Newton iteration, 8 unrolled MATERIALIZED
        steps) for ANY center/false-origin — shared by the EPSG:3035
        oracle and the proj4-string gate. Constants rendered as
        shortest-round-trip literals of the exact doubles the engine
        computes."""
        b0 = _dl(float(_np.arcsin(_np.clip(
            float(_gr._q_authalic(_np.radians(lat0))) / _gr._QP, -1, 1))))
        d = _dl(float(_gr._WGS84_A * _gr._m_ell(_np.radians(lat0))
                      / (_gr._RQ * _np.cos(_np.arcsin(_np.clip(
                          float(_gr._q_authalic(_np.radians(lat0))) / _gr._QP,
                          -1, 1))))))
        cw = _dl((x1 - x0) / cols)
        ch = _dl((y1 - y0) / rows)
        return f"""
WITH tgt AS (
  SELECT CAST({x0} AS DOUBLE) + (c+0.5)*{cw} - {fe!r} AS xs,
         CAST({y1} AS DOUBLE) - (r+0.5)*{ch} - {fn!r} AS ys
  FROM range(0,{cols}) cs(c), range(0,{rows}) rs(r)
), inv AS (
  SELECT xs, ys,
    SQRT(POWER(xs/{d}, 2) + POWER({d}*ys, 2)) AS rho,
    2.0*ASIN(LEAST(GREATEST(SQRT(POWER(xs/{d},2) + POWER({d}*ys,2))
                            / (2.0*{_la_rq}), -1.0), 1.0)) AS ce
  FROM tgt
), inq AS (
  SELECT xs, ys,
    {_la_qp}*(COS(ce)*SIN({b0})
              + {d}*ys*SIN(ce)*COS({b0})/rho) AS q,
    ATAN2(xs*SIN(ce),
          {d}*rho*COS({b0})*COS(ce)
          - {d}*{d}*ys*SIN({b0})*SIN(ce)) AS lam
  FROM inv WHERE rho > 0
), it0 AS (
  SELECT *, ASIN(LEAST(GREATEST(q/2.0, -1.0), 1.0)) AS phi FROM inq)
{_phi_iters}, pts AS (
  SELECT {lon0!r} + DEGREES(lam) AS lon, DEGREES(phi) AS lat FROM it8
), own AS (
  SELECT lon, lat, {C.sql_tile_col('lon', 6)} AS col, {C.sql_tile_row('lat', 6)} AS row
  FROM pts
), samp AS (
  SELECT s, band, col, row,
    CAST(FLOOR((lon - (CAST(col AS DOUBLE)/64.0*360.0-180.0)) / 0.087890625) AS BIGINT) AS ci,
    CAST(FLOOR(({_la_lat6('CAST(row AS DOUBLE)')} - lat)
         / (({_la_lat6('CAST(row AS DOUBLE)')} - {_la_lat6('CAST(row AS DOUBLE)+1.0')})/64.0)) AS BIGINT) AS ri
  FROM own, range(0,3) ss(s), range(0,2) bs(band)
  WHERE col BETWEEN 18+s AND 21+s AND row BETWEEN 24 AND 27
), vals AS (
  SELECT s, band,
    CASE WHEN ri >= (s*11)%48 AND ri < (s*11)%48+16
          AND ci >= (s*11)%48 AND ci < (s*11)%48+16 THEN -9999.0
         ELSE s*1000.0 + band*100.0 + col*7.0 + row*3.0 + ri*0.5 + ci*0.25
              + CAST((ri*31 + ci*17) % 13 AS DOUBLE) END AS v
  FROM samp
)
SELECT CONCAT('scene-', CAST(s AS VARCHAR)) AS source_id,
       CAST(band AS BIGINT) AS band,
       SUM(v) AS px_sum, CAST(COUNT(*) AS BIGINT) AS px_count
FROM vals GROUP BY 1, 2
"""

    o["reproject_laea"] = _laea_reproject_sql(
        10.0, 52.0, 4321000.0, 3210000.0,
        LA_X0, LA_Y0, LA_X1, LA_Y1, LA_COLS, LA_ROWS)
    # proj4-string gate: the SAME inverse machinery with the shifted
    # constants of PJ_DEF (+lat_0=48 +lon_0=8 +x_0=4000000 +y_0=2800000)
    o["reproject_proj4"] = _laea_reproject_sql(
        8.0, 48.0, 4000000.0, 2800000.0,
        PJ_X0, PJ_Y0, PJ_X1, PJ_Y1, PJ_COLS, PJ_ROWS)

    # Albers (EPSG:5070) reproject: SQL twin of the conic inverse
    # (Snyder 14-10/11 + the same phi(q) iteration); shares the LAEA
    # oracle's machinery (MATERIALIZED iteration CTEs, DOUBLE constants).
    _ab_n, _ab_c, _ab_rho0 = _gr.albers_constants(23.0, 29.5, 45.5)
    _ab_n_s, _ab_c_s, _ab_rho0_s = _dl(_ab_n), _dl(_ab_c), _dl(float(_ab_rho0))
    _ab_a = _dl(float(_gr._WGS84_A))
    _ab_cw = _dl((AB_X1 - AB_X0) / AB_COLS)
    _ab_ch = _dl((AB_Y1 - AB_Y0) / AB_ROWS)
    o["reproject_albers"] = f"""
WITH tgt AS (
  SELECT CAST({AB_X0} AS DOUBLE) + (c+0.5)*{_ab_cw} AS xs,
         CAST({AB_Y1} AS DOUBLE) - (r+0.5)*{_ab_ch} AS ys
  FROM range(0,{AB_COLS}) cs(c), range(0,{AB_ROWS}) rs(r)
), inq AS (
  SELECT
    ({_ab_c_s} - POWER(SQRT(xs*xs + ({_ab_rho0_s} - ys)*({_ab_rho0_s} - ys))
                       * {_ab_n_s} / {_ab_a}, 2)) / {_ab_n_s} AS q,
    ATAN2(xs, {_ab_rho0_s} - ys) / {_ab_n_s} AS lam
  FROM tgt
), it0 AS (
  SELECT *, ASIN(LEAST(GREATEST(q/2.0, -1.0), 1.0)) AS phi FROM inq)
{_phi_iters}, pts AS (
  SELECT -96.0 + DEGREES(lam) AS lon, DEGREES(phi) AS lat FROM it8
), own AS (
  SELECT lon, lat, {C.sql_tile_col('lon', 6)} AS col, {C.sql_tile_row('lat', 6)} AS row
  FROM pts
), samp AS (
  SELECT s, band, col, row,
    CAST(FLOOR((lon - (CAST(col AS DOUBLE)/64.0*360.0-180.0)) / 0.087890625) AS BIGINT) AS ci,
    CAST(FLOOR(({_la_lat6('CAST(row AS DOUBLE)')} - lat)
         / (({_la_lat6('CAST(row AS DOUBLE)')} - {_la_lat6('CAST(row AS DOUBLE)+1.0')})/64.0)) AS BIGINT) AS ri
  FROM own, range(0,3) ss(s), range(0,2) bs(band)
  WHERE col BETWEEN 18+s AND 21+s AND row BETWEEN 24 AND 27
), vals AS (
  SELECT s, band,
    CASE WHEN ri >= (s*11)%48 AND ri < (s*11)%48+16
          AND ci >= (s*11)%48 AND ci < (s*11)%48+16 THEN -9999.0
         ELSE s*1000.0 + band*100.0 + col*7.0 + row*3.0 + ri*0.5 + ci*0.25
              + CAST((ri*31 + ci*17) % 13 AS DOUBLE) END AS v
  FROM samp
)
SELECT CONCAT('scene-', CAST(s AS VARCHAR)) AS source_id,
       CAST(band AS BIGINT) AS band,
       SUM(v) AS px_sum, CAST(COUNT(*) AS BIGINT) AS px_count
FROM vals GROUP BY 1, 2
"""

    # LCC (EPSG:2154) reproject: SQL twin of the conformal conic inverse
    # (Snyder 15-11 closed forms + the 7-9 fixed-point phi(t) iteration —
    # no Newton step needed; 8 unrolled MATERIALIZED CTEs like its
    # equal-area siblings). Constants are the exact doubles the engine's
    # lcc_constants(46.5, 49, 44) computes.
    _lc_n, _lc_f, _lc_rho0 = _gr.lcc_constants(46.5, 49.0, 44.0)
    _lc_n_s = _dl(float(_lc_n))
    _lc_invn = _dl(float(1.0 / _lc_n))
    _lc_af = _dl(float(_gr._WGS84_A * _lc_f))
    _lc_rho0_s = _dl(float(_lc_rho0))
    _lc_e = _dl(float(_gr._E1))
    _lc_eh = _dl(float(_gr._E1 / 2.0))
    _lc_cw = _dl((LC_X1 - LC_X0) / LC_COLS)
    _lc_ch = _dl((LC_Y1 - LC_Y0) / LC_ROWS)
    # Snyder 7-9: phi <- pi/2 - 2*atan(t * ((1 - e sin phi)/(1 + e sin phi))^(e/2))
    _lc_step = (f"PI()/2.0 - 2.0*ATAN(t * POWER((1.0 - {_lc_e}*SIN(phi))"
                f"/(1.0 + {_lc_e}*SIN(phi)), {_lc_eh}))")
    _lc_iters = "".join(
        f", lc{i} AS MATERIALIZED (SELECT * EXCLUDE (phi), "
        f"{_lc_step} AS phi FROM lc{i - 1})\n"
        for i in range(1, 9))
    o["reproject_lcc"] = f"""
WITH tgt AS (
  SELECT CAST({LC_X0} AS DOUBLE) + (c+0.5)*{_lc_cw} - 700000.0 AS xs,
         CAST({LC_Y1} AS DOUBLE) - (r+0.5)*{_lc_ch} - 6600000.0 AS ys
  FROM range(0,{LC_COLS}) cs(c), range(0,{LC_ROWS}) rs(r)
), inq AS (
  SELECT
    POWER(SQRT(xs*xs + ({_lc_rho0_s} - ys)*({_lc_rho0_s} - ys)) / {_lc_af},
          {_lc_invn}) AS t,
    ATAN2(xs, {_lc_rho0_s} - ys) / {_lc_n_s} AS lam
  FROM tgt
), lc0 AS (
  SELECT *, PI()/2.0 - 2.0*ATAN(t) AS phi FROM inq)
{_lc_iters}, pts AS (
  SELECT 3.0 + DEGREES(lam) AS lon, DEGREES(phi) AS lat FROM lc8
), own AS (
  SELECT lon, lat, {C.sql_tile_col('lon', 6)} AS col, {C.sql_tile_row('lat', 6)} AS row
  FROM pts
), samp AS (
  SELECT s, band, col, row,
    CAST(FLOOR((lon - (CAST(col AS DOUBLE)/64.0*360.0-180.0)) / 0.087890625) AS BIGINT) AS ci,
    CAST(FLOOR(({_la_lat6('CAST(row AS DOUBLE)')} - lat)
         / (({_la_lat6('CAST(row AS DOUBLE)')} - {_la_lat6('CAST(row AS DOUBLE)+1.0')})/64.0)) AS BIGINT) AS ri
  FROM own, range(0,3) ss(s), range(0,2) bs(band)
  WHERE col BETWEEN 18+s AND 21+s AND row BETWEEN 24 AND 27
), vals AS (
  SELECT s, band,
    CASE WHEN ri >= (s*11)%48 AND ri < (s*11)%48+16
          AND ci >= (s*11)%48 AND ci < (s*11)%48+16 THEN -9999.0
         ELSE s*1000.0 + band*100.0 + col*7.0 + row*3.0 + ri*0.5 + ci*0.25
              + CAST((ri*31 + ci*17) % 13 AS DOUBLE) END AS v
  FROM samp
)
SELECT CONCAT('scene-', CAST(s AS VARCHAR)) AS source_id,
       CAST(band AS BIGINT) AS band,
       SUM(v) AS px_sum, CAST(COUNT(*) AS BIGINT) AS px_count
FROM vals GROUP BY 1, 2
"""

    # Datum-shift reproject (DT_DEF): SQL twin of the FULL inverse chain —
    # Krueger tmerc inverse on the Airy ellipsoid (closed-form beta/delta
    # series; sinh/cosh expanded via EXP), geodetic->geocentric on Airy,
    # the exact 7-parameter Helmert matrix (literal entries of the engine's
    # position-vector matrix), then the same 8-step unrolled
    # geocentric->geodetic fixed-point iteration the engine pins
    # (grid._GEOCENTRIC_ITERS). All constants are shortest-round-trip
    # literals of the exact doubles the engine computes.
    _dt_a, _dt_f, _dt_e2 = _gr.ellipsoid_params("airy")
    _dt_acap, _, _, _dt_beta, _dt_delta = _gr._krueger_params(_dt_a, _dt_f)
    _dt_k0a = 0.9996012717 * _dt_acap
    _dt_xi0 = _gr._meridian_xi(30.0, _dt_a, _dt_f)
    _dt_mat, _, _dt_t = _gr.helmert_matrices(
        446.448, -125.157, 542.06, 0.15, 0.247, 0.842, -20.489)
    _dt_aw, _dt_e2w = _gr._WGS84_A, float(_gr._E2)
    _sh = lambda x: f"((EXP({x}) - EXP(-({x}))) / 2.0)"   # noqa: E731
    _chh = lambda x: f"((EXP({x}) + EXP(-({x}))) / 2.0)"  # noqa: E731
    _dt_xip = " - ".join(["xi"] + [
        f"{_dl(b)}*SIN({2 * j}.0*xi)*{_chh(f'{2 * j}.0*eta')}"
        for j, b in enumerate(_dt_beta, 1)])
    _dt_etap = " - ".join(["eta"] + [
        f"{_dl(b)}*COS({2 * j}.0*xi)*{_sh(f'{2 * j}.0*eta')}"
        for j, b in enumerate(_dt_beta, 1)])
    _dt_phi_os = " + ".join(["chi"] + [
        f"{_dl(d)}*SIN({2 * j}.0*chi)" for j, d in enumerate(_dt_delta, 1)])
    # WGS84 fixed-point step: phi <- atan2(z + e2*nu(phi)*sin(phi), p)
    _dt_step = (f"ATAN2(zw + {_dl(_dt_e2w)}*({_dl(_dt_aw)}"
                f"/SQRT(1.0 - {_dl(_dt_e2w)}*SIN(phi)*SIN(phi)))*SIN(phi), p)")
    _dt_iters = "".join(
        f", gd{i} AS MATERIALIZED (SELECT * EXCLUDE (phi), "
        f"{_dt_step} AS phi FROM gd{i - 1})\n"
        for i in range(1, 9))
    _dt_cw = _dl((DT_X1 - DT_X0) / DT_COLS)
    _dt_ch = _dl((DT_Y1 - DT_Y0) / DT_ROWS)
    o["reproject_datum"] = f"""
WITH tgt AS (
  SELECT CAST({DT_X0} AS DOUBLE) + (c+0.5)*{_dt_cw} AS e,
         CAST({DT_Y1} AS DOUBLE) - (r+0.5)*{_dt_ch} AS n
  FROM range(0,{DT_COLS}) cs(c), range(0,{DT_ROWS}) rs(r)
), tm AS (
  SELECT (n - (-100000.0) + {_dl(_dt_k0a)}*{_dl(_dt_xi0)}) / {_dl(_dt_k0a)} AS xi,
         (e - 400000.0) / {_dl(_dt_k0a)} AS eta
  FROM tgt
), tser AS MATERIALIZED (
  SELECT {_dt_xip} AS xip, {_dt_etap} AS etap FROM tm
), geo AS MATERIALIZED (
  SELECT ASIN(SIN(xip) / {_chh('etap')}) AS chi,
         ATAN2({_sh('etap')}, COS(xip)) AS lam
  FROM tser
), osll AS (
  SELECT {_dt_phi_os} AS phi_os, -62.0 + DEGREES(lam) AS lon_os FROM geo
), xyz AS MATERIALIZED (
  SELECT ({_dl(_dt_a)} / SQRT(1.0 - {_dl(float(_dt_e2))}*SIN(phi_os)*SIN(phi_os)))
           * COS(phi_os) * COS(RADIANS(lon_os)) AS xl,
         ({_dl(_dt_a)} / SQRT(1.0 - {_dl(float(_dt_e2))}*SIN(phi_os)*SIN(phi_os)))
           * COS(phi_os) * SIN(RADIANS(lon_os)) AS yl,
         ({_dl(_dt_a)} / SQRT(1.0 - {_dl(float(_dt_e2))}*SIN(phi_os)*SIN(phi_os)))
           * (1.0 - {_dl(float(_dt_e2))}) * SIN(phi_os) AS zl
  FROM osll
), wgs AS MATERIALIZED (
  SELECT {_dl(float(_dt_mat[0, 0]))}*xl + {_dl(float(_dt_mat[0, 1]))}*yl
           + {_dl(float(_dt_mat[0, 2]))}*zl + {_dl(float(_dt_t[0]))} AS xw,
         {_dl(float(_dt_mat[1, 0]))}*xl + {_dl(float(_dt_mat[1, 1]))}*yl
           + {_dl(float(_dt_mat[1, 2]))}*zl + {_dl(float(_dt_t[1]))} AS yw,
         {_dl(float(_dt_mat[2, 0]))}*xl + {_dl(float(_dt_mat[2, 1]))}*yl
           + {_dl(float(_dt_mat[2, 2]))}*zl + {_dl(float(_dt_t[2]))} AS zw
  FROM xyz
), gd0 AS (
  SELECT xw, yw, zw, SQRT(xw*xw + yw*yw) AS p,
         ATAN2(zw, SQRT(xw*xw + yw*yw)*(1.0 - {_dl(_dt_e2w)})) AS phi
  FROM wgs)
{_dt_iters}, pts AS (
  SELECT DEGREES(ATAN2(yw, xw)) AS lon, DEGREES(phi) AS lat FROM gd8
), own AS (
  SELECT lon, lat, {C.sql_tile_col('lon', 6)} AS col, {C.sql_tile_row('lat', 6)} AS row
  FROM pts
), samp AS (
  SELECT s, band, col, row,
    CAST(FLOOR((lon - (CAST(col AS DOUBLE)/64.0*360.0-180.0)) / 0.087890625) AS BIGINT) AS ci,
    CAST(FLOOR(({_la_lat6('CAST(row AS DOUBLE)')} - lat)
         / (({_la_lat6('CAST(row AS DOUBLE)')} - {_la_lat6('CAST(row AS DOUBLE)+1.0')})/64.0)) AS BIGINT) AS ri
  FROM own, range(0,3) ss(s), range(0,2) bs(band)
  WHERE col BETWEEN 18+s AND 21+s AND row BETWEEN 24 AND 27
), vals AS (
  SELECT s, band,
    CASE WHEN ri >= (s*11)%48 AND ri < (s*11)%48+16
          AND ci >= (s*11)%48 AND ci < (s*11)%48+16 THEN -9999.0
         ELSE s*1000.0 + band*100.0 + col*7.0 + row*3.0 + ri*0.5 + ci*0.25
              + CAST((ri*31 + ci*17) % 13 AS DOUBLE) END AS v
  FROM samp
)
SELECT CONCAT('scene-', CAST(s AS VARCHAR)) AS source_id,
       CAST(band AS BIGINT) AS band,
       SUM(v) AS px_sum, CAST(COUNT(*) AS BIGINT) AS px_count
FROM vals GROUP BY 1, 2
"""

    # Spherical reproject (SP_DEF): SQL twin of the Snyder spherical LCC
    # inverse (15-5 / 14-10 / 14-11) — rho, theta, then phi =
    # 2*atan((rf/rho)^(1/n)) - pi/2 with the engine's own precomputed
    # (n, rf=k0*R*F, rho0, 1/n) doubles as literals
    # (grid.lcc_sph_constants / lcc_sph_to_lonlat, same expression tree).
    _sp_n, _sp_rf, _sp_rho0 = _gr.lcc_sph_constants(23.0, 33.0, 45.0,
                                                    6370997.0, 1.0)
    assert _sp_n > 0  # the SQL twin omits the sign-flip legs
    _sp_inv_n = 1.0 / _sp_n
    _sp_cw = _dl((SP_X1 - SP_X0) / SP_COLS)
    _sp_ch = _dl((SP_Y1 - SP_Y0) / SP_ROWS)
    o["reproject_sphere"] = f"""
WITH tgt AS (
  SELECT CAST({SP_X0} AS DOUBLE) + (c+0.5)*{_sp_cw} - 500000.0 AS xs,
         CAST({SP_Y1} AS DOUBLE) - (r+0.5)*{_sp_ch} - (-300000.0) AS ys
  FROM range(0,{SP_COLS}) cs(c), range(0,{SP_ROWS}) rs(r)
), inv AS (
  SELECT SQRT(xs*xs + ({_dl(_sp_rho0)}-ys)*({_dl(_sp_rho0)}-ys)) AS rho,
         ATAN2(xs, {_dl(_sp_rho0)}-ys) AS theta
  FROM tgt
), pts AS (
  SELECT -62.0 + DEGREES(theta/{_dl(_sp_n)}) AS lon,
         DEGREES(2.0*ATAN(POWER({_dl(_sp_rf)}/rho, {_dl(_sp_inv_n)}))
                 - PI()/2.0) AS lat
  FROM inv
), own AS (
  SELECT lon, lat, {C.sql_tile_col('lon', 6)} AS col, {C.sql_tile_row('lat', 6)} AS row
  FROM pts
), samp AS (
  SELECT s, band, col, row,
    CAST(FLOOR((lon - (CAST(col AS DOUBLE)/64.0*360.0-180.0)) / 0.087890625) AS BIGINT) AS ci,
    CAST(FLOOR(({_la_lat6('CAST(row AS DOUBLE)')} - lat)
         / (({_la_lat6('CAST(row AS DOUBLE)')} - {_la_lat6('CAST(row AS DOUBLE)+1.0')})/64.0)) AS BIGINT) AS ri
  FROM own, range(0,3) ss(s), range(0,2) bs(band)
  WHERE col BETWEEN 18+s AND 21+s AND row BETWEEN 24 AND 27
), vals AS (
  SELECT s, band,
    CASE WHEN ri >= (s*11)%48 AND ri < (s*11)%48+16
          AND ci >= (s*11)%48 AND ci < (s*11)%48+16 THEN -9999.0
         ELSE s*1000.0 + band*100.0 + col*7.0 + row*3.0 + ri*0.5 + ci*0.25
              + CAST((ri*31 + ci*17) % 13 AS DOUBLE) END AS v
  FROM samp
)
SELECT CONCAT('scene-', CAST(s AS VARCHAR)) AS source_id,
       CAST(band AS BIGINT) AS band,
       SUM(v) AS px_sum, CAST(COUNT(*) AS BIGINT) AS px_count
FROM vals GROUP BY 1, 2
"""

    # Polar stereographic reproject (reproject_stere): SQL twin of the
    # Snyder 21-39/40 inverse — rho, t = rho/rf, then the SAME 8-step
    # conformal fixed point as the merc/lcc oracles (engine pins
    # grid._STERE_ITERS = 8), lam = atan2(xs, -ys) for the north aspect.
    # rf is the engine's own stere_polar_rf(lat_ts=70) double.
    _st_rf = _dl(_gr.stere_polar_rf(lat_ts=70.0))
    _st_cw = _dl((ST_X1 - ST_X0) / ST_COLS)
    _st_ch = _dl((ST_Y1 - ST_Y0) / ST_ROWS)
    _st_step = (f"PI()/2.0 - 2.0*ATAN(t * POWER((1.0 - {_la_e}*SIN(phi))"
                f"/(1.0 + {_la_e}*SIN(phi)), {_dl(float(_gr._E1 / 2.0))}))")
    _st_iters = "".join(
        f", st{i} AS MATERIALIZED (SELECT * EXCLUDE (phi), "
        f"{_st_step} AS phi FROM st{i - 1})\n"
        for i in range(1, 9))
    o["reproject_stere"] = f"""
WITH tgt AS (
  SELECT CAST({ST_X0} AS DOUBLE) + (c+0.5)*{_st_cw} - 2000000.0 AS xs,
         CAST({ST_Y1} AS DOUBLE) - (r+0.5)*{_st_ch} - (-3000000.0) AS ys
  FROM range(0,{ST_COLS}) cs(c), range(0,{ST_ROWS}) rs(r)
), inq AS (
  SELECT xs, ys,
         SQRT(xs*xs + ys*ys) / {_st_rf} AS t,
         ATAN2(xs, -ys) AS lam
  FROM tgt
), st0 AS (
  SELECT *, PI()/2.0 - 2.0*ATAN(t) AS phi FROM inq)
{_st_iters}, pts AS (
  SELECT -45.0 + DEGREES(lam) AS lon, DEGREES(phi) AS lat FROM st8
), own AS (
  SELECT lon, lat, {C.sql_tile_col('lon', 6)} AS col, {C.sql_tile_row('lat', 6)} AS row
  FROM pts
), samp AS (
  SELECT s, band, col, row,
    CAST(FLOOR((lon - (CAST(col AS DOUBLE)/64.0*360.0-180.0)) / 0.087890625) AS BIGINT) AS ci,
    CAST(FLOOR(({_la_lat6('CAST(row AS DOUBLE)')} - lat)
         / (({_la_lat6('CAST(row AS DOUBLE)')} - {_la_lat6('CAST(row AS DOUBLE)+1.0')})/64.0)) AS BIGINT) AS ri
  FROM own, range(0,3) ss(s), range(0,2) bs(band)
  WHERE col BETWEEN 18+s AND 21+s AND row BETWEEN 24 AND 27
), vals AS (
  SELECT s, band,
    CASE WHEN ri >= (s*11)%48 AND ri < (s*11)%48+16
          AND ci >= (s*11)%48 AND ci < (s*11)%48+16 THEN -9999.0
         ELSE s*1000.0 + band*100.0 + col*7.0 + row*3.0 + ri*0.5 + ci*0.25
              + CAST((ri*31 + ci*17) % 13 AS DOUBLE) END AS v
  FROM samp
)
SELECT CONCAT('scene-', CAST(s AS VARCHAR)) AS source_id,
       CAST(band AS BIGINT) AS band,
       SUM(v) AS px_sum, CAST(COUNT(*) AS BIGINT) AS px_count
FROM vals GROUP BY 1, 2
"""

    # MODIS sinusoidal reproject (reproject_sinu): exact closed-form
    # spherical inverse (Snyder 30-5/30-6) — no iteration; the wrap
    # arithmetic ((lon+180) % 360 - 180) is mirrored bitwise (the %
    # is an fmod identity for the footprint's positive operands).
    _sn_r = _dl(6371007.181)
    _sn_cw = _dl((SN_X1 - SN_X0) / SN_COLS)
    _sn_ch = _dl((SN_Y1 - SN_Y0) / SN_ROWS)
    o["reproject_sinu"] = f"""
WITH tgt AS (
  SELECT CAST({SN_X0} AS DOUBLE) + (c+0.5)*{_sn_cw} AS xs,
         CAST({SN_Y1} AS DOUBLE) - (r+0.5)*{_sn_ch} AS ys
  FROM range(0,{SN_COLS}) cs(c), range(0,{SN_ROWS}) rs(r)
), pts AS (
  SELECT ((0.0 + DEGREES(xs / ({_sn_r} * COS(ys/{_sn_r})))) + 180.0)
           % 360.0 - 180.0 AS lon,
         DEGREES(ys/{_sn_r}) AS lat
  FROM tgt
), own AS (
  SELECT lon, lat, {C.sql_tile_col('lon', 6)} AS col, {C.sql_tile_row('lat', 6)} AS row
  FROM pts
), samp AS (
  SELECT s, band, col, row,
    CAST(FLOOR((lon - (CAST(col AS DOUBLE)/64.0*360.0-180.0)) / 0.087890625) AS BIGINT) AS ci,
    CAST(FLOOR(({_la_lat6('CAST(row AS DOUBLE)')} - lat)
         / (({_la_lat6('CAST(row AS DOUBLE)')} - {_la_lat6('CAST(row AS DOUBLE)+1.0')})/64.0)) AS BIGINT) AS ri
  FROM own, range(0,3) ss(s), range(0,2) bs(band)
  WHERE col BETWEEN 18+s AND 21+s AND row BETWEEN 24 AND 27
), vals AS (
  SELECT s, band,
    CASE WHEN ri >= (s*11)%48 AND ri < (s*11)%48+16
          AND ci >= (s*11)%48 AND ci < (s*11)%48+16 THEN -9999.0
         ELSE s*1000.0 + band*100.0 + col*7.0 + row*3.0 + ri*0.5 + ci*0.25
              + CAST((ri*31 + ci*17) % 13 AS DOUBLE) END AS v
  FROM samp
)
SELECT CONCAT('scene-', CAST(s AS VARCHAR)) AS source_id,
       CAST(band AS BIGINT) AS band,
       SUM(v) AS px_sum, CAST(COUNT(*) AS BIGINT) AS px_count
FROM vals GROUP BY 1, 2
"""

    # EASE-Grid 2.0 CEA reproject (reproject_cea): Snyder 10-26 inverse
    # (q = 2*k0*y/a, lam = x/(a*k0)) + the SAME 8-step phi(q) fixed point
    # as the LAEA/Albers oracles; k0 is the engine's cea_k0(30) double.
    _ce_k0 = _dl(_gr.cea_k0(30.0))
    _ce_a = _dl(float(_gr._WGS84_A))
    _ce_cw = _dl((CE_X1 - CE_X0) / CE_COLS)
    _ce_ch = _dl((CE_Y1 - CE_Y0) / CE_ROWS)
    o["reproject_cea"] = f"""
WITH tgt AS (
  SELECT CAST({CE_X0} AS DOUBLE) + (c+0.5)*{_ce_cw} AS xs,
         CAST({CE_Y1} AS DOUBLE) - (r+0.5)*{_ce_ch} AS ys
  FROM range(0,{CE_COLS}) cs(c), range(0,{CE_ROWS}) rs(r)
), inq AS (
  SELECT 2.0*{_ce_k0}*ys/{_ce_a} AS q,
         xs/({_ce_a}*{_ce_k0}) AS lam
  FROM tgt
), it0 AS (
  SELECT *, ASIN(LEAST(GREATEST(q/2.0, -1.0), 1.0)) AS phi FROM inq)
{_phi_iters}, pts AS (
  SELECT ((0.0 + DEGREES(lam)) + 180.0) % 360.0 - 180.0 AS lon,
         DEGREES(phi) AS lat FROM it8
), own AS (
  SELECT lon, lat, {C.sql_tile_col('lon', 6)} AS col, {C.sql_tile_row('lat', 6)} AS row
  FROM pts
), samp AS (
  SELECT s, band, col, row,
    CAST(FLOOR((lon - (CAST(col AS DOUBLE)/64.0*360.0-180.0)) / 0.087890625) AS BIGINT) AS ci,
    CAST(FLOOR(({_la_lat6('CAST(row AS DOUBLE)')} - lat)
         / (({_la_lat6('CAST(row AS DOUBLE)')} - {_la_lat6('CAST(row AS DOUBLE)+1.0')})/64.0)) AS BIGINT) AS ri
  FROM own, range(0,3) ss(s), range(0,2) bs(band)
  WHERE col BETWEEN 18+s AND 21+s AND row BETWEEN 24 AND 27
), vals AS (
  SELECT s, band,
    CASE WHEN ri >= (s*11)%48 AND ri < (s*11)%48+16
          AND ci >= (s*11)%48 AND ci < (s*11)%48+16 THEN -9999.0
         ELSE s*1000.0 + band*100.0 + col*7.0 + row*3.0 + ri*0.5 + ci*0.25
              + CAST((ri*31 + ci*17) % 13 AS DOUBLE) END AS v
  FROM samp
)
SELECT CONCAT('scene-', CAST(s AS VARCHAR)) AS source_id,
       CAST(band AS BIGINT) AS band,
       SUM(v) AS px_sum, CAST(COUNT(*) AS BIGINT) AS px_count
FROM vals GROUP BY 1, 2
"""

    # Geostationary reproject (reproject_geos): SQL twin of the exact
    # closed-form inverse (grid.geos_to_lonlat, GOES sweep=x) — tan scan
    # angles, view-ray quadratic (nearest-root k), atan2/atan chain,
    # geocentric->geodetic via /rp2. rg = 1 + h/a and rp2 = 1 - e2 are the
    # engine's doubles as literals; the wrap is the fmod identity (the
    # footprint's lon+180 is positive).
    _ge_h = _dl(35786023.0)
    _ge_rg = _dl(1.0 + 35786023.0 / float(_gr._WGS84_A))
    _ge_rp2 = _dl(1.0 - float(_gr._E2))
    _ge_cw = _dl((GE_X1 - GE_X0) / GE_COLS)
    _ge_ch = _dl((GE_Y1 - GE_Y0) / GE_ROWS)
    o["reproject_geos"] = f"""
WITH tgt AS (
  SELECT CAST({GE_X0} AS DOUBLE) + (c+0.5)*{_ge_cw} AS xs,
         CAST({GE_Y1} AS DOUBLE) - (r+0.5)*{_ge_ch} AS ys
  FROM range(0,{GE_COLS}) cs(c), range(0,{GE_ROWS}) rs(r)
), vv AS (
  SELECT TAN(ys/{_ge_h}) AS vz,
         TAN(xs/{_ge_h}) * SQRT(1.0 + TAN(ys/{_ge_h})*TAN(ys/{_ge_h})) AS vy
  FROM tgt
), qq AS (
  SELECT vy, vz, vy*vy + vz*vz/{_ge_rp2} + 1.0 AS qa
  FROM vv
), kk AS (
  SELECT vy, vz,
         (2.0*{_ge_rg} - SQRT((2.0*{_ge_rg})*(2.0*{_ge_rg})
            - 4.0*qa*({_ge_rg}*{_ge_rg} - 1.0))) / (2.0*qa) AS k
  FROM qq
), ww AS (
  SELECT {_ge_rg} - k AS wx, k*vy AS wy, k*vz AS wz FROM kk
), ang AS (
  SELECT ATAN2(wy, wx) AS lam, wx, wz FROM ww
), pts AS (
  SELECT ((-75.0 + DEGREES(lam)) + 180.0) % 360.0 - 180.0 AS lon,
         DEGREES(ATAN((wz*COS(lam)/wx)/{_ge_rp2})) AS lat
  FROM ang
), own AS (
  SELECT lon, lat, {C.sql_tile_col('lon', 6)} AS col, {C.sql_tile_row('lat', 6)} AS row
  FROM pts
), samp AS (
  SELECT s, band, col, row,
    CAST(FLOOR((lon - (CAST(col AS DOUBLE)/64.0*360.0-180.0)) / 0.087890625) AS BIGINT) AS ci,
    CAST(FLOOR(({_la_lat6('CAST(row AS DOUBLE)')} - lat)
         / (({_la_lat6('CAST(row AS DOUBLE)')} - {_la_lat6('CAST(row AS DOUBLE)+1.0')})/64.0)) AS BIGINT) AS ri
  FROM own, range(0,3) ss(s), range(0,2) bs(band)
  WHERE col BETWEEN 18+s AND 21+s AND row BETWEEN 24 AND 27
), vals AS (
  SELECT s, band,
    CASE WHEN ri >= (s*11)%48 AND ri < (s*11)%48+16
          AND ci >= (s*11)%48 AND ci < (s*11)%48+16 THEN -9999.0
         ELSE s*1000.0 + band*100.0 + col*7.0 + row*3.0 + ri*0.5 + ci*0.25
              + CAST((ri*31 + ci*17) % 13 AS DOUBLE) END AS v
  FROM samp
)
SELECT CONCAT('scene-', CAST(s AS VARCHAR)) AS source_id,
       CAST(band AS BIGINT) AS band,
       SUM(v) AS px_sum, CAST(COUNT(*) AS BIGINT) AS px_count
FROM vals GROUP BY 1, 2
"""

    # Mollweide reproject (reproject_moll): SQL twin of the exact
    # closed-form inverse (grid.moll_to_lonlat) — theta from asin,
    # phi from the (2 theta + sin 2 theta)/pi closed form, lam by the
    # cos(theta) division; clips mirrored as LEAST/GREATEST, constants
    # (sqrt2, 2 sqrt2/pi) the engine's doubles as literals.
    _mo_a = _dl(float(_gr._WGS84_A))
    _mo_cx = _dl(_gr._MOLL_CX)
    _mo_cy = _dl(_gr._MOLL_CY)
    _mo_cw = _dl((MO_X1 - MO_X0) / MO_COLS)
    _mo_ch = _dl((MO_Y1 - MO_Y0) / MO_ROWS)
    o["reproject_moll"] = f"""
WITH tgt AS (
  SELECT CAST({MO_X0} AS DOUBLE) + (c+0.5)*{_mo_cw} AS xs,
         CAST({MO_Y1} AS DOUBLE) - (r+0.5)*{_mo_ch} AS ys
  FROM range(0,{MO_COLS}) cs(c), range(0,{MO_ROWS}) rs(r)
), th AS (
  SELECT xs, ASIN(LEAST(GREATEST(ys/({_mo_cy}*{_mo_a}), -1.0), 1.0)) AS t
  FROM tgt
), pts AS (
  SELECT ((0.0 + DEGREES(xs/({_mo_cx}*{_mo_a}*COS(t)))) + 180.0)
           % 360.0 - 180.0 AS lon,
         DEGREES(ASIN(LEAST(GREATEST((2.0*t + SIN(2.0*t))/PI(),
                                     -1.0), 1.0))) AS lat
  FROM th
), own AS (
  SELECT lon, lat, {C.sql_tile_col('lon', 6)} AS col, {C.sql_tile_row('lat', 6)} AS row
  FROM pts
), samp AS (
  SELECT s, band, col, row,
    CAST(FLOOR((lon - (CAST(col AS DOUBLE)/64.0*360.0-180.0)) / 0.087890625) AS BIGINT) AS ci,
    CAST(FLOOR(({_la_lat6('CAST(row AS DOUBLE)')} - lat)
         / (({_la_lat6('CAST(row AS DOUBLE)')} - {_la_lat6('CAST(row AS DOUBLE)+1.0')})/64.0)) AS BIGINT) AS ri
  FROM own, range(0,3) ss(s), range(0,2) bs(band)
  WHERE col BETWEEN 18+s AND 21+s AND row BETWEEN 24 AND 27
), vals AS (
  SELECT s, band,
    CASE WHEN ri >= (s*11)%48 AND ri < (s*11)%48+16
          AND ci >= (s*11)%48 AND ci < (s*11)%48+16 THEN -9999.0
         ELSE s*1000.0 + band*100.0 + col*7.0 + row*3.0 + ri*0.5 + ci*0.25
              + CAST((ri*31 + ci*17) % 13 AS DOUBLE) END AS v
  FROM samp
)
SELECT CONCAT('scene-', CAST(s AS VARCHAR)) AS source_id,
       CAST(band AS BIGINT) AS band,
       SUM(v) AS px_sum, CAST(COUNT(*) AS BIGINT) AS px_count
FROM vals GROUP BY 1, 2
"""

    # Krovak reproject (reproject_krovak): SQL twin of the 9819 inverse
    # — conic (r, theta) -> (T, D), tilted-sphere rotation -> (U, V),
    # lam = lon0 - V/B, then the DIRECT 8-step fixed point
    # phi = 2(atan(tU ((1+e sin phi)/(1-e sin phi))^(e/2)) - pi/4).
    import numpy as _np2
    _kr_ell = _gr.ellipsoid_params("bessel")
    _kr_a, _kr_e2 = _kr_ell[0], _kr_ell[2]
    _kr_A, _kr_B, _kr_g0, _kr_t0, _kr_n, _kr_r0 = _gr._krovak_consts(
        32.0, 78.5, 0.9999, _kr_a, _kr_e2)
    _kr_e1 = float(_np2.sqrt(_kr_e2))
    _kr_ac = _np2.radians(_np2.float64(30.28813972222222))
    _kr_sinac = _dl(float(_np2.sin(_kr_ac)))
    _kr_cosac = _dl(float(_np2.cos(_kr_ac)))
    _kr_tanp = _dl(float(_np2.tan(_np2.pi / 4.0
                                  + _np2.radians(_np2.float64(78.5)) / 2.0)))
    _kr_cw = _dl((KR_X1 - KR_X0) / KR_COLS)
    _kr_ch = _dl((KR_Y1 - KR_Y0) / KR_ROWS)
    _kr_lit_B = _dl(_kr_B)
    _kr_lit_t0 = _dl(_kr_t0)
    _kr_lit_n = _dl(_kr_n)
    _kr_lit_r0 = _dl(_kr_r0)
    _kr_invn = _dl(1.0 / _kr_n)
    _kr_invB = _dl(1.0 / _kr_B)
    _kr_lit_e1 = _dl(_kr_e1)
    _kr_e12 = _dl(_kr_e1 / 2.0)
    _kr_iters = "".join(
        f", kr{i} AS MATERIALIZED (SELECT * EXCLUDE (phi), "
        f"2.0*(ATAN(tu*POWER((1.0 + {_kr_lit_e1}*SIN(phi))"
        f"/(1.0 - {_kr_lit_e1}*SIN(phi)), {_kr_e12})) - PI()/4.0) AS phi "
        f"FROM kr{i - 1})\n"
        for i in range(1, 9))
    o["reproject_krovak"] = f"""
WITH tgt AS (
  SELECT CAST({KR_X0} AS DOUBLE) + (c+0.5)*{_kr_cw} AS xs,
         CAST({KR_Y1} AS DOUBLE) - (r+0.5)*{_kr_ch} AS ys
  FROM range(0,{KR_COLS}) cs(c), range(0,{KR_ROWS}) rs(r)
), con AS (
  SELECT -xs AS yw, -ys AS xs_s FROM tgt
), rc AS (
  SELECT SQRT(xs_s*xs_s + yw*yw) AS r, ATAN2(yw, xs_s) AS theta FROM con
), td AS (
  SELECT 2.0*(ATAN(POWER({_kr_lit_r0}/r, {_kr_invn}) * {_kr_tanp})
              - PI()/4.0) AS t,
         theta/{_kr_lit_n} AS d FROM rc
), uv AS (
  SELECT t, d,
    ASIN(LEAST(GREATEST({_kr_cosac}*SIN(t) - {_kr_sinac}*COS(t)*COS(d),
                        -1.0), 1.0)) AS u
  FROM td
), uv2 AS (
  SELECT u, ASIN(LEAST(GREATEST(COS(t)*SIN(d)/COS(u), -1.0), 1.0)) AS v
  FROM uv
), kr0 AS (
  SELECT (((-45.0) - DEGREES(v/{_kr_lit_B})) + 180.0) % 360.0 - 180.0
           AS lon,
         POWER(TAN(u/2.0 + PI()/4.0)/{_kr_lit_t0}, {_kr_invB}) AS tu,
         u AS phi
  FROM uv2)
{_kr_iters}, pts AS (
  SELECT lon, DEGREES(phi) AS lat FROM kr8
), own AS (
  SELECT lon, lat, {C.sql_tile_col('lon', 6)} AS col, {C.sql_tile_row('lat', 6)} AS row
  FROM pts
), samp AS (
  SELECT s, band, col, row,
    CAST(FLOOR((lon - (CAST(col AS DOUBLE)/64.0*360.0-180.0)) / 0.087890625) AS BIGINT) AS ci,
    CAST(FLOOR(({_la_lat6('CAST(row AS DOUBLE)')} - lat)
         / (({_la_lat6('CAST(row AS DOUBLE)')} - {_la_lat6('CAST(row AS DOUBLE)+1.0')})/64.0)) AS BIGINT) AS ri
  FROM own, range(0,3) ss(s), range(0,2) bs(band)
  WHERE col BETWEEN 18+s AND 21+s AND row BETWEEN 24 AND 27
), vals AS (
  SELECT s, band,
    CASE WHEN ri >= (s*11)%48 AND ri < (s*11)%48+16
          AND ci >= (s*11)%48 AND ci < (s*11)%48+16 THEN -9999.0
         ELSE s*1000.0 + band*100.0 + col*7.0 + row*3.0 + ri*0.5 + ci*0.25
              + CAST((ri*31 + ci*17) % 13 AS DOUBLE) END AS v
  FROM samp
)
SELECT CONCAT('scene-', CAST(s AS VARCHAR)) AS source_id,
       CAST(band AS BIGINT) AS band,
       SUM(v) AS px_sum, CAST(COUNT(*) AS BIGINT) AS px_count
FROM vals GROUP BY 1, 2
"""

    # Azimuthal equidistant reproject (reproject_aeqd): the Snyder-25
    # spherical inverse — c = rho/R, the same asin/atan2 chain as the
    # spherical stere oracle — with literal sin/cos(lat_0) constants.
    import numpy as _np
    _ae_cw = _dl((AE_X1 - AE_X0) / AE_COLS)
    _ae_ch = _dl((AE_Y1 - AE_Y0) / AE_ROWS)
    _ae_sp0 = _dl(float(_np.sin(_np.radians(_np.float64(AE_LAT0)))))
    _ae_cp0 = _dl(float(_np.cos(_np.radians(_np.float64(AE_LAT0)))))
    _ae_r = _dl(6371000.0)
    o["reproject_aeqd"] = f"""
WITH tgt AS (
  SELECT CAST({AE_X0} AS DOUBLE) + (c+0.5)*{_ae_cw} AS xs,
         CAST({AE_Y1} AS DOUBLE) - (r+0.5)*{_ae_ch} AS ys
  FROM range(0,{AE_COLS}) cs(c), range(0,{AE_ROWS}) rs(r)
), rc AS (
  SELECT xs, ys, SQRT(xs*xs + ys*ys) AS rho,
         SQRT(xs*xs + ys*ys) / {_ae_r} AS cc
  FROM tgt
), pts AS (
  SELECT (({AE_LON0} + DEGREES(ATAN2(xs*SIN(cc),
            rho*{_ae_cp0}*COS(cc) - ys*{_ae_sp0}*SIN(cc))))
          + 180.0) % 360.0 - 180.0 AS lon,
         DEGREES(ASIN(LEAST(GREATEST(
            COS(cc)*{_ae_sp0} + ys*SIN(cc)*{_ae_cp0}/rho,
            -1.0), 1.0))) AS lat
  FROM rc
), own AS (
  SELECT lon, lat, {C.sql_tile_col('lon', 6)} AS col, {C.sql_tile_row('lat', 6)} AS row
  FROM pts
), samp AS (
  SELECT s, band, col, row,
    CAST(FLOOR((lon - (CAST(col AS DOUBLE)/64.0*360.0-180.0)) / 0.087890625) AS BIGINT) AS ci,
    CAST(FLOOR(({_la_lat6('CAST(row AS DOUBLE)')} - lat)
         / (({_la_lat6('CAST(row AS DOUBLE)')} - {_la_lat6('CAST(row AS DOUBLE)+1.0')})/64.0)) AS BIGINT) AS ri
  FROM own, range(0,3) ss(s), range(0,2) bs(band)
  WHERE col BETWEEN 18+s AND 21+s AND row BETWEEN 24 AND 27
), vals AS (
  SELECT s, band,
    CASE WHEN ri >= (s*11)%48 AND ri < (s*11)%48+16
          AND ci >= (s*11)%48 AND ci < (s*11)%48+16 THEN -9999.0
         ELSE s*1000.0 + band*100.0 + col*7.0 + row*3.0 + ri*0.5 + ci*0.25
              + CAST((ri*31 + ci*17) % 13 AS DOUBLE) END AS v
  FROM samp
)
SELECT CONCAT('scene-', CAST(s AS VARCHAR)) AS source_id,
       CAST(band AS BIGINT) AS band,
       SUM(v) AS px_sum, CAST(COUNT(*) AS BIGINT) AS px_count
FROM vals GROUP BY 1, 2
"""

    # Ellipsoidal aeqd reproject (reproject_aeqd_ell): SQL twin of the
    # Vincenty DIRECT solve (grid.aeqd_ell_to_lonlat) — alpha1/s from
    # (xs, ys), the pinned 4-step sigma iteration unrolled as CTEs
    # (grid._VINC_DIRECT_ITERS), then the closed-form phi/lambda.
    # Constants are the engine's WGS84 doubles rendered as literals.
    _ve_a, _ve_fv, _ve_e2 = _gr.ellipsoid_params("WGS84")
    _ve_bv = _ve_a * (1.0 - _ve_fv)
    _ve_tanu1 = float((1.0 - _ve_fv)
                      * _np.tan(_np.radians(_np.float64(AE_LAT0))))
    _ve_u1 = float(_np.arctan(_ve_tanu1))
    _ve_f = _dl(_ve_fv)
    _ve_omf = _dl(1.0 - _ve_fv)
    _ve_b = _dl(_ve_bv)
    _ve_ep2 = _dl((_ve_a * _ve_a - _ve_bv * _ve_bv) / (_ve_bv * _ve_bv))
    _ve_tu1 = _dl(_ve_tanu1)
    _ve_su1 = _dl(float(_np.sin(_ve_u1)))
    _ve_cu1 = _dl(float(_np.cos(_ve_u1)))
    _ve_dsig = (
        f"bigb*SIN(sig)*(COS(2.0*sig1 + sig) "
        f"+ 0.25*bigb*(COS(sig)*(-1.0 + 2.0*COS(2.0*sig1 + sig)"
        f"*COS(2.0*sig1 + sig)) "
        f"- (bigb/6.0)*COS(2.0*sig1 + sig)*(-3.0 + 4.0*SIN(sig)*SIN(sig))"
        f"*(-3.0 + 4.0*COS(2.0*sig1 + sig)*COS(2.0*sig1 + sig))))")
    _ve_iters = "".join(
        f", vd{i} AS MATERIALIZED (SELECT * EXCLUDE (sig), "
        f"sig0 + {_ve_dsig} AS sig FROM vd{i - 1})\n"
        for i in range(1, 5))
    o["reproject_aeqd_ell"] = f"""
WITH tgt AS (
  SELECT CAST({AE_X0} AS DOUBLE) + (c+0.5)*{_ae_cw} AS xs,
         CAST({AE_Y1} AS DOUBLE) - (r+0.5)*{_ae_ch} AS ys
  FROM range(0,{AE_COLS}) cs(c), range(0,{AE_ROWS}) rs(r)
), pre AS (
  SELECT SQRT(xs*xs + ys*ys) AS s, ATAN2(xs, ys) AS a1 FROM tgt
), pre2 AS (
  SELECT s, a1, ATAN2({_ve_tu1}, COS(a1)) AS sig1,
         {_ve_cu1}*SIN(a1) AS sina
  FROM pre
), pre3 AS (
  SELECT s, a1, sig1, sina, 1.0 - sina*sina AS cos2a FROM pre2
), pre4 AS (
  SELECT s, a1, sig1, sina, cos2a, cos2a*{_ve_ep2} AS u2 FROM pre3
), pre5 AS (
  SELECT s, a1, sig1, sina, cos2a,
    1.0 + u2/16384.0*(4096.0 + u2*(-768.0 + u2*(320.0 - 175.0*u2))) AS biga,
    u2/1024.0*(256.0 + u2*(-128.0 + u2*(74.0 - 47.0*u2))) AS bigb
  FROM pre4
), vd0 AS MATERIALIZED (
  SELECT a1, sig1, sina, cos2a, bigb,
         s/({_ve_b}*biga) AS sig0, s/({_ve_b}*biga) AS sig
  FROM pre5
)
{_ve_iters}, vcc AS (
  SELECT a1, sig1, sina, sig,
         {_ve_f}/16.0*cos2a*(4.0 + {_ve_f}*(4.0 - 3.0*cos2a)) AS cc
  FROM vd4
), pts AS (
  SELECT
    (({AE_LON0} + DEGREES(
        ATAN2(SIN(sig)*SIN(a1), {_ve_cu1}*COS(sig) - {_ve_su1}*SIN(sig)*COS(a1))
        - (1.0 - cc)*{_ve_f}*sina*(sig + cc*SIN(sig)*(COS(2.0*sig1 + sig)
            + cc*COS(sig)*(-1.0 + 2.0*COS(2.0*sig1 + sig)*COS(2.0*sig1 + sig))))
     )) + 180.0) % 360.0 - 180.0 AS lon,
    DEGREES(ATAN2({_ve_su1}*COS(sig) + {_ve_cu1}*SIN(sig)*COS(a1),
      {_ve_omf}*SQRT(sina*sina
        + ({_ve_su1}*SIN(sig) - {_ve_cu1}*COS(sig)*COS(a1))
         *({_ve_su1}*SIN(sig) - {_ve_cu1}*COS(sig)*COS(a1))))) AS lat
  FROM vcc
), own AS (
  SELECT lon, lat, {C.sql_tile_col('lon', 6)} AS col, {C.sql_tile_row('lat', 6)} AS row
  FROM pts
), samp AS (
  SELECT s, band, col, row,
    CAST(FLOOR((lon - (CAST(col AS DOUBLE)/64.0*360.0-180.0)) / 0.087890625) AS BIGINT) AS ci,
    CAST(FLOOR(({_la_lat6('CAST(row AS DOUBLE)')} - lat)
         / (({_la_lat6('CAST(row AS DOUBLE)')} - {_la_lat6('CAST(row AS DOUBLE)+1.0')})/64.0)) AS BIGINT) AS ri
  FROM own, range(0,3) ss(s), range(0,2) bs(band)
  WHERE col BETWEEN 18+s AND 21+s AND row BETWEEN 24 AND 27
), vals AS (
  SELECT s, band,
    CASE WHEN ri >= (s*11)%48 AND ri < (s*11)%48+16
          AND ci >= (s*11)%48 AND ci < (s*11)%48+16 THEN -9999.0
         ELSE s*1000.0 + band*100.0 + col*7.0 + row*3.0 + ri*0.5 + ci*0.25
              + CAST((ri*31 + ci*17) % 13 AS DOUBLE) END AS v
  FROM samp
)
SELECT CONCAT('scene-', CAST(s AS VARCHAR)) AS source_id,
       CAST(band AS BIGINT) AS band,
       SUM(v) AS px_sum, CAST(COUNT(*) AS BIGINT) AS px_count
FROM vals GROUP BY 1, 2
"""

    # Geodesic pairs (geodesic_pairs): Vincenty's INVERSE unrolled —
    # 16 MATERIALIZED iteration CTEs (grid._VINC_INVERSE_ITERS), each
    # computing the engine loop body's intermediates from the previous
    # lambda via nested selects (same guard CASEs, same expression
    # order); the final select uses the 16th iteration's intermediates
    # exactly like the engine's post-loop code. Constants are the
    # engine's runtime doubles; mixed BIGINT/literal arithmetic is
    # CAST to DOUBLE (the DuckDB DECIMAL rule).
    _gp_f = 1.0 / 298.257223563
    _gp_b = 6378137.0 * (1.0 - _gp_f)
    _GPF, _GPB = _dl(_gp_f), _dl(_gp_b)
    _GPOMF = _dl(1.0 - _gp_f)
    _GPEP2 = _dl((6378137.0 * 6378137.0 - _gp_b * _gp_b)
                 / (_gp_b * _gp_b))

    def _gp_iter(i: int) -> str:
        return f"""
vv{i} AS MATERIALIZED (
  SELECT a_id, b_id, L, su1, cu1, su2, cu2,
         sig, sins, coss, sina, cos2a, c2sm,
         L + (1.0 - cc)*{_GPF}*sina*(sig + cc*sins*(c2sm
             + cc*coss*(-1.0 + 2.0*c2sm*c2sm))) AS lam
  FROM (
    SELECT *, {_GPF}/16.0*cos2a*(4.0 + {_GPF}*(4.0 - 3.0*cos2a)) AS cc
    FROM (
      SELECT *, 1.0 - sina*sina AS cos2a,
             CASE WHEN 1.0 - sina*sina > 0.0
                  THEN coss - 2.0*su1*su2/(1.0 - sina*sina)
                  ELSE 0.0 END AS c2sm
      FROM (
        SELECT *, ATAN2(sins, coss) AS sig,
               CASE WHEN sins > 0.0 THEN cu1*cu2*sinl/sins
                    ELSE 0.0 END AS sina
        FROM (
          SELECT *, SQRT(t1*t1 + t2*t2) AS sins,
                 su1*su2 + cu1*cu2*cosl AS coss
          FROM (
            SELECT *, cu2*sinl AS t1, cu1*su2 - su1*cu2*cosl AS t2
            FROM (SELECT a_id, b_id, L, su1, cu1, su2, cu2,
                         SIN(lam) AS sinl, COS(lam) AS cosl
                  FROM vv{i - 1}))))))
)"""

    _gp_lon = ("CAST(-74.25 AS DOUBLE) + ((m*9973 + 12345) % 100000)"
               " / CAST(100000 AS DOUBLE) * CAST(0.5 AS DOUBLE)")
    _gp_lat = ("CAST(40.45 AS DOUBLE) + ((m*7919 + 54321) % 100000)"
               " / CAST(100000 AS DOUBLE) * CAST(0.5 AS DOUBLE)")
    o["geodesic_pairs"] = (derive.cte('anchors') + f""",
ms AS (SELECT DISTINCT doc_id % 503 AS m FROM anchors),
pts AS (SELECT m AS pid, {_gp_lon} AS lon, {_gp_lat} AS lat FROM ms),
pr AS (
  SELECT a.pid AS a_id, b.pid AS b_id,
         a.lon AS alon, a.lat AS alat, b.lon AS blon, b.lat AS blat
  FROM pts a JOIN pts b ON a.pid < b.pid),
vv0 AS MATERIALIZED (
  SELECT a_id, b_id,
         RADIANS(((blon - alon) + 180.0) % 360.0 - 180.0) AS L,
         SIN(ATAN({_GPOMF}*TAN(RADIANS(alat)))) AS su1,
         COS(ATAN({_GPOMF}*TAN(RADIANS(alat)))) AS cu1,
         SIN(ATAN({_GPOMF}*TAN(RADIANS(blat)))) AS su2,
         COS(ATAN({_GPOMF}*TAN(RADIANS(blat)))) AS cu2,
         RADIANS(((blon - alon) + 180.0) % 360.0 - 180.0) AS lam
  FROM pr),"""
        + ",".join(_gp_iter(i) for i in range(1, 17)) + f""",
fin AS (
  SELECT a_id, b_id, sins, coss, sig, c2sm, cos2a*{_GPEP2} AS u2v
  FROM vv16
), fin2 AS (
  SELECT *,
    1.0 + u2v/16384.0*(4096.0 + u2v*(-768.0 + u2v*(320.0
        - 175.0*u2v))) AS biga,
    u2v/1024.0*(256.0 + u2v*(-128.0 + u2v*(74.0 - 47.0*u2v))) AS bigb
  FROM fin
), fin3 AS (
  SELECT a_id, b_id,
    {_GPB}*biga*(sig - bigb*sins*(c2sm + 0.25*bigb*(
        coss*(-1.0 + 2.0*c2sm*c2sm)
        - (bigb/6.0)*c2sm*(-3.0 + 4.0*sins*sins)
          *(-3.0 + 4.0*c2sm*c2sm)))) AS s
  FROM fin2
)
SELECT a_id, b_id, CAST(FLOOR(s*1000.0 + 0.5) AS BIGINT) AS dist_q
FROM fin3
WHERE CAST(FLOOR(s*1000.0 + 0.5) AS BIGINT) <= 5000000
""")

    # Oblique double-stereographic reproject (reproject_sterea): SQL twin
    # of the EPSG GN7-2 inverse — g/h/i/j closed forms to (chi, Lambda),
    # then the SAME 8-step pinned isometric-latitude fixed point the
    # engine runs (grid._STEREA_ITERS = 8). Constants are the engine's
    # conformal-sphere doubles (R, n, c, chi0) rendered as literals.
    _sa_ell = _gr.ellipsoid_params("bessel")
    _sa_rncc = _gr._sterea_params(32.0, _sa_ell[0], _sa_ell[2])
    _sa_r, _sa_n, _sa_c, _sa_chi0 = (_dl(v) for v in _sa_rncc)
    _sa_e1 = _dl(float(_np.sqrt(_sa_ell[2])))
    _sa_e1h = _dl(float(_np.sqrt(_sa_ell[2]) / 2.0))
    _sa_e2 = _dl(_sa_ell[2])
    _sa_k0 = _dl(0.9999079)
    _sa_cw = _dl((SA_X1 - SA_X0) / SA_COLS)
    _sa_ch = _dl((SA_Y1 - SA_Y0) / SA_ROWS)
    _sa_step = (
        f"(LN(TAN(phi/2.0 + PI()/4.0)) "
        f"- {_sa_e1h}*LN((1.0 + {_sa_e1}*SIN(phi))/(1.0 - {_sa_e1}*SIN(phi))) "
        f"- psi) * COS(phi) * (1.0 - {_sa_e2}*SIN(phi)*SIN(phi)) "
        f"/ (1.0 - {_sa_e2})")
    _sa_iters = "".join(
        f", sa{i} AS MATERIALIZED (SELECT * EXCLUDE (phi), "
        f"phi - {_sa_step} AS phi FROM sa{i - 1})\n"
        for i in range(1, 9))
    o["reproject_sterea"] = f"""
WITH tgt AS (
  SELECT CAST({SA_X0} AS DOUBLE) + (c+0.5)*{_sa_cw} - 155000.0 AS xs,
         CAST({SA_Y1} AS DOUBLE) - (r+0.5)*{_sa_ch} - 463000.0 AS ys
  FROM range(0,{SA_COLS}) cs(c), range(0,{SA_ROWS}) rs(r)
), gij AS (
  SELECT xs, ys,
         ATAN2(xs, (4.0*{_sa_r}*{_sa_k0}*TAN({_sa_chi0})
                    + 2.0*{_sa_r}*{_sa_k0}*TAN(PI()/4.0 - {_sa_chi0}/2.0))
                   + ys) AS i,
         ATAN2(xs, 2.0*{_sa_r}*{_sa_k0}*TAN(PI()/4.0 - {_sa_chi0}/2.0) - ys)
           - ATAN2(xs, (4.0*{_sa_r}*{_sa_k0}*TAN({_sa_chi0})
                        + 2.0*{_sa_r}*{_sa_k0}*TAN(PI()/4.0 - {_sa_chi0}/2.0))
                       + ys) AS j
  FROM tgt
), chl AS (
  SELECT
    {_sa_chi0} + 2.0*ATAN((ys - xs*TAN(j/2.0)) / (2.0*{_sa_r}*{_sa_k0})) AS chi,
    ((-62.0 + DEGREES((j + 2.0*i)/{_sa_n})) + 180.0) % 360.0 - 180.0 AS lon
  FROM gij
), sa0 AS (
  SELECT lon,
         0.5*LN((1.0 + SIN(chi)) / ({_sa_c}*(1.0 - SIN(chi))))/{_sa_n} AS psi,
         2.0*ATAN(EXP(0.5*LN((1.0 + SIN(chi))
                             / ({_sa_c}*(1.0 - SIN(chi))))/{_sa_n}))
           - PI()/2.0 AS phi
  FROM chl)
{_sa_iters}, pts AS (
  SELECT lon, DEGREES(phi) AS lat FROM sa8
), own AS (
  SELECT lon, lat, {C.sql_tile_col('lon', 6)} AS col, {C.sql_tile_row('lat', 6)} AS row
  FROM pts
), samp AS (
  SELECT s, band, col, row,
    CAST(FLOOR((lon - (CAST(col AS DOUBLE)/64.0*360.0-180.0)) / 0.087890625) AS BIGINT) AS ci,
    CAST(FLOOR(({_la_lat6('CAST(row AS DOUBLE)')} - lat)
         / (({_la_lat6('CAST(row AS DOUBLE)')} - {_la_lat6('CAST(row AS DOUBLE)+1.0')})/64.0)) AS BIGINT) AS ri
  FROM own, range(0,3) ss(s), range(0,2) bs(band)
  WHERE col BETWEEN 18+s AND 21+s AND row BETWEEN 24 AND 27
), vals AS (
  SELECT s, band,
    CASE WHEN ri >= (s*11)%48 AND ri < (s*11)%48+16
          AND ci >= (s*11)%48 AND ci < (s*11)%48+16 THEN -9999.0
         ELSE s*1000.0 + band*100.0 + col*7.0 + row*3.0 + ri*0.5 + ci*0.25
              + CAST((ri*31 + ci*17) % 13 AS DOUBLE) END AS v
  FROM samp
)
SELECT CONCAT('scene-', CAST(s AS VARCHAR)) AS source_id,
       CAST(band AS BIGINT) AS band,
       SUM(v) AS px_sum, CAST(COUNT(*) AS BIGINT) AS px_count
FROM vals GROUP BY 1, 2
"""

    # Swiss oblique Mercator reproject (reproject_somerc): SQL twin of
    # the somerc inverse — Mercator inverse on the rotated conformal
    # sphere, the inverse rotation (asin/atan2 chain), then the SAME
    # pinned isometric-latitude fixed point as the sterea oracle (the
    # _sa_step string and its Bessel e literals are reused verbatim);
    # constants are the engine's _somerc_params(32, bessel) doubles.
    _so_rc = _gr._somerc_params(32.0, _sa_ell[0], _sa_ell[2])
    _so_r, _so_al, _so_b0, _so_k = (_dl(v) for v in _so_rc)
    _so_kr = _dl(1.0 * _so_rc[0])  # k0 * R with the gate's k0 = 1
    _so_cw = _dl((SO_X1 - SO_X0) / SO_COLS)
    _so_ch = _dl((SO_Y1 - SO_Y0) / SO_ROWS)
    _so_iters = "".join(
        f", so{i} AS MATERIALIZED (SELECT * EXCLUDE (phi), "
        f"phi - {_sa_step} AS phi FROM so{i - 1})\n"
        for i in range(1, 9))
    o["reproject_somerc"] = f"""
WITH tgt AS (
  SELECT CAST({SO_X0} AS DOUBLE) + (c+0.5)*{_so_cw} - 600000.0 AS xs,
         CAST({SO_Y1} AS DOUBLE) - (r+0.5)*{_so_ch} - 200000.0 AS ys
  FROM range(0,{SO_COLS}) cs(c), range(0,{SO_ROWS}) rs(r)
), rot AS (
  SELECT xs/{_so_kr} AS ll,
         2.0*ATAN(EXP(ys/{_so_kr})) - PI()/2.0 AS bb
  FROM tgt
), sph AS (
  SELECT ASIN(COS({_so_b0})*SIN(bb) + SIN({_so_b0})*COS(bb)*COS(ll)) AS b,
         ATAN2(COS(bb)*SIN(ll),
               COS({_so_b0})*COS(bb)*COS(ll) - SIN({_so_b0})*SIN(bb)) AS lam
  FROM rot
), so0 AS (
  SELECT ((-62.0 + DEGREES(lam/{_so_al})) + 180.0) % 360.0 - 180.0 AS lon,
         (LN(TAN(PI()/4.0 + b/2.0)) - {_so_k})/{_so_al} AS psi,
         2.0*ATAN(EXP((LN(TAN(PI()/4.0 + b/2.0)) - {_so_k})/{_so_al}))
           - PI()/2.0 AS phi
  FROM sph)
{_so_iters}, pts AS (
  SELECT lon, DEGREES(phi) AS lat FROM so8
), own AS (
  SELECT lon, lat, {C.sql_tile_col('lon', 6)} AS col, {C.sql_tile_row('lat', 6)} AS row
  FROM pts
), samp AS (
  SELECT s, band, col, row,
    CAST(FLOOR((lon - (CAST(col AS DOUBLE)/64.0*360.0-180.0)) / 0.087890625) AS BIGINT) AS ci,
    CAST(FLOOR(({_la_lat6('CAST(row AS DOUBLE)')} - lat)
         / (({_la_lat6('CAST(row AS DOUBLE)')} - {_la_lat6('CAST(row AS DOUBLE)+1.0')})/64.0)) AS BIGINT) AS ri
  FROM own, range(0,3) ss(s), range(0,2) bs(band)
  WHERE col BETWEEN 18+s AND 21+s AND row BETWEEN 24 AND 27
), vals AS (
  SELECT s, band,
    CASE WHEN ri >= (s*11)%48 AND ri < (s*11)%48+16
          AND ci >= (s*11)%48 AND ci < (s*11)%48+16 THEN -9999.0
         ELSE s*1000.0 + band*100.0 + col*7.0 + row*3.0 + ri*0.5 + ci*0.25
              + CAST((ri*31 + ci*17) % 13 AS DOUBLE) END AS v
  FROM samp
)
SELECT CONCAT('scene-', CAST(s AS VARCHAR)) AS source_id,
       CAST(band AS BIGINT) AS band,
       SUM(v) AS px_sum, CAST(COUNT(*) AS BIGINT) AS px_count
FROM vals GROUP BY 1, 2
"""

    # Hotine oblique Mercator reproject (reproject_omerc): SQL twin of
    # the GN7-2 variant-B inverse — de-rectification by the grid angle,
    # Q'/S'/T'/U'/V' chain to t' (POW with the engine's 1/B double as the
    # literal exponent), lambda from the atan2 chain, and the SAME pinned
    # 8-step isometric-latitude fixed point as the somerc/sterea oracles
    # (psi = -LN(t')). Constants are the engine's _omerc_params(40,
    # alpha_RSO, 0.99984, evrstSS) doubles as literals.
    _om_ell = _gr.ellipsoid_params("evrstSS")
    _om_c = _gr._omerc_params(40.0, 53.31582047222222, 0.99984,
                              _om_ell[0], _om_ell[2])
    _om_b, _om_a, _om_h, _om_g0v, _om_l0off, _om_ucv = _om_c
    _om_bl, _om_al, _om_hl = _dl(_om_b), _dl(_om_a), _dl(_om_h)
    _om_g0 = _dl(_om_g0v)
    _om_uc = _dl(_om_ucv)
    _om_ib = _dl(1.0 / _om_b)
    _om_lam0 = _dl(float(_np.radians(_np.float64(-62.0)) - _om_l0off))
    _om_gc = _dl(float(_np.radians(_np.float64(53.13010236111111))))
    _om_e1 = _dl(float(_np.sqrt(_om_ell[2])))
    _om_e1h = _dl(float(_np.sqrt(_om_ell[2]) / 2.0))
    _om_e2l = _dl(_om_ell[2])
    _om_cw = _dl((OM_X1 - OM_X0) / OM_COLS)
    _om_ch = _dl((OM_Y1 - OM_Y0) / OM_ROWS)
    _om_step = (
        f"(LN(TAN(phi/2.0 + PI()/4.0)) "
        f"- {_om_e1h}*LN((1.0 + {_om_e1}*SIN(phi))/(1.0 - {_om_e1}*SIN(phi))) "
        f"- psi) * COS(phi) * (1.0 - {_om_e2l}*SIN(phi)*SIN(phi)) "
        f"/ (1.0 - {_om_e2l})")
    _om_iters = "".join(
        f", om{i} AS MATERIALIZED (SELECT * EXCLUDE (phi), "
        f"phi - {_om_step} AS phi FROM om{i - 1})\n"
        for i in range(1, 9))
    o["reproject_omerc"] = f"""
WITH tgt AS (
  SELECT CAST({OM_X0} AS DOUBLE) + (c+0.5)*{_om_cw} - 590476.87 AS xs,
         CAST({OM_Y1} AS DOUBLE) - (r+0.5)*{_om_ch} - 442857.65 AS ys
  FROM range(0,{OM_COLS}) cs(c), range(0,{OM_ROWS}) rs(r)
), uv AS (
  SELECT xs*COS({_om_gc}) - ys*SIN({_om_gc}) AS vr,
         ys*COS({_om_gc}) + xs*SIN({_om_gc}) + {_om_uc} AS ur
  FROM tgt
), qst AS (
  SELECT ur,
         (EXP(-({_om_bl}*vr/{_om_al})) - 1.0/EXP(-({_om_bl}*vr/{_om_al})))/2.0 AS sp,
         (EXP(-({_om_bl}*vr/{_om_al})) + 1.0/EXP(-({_om_bl}*vr/{_om_al})))/2.0 AS tp,
         SIN({_om_bl}*ur/{_om_al}) AS vp
  FROM uv
), upt AS (
  SELECT ur, sp, vp,
         (vp*COS({_om_g0}) + sp*SIN({_om_g0}))/tp AS up
  FROM qst
), om0 AS (
  SELECT (DEGREES({_om_lam0} - ATAN2(sp*COS({_om_g0}) - vp*SIN({_om_g0}),
                                     COS({_om_bl}*ur/{_om_al}))/{_om_bl})
           + 180.0) % 360.0 - 180.0 AS lon,
         -LN(POW({_om_hl} / SQRT((1.0 + up)/(1.0 - up)), {_om_ib})) AS psi,
         2.0*ATAN(EXP(-LN(POW({_om_hl} / SQRT((1.0 + up)/(1.0 - up)),
                              {_om_ib})))) - PI()/2.0 AS phi
  FROM upt)
{_om_iters}, pts AS (
  SELECT lon, DEGREES(phi) AS lat FROM om8
), own AS (
  SELECT lon, lat, {C.sql_tile_col('lon', 6)} AS col, {C.sql_tile_row('lat', 6)} AS row
  FROM pts
), samp AS (
  SELECT s, band, col, row,
    CAST(FLOOR((lon - (CAST(col AS DOUBLE)/64.0*360.0-180.0)) / 0.087890625) AS BIGINT) AS ci,
    CAST(FLOOR(({_la_lat6('CAST(row AS DOUBLE)')} - lat)
         / (({_la_lat6('CAST(row AS DOUBLE)')} - {_la_lat6('CAST(row AS DOUBLE)+1.0')})/64.0)) AS BIGINT) AS ri
  FROM own, range(0,3) ss(s), range(0,2) bs(band)
  WHERE col BETWEEN 18+s AND 21+s AND row BETWEEN 24 AND 27
), vals AS (
  SELECT s, band,
    CASE WHEN ri >= (s*11)%48 AND ri < (s*11)%48+16
          AND ci >= (s*11)%48 AND ci < (s*11)%48+16 THEN -9999.0
         ELSE s*1000.0 + band*100.0 + col*7.0 + row*3.0 + ri*0.5 + ci*0.25
              + CAST((ri*31 + ci*17) % 13 AS DOUBLE) END AS v
  FROM samp
)
SELECT CONCAT('scene-', CAST(s AS VARCHAR)) AS source_id,
       CAST(band AS BIGINT) AS band,
       SUM(v) AS px_sum, CAST(COUNT(*) AS BIGINT) AS px_count
FROM vals GROUP BY 1, 2
"""

    # Focal 3x3 mean with halo exchange (focal_stats): per-pixel 9-term
    # neighborhood recomputed from the closed-form fixture values — same
    # fixed (dr,dc) chained-add order as the engine's stencil loop, same
    # acc/cnt division, same floor(x*2^20+0.5) quantization, INTEGER sum
    # per tile (order-independent). Validity = inside the source's tile
    # footprint AND outside its nodata hole (h0 = (s*11)%48).
    def _fo_term(odr, odc):
        gr = f"(row*64 + ri + {odr})"
        gc = f"(col*64 + ci + {odc})"
        r2, ri2 = f"({gr}//64)", f"({gr}%64)"
        c2, ci2 = f"({gc}//64)", f"({gc}%64)"
        valid = (f"({c2} BETWEEN 18+s AND 21+s AND {r2} BETWEEN 24 AND 27"
                 f" AND NOT ({ri2} >= h0 AND {ri2} < h0+16"
                 f" AND {ci2} >= h0 AND {ci2} < h0+16))")
        v = (f"(s*1000.0 + band*100.0 + {c2}*7.0 + {r2}*3.0"
             f" + {ri2}*0.5 + {ci2}*0.25"
             f" + CAST(({ri2}*31 + {ci2}*17) % 13 AS DOUBLE))")
        return (f"CASE WHEN {valid} THEN {v} ELSE 0.0 END",
                f"CASE WHEN {valid} THEN 1 ELSE 0 END")

    _fo_terms = [_fo_term(odr, odc)
                 for odr in (-1, 0, 1) for odc in (-1, 0, 1)]
    _fo_acc = " + ".join(tv for tv, _ in _fo_terms)
    _fo_cnt = " + ".join(tc for _, tc in _fo_terms)
    o["focal_stats"] = f"""
WITH px AS (
  SELECT s, band, 18 + s + tcc AS col, 24 + trr AS row, ri, ci,
         (s*11) % 48 AS h0
  FROM range(0,3) ss(s), range(0,2) bs(band),
       range(0,4) tcs(tcc), range(0,4) trs(trr),
       range(0,64) ris(ri), range(0,64) cis(ci)
), acc AS (
  SELECT s, band, col, row,
         {_fo_acc} AS a,
         {_fo_cnt} AS n
  FROM px
), q AS (
  SELECT s, band, col, row,
         CAST(FLOOR(a / CAST(n AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT) AS qv
  FROM acc WHERE n > 0
)
SELECT CONCAT('scene-', CAST(s AS VARCHAR)) AS source_id,
       CAST(band AS BIGINT) AS band, col, row,
       CAST(SUM(qv) AS BIGINT) AS focal_sum,
       CAST(COUNT(*) AS BIGINT) AS focal_count
FROM q GROUP BY 1, 2, 3, 4
"""

    # Focal mean over the radius-2 CIRCLE neighborhood (focal_circle):
    # the same neighbor-term machinery restricted to the 13 offsets
    # with dr^2 + dc^2 <= 4 — identical chained-add order (row-major
    # with terms removed), identical division/quantization.
    _fc_terms = [_fo_term(odr, odc)
                 for odr in (-2, -1, 0, 1, 2) for odc in (-2, -1, 0, 1, 2)
                 if odr * odr + odc * odc <= 4]
    o["focal_circle"] = f"""
WITH px AS (
  SELECT s, band, 18 + s + tcc AS col, 24 + trr AS row, ri, ci,
         (s*11) % 48 AS h0
  FROM range(0,3) ss(s), range(0,2) bs(band),
       range(0,4) tcs(tcc), range(0,4) trs(trr),
       range(0,64) ris(ri), range(0,64) cis(ci)
), acc AS (
  SELECT s, band, col, row,
         {" + ".join(tv for tv, _ in _fc_terms)} AS a,
         {" + ".join(tc for _, tc in _fc_terms)} AS n
  FROM px
), q AS (
  SELECT s, band, col, row,
         CAST(FLOOR(a / CAST(n AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT) AS qv
  FROM acc WHERE n > 0
)
SELECT CONCAT('scene-', CAST(s AS VARCHAR)) AS source_id,
       CAST(band AS BIGINT) AS band, col, row,
       CAST(SUM(qv) AS BIGINT) AS focal_sum,
       CAST(COUNT(*) AS BIGINT) AS focal_count
FROM q GROUP BY 1, 2, 3, 4
"""

    # Focal mean over the radius-3 WEDGE [0.3, 2.2] rad (focal_wedge):
    # the offset set re-derived INDEPENDENTLY here with the same public
    # mask definition (atan2(-dr, dc) in the arc, center included;
    # every member >= 0.14 rad from a boundary — membership is
    # libm-robust), then the standard neighbor-term machinery.
    import math as _math
    _fw_offs = [
        (odr, odc)
        for odr in (-3, -2, -1, 0, 1, 2, 3)
        for odc in (-3, -2, -1, 0, 1, 2, 3)
        if (odr == 0 and odc == 0)
        or (odr * odr + odc * odc <= 9
            and 0.3 <= _math.atan2(-odr, odc) <= 2.2)]
    _fw_terms = [_fo_term(odr, odc) for odr, odc in _fw_offs]
    o["focal_wedge"] = f"""
WITH px AS (
  SELECT s, band, 18 + s + tcc AS col, 24 + trr AS row, ri, ci,
         (s*11) % 48 AS h0
  FROM range(0,3) ss(s), range(0,2) bs(band),
       range(0,4) tcs(tcc), range(0,4) trs(trr),
       range(0,64) ris(ri), range(0,64) cis(ci)
), acc AS (
  SELECT s, band, col, row,
         {" + ".join(tv for tv, _ in _fw_terms)} AS a,
         {" + ".join(tc for _, tc in _fw_terms)} AS n
  FROM px
), q AS (
  SELECT s, band, col, row,
         CAST(FLOOR(a / CAST(n AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT) AS qv
  FROM acc WHERE n > 0
)
SELECT CONCAT('scene-', CAST(s AS VARCHAR)) AS source_id,
       CAST(band AS BIGINT) AS band, col, row,
       CAST(SUM(qv) AS BIGINT) AS focal_sum,
       CAST(COUNT(*) AS BIGINT) AS focal_count
FROM q GROUP BY 1, 2, 3, 4
"""

    # Focal standard deviation (focal_stddev): same 9-term neighborhood
    # machinery with value AND value^2 accumulators (both exact on the
    # quarter-multiple fixture), then the engine's exact op chain —
    # m = a/n, m2 = a2/n, var = GREATEST(m2 - m*m, 0), SQRT, quantize.
    # value^2 terms: regenerated with the square spelled out (same
    # validity predicate, same chained-add order as _fo_terms)
    def _fo_term_sq(odr, odc):
        gr = f"(row*64 + ri + {odr})"
        gc = f"(col*64 + ci + {odc})"
        r2, ri2 = f"({gr}//64)", f"({gr}%64)"
        c2, ci2 = f"({gc}//64)", f"({gc}%64)"
        valid = (f"({c2} BETWEEN 18+s AND 21+s AND {r2} BETWEEN 24 AND 27"
                 f" AND NOT ({ri2} >= h0 AND {ri2} < h0+16"
                 f" AND {ci2} >= h0 AND {ci2} < h0+16))")
        v = (f"(s*1000.0 + band*100.0 + {c2}*7.0 + {r2}*3.0"
             f" + {ri2}*0.5 + {ci2}*0.25"
             f" + CAST(({ri2}*31 + {ci2}*17) % 13 AS DOUBLE))")
        return f"CASE WHEN {valid} THEN {v}*{v} ELSE 0.0 END"

    _fs2_sq = " + ".join(_fo_term_sq(odr, odc)
                         for odr in (-1, 0, 1) for odc in (-1, 0, 1))
    o["focal_stddev"] = f"""
WITH px AS (
  SELECT s, band, 18 + s + tcc AS col, 24 + trr AS row, ri, ci,
         (s*11) % 48 AS h0
  FROM range(0,3) ss(s), range(0,2) bs(band),
       range(0,4) tcs(tcc), range(0,4) trs(trr),
       range(0,64) ris(ri), range(0,64) cis(ci)
), acc AS (
  SELECT s, band, col, row,
         {_fo_acc} AS a,
         {_fs2_sq} AS a2,
         {_fo_cnt} AS n
  FROM px
), q AS (
  SELECT s, band, col, row,
         CAST(FLOOR(SQRT(GREATEST(
               a2 / CAST(n AS DOUBLE)
               - (a / CAST(n AS DOUBLE)) * (a / CAST(n AS DOUBLE)),
               0.0)) * 1048576.0 + 0.5) AS BIGINT) AS qv
  FROM acc WHERE n > 0
)
SELECT CONCAT('scene-', CAST(s AS VARCHAR)) AS source_id,
       CAST(band AS BIGINT) AS band, col, row,
       CAST(SUM(qv) AS BIGINT) AS focal_sum,
       CAST(COUNT(*) AS BIGINT) AS focal_count
FROM q GROUP BY 1, 2, 3, 4
"""

    # Focal mode / majority (focal_mode): nine NULL-able CLASS columns
    # (floor(v/500)), UNNEST + per-class counts + ROW_NUMBER ordered by
    # (count DESC, class ASC) — the engine's majority-with-smallest-tie-
    # break rule exactly.
    def _fm_nb(odr, odc):
        gr = f"(row*64 + ri + {odr})"
        gc = f"(col*64 + ci + {odc})"
        r2, ri2 = f"({gr}//64)", f"({gr}%64)"
        c2, ci2 = f"({gc}//64)", f"({gc}%64)"
        valid = (f"({c2} BETWEEN 18+s AND 21+s AND {r2} BETWEEN 24 AND 27"
                 f" AND NOT ({ri2} >= h0 AND {ri2} < h0+16"
                 f" AND {ci2} >= h0 AND {ci2} < h0+16))")
        v = (f"(s*1000.0 + band*100.0 + {c2}*7.0 + {r2}*3.0"
             f" + {ri2}*0.5 + {ci2}*0.25"
             f" + CAST(({ri2}*31 + {ci2}*17) % 13 AS DOUBLE))")
        return f"CASE WHEN {valid} THEN FLOOR({v}/500.0) ELSE NULL END"

    _fm_lst = ", ".join(_fm_nb(odr, odc)
                        for odr in (-1, 0, 1) for odc in (-1, 0, 1))
    o["focal_mode"] = f"""
WITH px AS (
  SELECT s, band, 18 + s + tcc AS col, 24 + trr AS row, ri, ci,
         (s*11) % 48 AS h0
  FROM range(0,3) ss(s), range(0,2) bs(band),
       range(0,4) tcs(tcc), range(0,4) trs(trr),
       range(0,64) ris(ri), range(0,64) cis(ci)
), lst AS (
  SELECT s, band, col, row, ri, ci, u.cv
  FROM px, UNNEST([{_fm_lst}]) AS u(cv)
  WHERE u.cv IS NOT NULL
), cl AS (
  SELECT s, band, col, row, ri, ci, cv, COUNT(*) AS c
  FROM lst GROUP BY ALL
), pick AS (
  SELECT s, band, col, row, cv,
         ROW_NUMBER() OVER (PARTITION BY s, band, col, row, ri, ci
                            ORDER BY c DESC, cv ASC) AS rn
  FROM cl
), q AS (
  SELECT s, band, col, row,
         CAST(FLOOR(cv * 1048576.0 + 0.5) AS BIGINT) AS qv
  FROM pick WHERE rn = 1
)
SELECT CONCAT('scene-', CAST(s AS VARCHAR)) AS source_id,
       CAST(band AS BIGINT) AS band, col, row,
       CAST(SUM(qv) AS BIGINT) AS focal_sum,
       CAST(COUNT(*) AS BIGINT) AS focal_count
FROM q GROUP BY 1, 2, 3, 4
"""

    # Kernel convolution (focal_conv): binomial 1,2,1/2,4,2/1,2,1 kernel,
    # NoData-renormalizing — weighted value and weight accumulators in the
    # engine's chained-add order, one division, quantize-first.
    _cv_w = {(-1, -1): "1.0", (-1, 0): "2.0", (-1, 1): "1.0",
             (0, -1): "2.0", (0, 0): "4.0", (0, 1): "2.0",
             (1, -1): "1.0", (1, 0): "2.0", (1, 1): "1.0"}

    def _cv_term(odr, odc):
        gr = f"(row*64 + ri + {odr})"
        gc = f"(col*64 + ci + {odc})"
        r2, ri2 = f"({gr}//64)", f"({gr}%64)"
        c2, ci2 = f"({gc}//64)", f"({gc}%64)"
        valid = (f"({c2} BETWEEN 18+s AND 21+s AND {r2} BETWEEN 24 AND 27"
                 f" AND NOT ({ri2} >= h0 AND {ri2} < h0+16"
                 f" AND {ci2} >= h0 AND {ci2} < h0+16))")
        v = (f"(s*1000.0 + band*100.0 + {c2}*7.0 + {r2}*3.0"
             f" + {ri2}*0.5 + {ci2}*0.25"
             f" + CAST(({ri2}*31 + {ci2}*17) % 13 AS DOUBLE))")
        w = _cv_w[(odr, odc)]
        return (f"CASE WHEN {valid} THEN {w}*{v} ELSE 0.0 END",
                f"CASE WHEN {valid} THEN {w} ELSE 0.0 END",
                f"CASE WHEN {valid} THEN 1 ELSE 0 END")

    _cv_terms = [_cv_term(odr, odc)
                 for odr in (-1, 0, 1) for odc in (-1, 0, 1)]
    _cv_acc = " + ".join(tv for tv, _, _ in _cv_terms)
    _cv_wacc = " + ".join(tw for _, tw, _ in _cv_terms)
    _cv_cnt = " + ".join(tc for _, _, tc in _cv_terms)
    o["focal_conv"] = f"""
WITH px AS (
  SELECT s, band, 18 + s + tcc AS col, 24 + trr AS row, ri, ci,
         (s*11) % 48 AS h0
  FROM range(0,3) ss(s), range(0,2) bs(band),
       range(0,4) tcs(tcc), range(0,4) trs(trr),
       range(0,64) ris(ri), range(0,64) cis(ci)
), acc AS (
  SELECT s, band, col, row,
         {_cv_acc} AS a,
         {_cv_wacc} AS wa,
         {_cv_cnt} AS n
  FROM px
), q AS (
  SELECT s, band, col, row,
         CAST(FLOOR(a / (CASE WHEN wa = 0.0 THEN 1.0 ELSE wa END)
                    * 1048576.0 + 0.5) AS BIGINT) AS qv
  FROM acc WHERE n > 0
)
SELECT CONCAT('scene-', CAST(s AS VARCHAR)) AS source_id,
       CAST(band AS BIGINT) AS band, col, row,
       CAST(SUM(qv) AS BIGINT) AS conv_sum,
       CAST(COUNT(*) AS BIGINT) AS conv_count
FROM q GROUP BY 1, 2, 3, 4
"""

    # Region group (region_group): the lattice-blob mask recomputed from
    # the closed-form fixture, 4-adjacency via two self-joins, and a
    # recursive reachability closure (the _cc_sql pattern) over encoded
    # ids eid = (s*2+band)*2^24 + (gr*4096+gc); MIN root per id, regions
    # rolled up by root. Closure cost is bounded because regions are
    # <= a few pixels — the engine's distributed plan never builds one.
    o["region_group"] = """
WITH RECURSIVE px AS (
  SELECT s, band, 18 + s + tcc AS col, 24 + trr AS row, ri, ci,
         (s*11) % 48 AS h0
  FROM range(0,3) ss(s), range(0,2) bs(band),
       range(0,4) tcs(tcc), range(0,4) trs(trr),
       range(0,64) ris(ri), range(0,64) cis(ci)
), mask AS (
  SELECT s, band, (row*64 + ri) AS gr2, (col*64 + ci) AS gc2,
         (s*2 + band)*16777216 + (row*64 + ri)*4096 + (col*64 + ci) AS eid
  FROM px
  WHERE NOT (ri >= h0 AND ri < h0+16 AND ci >= h0 AND ci < h0+16)
    AND ((row*64 + ri) % 11) < 3 AND ((col*64 + ci) % 9) < 3
), cedges AS (
  SELECT a.eid AS src, b.eid AS dst FROM mask a JOIN mask b
    ON a.s = b.s AND a.band = b.band AND a.gr2 = b.gr2 AND a.gc2 + 1 = b.gc2
  UNION ALL
  SELECT b.eid, a.eid FROM mask a JOIN mask b
    ON a.s = b.s AND a.band = b.band AND a.gr2 = b.gr2 AND a.gc2 + 1 = b.gc2
  UNION ALL
  SELECT a.eid, b.eid FROM mask a JOIN mask b
    ON a.s = b.s AND a.band = b.band AND a.gr2 + 1 = b.gr2 AND a.gc2 = b.gc2
  UNION ALL
  SELECT b.eid, a.eid FROM mask a JOIN mask b
    ON a.s = b.s AND a.band = b.band AND a.gr2 + 1 = b.gr2 AND a.gc2 = b.gc2
), reach(id, r) AS (
  SELECT eid, eid FROM mask
  UNION
  SELECT reach.id, e.dst FROM reach JOIN cedges e ON e.src = reach.r
), lab AS (
  SELECT id, MIN(r) AS root FROM reach GROUP BY id
)
SELECT CONCAT('scene-', CAST(id // 16777216 // 2 AS VARCHAR)) AS source_id,
       CAST((id // 16777216) % 2 AS BIGINT) AS band,
       CAST(root % 16777216 AS BIGINT) AS region_id,
       CAST(COUNT(*) AS BIGINT) AS n_pixels
FROM lab GROUP BY 1, 2, root
"""

    # Horn slope/aspect with halo exchange (terrain_stats): the nine
    # neighbor values as NULL-able CTE columns, output only where the
    # FULL 3x3 is valid; p/q/slope/aspect arithmetic mirrored
    # term-for-term (single divisions, ATAN2(q,-p), (x+360)%360 on
    # positive operands = numpy fmod), quantize-first integer sums.
    def _tr_nb(odr, odc):
        gr = f"(row*64 + ri + {odr})"
        gc = f"(col*64 + ci + {odc})"
        r2, ri2 = f"({gr}//64)", f"({gr}%64)"
        c2, ci2 = f"({gc}//64)", f"({gc}%64)"
        valid = (f"({c2} BETWEEN 18+s AND 21+s AND {r2} BETWEEN 24 AND 27"
                 f" AND NOT ({ri2} >= h0 AND {ri2} < h0+16"
                 f" AND {ci2} >= h0 AND {ci2} < h0+16))")
        v = (f"(s*1000.0 + band*100.0 + {c2}*7.0 + {r2}*3.0"
             f" + {ri2}*0.5 + {ci2}*0.25"
             f" + CAST(({ri2}*31 + {ci2}*17) % 13 AS DOUBLE))")
        return f"CASE WHEN {valid} THEN {v} ELSE NULL END"

    _tr_cols = ", ".join(
        f"{_tr_nb(odr, odc)} AS {nm}"
        for nm, (odr, odc) in zip(
            ("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh", "ii"),
            [(-1, -1), (-1, 0), (-1, 1), (0, -1), (0, 0), (0, 1),
             (1, -1), (1, 0), (1, 1)]))
    _tr_ok = " AND ".join(f"{nm} IS NOT NULL" for nm in
                          ("aa", "bb", "cc", "dd", "ee", "ff", "gg",
                           "hh", "ii"))
    o["terrain_stats"] = f"""
WITH px AS (
  SELECT s, band, 18 + s + tcc AS col, 24 + trr AS row, ri, ci,
         (s*11) % 48 AS h0
  FROM range(0,3) ss(s), range(0,2) bs(band),
       range(0,4) tcs(tcc), range(0,4) trs(trr),
       range(0,64) ris(ri), range(0,64) cis(ci)
), nb AS MATERIALIZED (
  SELECT s, band, col, row, {_tr_cols}
  FROM px
), pq AS (
  SELECT s, band, col, row,
         ((cc + 2.0*ff + ii) - (aa + 2.0*dd + gg)) / (8.0*30.0) AS p,
         ((gg + 2.0*hh + ii) - (aa + 2.0*bb + cc)) / (8.0*30.0) AS q
  FROM nb WHERE {_tr_ok}
), ang AS (
  SELECT s, band, col, row,
         DEGREES(ATAN(SQRT(p*p + q*q))) AS slope,
         CASE WHEN p = 0.0 AND q = 0.0 THEN 0.0
              ELSE (DEGREES(ATAN2(q, -p)) + 360.0) % 360.0 END AS aspect
  FROM pq
)
SELECT CONCAT('scene-', CAST(s AS VARCHAR)) AS source_id,
       CAST(band AS BIGINT) AS band, col, row,
       CAST(SUM(CAST(FLOOR(slope * 1048576.0 + 0.5) AS BIGINT)) AS BIGINT)
         AS slope_sum,
       CAST(SUM(CAST(FLOOR(aspect * 1048576.0 + 0.5) AS BIGINT)) AS BIGINT)
         AS aspect_sum,
       CAST(COUNT(*) AS BIGINT) AS terrain_count
FROM ang GROUP BY 1, 2, 3, 4
"""

    # Bigram novelty (bigram_novelty): list-subscript bigrams via the
    # bounded-range lateral idiom (DuckDB lacks generate_series(col)),
    # identical top-K total order and division chain.
    o["bigram_novelty"] = """
WITH tk AS (SELECT doc_id, STR_SPLIT(text, ' ') AS l FROM documents),
bg AS (
  SELECT doc_id, l[k] || ' ' || l[k + 1] AS bg
  FROM tk, range(1, 4001) t(k) WHERE k <= LEN(l) - 1),
ref AS (
  SELECT bg FROM (
    SELECT bg, COUNT(*) AS c FROM bg GROUP BY 1
    ORDER BY c DESC, bg ASC LIMIT 200)),
per AS (
  SELECT b.doc_id, COUNT(*) AS n_bigrams,
         SUM(CASE WHEN r.bg IS NULL THEN 1 ELSE 0 END) AS n_novel
  FROM bg b LEFT JOIN ref r ON r.bg = b.bg
  GROUP BY 1)
SELECT d.doc_id,
       CAST(COALESCE(per.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       CAST(COALESCE(per.n_novel, 0) AS BIGINT) AS n_novel,
       CAST(CASE WHEN COALESCE(per.n_bigrams, 0) = 0 THEN 0
            ELSE FLOOR(per.n_novel / per.n_bigrams * 1048576.0 + 0.5)
            END AS BIGINT) AS novelty_q
FROM documents d LEFT JOIN per ON per.doc_id = d.doc_id
"""

    # Gopher repetition signals: identical counts, the same TOTAL-order
    # argmax as a ROW_NUMBER, the same single division chain. Integer
    # outputs CAST AS BIGINT (the DuckDB HUGEINT-sum rule).
    o["repetition_signals"] = """
WITH tk AS (SELECT doc_id, STR_SPLIT(text, ' ') AS l FROM documents),
tok AS (
  SELECT doc_id, l[k] AS tok FROM tk, range(1, 4001) t(k)
  WHERE k <= LEN(l)),
tc AS (SELECT doc_id, tok, COUNT(*) AS cnt FROM tok GROUP BY 1, 2),
pt AS (
  SELECT doc_id, SUM(cnt) AS n_tokens,
         SUM(CASE WHEN cnt >= 2 THEN cnt ELSE 0 END) AS dup_tok
  FROM tc GROUP BY 1),
t1 AS (
  SELECT doc_id, tok, cnt FROM (
    SELECT doc_id, tok, cnt,
           ROW_NUMBER() OVER (PARTITION BY doc_id
                              ORDER BY cnt DESC, tok ASC) AS rn
    FROM tc) WHERE rn = 1),
bgr AS (
  SELECT doc_id, l[k] || ' ' || l[k + 1] AS bg
  FROM tk, range(1, 4001) t(k) WHERE k <= LEN(l) - 1),
bc AS (SELECT doc_id, bg, COUNT(*) AS cnt FROM bgr GROUP BY 1, 2),
b1 AS (
  SELECT doc_id, bg, cnt FROM (
    SELECT doc_id, bg, cnt,
           ROW_NUMBER() OVER (PARTITION BY doc_id
                              ORDER BY cnt DESC, bg ASC) AS rn
    FROM bc) WHERE rn = 1)
SELECT pt.doc_id, CAST(pt.n_tokens AS BIGINT) AS n_tokens,
       CAST(pt.dup_tok AS BIGINT) AS dup_tok,
       t1.tok AS top_tok, CAST(t1.cnt AS BIGINT) AS top_tok_cnt,
       CAST(t1.cnt * LENGTH(t1.tok) AS BIGINT) AS top_tok_chars,
       COALESCE(b1.bg, '') AS top_bg,
       CAST(COALESCE(b1.cnt, 0) AS BIGINT) AS top_bg_cnt,
       CAST(COALESCE(b1.cnt * (LENGTH(b1.bg) - 1), 0) AS BIGINT)
         AS top_bg_chars,
       CAST(FLOOR(pt.dup_tok / pt.n_tokens * 1048576.0 + 0.5)
         AS BIGINT) AS rep_q
FROM pt JOIN t1 ON t1.doc_id = pt.doc_id
LEFT JOIN b1 ON b1.doc_id = pt.doc_id
"""

    # Rectangle overlay (box_overlay): brute-force self-join with the
    # identical GREATEST/LEAST corner selections and the same strict
    # positive-area predicate.
    o["box_overlay"] = derive.cte('polygon_boxes') + """
SELECT a.poly_id AS a_id, b.poly_id AS b_id,
       GREATEST(a.xmin, b.xmin) AS ixmin,
       GREATEST(a.ymin, b.ymin) AS iymin,
       LEAST(a.xmax, b.xmax) AS ixmax,
       LEAST(a.ymax, b.ymax) AS iymax,
       (LEAST(a.xmax, b.xmax) - GREATEST(a.xmin, b.xmin))
         * (LEAST(a.ymax, b.ymax) - GREATEST(a.ymin, b.ymin)) AS area
FROM polygon_boxes a JOIN polygon_boxes b ON a.poly_id < b.poly_id
WHERE LEAST(a.xmax, b.xmax) > GREATEST(a.xmin, b.xmin)
  AND LEAST(a.ymax, b.ymax) > GREATEST(a.ymin, b.ymin)
"""

    # Percent-clip stretch (percent_clip): per-scene per-VALUE counts,
    # one cumulative window, ceil-rank thresholds via integer //, then
    # the CASE-guarded single-division stretch — identical chain.
    o["percent_clip"] = """
WITH px AS (
  SELECT s, band, 18 + s + tcc AS col, 24 + trr AS row, ri, ci,
         (s*11) % 48 AS h0
  FROM range(0,3) ss(s), range(0,2) bs(band),
       range(0,4) tcs(tcc), range(0,4) trs(trr),
       range(0,64) ris(ri), range(0,64) cis(ci)
), pv AS (
  SELECT s, band, col, row,
         s*1000.0 + band*100.0 + col*7.0 + row*3.0 + ri*0.5 + ci*0.25
           + CAST((ri*31 + ci*17) % 13 AS DOUBLE) AS v
  FROM px
  WHERE NOT (ri >= h0 AND ri < h0+16 AND ci >= h0 AND ci < h0+16)
), cnt AS (
  SELECT s, band, v, COUNT(*) AS c FROM pv GROUP BY 1, 2, 3
), cum AS (
  SELECT *, SUM(c) OVER (PARTITION BY s, band ORDER BY v
                         ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(c) OVER (PARTITION BY s, band) AS n
  FROM cnt
), th AS (
  SELECT s, band,
         MIN(CASE WHEN cum >= (2 * n + 99) // 100 THEN v END) AS lo,
         MIN(CASE WHEN cum >= (98 * n + 99) // 100 THEN v END) AS hi
  FROM cum GROUP BY 1, 2
)
SELECT CONCAT('scene-', CAST(p.s AS VARCHAR)) AS source_id,
       CAST(p.band AS INT) AS band,
       CAST(col AS BIGINT) AS col, CAST(row AS BIGINT) AS row,
       CAST(COUNT(*) AS BIGINT) AS n_valid,
       CAST(SUM(CAST(FLOOR(
         (CASE WHEN v <= lo THEN 0.0 WHEN v >= hi THEN 1.0
               ELSE (v - lo) / (hi - lo) END) * 1048576.0 + 0.5)
         AS BIGINT)) AS BIGINT) AS q_stretch_sum
FROM pv p JOIN th USING (s, band) GROUP BY 1, 2, 3, 4
"""

    # Zevenbergen-Thorne curvature (curvature): the same nine NULL-able
    # neighbor columns; D/E/F/G/H and the three curvatures mirrored
    # term-for-term, flat cells CASE-pinned to 0 exactly like the
    # engine's den > 0 guard.
    o["curvature"] = f"""
WITH px AS (
  SELECT s, band, 18 + s + tcc AS col, 24 + trr AS row, ri, ci,
         (s*11) % 48 AS h0
  FROM range(0,3) ss(s), range(0,2) bs(band),
       range(0,4) tcs(tcc), range(0,4) trs(trr),
       range(0,64) ris(ri), range(0,64) cis(ci)
), nb AS MATERIALIZED (
  SELECT s, band, col, row, {_tr_cols}
  FROM px
), co AS (
  SELECT s, band, col, row,
         ((dd + ff) / 2.0 - ee) / (30.0*30.0) AS d2,
         ((bb + hh) / 2.0 - ee) / (30.0*30.0) AS e2,
         (-aa + cc + gg - ii) / (4.0*(30.0*30.0)) AS f2,
         (-dd + ff) / (2.0*30.0) AS g1,
         (bb - hh) / (2.0*30.0) AS h1
  FROM nb WHERE {_tr_ok}
), cv AS (
  SELECT s, band, col, row,
         -2.0*(d2 + e2)*100.0 AS total,
         CASE WHEN g1*g1 + h1*h1 > 0.0 THEN
           -2.0*(d2*g1*g1 + e2*h1*h1 + f2*g1*h1)
             / (g1*g1 + h1*h1) * 100.0 ELSE 0.0 END AS prof,
         CASE WHEN g1*g1 + h1*h1 > 0.0 THEN
           2.0*(d2*h1*h1 + e2*g1*g1 - f2*g1*h1)
             / (g1*g1 + h1*h1) * 100.0 ELSE 0.0 END AS plan
  FROM co
)
SELECT CONCAT('scene-', CAST(s AS VARCHAR)) AS source_id,
       CAST(band AS BIGINT) AS band, col, row,
       CAST(SUM(CAST(FLOOR(prof * 1048576.0 + 0.5) AS BIGINT))
            AS BIGINT) AS prof_sum,
       CAST(SUM(CAST(FLOOR(plan * 1048576.0 + 0.5) AS BIGINT))
            AS BIGINT) AS plan_sum,
       CAST(SUM(CAST(FLOOR(total * 1048576.0 + 0.5) AS BIGINT))
            AS BIGINT) AS total_sum,
       CAST(COUNT(*) AS BIGINT) AS curv_count
FROM cv GROUP BY 1, 2, 3, 4
"""

    # Decontamination (decontaminate): list-subscript spans, RAW-string
    # eval-span membership, same counts.
    _dc_span = " || ' ' || ".join(f"l[k + {j}]" for j in range(8)) \
        .replace("l[k + 0]", "l[k]")
    o["decontaminate"] = f"""
WITH tk AS (SELECT doc_id, STR_SPLIT(text, ' ') AS l FROM documents),
sp AS (
  SELECT doc_id, {_dc_span} AS sp
  FROM tk, range(1, 4001) t(k) WHERE k <= LEN(l) - 7),
ev AS (SELECT DISTINCT sp FROM sp WHERE doc_id % 31 = 0),
ts AS (SELECT * FROM sp WHERE doc_id % 31 <> 0),
hits AS (
  SELECT t.doc_id, COUNT(*) AS n_spans,
         SUM(CASE WHEN e.sp IS NOT NULL THEN 1 ELSE 0 END)
           AS n_contaminated
  FROM ts t LEFT JOIN ev e ON e.sp = t.sp
  GROUP BY 1)
SELECT d.doc_id,
       CAST(COALESCE(h.n_spans, 0) AS BIGINT) AS n_spans,
       CAST(COALESCE(h.n_contaminated, 0) AS BIGINT) AS n_contaminated,
       CAST(CASE WHEN COALESCE(h.n_contaminated, 0) >= 1
            THEN 1 ELSE 0 END AS INT) AS contaminated
FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
WHERE d.doc_id % 31 <> 0
"""

    # K-core (kcore): the h-index iteration unrolled as 8 MATERIALIZED
    # rounds over the same VALUES edges (fixture converges in 4).
    from geotrellis_contrib_spark import corpus as _kc_corpus
    _kc_vals = ", ".join(f"({a}, {b})"
                         for a, b in _kc_corpus.synth_core_edges())
    _kc_rounds = []
    for _k in range(1, 9):
        _kc_rounds.append(f""",
nb{_k} AS (SELECT s.a AS v, prev.o AS nv
           FROM sym s JOIN o{_k - 1} prev ON prev.id = s.b),
r{_k} AS (SELECT v, nv, ROW_NUMBER() OVER (
            PARTITION BY v ORDER BY nv DESC) AS r FROM nb{_k}),
o{_k} AS MATERIALIZED (
  SELECT v AS id, MAX(LEAST(r, nv)) AS o FROM r{_k} GROUP BY 1)""")
    o["kcore"] = f"""
WITH e(a, b) AS (SELECT * FROM (VALUES {_kc_vals})),
sym AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
o0 AS (SELECT a AS id, COUNT(*) AS o FROM sym GROUP BY 1)
{"".join(_kc_rounds)}
SELECT CAST(id AS BIGINT) AS node, CAST(o AS BIGINT) AS coreness
FROM o8
"""

    # Markov transitions (transitions): same LAG ordering, integer
    # counts, one division.
    o["transitions"] = """
WITH seq AS (
  SELECT user_id, event_type,
         LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY EPOCH_US(ts) ASC, event_id ASC)
           AS prev_type
  FROM events),
pairs AS (
  SELECT prev_type, event_type AS next_type, COUNT(*) AS n
  FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2),
tot AS (
  SELECT prev_type, next_type, n,
         SUM(n) OVER (PARTITION BY prev_type) AS row_total
  FROM pairs)
SELECT prev_type, next_type, CAST(n AS BIGINT) AS n,
       CAST(row_total AS BIGINT) AS row_total,
       CAST(FLOOR(n / row_total * 1048576.0 + 0.5) AS BIGINT) AS p_q
FROM tot
"""

    # Embedding outlier scoring (embed_outlier): identical integer
    # centroid state, LIST(... ORDER BY i) centroid vectors, DuckDB's
    # LIST_COSINE_SIMILARITY (bit-matches cosine_cols — the embed_topk
    # contract), one final quantization.
    o["embed_outlier"] = """
WITH st AS (
  SELECT label, i,
         SUM(CAST(FLOOR(CAST(embedding[i] AS DOUBLE)
                        * 1073741824.0 + 0.5) AS BIGINT)) AS q_sum,
         COUNT(*) AS n
  FROM embeddings, range(1, 65) t(i) GROUP BY 1, 2),
c AS (SELECT label, LIST((q_sum / 1073741824.0) / n ORDER BY i) AS cvec
      FROM st GROUP BY 1)
SELECT e.vec_id, CAST(e.label AS BIGINT) AS label,
       CAST(FLOOR(LIST_COSINE_SIMILARITY(e.embedding::DOUBLE[], c.cvec)
                  * 1048576.0 + 0.5) AS BIGINT) AS cos_q
FROM embeddings e JOIN c ON c.label = e.label
"""

    # Euclidean allocation (euclidean_allocation): MIN of the identical
    # packed integer key over the bounded window, integer splits after.
    o["euclidean_allocation"] = """
WITH px AS (
  SELECT s, band, 18 + s + tcc AS col, 24 + trr AS row,
         (24*64 + trr*64 + ri) AS gr, ((18+s)*64 + tcc*64 + ci) AS gc
  FROM range(0,3) ss(s), range(0,2) bs(band), range(0,4) tcs(tcc),
       range(0,4) trs(trr), range(0,64) rs(ri), range(0,64) cs(ci)
  WHERE NOT (ri >= (s*11)%48 AND ri < (s*11)%48+16
             AND ci >= (s*11)%48 AND ci < (s*11)%48+16)
), mask AS (
  SELECT s, band, gr, gc FROM px WHERE gr % 11 < 3 AND gc % 9 < 3
), nearest AS (
  SELECT p.s, p.band, p.col, p.row, p.gr, p.gc,
         MIN(CASE WHEN (m.gr-p.gr)*(m.gr-p.gr)
                       + (m.gc-p.gc)*(m.gc-p.gc) <= 25
                  THEN ((m.gr-p.gr)*(m.gr-p.gr)
                        + (m.gc-p.gc)*(m.gc-p.gc)) * 16777216
                       + (m.gr * 4096 + m.gc)
             END) AS k
  FROM px p JOIN mask m
    ON m.s = p.s AND m.band = p.band
   AND m.gr BETWEEN p.gr - 5 AND p.gr + 5
   AND m.gc BETWEEN p.gc - 5 AND p.gc + 5
  GROUP BY 1, 2, 3, 4, 5, 6
)
SELECT CONCAT('scene-', CAST(s AS VARCHAR)) AS source_id,
       CAST(band AS INT) AS band,
       CAST(col AS BIGINT) AS col, CAST(row AS BIGINT) AS row,
       CAST(COUNT(*) AS BIGINT) AS n_within,
       CAST(SUM(k // 16777216) AS BIGINT) AS d2_sum,
       CAST(SUM(k % 16777216) AS BIGINT) AS alloc_sum
FROM nearest WHERE k IS NOT NULL GROUP BY 1, 2, 3, 4
"""

    # Borůvka MST (mst): every non-tree edge of the fixture outweighs
    # every planted-tree edge, so the unique MST is the tree itself —
    # derived closed-form; the engine discovers it generically.
    o["mst"] = """
SELECT CAST(k // 2 AS BIGINT) AS a, CAST(k AS BIGINT) AS b,
       CAST(k + 100 AS BIGINT) AS w
FROM range(1, 60) t(k)
"""

    # TWAP (twap): the same LEAD window over EPOCH_US, integer
    # numerator, one division; same exclusion predicate.
    o["twap"] = """
WITH base AS (
  SELECT user_id, EPOCH_US(ts) AS t, event_id,
         CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) AS vq
  FROM events),
stepped AS (
  SELECT user_id, t, vq,
         LEAD(t) OVER (PARTITION BY user_id
                       ORDER BY t ASC, event_id ASC) - t AS dt
  FROM base),
agg AS (
  SELECT user_id, COUNT(*) AS n_events,
         SUM(CASE WHEN dt IS NOT NULL THEN vq * dt ELSE 0 END) AS num,
         MAX(t) - MIN(t) AS span_us
  FROM stepped GROUP BY 1)
SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
       CAST(span_us AS BIGINT) AS span_us,
       CAST(FLOOR(num / span_us + 0.5) AS BIGINT) AS twap_q
FROM agg WHERE n_events >= 2 AND span_us > 0
"""

    # OLAP rollup (events_rollup): GROUP BY ROLLUP + the same GROUPING
    # bit arithmetic; quantize-first integer value sums.
    o["events_rollup"] = """
WITH base AS (
  SELECT event_type,
         DATEDIFF('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7
           AS week,
         CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) AS vq
  FROM events)
SELECT event_type, CAST(week AS BIGINT) AS week,
       CAST(GROUPING(event_type) * 2 + GROUPING(week) AS INT) AS gid,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(vq) AS BIGINT) AS v_sum
FROM base GROUP BY ROLLUP (event_type, week)
"""

    # Pivot (events_pivot): conditional SUM(CASE) columns.
    _pv_types = ("click", "error", "purchase", "signup", "view")
    _pv_cols = ", ".join(
        f"CAST(SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) "
        f"AS BIGINT) AS {t}" for t in _pv_types)
    o["events_pivot"] = f"""
SELECT user_id, {_pv_cols}
FROM events GROUP BY 1
"""

    # Gini by source (gini): the identical sorted-rank identity.
    o["gini"] = """
WITH r AS (
  SELECT source, doc_id, n_chars AS x,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY n_chars ASC, doc_id ASC) AS i
  FROM documents),
a AS (SELECT source, COUNT(*) AS n_docs, SUM(x) AS x_sum,
             SUM(i * x) AS ix_sum FROM r GROUP BY 1)
SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
       CAST(x_sum AS BIGINT) AS x_sum,
       CAST(CASE WHEN x_sum = 0 THEN 0
            ELSE FLOOR((2 * ix_sum - (n_docs + 1) * x_sum)
                       / (n_docs * x_sum) * 1048576.0 + 0.5)
            END AS BIGINT) AS gini_q
FROM a
"""

    # Temporal gap fill (temporal_fill): per-scene cover/hole/value
    # closed forms; with three planes the only fillable case is the
    # middle gap between two valid neighbors — enumerated exactly;
    # the fill chain is the engine's verbatim (one division of integer
    # deltas, one multiply, one add).
    def _tf_term(s):
        h0 = (s * 11) % 48
        cov = f"(col BETWEEN {18 + s} AND {21 + s})"
        hole = (f"(ri >= {h0} AND ri < {h0 + 16}"
                f" AND ci >= {h0} AND ci < {h0 + 16})")
        v = (f"({s}*1000.0 + band*100.0 + col*7.0 + row*3.0"
             f" + ri*0.5 + ci*0.25"
             f" + CAST((ri*31 + ci*17) % 13 AS DOUBLE))")
        return cov, f"({cov} AND NOT {hole})", v

    _tf = [_tf_term(s) for s in range(3)]
    _tf_gaps = " + ".join(
        f"(CASE WHEN {c} AND NOT {k} THEN 1 ELSE 0 END)"
        for c, k, _ in _tf)
    _tf_fillable = (f"({_tf[1][0]} AND NOT {_tf[1][1]}"
                    f" AND {_tf[0][1]} AND {_tf[2][1]})")
    _tf_fill = (f"({_tf[0][2]} + ({_tf[2][2]} - {_tf[0][2]})"
                " * (CAST(1 AS BIGINT) / CAST(2 AS BIGINT)))")
    o["temporal_fill"] = f"""
WITH px AS (
  SELECT band, col, row, ri, ci
  FROM range(0,2) bs(band), range(18,24) cs(col), range(24,28) rs(row),
       range(0,64) ris(ri), range(0,64) cis(ci)
)
SELECT 6 AS zoom, col, row, CAST(band AS INT) AS band,
       CAST(SUM({_tf_gaps}) AS BIGINT) AS n_gaps,
       CAST(SUM(CASE WHEN {_tf_fillable} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_filled,
       CAST(SUM(CASE WHEN {_tf_fillable} THEN CAST(FLOOR(
            {_tf_fill} * 8.0 + 0.5) AS BIGINT) ELSE 0 END) AS BIGINT)
         AS q_fill_sum
FROM px GROUP BY 2, 3, 4
"""

    # Two-band crosstab (crosstab): closed-form field classed with the
    # identical single division; validity is band-independent (h0
    # depends only on s), band-1 = band-0 + 100.0 exactly (1/4-grid
    # sums are exact, association-free).
    o["crosstab"] = """
WITH px AS (
  SELECT s, 18 + s + tcc AS col, 24 + trr AS row, ri, ci,
         (s*11) % 48 AS h0
  FROM range(0,3) ss(s), range(0,4) tcs(tcc), range(0,4) trs(trr),
       range(0,64) ris(ri), range(0,64) cis(ci)
), v AS (
  SELECT s,
         (s*1000.0 + col*7.0 + row*3.0 + ri*0.5 + ci*0.25
          + CAST((ri*31 + ci*17) % 13 AS DOUBLE)) AS v0
  FROM px
  WHERE NOT (ri >= h0 AND ri < h0+16 AND ci >= h0 AND ci < h0+16))
SELECT CONCAT('scene-', CAST(s AS VARCHAR)) AS source_id,
       CAST(FLOOR(v0 / 64.0) AS BIGINT) AS c0,
       CAST(FLOOR((v0 + 100.0) / 64.0) AS BIGINT) AS c1,
       CAST(COUNT(*) AS BIGINT) AS n_pixels
FROM v GROUP BY 1, 2, 3
"""

    # BPE-ish token counting (bpe_counts): same vocab total order, the
    # greedy scan as a step table + recursive pure-join walk (DuckDB
    # recursion allows joins, not aggregates — counting happens after).
    o["bpe_counts"] = """
WITH RECURSIVE tk AS (SELECT doc_id, STR_SPLIT(text, ' ') AS l FROM documents),
w AS (SELECT doc_id, k AS widx, l[k] AS word, LENGTH(l[k]) AS len
      FROM tk, range(1, 4001) t(k) WHERE k <= LEN(l)),
prs AS (SELECT SUBSTRING(word, i, 2) AS pr
        FROM w, range(1, 200) s(i) WHERE i <= len - 1),
vocab AS (SELECT pr FROM (
  SELECT pr, COUNT(*) AS c FROM prs GROUP BY 1
  ORDER BY c DESC, pr ASC LIMIT 20)),
st AS MATERIALIZED (
  SELECT w.doc_id, w.widx, i AS pos,
         i + CASE WHEN i < w.len AND EXISTS (
               SELECT 1 FROM vocab v
               WHERE v.pr = SUBSTRING(w.word, i, 2))
             THEN 2 ELSE 1 END AS nxt
  FROM w, range(1, 200) s(i) WHERE i <= w.len),
walk(doc_id, widx, pos) AS (
  SELECT doc_id, widx, 1 FROM w WHERE len >= 1
  UNION
  SELECT s.doc_id, s.widx, s.nxt
  FROM walk wk JOIN st s ON s.doc_id = wk.doc_id
    AND s.widx = wk.widx AND s.pos = wk.pos),
cnt AS (
  SELECT wk.doc_id, wk.widx, COUNT(*) AS wtok
  FROM walk wk JOIN w ON w.doc_id = wk.doc_id AND w.widx = wk.widx
  WHERE wk.pos <= w.len GROUP BY 1, 2)
SELECT w.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(w.len) AS BIGINT) AS n_chars,
       CAST(SUM(COALESCE(c.wtok, 0)) AS BIGINT) AS bpe_tokens
FROM w LEFT JOIN cnt c ON c.doc_id = w.doc_id AND c.widx = w.widx
GROUP BY 1
"""

    # Adaptive quadtree (quadtree): per-zoom UNION ALL keys, identical
    # counts, ROW_NUMBER pick under (lvl ASC, zoom DESC).
    _qt_levels = "\nUNION ALL\n".join(
        f"SELECT doc_id AS id, {z} AS zoom, "
        f"{C.sql_cell_id(str(z), C.sql_tile_col('lon', z), C.sql_tile_row('lat', z))} AS cell "
        "FROM anchors WHERE lon IS NOT NULL"
        for z in range(4, 11))
    o["quadtree"] = f"""
{derive.cte('anchors')},
lv AS ({_qt_levels}),
cnt AS (SELECT zoom, cell, COUNT(*) AS n_in_cell FROM lv GROUP BY 1, 2),
scored AS (
  SELECT l.id, l.zoom, l.cell, c.n_in_cell,
         CASE WHEN c.n_in_cell <= 16 THEN l.zoom ELSE 10 END AS lvl
  FROM lv l JOIN cnt c ON c.zoom = l.zoom AND c.cell = l.cell),
pick AS (
  SELECT id, lvl, zoom, cell, n_in_cell,
         ROW_NUMBER() OVER (PARTITION BY id
                            ORDER BY lvl ASC, zoom DESC) AS rn
  FROM scored)
SELECT id, CAST(lvl AS INT) AS zoom, CAST(cell AS BIGINT) AS cell,
       CAST(n_in_cell AS BIGINT) AS n_in_cell
FROM pick WHERE rn = 1
"""

    # Ordered funnel (funnel): chained strictly-after MIN subqueries on
    # EPOCH_US (microsecond integers — exact equality semantics).
    o["funnel"] = """
WITH u AS (SELECT DISTINCT user_id FROM events),
s1 AS (SELECT user_id, MIN(EPOCH_US(ts)) AS t1 FROM events
       WHERE event_type = 'view' GROUP BY 1),
s2 AS (SELECT e.user_id, MIN(EPOCH_US(e.ts)) AS t2
       FROM events e JOIN s1 ON s1.user_id = e.user_id
       WHERE e.event_type = 'click' AND EPOCH_US(e.ts) > s1.t1
       GROUP BY 1),
s3 AS (SELECT e.user_id, MIN(EPOCH_US(e.ts)) AS t3
       FROM events e JOIN s2 ON s2.user_id = e.user_id
       WHERE e.event_type = 'purchase' AND EPOCH_US(e.ts) > s2.t2
       GROUP BY 1)
SELECT u.user_id,
       CAST(CASE WHEN s3.t3 IS NOT NULL THEN 3
                 WHEN s2.t2 IS NOT NULL THEN 2
                 WHEN s1.t1 IS NOT NULL THEN 1 ELSE 0 END AS INT)
         AS stage,
       s1.t1, s2.t2, s3.t3
FROM u LEFT JOIN s1 ON s1.user_id = u.user_id
LEFT JOIN s2 ON s2.user_id = u.user_id
LEFT JOIN s3 ON s3.user_id = u.user_id
"""

    # Cohort retention (cohort_retention): integer epoch weeks from
    # DATE arithmetic, distinct actives per offset, cohort sizes.
    o["cohort_retention"] = """
WITH su AS (
  SELECT user_id,
         MIN(DATEDIFF('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7)
           AS cohort_week
  FROM events WHERE event_type = 'signup' GROUP BY 1),
act AS (
  SELECT DISTINCT user_id,
         DATEDIFF('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7
           AS act_week
  FROM events WHERE event_type <> 'signup'),
sizes AS (SELECT cohort_week, COUNT(*) AS cohort_users
          FROM su GROUP BY 1),
tri AS (
  SELECT s.cohort_week, a.act_week - s.cohort_week AS week_offset,
         COUNT(DISTINCT s.user_id) AS active_users
  FROM su s JOIN act a ON a.user_id = s.user_id
  WHERE a.act_week >= s.cohort_week
  GROUP BY 1, 2)
SELECT CAST(t.cohort_week AS BIGINT) AS cohort_week,
       CAST(t.week_offset AS BIGINT) AS week_offset,
       CAST(t.active_users AS BIGINT) AS active_users,
       CAST(z.cohort_users AS BIGINT) AS cohort_users
FROM tri t JOIN sizes z ON z.cohort_week = t.cohort_week
"""

    # Triangle counting (triangle_count): brute-force ordered 3-way
    # self-join over the same arithmetic edge rule.
    o["triangle_count"] = """
WITH ids AS (SELECT id FROM range(150) t(id)),
e AS (SELECT a.id AS a, b.id AS b FROM ids a JOIN ids b
      ON a.id < b.id AND (a.id * 37 + b.id * 61) % 23 = 0),
tri AS (
  SELECT x.a AS p, x.b AS q, y.b AS r
  FROM e x JOIN e y ON y.a = x.a AND x.b < y.b
  JOIN e z ON z.a = x.b AND z.b = y.b),
corners AS (
  SELECT p AS node FROM tri
  UNION ALL SELECT q FROM tri
  UNION ALL SELECT r FROM tri),
nodes AS (SELECT DISTINCT a AS node FROM e
          UNION SELECT DISTINCT b FROM e)
SELECT CAST(n.node AS BIGINT) AS node,
       CAST(COALESCE(c.cnt, 0) AS BIGINT) AS triangles
FROM nodes n LEFT JOIN (
  SELECT node, COUNT(*) AS cnt FROM corners GROUP BY 1) c
  ON c.node = n.node
"""

    # Exact-substring span coverage (span_dedup): list-subscript spans
    # grouped on the RAW string (the engine groups md5 — agreement
    # certifies the hash path), the same running-max interval union.
    _sd_span = " || ' ' || ".join(f"l[k + {j}]" for j in range(8)) \
        .replace("l[k + 0]", "l[k]")
    o["span_dedup"] = f"""
WITH tk AS (SELECT doc_id, STR_SPLIT(text, ' ') AS l FROM documents),
sp AS (
  SELECT doc_id, k - 1 AS pos, {_sd_span} AS sp
  FROM tk, range(1, 4001) t(k) WHERE k <= LEN(l) - 7),
dup AS (SELECT sp FROM sp GROUP BY 1 HAVING COUNT(*) >= 2),
ds AS (SELECT s.doc_id, s.pos FROM sp s JOIN dup USING (sp)),
cov AS (
  SELECT doc_id,
         (pos + 8) - GREATEST(pos, COALESCE(MAX(pos + 8) OVER (
            PARTITION BY doc_id ORDER BY pos
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), pos))
           AS contrib
  FROM ds),
agg AS (SELECT doc_id, COUNT(*) AS n_dup_spans,
               SUM(contrib) AS dup_tokens
        FROM cov GROUP BY 1)
SELECT t.doc_id, CAST(LEN(t.l) AS BIGINT) AS n_tokens,
       CAST(COALESCE(a.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
       CAST(COALESCE(a.dup_tokens, 0) AS BIGINT) AS dup_tokens,
       CAST(FLOOR(COALESCE(a.dup_tokens, 0) / CAST(LEN(t.l) AS BIGINT)
                  * 1048576.0 + 0.5) AS BIGINT) AS dup_q
FROM tk t LEFT JOIN agg a ON a.doc_id = t.doc_id
"""

    # Box union area (box_union): identical clips, LEAD-window
    # compressed grid, EXISTS coverage, identical per-piece quantize.
    o["box_union"] = derive.cte('polygon_boxes') + """,
cl AS (
  SELECT gx, gy,
         GREATEST(xmin, gx * 45.0 - 180.0) AS cxmin,
         LEAST(xmax, (gx + 1) * 45.0 - 180.0) AS cxmax,
         GREATEST(ymin, gy * 45.0 - 90.0) AS cymin,
         LEAST(ymax, (gy + 1) * 45.0 - 90.0) AS cymax
  FROM polygon_boxes,
       range(0, 9) tx(gx), range(0, 5) ty(gy)
  WHERE gx BETWEEN FLOOR((xmin + 180.0) / 45.0)
               AND FLOOR((xmax + 180.0) / 45.0)
    AND gy BETWEEN FLOOR((ymin + 90.0) / 45.0)
               AND FLOOR((ymax + 90.0) / 45.0)
    AND GREATEST(xmin, gx * 45.0 - 180.0)
        < LEAST(xmax, (gx + 1) * 45.0 - 180.0)
    AND GREATEST(ymin, gy * 45.0 - 90.0)
        < LEAST(ymax, (gy + 1) * 45.0 - 90.0)),
xe AS (SELECT DISTINCT gx, gy, x FROM (
  SELECT gx, gy, cxmin AS x FROM cl
  UNION SELECT gx, gy, cxmax FROM cl)),
xs AS (SELECT gx, gy, x AS x0,
              LEAD(x) OVER (PARTITION BY gx, gy ORDER BY x) AS x1
       FROM xe),
ye AS (SELECT DISTINCT gx, gy, y FROM (
  SELECT gx, gy, cymin AS y FROM cl
  UNION SELECT gx, gy, cymax FROM cl)),
ys AS (SELECT gx, gy, y AS y0,
              LEAD(y) OVER (PARTITION BY gx, gy ORDER BY y) AS y1
       FROM ye),
pieces AS (
  SELECT xs.gx, xs.gy, xs.x0, xs.x1, ys.y0, ys.y1
  FROM xs JOIN ys ON ys.gx = xs.gx AND ys.gy = xs.gy
  WHERE xs.x1 IS NOT NULL AND ys.y1 IS NOT NULL),
cov AS (
  SELECT p.* FROM pieces p WHERE EXISTS (
    SELECT 1 FROM cl b
    WHERE b.gx = p.gx AND b.gy = p.gy
      AND b.cxmin <= p.x0 AND b.cxmax >= p.x1
      AND b.cymin <= p.y0 AND b.cymax >= p.y1)),
nb AS (SELECT gx, gy, COUNT(*) AS n_boxes FROM cl GROUP BY 1, 2)
SELECT CAST(nb.gx AS INT) AS gx, CAST(nb.gy AS INT) AS gy,
       CAST(nb.n_boxes AS BIGINT) AS n_boxes,
       CAST(COALESCE((
         SELECT SUM(CAST(FLOOR((c.x1 - c.x0) * (c.y1 - c.y0)
                                * 1048576.0 + 0.5) AS BIGINT))
         FROM cov c WHERE c.gx = nb.gx AND c.gy = nb.gy), 0)
         AS BIGINT) AS area_q
FROM nb
"""

    # Strahler order (strahler, strahler_dist): the same VALUES edge
    # table as INPUT (shared input, like a shared parquet), the
    # COMPUTATION independent — the Jacobi fixpoint unrolled as 16
    # grouped-join rounds over ALL nodes (no contraction needed at
    # oracle scale; fixture depth 11 < 16, pytest-pinned).
    from geotrellis_contrib_spark import corpus as _corpus_for_oracle
    _st_vals = ", ".join(
        f"({c}, {p})" for c, p in _corpus_for_oracle.synth_stream_edges())
    _st_rounds = []
    for _k in range(1, 17):
        # MATERIALIZED is load-bearing: each round references its
        # predecessor twice, so un-materialized inlining is 2^16
        _st_rounds.append(f"""
g{_k} AS MATERIALIZED (
  SELECT e.p AS j, prev.o AS o, COUNT(*) AS cnt
  FROM e JOIN o{_k - 1} prev ON prev.id = e.c GROUP BY 1, 2),
x{_k} AS (SELECT g.j, g.o AS m, g.cnt FROM g{_k} g
          JOIN (SELECT j, MAX(o) AS m FROM g{_k} GROUP BY 1) mm
            ON mm.j = g.j AND mm.m = g.o),
o{_k} AS MATERIALIZED (
  SELECT b.id, CASE WHEN b.nc = 0 THEN 1
                    WHEN x.cnt >= 2 THEN x.m + 1
                    ELSE COALESCE(x.m, 1) END AS o
  FROM base b LEFT JOIN x{_k} x ON x.j = b.id)""")
    o["strahler"] = f"""
WITH e(c, p) AS (SELECT * FROM (VALUES {_st_vals})),
nodes AS (SELECT DISTINCT c AS id FROM e
          UNION SELECT DISTINCT p FROM e),
base AS (
  SELECT n.id, COALESCE(cnt.nc, 0) AS nc FROM nodes n
  LEFT JOIN (SELECT p, COUNT(*) AS nc FROM e GROUP BY 1) cnt
    ON cnt.p = n.id),
o0 AS (SELECT id, 1 AS o FROM base),{",".join(_st_rounds)}
SELECT CAST(id AS BIGINT) AS node, CAST(o AS BIGINT) AS strahler
FROM o16
"""
    o["strahler_dist"] = o["strahler"]

    # Histogram matching (hist_match): per-VALUE counts over the
    # closed-form field, the same cumulative windows, the same ceil-rank
    # rescale, the same union + reverse-ordered running-MIN walk.
    o["hist_match"] = """
WITH px AS (
  SELECT s, band, 18 + s + tcc AS col, 24 + trr AS row, ri, ci,
         (s*11) % 48 AS h0
  FROM range(0,2) ss(s), range(0,2) bs(band),
       range(0,4) tcs(tcc), range(0,4) trs(trr),
       range(0,64) ris(ri), range(0,64) cis(ci)
), v AS (
  SELECT s, band,
         (s*1000.0 + band*100.0 + col*7.0 + row*3.0 + ri*0.5 + ci*0.25
          + CAST((ri*31 + ci*17) % 13 AS DOUBLE)) AS val
  FROM px
  WHERE NOT (ri >= h0 AND ri < h0+16 AND ci >= h0 AND ci < h0+16)
), cnt AS (SELECT s, band, val, COUNT(*) AS cnt FROM v GROUP BY 1,2,3),
cum AS (
  SELECT s, band, val, cnt,
         SUM(cnt) OVER (PARTITION BY s, band ORDER BY val
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(cnt) OVER (PARTITION BY s, band) AS n
  FROM cnt),
src AS (SELECT band, val, cum AS rank_a, n AS na FROM cum WHERE s = 0),
ref AS (SELECT band, val AS u, cum, n AS nb FROM cum WHERE s = 1),
nbt AS (SELECT band, MAX(nb) AS nb FROM ref GROUP BY 1),
src2 AS (
  SELECT s0.band, s0.val, s0.rank_a,
         CAST(FLOOR((s0.rank_a * nbt.nb + s0.na - 1) / s0.na)
              AS BIGINT) AS rank_b
  FROM src s0 JOIN nbt ON nbt.band = s0.band),
uu AS (
  SELECT band, cum AS key, 0 AS side, u,
         CAST(NULL AS DOUBLE) AS aval, CAST(NULL AS BIGINT) AS rank_a,
         CAST(NULL AS BIGINT) AS rank_b
  FROM ref
  UNION ALL
  SELECT band, rank_b AS key, 1, CAST(NULL AS DOUBLE), val,
         CAST(rank_a AS BIGINT), rank_b
  FROM src2),
m AS (
  SELECT band, side, aval, rank_a, rank_b,
         MIN(u) OVER (PARTITION BY band ORDER BY key DESC, side ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mu
  FROM uu)
SELECT CAST(band AS INT) AS band,
       CAST(FLOOR(aval * 4.0 + 0.5) AS BIGINT) AS v4,
       rank_a, rank_b,
       CAST(FLOOR(mu * 4.0 + 0.5) AS BIGINT) AS m4
FROM m WHERE side = 1
"""

    # TPI + roughness (tpi_roughness): the terrain family's nine
    # NULL-able neighbor columns; the 8-neighbor sum in the engine's
    # accumulation order, one division; roughness = GREATEST - LEAST
    # selections on the exact x4 grid.
    o["tpi_roughness"] = f"""
WITH px AS (
  SELECT s, band, 18 + s + tcc AS col, 24 + trr AS row, ri, ci,
         (s*11) % 48 AS h0
  FROM range(0,3) ss(s), range(0,2) bs(band),
       range(0,4) tcs(tcc), range(0,4) trs(trr),
       range(0,64) ris(ri), range(0,64) cis(ci)
), nb AS MATERIALIZED (
  SELECT s, band, col, row, {_tr_cols}
  FROM px
), v AS (
  SELECT s, band, col, row,
         ee - (aa + bb + cc + dd + ff + gg + hh + ii) / 8.0 AS tpi,
         GREATEST(aa, bb, cc, dd, ee, ff, gg, hh, ii)
           - LEAST(aa, bb, cc, dd, ee, ff, gg, hh, ii) AS rough
  FROM nb WHERE {_tr_ok}
)
SELECT CONCAT('scene-', CAST(s AS VARCHAR)) AS source_id,
       CAST(band AS BIGINT) AS band,
       CAST(col AS BIGINT) AS col, CAST(row AS BIGINT) AS row,
       CAST(COUNT(*) AS BIGINT) AS n_valid9,
       CAST(SUM(CAST(FLOOR(tpi * 1048576.0 + 0.5) AS BIGINT))
            AS BIGINT) AS tpi_qsum,
       CAST(SUM(CAST(FLOOR(rough * 4.0 + 0.5) AS BIGINT)) AS BIGINT)
         AS rough_q4sum
FROM v GROUP BY 1, 2, 3, 4
"""

    # Moran's I integer moments (morans_i): the same NULL-able rook
    # neighbor columns, values quantized floor(v*4+0.5) (the fixture
    # field lives on the exact 1/4 grid), deg/neighbor-sum per valid
    # center, integer moment sums CAST AS BIGINT.
    _mr_q = "CAST(FLOOR({} * 4.0 + 0.5) AS BIGINT)"
    _mr_deg = " + ".join(
        f"(CASE WHEN {nm} IS NULL THEN 0 ELSE 1 END)"
        for nm in ("bb", "hh", "dd", "ff"))
    _mr_nsum = " + ".join(
        f"COALESCE({_mr_q.format(nm)}, 0)" for nm in ("bb", "hh",
                                                      "dd", "ff"))
    o["morans_i"] = f"""
WITH px AS (
  SELECT s, band, 18 + s + tcc AS col, 24 + trr AS row, ri, ci,
         (s*11) % 48 AS h0
  FROM range(0,3) ss(s), range(0,2) bs(band),
       range(0,4) tcs(tcc), range(0,4) trs(trr),
       range(0,64) ris(ri), range(0,64) cis(ci)
), nb AS MATERIALIZED (
  SELECT s, band,
         {_tr_nb(0, 0)} AS ee, {_tr_nb(-1, 0)} AS bb,
         {_tr_nb(1, 0)} AS hh, {_tr_nb(0, -1)} AS dd,
         {_tr_nb(0, 1)} AS ff
  FROM px
), q AS (
  SELECT s, band, {_mr_q.format('ee')} AS v,
         {_mr_deg} AS deg, {_mr_nsum} AS nsum
  FROM nb WHERE ee IS NOT NULL
)
SELECT CONCAT('scene-', CAST(s AS VARCHAR)) AS source_id,
       CAST(band AS INT) AS band,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(deg) AS BIGINT) AS w_pairs,
       CAST(SUM(v * nsum) AS BIGINT) AS s1,
       CAST(SUM(deg * v) AS BIGINT) AS sdeg,
       CAST(SUM(v) AS BIGINT) AS sv,
       CAST(SUM(v * v) AS BIGINT) AS svv
FROM q GROUP BY 1, 2
"""

    # Local map algebra (local_algebra): both band values recomputed per
    # pixel from the closed-form fixture (the holes coincide across bands
    # — h0 depends only on s — so valid-b0 == valid-both); ndvi is one
    # subtract/add/divide, reclassify is exact comparisons, quantize-first
    # integer sums.
    _la_v = ("s*1000.0 + {b}*100.0 + col*7.0 + row*3.0 + ri*0.5 + ci*0.25"
             " + CAST((ri*31 + ci*17) % 13 AS DOUBLE)")
    o["local_algebra"] = f"""
WITH px AS (
  SELECT s, 18 + s + tcc AS col, 24 + trr AS row, ri, ci,
         (s*11) % 48 AS h0
  FROM range(0,3) ss(s),
       range(0,4) tcs(tcc), range(0,4) trs(trr),
       range(0,64) ris(ri), range(0,64) cis(ci)
), vals AS (
  SELECT s, col, row,
         CASE WHEN NOT (ri >= h0 AND ri < h0+16 AND ci >= h0 AND ci < h0+16)
              THEN {_la_v.format(b='0.0')} END AS v0,
         CASE WHEN NOT (ri >= h0 AND ri < h0+16 AND ci >= h0 AND ci < h0+16)
              THEN {_la_v.format(b='1.0')} END AS v1
  FROM px
), comp AS (
  SELECT s, col, row,
         (v0 - v1) / (v0 + v1) AS nd,
         1 + (CASE WHEN v0 >= 500.0 THEN 1 ELSE 0 END)
           + (CASE WHEN v0 >= 1500.0 THEN 1 ELSE 0 END)
           + (CASE WHEN v0 >= 2250.0 THEN 1 ELSE 0 END) AS cls
  FROM vals WHERE v0 IS NOT NULL
)
SELECT CONCAT('scene-', CAST(s AS VARCHAR)) AS source_id, col, row,
       CAST(SUM(CAST(FLOOR(nd * 1048576.0 + 0.5) AS BIGINT)) AS BIGINT)
         AS ndvi_sum,
       CAST(COUNT(*) AS BIGINT) AS ndvi_count,
       CAST(SUM(cls) AS BIGINT) AS class_sum,
       CAST(COUNT(*) AS BIGINT) AS class_count
FROM comp GROUP BY 1, 2, 3
"""

    # Focal median (focal_median): the nine NULL-able neighbor columns ->
    # list_filter (drop NULLs) -> list_sort -> the two middle 1-based
    # picks, (lo+hi)/2.0 — rank-based so every term is EXACT; (x+x)/2.0
    # is bitwise x for the odd-count case on both sides.
    o["focal_median"] = f"""
WITH px AS (
  SELECT s, band, 18 + s + tcc AS col, 24 + trr AS row, ri, ci,
         (s*11) % 48 AS h0
  FROM range(0,3) ss(s), range(0,2) bs(band),
       range(0,4) tcs(tcc), range(0,4) trs(trr),
       range(0,64) ris(ri), range(0,64) cis(ci)
), nb AS MATERIALIZED (
  SELECT s, band, col, row, {_tr_cols}
  FROM px
), lst AS (
  SELECT s, band, col, row,
         list_sort(list_filter([aa, bb, cc, dd, ee, ff, gg, hh, ii],
                               x -> x IS NOT NULL)) AS l
  FROM nb
), med AS (
  SELECT s, band, col, row,
         (l[(len(l)-1)//2 + 1] + l[len(l)//2 + 1]) / 2.0 AS v
  FROM lst WHERE len(l) > 0
)
SELECT CONCAT('scene-', CAST(s AS VARCHAR)) AS source_id,
       CAST(band AS BIGINT) AS band, col, row,
       CAST(SUM(CAST(FLOOR(v * 1048576.0 + 0.5) AS BIGINT)) AS BIGINT)
         AS focal_sum,
       CAST(COUNT(*) AS BIGINT) AS focal_count
FROM med GROUP BY 1, 2, 3, 4
"""

    # Color-ramp render (render_ramp): fixture values per pixel, then the
    # identical clip -> pos -> i (kept DOUBLE for f) -> floor-lerp chain
    # per channel with the TERRAIN_RAMP stops as DOUBLE list literals;
    # packed RGBA is an exact integer.
    _rd_px = """
  SELECT s, band, 18 + s + tcc AS col, 24 + trr AS row,
         s*1000.0 + band*100.0 + (18 + s + tcc)*7.0 + (24 + trr)*3.0
           + ri*0.5 + ci*0.25
           + CAST((ri*31 + ci*17) % 13 AS DOUBLE) AS v
  FROM range(0,3) ss(s), range(0,2) bs(band),
       range(0,4) tcs(tcc), range(0,4) trs(trr),
       range(0,64) ris(ri), range(0,64) cis(ci)
  WHERE NOT (ri >= (s*11)%48 AND ri < (s*11)%48+16
             AND ci >= (s*11)%48 AND ci < (s*11)%48+16)
"""
    _rd_r = "[0.0, 0.0, 32.0, 160.0, 224.0, 224.0, 160.0, 255.0]"
    _rd_g = "[32.0, 128.0, 192.0, 224.0, 224.0, 128.0, 64.0, 255.0]"
    _rd_b = "[128.0, 192.0, 96.0, 64.0, 0.0, 0.0, 0.0, 255.0]"
    o["render_ramp"] = f"""
WITH px AS ({_rd_px}), rp AS (
  SELECT s, band, col, row,
         LEAST(GREATEST((v - 0.0)/2400.0, 0.0), 1.0) * 7.0 AS pos
  FROM px
), lerp AS (
  SELECT s, band, col, row,
         pos - LEAST(FLOOR(pos), 6.0) AS f,
         CAST(LEAST(FLOOR(pos), 6.0) AS INT) + 1 AS i
  FROM rp
), chans AS (
  SELECT s, band, col, row,
         FLOOR({_rd_r}[i] + f*({_rd_r}[i+1] - {_rd_r}[i]) + 0.5) AS r,
         FLOOR({_rd_g}[i] + f*({_rd_g}[i+1] - {_rd_g}[i]) + 0.5) AS g,
         FLOOR({_rd_b}[i] + f*({_rd_b}[i+1] - {_rd_b}[i]) + 0.5) AS b
  FROM lerp
)
SELECT CONCAT('scene-', CAST(s AS VARCHAR)) AS source_id,
       CAST(band AS BIGINT) AS band, col, row,
       CAST(SUM(CAST(r AS BIGINT)*16777216 + CAST(g AS BIGINT)*65536
                + CAST(b AS BIGINT)*256 + 255) AS BIGINT) AS rgba_sum,
       CAST(COUNT(*) AS BIGINT) AS rgba_count
FROM chans GROUP BY 1, 2, 3, 4
"""

    # Fixed-bucket histogram (raster_histogram): the same bucket
    # expression per pixel — floor((v-vmin)/(vmax-vmin)*nbins) clipped,
    # exact integers — grouped by (source, band, bucket).
    o["raster_histogram"] = f"""
WITH px AS ({_rd_px})
SELECT CONCAT('scene-', CAST(s AS VARCHAR)) AS source_id,
       CAST(band AS BIGINT) AS band,
       CAST(LEAST(GREATEST(FLOOR((v - 0.0)/2400.0*256.0), 0.0), 255.0)
            AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS cnt
FROM px GROUP BY 1, 2, 3
"""

    # Histogram quantile breaks (raster_breaks): window cumulative sum
    # over the histogram, integer ceil-division targets (q*total+3)//4,
    # first bucket reaching each target; one mirrored float op for the
    # break value (vmin + (bucket+1)*width, width = 9.375 — an exact
    # binary fraction, 2400/256).
    o["raster_breaks"] = f"""
WITH px AS ({_rd_px}), hist AS (
  SELECT s, band,
         CAST(LEAST(GREATEST(FLOOR((v - 0.0)/2400.0*256.0), 0.0), 255.0)
              AS BIGINT) AS bucket,
         COUNT(*) AS cnt
  FROM px GROUP BY 1, 2, 3
), tot AS (
  SELECT s, band, SUM(cnt) AS total FROM hist GROUP BY 1, 2
), cum AS (
  SELECT s, band, bucket,
         SUM(cnt) OVER (PARTITION BY s, band ORDER BY bucket
                        ROWS UNBOUNDED PRECEDING) AS cum
  FROM hist
), tgt AS (
  SELECT s, band, q, (q*total + 3)//4 AS target
  FROM tot, range(1,4) qs(q)
), hit AS (
  SELECT c.s, c.band, t.q, MIN(c.bucket) AS bucket
  FROM cum c JOIN tgt t ON c.s = t.s AND c.band = t.band
  WHERE c.cum >= t.target
  GROUP BY 1, 2, 3
)
SELECT CONCAT('scene-', CAST(s AS VARCHAR)) AS source_id,
       CAST(band AS BIGINT) AS band, CAST(q AS BIGINT) AS q,
       bucket, 0.0 + (CAST(bucket AS DOUBLE) + 1.0) * 9.375 AS break_value
FROM hit
"""

    # Hillshade (GDALDEM convention, az 315 / alt 45): same nine-neighbor
    # CTE and Horn p/q as terrain_stats; the engine's cos(zen)/sin(zen)/az
    # doubles are embedded as exact repr literals (computed HERE with the
    # same numpy calls hillshade_stats makes), so the SQL chain is
    # term-for-term identical: 255*GREATEST(0, cz*COS(slope) +
    # sz*SIN(slope)*COS(az - aspect)).
    import numpy as _np
    _hs_zen = _np.radians(_np.float64(90.0 - 45.0))
    _hs_cz = _dl(float(_np.cos(_hs_zen)))
    _hs_sz = _dl(float(_np.sin(_hs_zen)))
    _hs_az = _dl(float(_np.radians(_np.float64(315.0))))
    o["hillshade"] = f"""
WITH px AS (
  SELECT s, band, 18 + s + tcc AS col, 24 + trr AS row, ri, ci,
         (s*11) % 48 AS h0
  FROM range(0,3) ss(s), range(0,2) bs(band),
       range(0,4) tcs(tcc), range(0,4) trs(trr),
       range(0,64) ris(ri), range(0,64) cis(ci)
), nb AS MATERIALIZED (
  SELECT s, band, col, row, {_tr_cols}
  FROM px
), pq AS (
  SELECT s, band, col, row,
         ((cc + 2.0*ff + ii) - (aa + 2.0*dd + gg)) / (8.0*30.0) AS p,
         ((gg + 2.0*hh + ii) - (aa + 2.0*bb + cc)) / (8.0*30.0) AS q
  FROM nb WHERE {_tr_ok}
), sh AS (
  SELECT s, band, col, row,
         255.0 * GREATEST(0.0,
           {_hs_cz} * COS(ATAN(SQRT(p*p + q*q)))
           + {_hs_sz} * SIN(ATAN(SQRT(p*p + q*q)))
             * COS({_hs_az} - ATAN2(q, -p))) AS shade
  FROM pq
)
SELECT CONCAT('scene-', CAST(s AS VARCHAR)) AS source_id,
       CAST(band AS BIGINT) AS band, col, row,
       CAST(SUM(CAST(FLOOR(shade * 1048576.0 + 0.5) AS BIGINT)) AS BIGINT)
         AS shade_sum,
       CAST(COUNT(*) AS BIGINT) AS shade_count
FROM sh GROUP BY 1, 2, 3, 4
"""

    # TRI/TPI/roughness (the rest of the GDALDEM family): same neighbor
    # CTE; the 8-term chained adds mirror the engine's fixed
    # a,b,c,d,f,g,h,i left-to-right order, one division by 8.0;
    # GREATEST/LEAST are exact (no rounding) so order is free; TPI is
    # NEGATIVE-capable — FLOOR is toward -inf on both sides.
    o["tri_stats"] = f"""
WITH px AS (
  SELECT s, band, 18 + s + tcc AS col, 24 + trr AS row, ri, ci,
         (s*11) % 48 AS h0
  FROM range(0,3) ss(s), range(0,2) bs(band),
       range(0,4) tcs(tcc), range(0,4) trs(trr),
       range(0,64) ris(ri), range(0,64) cis(ci)
), nb AS MATERIALIZED (
  SELECT s, band, col, row, {_tr_cols}
  FROM px
), tt AS (
  SELECT s, band, col, row,
         (ABS(ee-aa) + ABS(ee-bb) + ABS(ee-cc) + ABS(ee-dd) + ABS(ee-ff)
          + ABS(ee-gg) + ABS(ee-hh) + ABS(ee-ii)) / 8.0 AS tri,
         ee - (aa + bb + cc + dd + ff + gg + hh + ii) / 8.0 AS tpi,
         GREATEST(aa, bb, cc, dd, ee, ff, gg, hh, ii)
           - LEAST(aa, bb, cc, dd, ee, ff, gg, hh, ii) AS rough
  FROM nb WHERE {_tr_ok}
)
SELECT CONCAT('scene-', CAST(s AS VARCHAR)) AS source_id,
       CAST(band AS BIGINT) AS band, col, row,
       CAST(SUM(CAST(FLOOR(tri * 1048576.0 + 0.5) AS BIGINT)) AS BIGINT)
         AS tri_sum,
       CAST(SUM(CAST(FLOOR(tpi * 1048576.0 + 0.5) AS BIGINT)) AS BIGINT)
         AS tpi_sum,
       CAST(SUM(CAST(FLOOR(rough * 1048576.0 + 0.5) AS BIGINT)) AS BIGINT)
         AS rough_sum,
       CAST(COUNT(*) AS BIGINT) AS tri_count
FROM tt GROUP BY 1, 2, 3, 4
"""

    # NTv2 grid-file datum reproject (reproject_nadgrid): SQL twin of the
    # forward bilinear shift (gridshift._bilinear / shift_forward) — node
    # values recomputed from the closed-form synthetic field
    # (corpus.synth_nadgrid_field), weights in the engine's exact w00..w11
    # order. Grid constants: s_lat=72000, e_long=136800, inc=1800 arc-sec,
    # 47x85 nodes (clamp bounds 45/83).
    _nd_cw = _dl((ND_X1 - ND_X0) / ND_COLS)
    _nd_ch = _dl((ND_Y1 - ND_Y0) / ND_ROWS)
    _nd_lat_node = ("CAST(((({i})*13 + ({j})*7) % 32) * 16 + 256 AS DOUBLE)")
    _nd_lon_node = ("CAST(((({i})*5 + ({j})*11) % 32) * 16 + 320 AS DOUBLE)")

    def _nd_bilin(node_tpl: str) -> str:
        return (f"((1.0-fr)*(1.0-fc))*{node_tpl.format(i='ii', j='jj')}"
                f" + ((1.0-fr)*fc)*{node_tpl.format(i='ii', j='jj+1')}"
                f" + (fr*(1.0-fc))*{node_tpl.format(i='ii+1', j='jj')}"
                f" + (fr*fc)*{node_tpl.format(i='ii+1', j='jj+1')}")

    o["reproject_nadgrid"] = f"""
WITH tgt AS (
  SELECT CAST({ND_X0} AS DOUBLE) + (c+0.5)*{_nd_cw} AS lon_d,
         CAST({ND_Y1} AS DOUBLE) - (r+0.5)*{_nd_ch} AS lat_d
  FROM range(0,{ND_COLS}) cs(c), range(0,{ND_ROWS}) rs(r)
), gsc AS (
  SELECT lon_d, lat_d,
         (lat_d*3600.0 - 72000.0)/1800.0 AS grow,
         (-(lon_d*3600.0) - 136800.0)/1800.0 AS gcol
  FROM tgt
), gfl AS (
  SELECT lon_d, lat_d, grow, gcol,
         LEAST(GREATEST(FLOOR(grow), 0.0), 45.0) AS i0,
         LEAST(GREATEST(FLOOR(gcol), 0.0), 83.0) AS j0
  FROM gsc
), gw AS (
  SELECT lon_d, lat_d, grow - i0 AS fr, gcol - j0 AS fc,
         CAST(i0 AS BIGINT) AS ii, CAST(j0 AS BIGINT) AS jj
  FROM gfl
), gsh AS (
  SELECT lon_d, lat_d,
         {_nd_bilin(_nd_lat_node)} AS dlat,
         {_nd_bilin(_nd_lon_node)} AS dlon
  FROM gw
), pts AS (
  SELECT lon_d - dlon/3600.0 AS lon, lat_d + dlat/3600.0 AS lat FROM gsh
), own AS (
  SELECT lon, lat, {C.sql_tile_col('lon', 6)} AS col, {C.sql_tile_row('lat', 6)} AS row
  FROM pts
), samp AS (
  SELECT s, band, col, row,
    CAST(FLOOR((lon - (CAST(col AS DOUBLE)/64.0*360.0-180.0)) / 0.087890625) AS BIGINT) AS ci,
    CAST(FLOOR(({_la_lat6('CAST(row AS DOUBLE)')} - lat)
         / (({_la_lat6('CAST(row AS DOUBLE)')} - {_la_lat6('CAST(row AS DOUBLE)+1.0')})/64.0)) AS BIGINT) AS ri
  FROM own, range(0,3) ss(s), range(0,2) bs(band)
  WHERE col BETWEEN 18+s AND 21+s AND row BETWEEN 24 AND 27
), vals AS (
  SELECT s, band,
    CASE WHEN ri >= (s*11)%48 AND ri < (s*11)%48+16
          AND ci >= (s*11)%48 AND ci < (s*11)%48+16 THEN -9999.0
         ELSE s*1000.0 + band*100.0 + col*7.0 + row*3.0 + ri*0.5 + ci*0.25
              + CAST((ri*31 + ci*17) % 13 AS DOUBLE) END AS v
  FROM samp
)
SELECT CONCAT('scene-', CAST(s AS VARCHAR)) AS source_id,
       CAST(band AS BIGINT) AS band,
       SUM(v) AS px_sum, CAST(COUNT(*) AS BIGINT) AS px_count
FROM vals GROUP BY 1, 2
"""

    # polygon burn: cover tiles of each hot-cluster box at zoom 9 (box
    # exact-cover == bbox cover), count pixel centers inside ANY box
    # (burn overwrite => n_burned = |union|); cover tiles whose centers all
    # miss still emit a row with n_burned = 0.
    _pb_lat = lambda rr: (f"DEGREES(ATAN((EXP(PI()*(1.0-2.0*({rr})/512.0)) "  # noqa: E731
                          f"- EXP(-(PI()*(1.0-2.0*({rr})/512.0))))/2.0))")
    _pb_c0 = C.sql_tile_col("p.xmin", 9)
    _pb_c1 = C.sql_tile_col("p.xmax", 9)
    _pb_r0 = C.sql_tile_row("p.ymax", 9)
    _pb_r1 = C.sql_tile_row("p.ymin", 9)
    o["polygon_burn"] = f"""
{derive.cte('polygon_boxes')},
p AS (SELECT * FROM polygon_boxes WHERE poly_id LIKE 'poly-r%'),
cov AS (
  SELECT DISTINCT col, row FROM p,
    LATERAL (SELECT UNNEST(RANGE({_pb_c0}, {_pb_c1}+1)) AS col),
    LATERAL (SELECT UNNEST(RANGE({_pb_r0}, {_pb_r1}+1)) AS row)
), pxg AS (
  SELECT col, row, r, c,
    CAST(col AS DOUBLE)/512.0*360.0-180.0
      + (c+0.5)*360.0/512.0/64.0 AS px,
    {_pb_lat('CAST(row AS DOUBLE)')}
      - (r+0.5)*({_pb_lat('CAST(row AS DOUBLE)')} - {_pb_lat('CAST(row AS DOUBLE)+1.0')})/64.0 AS py
  FROM cov, range(0,64) rr(r), range(0,64) cc(c)
), burned AS (
  SELECT g.col, g.row, g.r, g.c
  FROM pxg g JOIN p ON g.px >= p.xmin AND g.px < p.xmax
                   AND g.py >= p.ymin AND g.py < p.ymax
  GROUP BY 1, 2, 3, 4
)
SELECT CAST(9 AS INT) AS zoom, cov.col, cov.row,
       COALESCE(b.nb, 0) AS n_burned
FROM cov LEFT JOIN (SELECT col, row, CAST(COUNT(*) AS BIGINT) AS nb
                    FROM burned GROUP BY 1, 2) b USING (col, row)
"""

    o["pricing_summary"] = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
       CAST(COUNT(*) AS BIGINT) AS count_order
FROM lineitem WHERE l_shipdate <= '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""

    o["segment_revenue"] = """
SELECT c.c_mktsegment, o.o_orderpriority,
       CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(COUNT(DISTINCT o.o_orderkey) AS BIGINT) AS n_orders
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY 1, 2
"""

    o["sessionize"] = """
WITH g AS (
  SELECT user_id, value,
         CASE WHEN LAG(EPOCH_US(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                OR EPOCH_US(ts) - LAG(EPOCH_US(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
              THEN 1 ELSE 0 END AS new_s
  FROM events)
SELECT user_id, CAST(SUM(new_s) AS BIGINT) AS n_sessions,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM g GROUP BY user_id
"""

    o["windowed_events"] = """
SELECT STRFTIME(DATE_TRUNC('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2
"""

    # retile 64 -> 256 -> 64 round trip: NoData-aware checksum per source ==
    # the original fixture closed form (extra all-NoData tiles from
    # non-aligned parent quadrants contribute nothing)
    o["retile_roundtrip"] = f"""
WITH px AS (
  SELECT s, band, r, c, {_fval('r', 'c')} AS val
  FROM range(0,3) ss(s), range(0,4) tcs(tc), range(0,4) trs(tr),
       range(0,2) bs(band), range(0,64) rs(r), range(0,64) cs(c)
)
SELECT 'scene-' || CAST(s AS VARCHAR) AS source_id,
       SUM(CASE WHEN val <> -9999.0 THEN val END) AS px_sum,
       COUNT(CASE WHEN val <> -9999.0 THEN 1 END) AS px_count
FROM px GROUP BY s
"""

    # Structured Streaming watermark semantics recomputed in SQL: append
    # mode emits a tumbling window only once FINALIZED, i.e. the final
    # watermark (max event ts - 30 min) has passed window_end
    ev_lon = "-180.0 + ((event_id * 9973 + 12345) % 100000) / 100000.0 * 360.0"
    ev_lat = "-60.0 + ((event_id * 7919 + 54321) % 100000) / 100000.0 * 120.0"
    sz = str(STREAM_ZOOM)
    ev_cell = C.sql_cell_id(sz, C.sql_tile_col("lon", STREAM_ZOOM),
                            C.sql_tile_row("lat", STREAM_ZOOM))
    # Stream-stream interval join (stream_join): the plain batch
    # interval join — inner stream-stream joins emit every satisfying
    # pair (watermarks bound STATE, not output), so batch equivalence
    # is the semantics under test. Quantized pair sums are integer
    # (order-free); a_value + b_value is one IEEE add on both sides.
    o["stream_join"] = """
WITH a AS (SELECT user_id, ts, value FROM events
           WHERE event_type = 'click'),
b AS (SELECT user_id, ts, value FROM events
      WHERE event_type = 'view')
SELECT a.user_id % 16 AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(CAST(FLOOR((a.value + b.value) * 256.0 + 0.5)
                     AS BIGINT)) AS BIGINT) AS qsum
FROM a JOIN b ON a.user_id = b.user_id
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL '12 hours'
GROUP BY 1
"""

    o["stream_rasterize"] = f"""
WITH ev AS (
  SELECT ts, value, {ev_lon} AS lon, {ev_lat} AS lat FROM events),
cells AS (
  SELECT DATE_TRUNC('hour', ts) AS ws, ts, value, {ev_cell} AS cell FROM ev),
mx AS (SELECT MAX(ts) AS m FROM events)
SELECT STRFTIME(ws, '%Y-%m-%d %H:%M:%S') AS window_start, cell,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM cells GROUP BY ws, cell
HAVING ws + INTERVAL 1 HOUR <= (SELECT m - INTERVAL 30 MINUTE FROM mx)
"""

    # stateful streaming dedup: exactly-once emission across micro-batches
    # == plain DISTINCT over the union of the planted slices
    o["stream_dedup"] = """
SELECT DISTINCT CAST(doc_id AS VARCHAR) AS doc_id
FROM documents WHERE doc_id % 2 = 0 OR doc_id % 3 = 0
"""

    # stateful running totals: per-cell cumulative (count, value-sum)
    # across the three deterministic micro-batches == per-batch grouping +
    # cumulative window sums (values floored to cents -> exact integers in
    # doubles, so float sum order cannot matter)
    st_cell = C.sql_cell_id(str(STREAM_TOTALS_ZOOM),
                            C.sql_tile_col("lon", STREAM_TOTALS_ZOOM),
                            C.sql_tile_row("lat", STREAM_TOTALS_ZOOM))
    o["stream_totals"] = f"""
WITH ev AS (
  SELECT event_id % 3 AS b,
         FLOOR(COALESCE(value, 0.0) * 100.0) AS v,
         {ev_lon} AS lon, {ev_lat} AS lat
  FROM events),
cells AS (
  SELECT b, {st_cell} AS cell, CAST(COUNT(*) AS BIGINT) AS c, SUM(v) AS vs
  FROM ev GROUP BY 1, 2)
SELECT cell, c AS batch_events,
       CAST(SUM(c) OVER w AS BIGINT) AS total_events,
       SUM(vs) OVER w AS total_value
FROM cells
WINDOW w AS (PARTITION BY cell ORDER BY b ROWS UNBOUNDED PRECEDING)
"""

    t = "text"
    o["text_features"] = f"""
SELECT doc_id,
  {TXT.sql_ws_token_count(t)} AS ws_tokens,
  {TXT.sql_bpe_token_count(t)} AS bpe_tokens,
  {TXT.sql_alpha_ratio(t)} AS alpha_ratio,
  {TXT.sql_punct_ratio(t)} AS punct_ratio,
  {TXT.sql_stopword_hits(t)} AS stop_hits,
  {TXT.sql_quality_score(t)} AS quality,
  {TXT.sql_lang_id(t)} AS lang_pred,
  {char_hash_sql(t)} AS fingerprint
FROM documents
"""

    # media tier: decode is the deterministic stub, but its seed is the
    # polynomial BYTE hash of the sha256-hex payload — recomputable from
    # the same opaque bytes in SQL. Chunk means are exact (image: ints/64;
    # audio: multiples of 2^-15), so the hash compare is bitwise.
    o["media_features"] = f"""
{derive.cte('media')},
seeds AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, media_idx AS span_idx,
         CASE WHEN media_idx % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
         {char_hash_sql("SHA256(media_ref)")} AS seed
  FROM media),
px AS (
  SELECT doc_id, span_idx, kind, seed, j AS chunk_idx, (j*64 + k) AS i
  FROM seeds, range(0,16) js(j), range(0,64) ks(k)),
vals AS (
  SELECT doc_id, span_idx, kind, chunk_idx,
    CASE WHEN kind = 'image'
         THEN CAST(((seed % 251) + (i//32)*31 + (i%32)*17) % 256 AS DOUBLE)
         ELSE CAST(((seed % 1000003) + i*7919) % 65536 AS DOUBLE)/32768.0 - 1.0
    END AS v
  FROM px)
SELECT doc_id, CAST(span_idx AS INT) AS span_idx, kind,
       CAST(chunk_idx AS INT) AS chunk_idx, SUM(v)/64.0 AS feat
FROM vals GROUP BY 1, 2, 3, 4
"""

    # real-codec tier: payloads are genuine PNG/WAV byte streams whose
    # CONTENT is closed-form in the media_ref char hash; encode->decode is
    # bit-exact for both codecs, so the oracle regenerates the decoded
    # arrays arithmetically (image ints: sums exact; audio: multiples of
    # 2^-15, chunk sums exact in double regardless of order)
    o["media_real_features"] = f"""
{derive.cte('media')},
seeds AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, media_idx AS span_idx,
         CASE WHEN media_idx % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
         {char_hash_sql("media_ref")} AS seed
  FROM media),
px AS (
  SELECT doc_id, span_idx, kind, seed, j AS chunk_idx, (j*64 + k) AS i
  FROM seeds, range(0,16) js(j), range(0,64) ks(k)),
vals AS (
  SELECT doc_id, span_idx, kind, chunk_idx,
    CASE WHEN kind = 'image'
         THEN CAST(((seed % 251) + (i//32)*31 + (i%32)*17) % 256 AS DOUBLE)
         ELSE CAST(((seed % 1000003) + i*7919) % 65536 AS DOUBLE)/32768.0 - 1.0
    END AS v
  FROM px)
SELECT doc_id, CAST(span_idx AS INT) AS span_idx, kind,
       CAST(chunk_idx AS INT) AS chunk_idx, SUM(v)/64.0 AS feat
FROM vals GROUP BY 1, 2, 3, 4
"""

    o["embed_topk"] = f"""
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id % 50 = 0)
SELECT query_id, vec_id, CAST(rank AS INT) AS rank, cos FROM (
  SELECT q.query_id, e.vec_id,
         LIST_COSINE_SIMILARITY(q.qv, e.embedding::DOUBLE[]) AS cos,
         ROW_NUMBER() OVER (PARTITION BY q.query_id
           ORDER BY LIST_COSINE_SIMILARITY(q.qv, e.embedding::DOUBLE[]) DESC, e.vec_id) AS rank
  FROM q CROSS JOIN embeddings e WHERE e.vec_id <> q.query_id) t
WHERE rank <= {EMB_K}
"""

    o["embed_ivf_topk"] = f"""
WITH cent AS (SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS cvec
              FROM embeddings
              ORDER BY ((vec_id % 2147483648) * 2654435761) % 2147483648, vec_id
              LIMIT {IVF_K}),
v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
assign AS (
  SELECT vec_id, centroid_id FROM (
    SELECT v.vec_id, c.centroid_id,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id
             ORDER BY LIST_COSINE_SIMILARITY(v.vec, c.cvec) DESC, c.centroid_id) AS rn
    FROM v CROSS JOIN cent c) t WHERE rn = 1),
q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id % 50 = 0),
probes AS (
  SELECT query_id, centroid_id FROM (
    SELECT q.query_id, c.centroid_id,
           ROW_NUMBER() OVER (PARTITION BY q.query_id
             ORDER BY LIST_COSINE_SIMILARITY(q.qv, c.cvec) DESC, c.centroid_id) AS rn
    FROM q CROSS JOIN cent c) t WHERE rn <= {IVF_NPROBE}),
cand AS (
  SELECT DISTINCT p.query_id, a.vec_id
  FROM probes p JOIN assign a ON a.centroid_id = p.centroid_id
  WHERE a.vec_id <> p.query_id)
SELECT query_id, vec_id, CAST(rank AS INT) AS rank, cos FROM (
  SELECT c.query_id, c.vec_id,
         LIST_COSINE_SIMILARITY(q.qv, v.vec) AS cos,
         ROW_NUMBER() OVER (PARTITION BY c.query_id
           ORDER BY LIST_COSINE_SIMILARITY(q.qv, v.vec) DESC, c.vec_id) AS rank
  FROM cand c JOIN q ON q.query_id = c.query_id JOIN v ON v.vec_id = c.vec_id) t
WHERE rank <= {EMB_K}
"""

    def table_bucket_expr(t: int) -> str:
        return " + ".join(
            f"(CASE WHEN LIST_DOT_PRODUCT(embedding::DOUBLE[], "
            f"{sim.sql_plane_weights_list(t * EMB_LSH_PLANES + p, EMB_DIMS)}) >= 0 "
            f"THEN 1 ELSE 0 END) * {1 << p}"
            for p in range(EMB_LSH_PLANES))

    eb_cte = " UNION ALL ".join(
        f"SELECT vec_id, CAST({t} AS INT) AS table_id, "
        f"CAST({table_bucket_expr(t)} AS BIGINT) AS bucket FROM embeddings"
        for t in range(EMB_LSH_TABLES))
    o["embed_lsh_buckets"] = f"""
SELECT vec_id, table_id, bucket FROM ({eb_cte})
"""

    embed_pairs_select = f"""
  SELECT DISTINCT a.vec_id AS vec_a, bb.vec_id AS vec_b
  FROM eb a JOIN eb bb ON a.table_id = bb.table_id AND a.bucket = bb.bucket
   AND a.vec_id < bb.vec_id
  JOIN ev va ON va.vec_id = a.vec_id JOIN ev vb ON vb.vec_id = bb.vec_id
  WHERE LIST_COSINE_SIMILARITY(va.vec, vb.vec) >= {EMB_MIN_COS}
"""
    o["embed_dup_clusters"] = (
        "WITH RECURSIVE "
        f"eb AS ({eb_cte}),\n"
        "ev AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),\n"
        + _cc_sql(embed_pairs_select, "vec_a", "vec_b")
    )

    o["embed_near_pairs"] = f"""
WITH b AS ({eb_cte}),
v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, bb.vec_id AS vec_b
  FROM b a JOIN b bb ON a.table_id = bb.table_id AND a.bucket = bb.bucket
   AND a.vec_id < bb.vec_id)
SELECT c.vec_a, c.vec_b, LIST_COSINE_SIMILARITY(va.vec, vb.vec) AS cos
FROM cand c JOIN v va ON va.vec_id = c.vec_a JOIN v vb ON vb.vec_id = c.vec_b
WHERE LIST_COSINE_SIMILARITY(va.vec, vb.vec) >= {EMB_MIN_COS}
"""
    return o


# --------------------------------------------------------------------------
# driver contract
# --------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship pipeline on sf0.001: extract anchors from the doc table,
    spatial-join to polygons, assign each doc's media to zoom-10 tiles —
    scan -> project -> broadcast spatial join -> refine -> tile assignment,
    the engine's signature end-to-end slice (SURVEY.md §7.4)."""
    sf_dir = "/root/testdata/sf0.001"
    _views(spark, sf_dir)
    hits = sj.pip_join_boxes(spark.table("anchors"), spark.table("polygon_boxes"), zoom=6) \
             .select("doc_id", "poly_id")
    media_tiles = tiling.assign_tiles(spark.table("media"), [10]) \
                        .select("doc_id", "media_ref", "zoom", "col", "row")
    return hits.join(media_tiles, "doc_id", "inner") \
               .select("doc_id", "poly_id", "media_ref", "zoom", "col", "row")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registration order is deliberate: queries NEW or CHANGED this round
    lead, and the r4 driver capture held only the first 50 registrations —
    so the tail holds ONLY long-stable queries untouched since r2/r3 and
    green in every prior driver artifact, with the builder's full-registry
    drive persisted per-round as CORRECTNESS_local_r{N}.json (r4 VERDICT
    next-round item #3)."""
    return {
        # --- new/changed this round first -------------------------------
        "hilbert_layout": q_hilbert_layout,
        "repetition_signals": q_repetition_signals,
        "morans_i": q_morans_i,
        "hist_match": q_hist_match,
        "strahler": q_strahler,
        "strahler_dist": q_strahler_dist,
        "box_union": q_box_union,
        "span_dedup": q_span_dedup,
        "hull_diameter": q_hull_diameter,
        "funnel": q_funnel,
        "quadtree": q_quadtree,
        "bpe_counts": q_bpe_counts,
        "crosstab": q_crosstab,
        "temporal_fill": q_temporal_fill,
        "tpi_roughness": q_tpi_roughness,
        "decontaminate": q_decontaminate,
        "kcore": q_kcore,
        "transitions": q_transitions,
        "embed_outlier": q_embed_outlier,
        "euclidean_allocation": q_euclidean_allocation,
        "mst": q_mst,
        "twap": q_twap,
        "events_rollup": q_events_rollup,
        "events_pivot": q_events_pivot,
        "gini": q_gini,
        "cohort_retention": q_cohort_retention,
        "triangle_count": q_triangle_count,
        "delaunay_exact": q_delaunay_exact,
        "tin_raster": q_tin_raster,
        "voronoi_vertices": q_voronoi_vertices,
        "mann_kendall": q_mann_kendall,
        "theil_sen": q_theil_sen,
        "temporal_composite": q_temporal_composite,
        "temporal_median": q_temporal_median,
        "local_binary": q_local_binary,
        "tfidf": q_tfidf,
        "zonal_mode": q_zonal_mode,
        "pagerank": q_pagerank,
        "stream_network": q_stream_network,
        "stream_network_dist": q_stream_network_dist,
        "geodesic_pairs": q_geodesic_pairs,
        "curvature": q_curvature,
        "percent_clip": q_percent_clip,
        "box_overlay": q_box_overlay,
        "bigram_novelty": q_bigram_novelty,
        "flow_length": q_flow_length,
        "flow_length_dist": q_flow_length_dist,
        "fill_sinks": q_fill_sinks,
        "fill_sinks_dist": q_fill_sinks_dist,
        "segment_intersections": q_segment_intersections,
        "kmeans_lloyd": q_kmeans_lloyd,
        "gram_matrix": q_gram_matrix,
        "mean_vector": q_mean_vector,
        "delaunay_tin": q_delaunay_tin,
        "cm_sketch": q_cm_sketch,
        "bloom_filter": q_bloom_filter,
        "hll_sketch": q_hll_sketch,
        "contour": q_contour,
        "zonal_percentiles": q_zonal_percentiles,
        "temporal_trend": q_temporal_trend,
        "hex_bin": q_hex_bin,
        "edit_pairs": q_edit_pairs,
        "asof_join": q_asof_join,
        "sample_split": q_sample_split,
        "line_simplify": q_line_simplify,
        "cell_names": q_cell_names,
        "temporal_stats": q_temporal_stats,
        "convex_hull": q_convex_hull,
        "snapshot_compact": q_snapshot_compact,
        "focal_wedge": q_focal_wedge,
        "geotiff_read_overview": q_geotiff_read_overview,
        "geotiff_read_jpeg_ycbcr": q_geotiff_read_jpeg_ycbcr,
        "stream_join": q_stream_join,
        "focal_circle": q_focal_circle,
        "time_travel": q_time_travel,
        "pq_codes": q_pq_codes,
        "pq_topk": q_pq_topk,
        "kriging": q_kriging,
        "bm25_topk": q_bm25_topk,
        "vectorize": q_vectorize,
        "geotiff_read_jpeg": q_geotiff_read_jpeg,
        "sigmoidal_contrast": q_sigmoidal_contrast,
        "hist_equalize": q_hist_equalize,
        "winnow_fps": q_winnow_fps,
        "viewshed_dist": q_viewshed_dist,
        "least_cost_path_dist": q_least_cost_path_dist,
        "spacetime_layout": q_spacetime_layout,
        "line_burn": q_line_burn,
        "raster_mask": q_raster_mask,
        "geotiff_read_subbyte": q_geotiff_read_subbyte,
        "geotiff_read_lzma": q_geotiff_read_lzma,
        "resample_methods": q_resample_methods,
        "geotiff_read_pred3": q_geotiff_read_pred3,
        "geotiff_read_bigtiff": q_geotiff_read_bigtiff,
        "geotiff_read_http": q_geotiff_read_http,
        "reproject_aeqd_ell": q_reproject_aeqd_ell,
        "geotiff_read_packbits": q_geotiff_read_packbits,
        "flow_accumulation_dist": q_flow_accumulation_dist,
        "watershed_dist": q_watershed_dist,
        "geotiff_read_lzw": q_geotiff_read_lzw,
        "reproject_omerc": q_reproject_omerc,
        "pip_join_wkb": q_pip_join_wkb,
        "reproject_sphere": q_reproject_sphere,
        "reproject_nadgrid": q_reproject_nadgrid,
        "reproject_stere": q_reproject_stere,
        "reproject_sinu": q_reproject_sinu,
        "reproject_cea": q_reproject_cea,
        "reproject_sterea": q_reproject_sterea,
        "reproject_geos": q_reproject_geos,
        "reproject_moll": q_reproject_moll,
        "reproject_somerc": q_reproject_somerc,
        "focal_stats": q_focal_stats,
        "focal_median": q_focal_median,
        "focal_stddev": q_focal_stddev,
        "focal_mode": q_focal_mode,
        "focal_conv": q_focal_conv,
        "kernel_density": q_kernel_density,
        "region_group": q_region_group,
        "geotiff_read": q_geotiff_read,
        "cost_distance": q_cost_distance,
        "least_cost_path": q_least_cost_path,
        "idw_interpolate": q_idw_interpolate,
        "euclidean_distance": q_euclidean_distance,
        "region_stats": q_region_stats,
        "viewshed": q_viewshed,
        "reproject_aeqd": q_reproject_aeqd,
        "reproject_krovak": q_reproject_krovak,
        "pyramid_px_avg": q_pyramid_px_avg,
        "flow_direction": q_flow_direction,
        "flow_accumulation": q_flow_accumulation,
        "watershed": q_watershed,
        "terrain_stats": q_terrain_stats,
        "hillshade": q_hillshade,
        "tri_stats": q_tri_stats,
        "local_algebra": q_local_algebra,
        "render_ramp": q_render_ramp,
        "raster_histogram": q_raster_histogram,
        "raster_breaks": q_raster_breaks,
        "reproject_datum": q_reproject_datum,
        "geom_scalars": q_geom_scalars,
        "stream_dedup": q_stream_dedup,
        "stream_totals": q_stream_totals,
        "embed_lsh_buckets": q_embed_lsh_buckets,
        "embed_near_pairs": q_embed_near_pairs,
        # --- the standing registry --------------------------------------
        "cell_encode": q_cell_encode,
        "tile_assign": q_tile_assign,
        "pip_join": q_pip_join,
        "pip_join_salted": q_pip_join_salted,
        "pip_join_hot": q_pip_join_hot,
        "distance_join": q_distance_join,
        "haversine_pairs": q_haversine_pairs,
        "knn": q_knn,
        "knn_exact": q_knn_exact,
        "zonal_stats": q_zonal_stats,
        "rasterize": q_rasterize,
        "mosaic_merge": q_mosaic_merge,
        "windows_read": q_windows_read,
        "windows_read_multizoom": q_windows_read_multizoom,
        "window_read_px": q_window_read_px,
        "raster_summary": q_raster_summary,
        "zorder_layout": q_zorder_layout,
        "poly_lang_rollup": q_poly_lang_rollup,
        "dedup_exact": q_dedup_exact,
        "jaccard_pairs": q_jaccard_pairs,
        "minhash_sigs": q_minhash_sigs,
        "lsh_pairs": q_lsh_pairs,
        "simhash": q_simhash,
        "dedup_clusters": q_dedup_clusters,
        "embed_dup_clusters": q_embed_dup_clusters,
        "simhash_pairs": q_simhash_pairs,
        "sessionize": q_sessionize,
        "windowed_events": q_windowed_events,
        "retile_roundtrip": q_retile_roundtrip,
        "stream_rasterize": q_stream_rasterize,
        "text_features": q_text_features,
        "media_features": q_media_features,
        "media_real_features": q_media_real_features,
        "pixel_mosaic_checksum": q_pixel_mosaic_checksum,
        "mosaic_merge_multires": q_mosaic_merge_multires,
        "reproject_grid": q_reproject_grid,
        "reproject_laea": q_reproject_laea,
        "reproject_albers": q_reproject_albers,
        "reproject_lcc": q_reproject_lcc,
        "reproject_proj4": q_reproject_proj4,
        "polygon_burn": q_polygon_burn,
        "pixel_warp_chain": q_pixel_warp_chain,
        "embed_topk": q_embed_topk,
        "embed_ivf_topk": q_embed_ivf_topk,
        # --- stable tail (untouched since r2/r3, green in every prior
        # driver artifact; covered by CORRECTNESS_local_r5.json) ----------
        "pyramid_build": q_pyramid_build,
        "bbox_select": q_bbox_select,
        "cell_percentiles": q_cell_percentiles,
        "pricing_summary": q_pricing_summary,
        "segment_revenue": q_segment_revenue,
    }


def oracle_sql() -> dict[str, str]:
    return _oracles()
