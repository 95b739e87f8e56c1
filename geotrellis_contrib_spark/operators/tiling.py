"""Tile-pyramid assignment and windowed reads over the tile table.

The engine's signature workload (BASELINE.json north_star): map document
``media_ref``s to SpatialKey(zoom, col, row) tiles — the Spark-first
re-expression of the reference's LayoutTileSource / keysForGeometry path
(/root/reference/benchmark/src/main/scala/GeotrellisRasterSourceBench.scala:32-43)
and its batched multi-window reads
(/root/reference/vlm/.../geotiff/GeoTiffRasterSource.scala:99-110).

Everything here is pure Column arithmetic + explode — the 10^12-row hot path
never leaves the JVM, and the produced (zoom, cell) keys are exactly the
partition columns of the tile table layout (SURVEY.md §4), so downstream
reads prune partitions for free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geotrellis_contrib_spark.functions import cells as C
from geotrellis_contrib_spark.operators.spatial_join import with_cover_cells


def assign_tiles(points: DataFrame, zooms: list[int],
                 lon="lon", lat="lat") -> DataFrame:
    """Assign each point row its SpatialKey at every zoom in ``zooms``.

    One narrow stage: explode the zoom list, then col/row/cell_id arithmetic.
    Matches grid.lonlat_to_tile bit-for-bit (same float64 op order).
    """
    df = points.filter(F.col(lon).isNotNull() & F.col(lat).isNotNull())
    df = df.withColumn("zoom", F.explode(F.array(*[F.lit(z).cast("int") for z in sorted(zooms)])))
    return (df
            .withColumn("col", C.tile_col(F.col(lon), F.col("zoom")))
            .withColumn("row", C.tile_row(F.col(lat), F.col("zoom")))
            .withColumn("cell_id", C.cell_id(F.col("zoom"), F.col("col"), F.col("row"))))


def keys_for_windows(windows: DataFrame, zoom: int) -> DataFrame:
    """Explode read-window bboxes to their covering SpatialKeys at ``zoom``
    (keysForGeometry for bboxes; every-window batched enumeration)."""
    return (with_cover_cells(windows, zoom)
            .withColumnRenamed("cell_col", "col")
            .withColumnRenamed("cell_row", "row")
            .withColumn("zoom", F.lit(zoom)))


def windows_tiles_join(windows: DataFrame, tiles: DataFrame, zoom: int,
                       broadcast_windows: bool = True) -> DataFrame:
    """Batched multi-window read: which tile rows does each window touch?

    The reference prunes requested windows against the footprint and crops
    in one batched pass (GeoTiffRasterSource.scala:99-110). Spark plan:
    windows -> covering keys (explode, JVM) -> equi-join with the tile table
    on (col, row). Disjoint windows drop out of the inner join — that IS the
    intersection pruning. With the tile table partitioned by key ranges the
    join needs no full scan (partition pruning / DPP on a real layout).
    """
    keys = keys_for_windows(windows, zoom).drop("zoom", "col", "row")
    if broadcast_windows:
        keys = F.broadcast(keys)
    # single-long cell key on both sides (LongHashedRelation fast path);
    # the tile side derives it narrowly from its own (zoom, col, row).
    # Tiles are filtered to THIS zoom first — on a multi-zoom table (e.g.
    # with pyramid levels appended) other zooms would otherwise be keyed
    # with the wrong zoom bits and could spuriously match windows.
    keyed_tiles = tiles.filter(F.col("zoom") == zoom).withColumn(
        "cell", C.cell_id(F.lit(zoom), F.col("col"), F.col("row")))
    return keys.join(keyed_tiles, "cell", "inner").drop("cell")


def tile_extent_cols(df: DataFrame, zoom_col="zoom", col="col", row="row") -> DataFrame:
    """Attach the lon/lat extent of each tile key (inverse of assign_tiles)
    as txmin, txmax, tymin, tymax (JVM StrictMath)."""
    z = F.col(zoom_col)
    return (df
            .withColumn("txmin", C.tile_xmin(z, F.col(col)))
            .withColumn("txmax", C.tile_xmax(z, F.col(col)))
            .withColumn("tymin", C.tile_ymin(z, F.col(row)))
            .withColumn("tymax", C.tile_ymax(z, F.col(row))))
