"""Table layout: the engine's physical design for tile/document tables.

Stands in for an Iceberg catalog with a plain parquet layout (same layout
decisions transfer; swap the writer for ``df.writeTo(...)`` on a cluster with
an Iceberg catalog — SURVEY.md §7 "what's built-in vs custom").

Physical design (SURVEY.md §4 "physical layout decisions"):
  - partition directories by (zoom, bucket) where bucket = coarse spatial
    prefix of the cell (parent cell at a configurable coarser zoom) —
    windowed reads prune whole directories (partition pruning) before any
    file I/O, replacing the reference's COG-internal tiling + overview
    physics (GeoTiffRasterSource.scala:59-61);
  - rows sorted within partitions by (cell, id) — parquet min/max row-group
    skipping on the cell column, locality for range scans (the Z-order-ish
    layout; morton_interleave available for stricter ordering);
  - pyramid levels are explicit ``zoom`` rows, so overview selection is a
    partition filter, not a file-format feature.
"""

from __future__ import annotations

import os
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from geotrellis_contrib_spark.functions import cells as C

BUCKET_ZOOM_DELTA = 3  # bucket = cell's ancestor 3 zooms up -> 64 tiles/bucket

# Settings that change what schema Spark infers from the same parquet files.
_PARQUET_READ_CONF = ("spark.sql.parquet.", "spark.sql.legacy.parquet.",
                      "spark.sql.caseSensitive",
                      "spark.sql.sources.partitionColumnTypeInference.")
# Process-wide, so it outlives sessions: a new session over the same files
# infers nothing. Oldest entries go first past _SCHEMAS_MAX.
_SCHEMAS: dict[tuple, StructType] = {}
_SCHEMAS_MAX = 1024


def _schema_key(spark: SparkSession, paths: tuple[str, ...]) -> tuple | None:
    """The files under ``paths`` (resolved path, size, mtime_ns of every
    leaf file) and the session's parquet read settings; None for a path
    that is not a plain local file or directory."""
    files = []
    for p in paths:
        if urlparse(p).scheme or any(c in p for c in "*?[{") \
                or not os.path.exists(p):
            return None
        p = os.path.realpath(p)
        leaves = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in leaves:
            st = os.stat(f)
            files.append((f, st.st_size, st.st_mtime_ns))
    # one JVM call: ``spark.conf.getAll`` costs a py4j round trip per entry
    settings = spark._jsparkSession.conf().getAll().mkString("\x01")
    conf = sorted(tuple(kv.split(" -> ", 1)) for kv in settings.split("\x01")
                  if kv.startswith(_PARQUET_READ_CONF))
    return tuple(files), tuple(conf)


def read_parquet(spark: SparkSession, *paths: str) -> DataFrame:
    """``spark.read.parquet(*paths)`` that reuses the schema Spark already
    inferred for the same local files under the same read settings.
    Inferring a parquet schema runs one Spark job per read
    (``SchemaMergeUtils.mergeSchemasInParallel``); a hit reads with the
    recorded ``StructType`` and runs none. Any changed, added or removed
    file, or changed setting, gives a new key and a fresh inference."""
    key = _schema_key(spark, paths)
    schema = _SCHEMAS.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(*paths)
    df = spark.read.parquet(*paths)
    if key is not None:
        if len(_SCHEMAS) >= _SCHEMAS_MAX:
            del _SCHEMAS[next(iter(_SCHEMAS))]
        _SCHEMAS[key] = df.schema
    return df


def with_bucket(df: DataFrame, cell_col: str = "cell",
                delta: int = BUCKET_ZOOM_DELTA) -> DataFrame:
    """Coarse spatial bucket = packed parent cell ``delta`` zooms up."""
    return df.withColumn("bucket", C.cell_parent(F.col(cell_col), delta))


def write_tile_table(tiles: DataFrame, path: str,
                     zoom_col: str = "zoom", cell_col: str = "cell",
                     id_col: str = "col", layout: str = "zorder",
                     n_partitions: int | None = None,
                     rowgroup_bytes: int | None = None) -> None:
    """Write the cell-keyed table partitioned by (zoom, bucket) directories.

    ``layout='zorder'`` (default): rows range-partitioned AND sorted by
    (zoom, bucket, morton) where morton is the Z-order interleave of
    (col, row) — each output file and parquet row group covers a narrow
    2D-local morton interval, so a bbox read's ``morton BETWEEN`` predicate
    (see :func:`read_tiles`) skips row groups via parquet min/max stats,
    and the same per-file stats become file-level skips verbatim under an
    Iceberg/Delta catalog. ``layout='rowmajor'``: the legacy (cell, id)
    sort — col-major stripes whose morton stats are wide (kept for
    comparison benchmarks). Both layouts write the ``morton`` column.

    ``n_partitions`` pins the range-partition count (defaults to Spark's
    shuffle parallelism); ``rowgroup_bytes`` caps parquet row-group size so
    stats granularity on small corpora matches the large-scale default."""
    if cell_col not in tiles.columns:
        tiles = tiles.withColumn(
            cell_col, C.cell_id(F.col(zoom_col), F.col("col"), F.col("row")))
    out = with_bucket(tiles, cell_col).withColumn(
        "morton", C.morton_code("col", "row"))
    if layout == "zorder":
        parts = [F.col(zoom_col), F.col("bucket"), F.col("morton")]
        out = (out.repartitionByRange(*([n_partitions] if n_partitions else []),
                                      *parts)
                  .sortWithinPartitions(zoom_col, "bucket", "morton", id_col))
    elif layout == "rowmajor":
        out = (out.repartition(F.col(zoom_col), F.col("bucket"))
                  .sortWithinPartitions(cell_col, id_col))
    else:
        raise ValueError(f"unknown layout {layout!r} (zorder | rowmajor)")
    w = out.write.partitionBy(zoom_col, "bucket").mode("overwrite")
    if rowgroup_bytes is not None:
        w = w.option("parquet.block.size", str(rowgroup_bytes))
    # plannedWrite (default-on, Spark 3.4+) REPLACES the prepared ordering
    # with an UNSTABLE sort on the partition columns alone, scrambling the
    # in-partition morton/cell order the layout exists for (measured:
    # 6/124 files morton-sorted with it on, 125/125 with it off — the
    # prepared (zoom, bucket, ...) ordering already satisfies the writer's
    # requirement, so disabling it costs nothing)
    spark = tiles.sparkSession
    key = "spark.sql.optimizer.plannedWrite.enabled"
    prev = spark.conf.get(key, "true")
    spark.conf.set(key, "false")
    try:
        w.parquet(path)
    finally:
        spark.conf.set(key, prev)


def read_tiles(spark: SparkSession, path: str, zoom: int | None = None,
               bbox: tuple[float, float, float, float] | None = None) -> DataFrame:
    """Scan with partition pruning: a zoom filter prunes pyramid levels, a
    bbox prunes buckets (computed driver-side from the same grid math) —
    Catalyst turns both into directory-level pruning (verify with
    ``pruned_files``)."""
    df = spark.read.parquet(path)
    if zoom is not None:
        df = df.filter(F.col("zoom") == zoom)
        if bbox is not None:
            import numpy as np

            from geotrellis_contrib_spark import grid
            bz = zoom - BUCKET_ZOOM_DELTA
            cols, rows = grid.tiles_for_extent(bz, *bbox)
            buckets = [int(b) for b in np.unique(grid.pack_cell(bz, cols, rows))]
            df = df.filter(F.col("bucket").isin(buckets))
            if "morton" in df.columns:
                # Z-order interval cover: morton is monotone in col and in
                # row (disjoint interleaved bits), so every cell of the
                # bbox's tile rectangle lies in [morton(cmin,rmin),
                # morton(cmax,rmax)] — a single pushed range predicate the
                # parquet reader turns into row-group skips on the
                # morton-sorted layout (superset filter; exact membership
                # stays the caller's refine, same as the bucket IN-list)
                tc, tr = grid.tiles_for_extent(zoom, *bbox)
                lo = int(grid.morton_interleave(
                    np.int64(tc.min()), np.int64(tr.min())))
                hi = int(grid.morton_interleave(
                    np.int64(tc.max()), np.int64(tr.max())))
                df = df.filter(F.col("morton").between(lo, hi))
    return df


def input_files(df: DataFrame) -> list[str]:
    """Files the plan will actually read (partition-pruning evidence)."""
    return df.inputFiles()


def write_doc_table(docs: DataFrame, path: str, n_partitions: int = 64) -> None:
    """Document table layout: range-partitioned by doc_id (append-friendly,
    balanced); spans stay opaque."""
    (docs.repartitionByRange(n_partitions, "doc_id")
         .sortWithinPartitions("doc_id")
         .write.mode("overwrite").parquet(path))


def delete_where(spark: SparkSession, path: str, predicate) -> int:
    """Row-level delete: keep rows NOT matching ``predicate`` (a Column),
    rewrite atomically via a staging dir — the parquet stand-in for an
    Iceberg row-delete, matching the reference's delete-by-spatial-predicate
    semantics (/root/reference/slick/src/test/.../PostgisSpec.scala:133-140).
    Returns the number of rows deleted."""
    import shutil
    import uuid

    df = spark.read.parquet(path)
    before = df.count()
    kept = df.filter(~predicate)
    staging = f"{path}__staging_{uuid.uuid4().hex[:8]}"
    kept.write.mode("overwrite").parquet(staging)
    after = spark.read.parquet(staging).count()
    shutil.rmtree(path)
    os.replace(staging, path)
    return before - after


def table_ddl(name: str, path: str) -> str:
    """CREATE TABLE DDL for the layout (Spark SQL; USING parquet here,
    USING iceberg verbatim on a catalog-enabled cluster)."""
    return (f"CREATE TABLE IF NOT EXISTS {name} "
            f"USING parquet OPTIONS (path '{os.path.abspath(path)}')")
