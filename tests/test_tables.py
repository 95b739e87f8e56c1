"""Physical layout: partition pruning must reach the directory level."""

import shutil
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from geotrellis_contrib_spark import derive
from geotrellis_contrib_spark.sources import tables
from tests.conftest import SF_MED, SF_SMALL, count_jobs


@pytest.fixture(scope="module")
def tile_path(spark, tmp_path_factory):
    derive.load_base_views(spark, SF_SMALL)
    tiles = spark.sql(derive.TILES_SQL)
    path = str(tmp_path_factory.mktemp("tiles") / "tile_table")
    tables.write_tile_table(tiles, path)
    return path


def test_roundtrip(spark, tile_path):
    derive.load_base_views(spark, SF_SMALL)
    orig = spark.sql(derive.TILES_SQL)
    back = spark.read.parquet(tile_path)
    assert back.count() == orig.count()
    assert "bucket" in back.columns and "cell" in back.columns


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_zoom_partition_pruning(spark, tile_path):
    z6 = tables.read_tiles(spark, tile_path, zoom=6)
    plan = _plan(z6)
    assert "PartitionFilters" in plan and "zoom" in plan.split("PartitionFilters")[1][:200]
    assert tables.read_tiles(spark, tile_path, zoom=99).count() == 0


def test_bbox_bucket_pruning(spark, tile_path):
    full = tables.read_tiles(spark, tile_path, zoom=6)
    boxed = tables.read_tiles(spark, tile_path, zoom=6, bbox=(-80.0, 30.0, -70.0, 40.0))
    # the bucket IN-list must land in PartitionFilters (directory pruning)
    pf = _plan(boxed).split("PartitionFilters")[1][:400]
    assert "bucket" in pf and ("=" in pf or " IN " in pf)
    # correctness: pruned read covers exactly the bbox's tile block
    n_boxed, n_full = boxed.count(), full.count()
    assert 0 < n_boxed < n_full
    cols = {r.col for r in boxed.select("col").distinct().collect()}
    assert cols  # cover cells of the bbox only (bucket 8x8 blocks)
    assert all(16 <= c <= 23 for c in cols)  # bucket (2,3) spans cols 16..23


def _rg_morton_ranges(path):
    """(min, max) of the morton column per parquet ROW GROUP across all
    files — the stats a reader (Spark parquet pushdown in-reader, Iceberg/
    Delta at file level) uses to skip. Also asserts every file is actually
    morton-sorted (the plannedWrite regression guard: Spark's default
    planned write re-sorts by partition columns UNSTABLY and silently
    scrambles the layout)."""
    import glob

    import numpy as np
    import pyarrow.parquet as pq
    out = []
    for f in glob.glob(f"{path}/**/*.parquet", recursive=True):
        md = pq.ParquetFile(f).metadata
        idx = next(i for i in range(md.num_columns)
                   if md.schema.column(i).name == "morton")
        for g in range(md.num_row_groups):
            st = md.row_group(g).column(idx).statistics
            out.append((st.min, st.max))
    return out


def _assert_morton_sorted(path):
    import glob

    import numpy as np
    import pyarrow.parquet as pq
    for f in glob.glob(f"{path}/**/*.parquet", recursive=True):
        m = pq.read_table(f, columns=["morton"])["morton"].to_numpy()
        assert np.all(np.diff(m) >= 0), f"file not morton-sorted: {f}"


def test_zorder_layout_rowgroup_skipping(spark, tmp_path_factory):
    """The Z-order write layout must make a bbox read's morton interval
    skip MORE row groups than the legacy (cell, id) col-major sort, and
    both layouts must return identical rows for the same bbox."""
    import math

    import numpy as np

    from geotrellis_contrib_spark import grid
    derive.load_base_views(spark, SF_MED)
    tiles = spark.sql(derive.TILES_SQL)
    pz = str(tmp_path_factory.mktemp("zw") / "z")
    pr = str(tmp_path_factory.mktemp("zw") / "r")
    tables.write_tile_table(tiles, pz, layout="zorder",
                            n_partitions=64, rowgroup_bytes=4096)
    tables.write_tile_table(tiles, pr, layout="rowmajor", rowgroup_bytes=4096)
    # the layout property itself: zorder files are truly morton-sorted and
    # each row group covers a NARROW morton interval (rowmajor = col-major
    # stripes whose morton stats span most of the bucket). Median-span
    # ratio is robust to the range partitioner's sampled split points; the
    # intersect-count for a specific query is boundary-sensitive, so it is
    # asserted non-strictly.
    _assert_morton_sorted(pz)
    rz, rr = _rg_morton_ranges(pz), _rg_morton_ranges(pr)
    med_z = float(np.median([b - a for a, b in rz]))
    med_r = float(np.median([b - a for a, b in rr]))
    assert med_z * 3.0 <= med_r, (med_z, med_r)
    # quarter-of-bucket query: tile cols 16..19 x rows 24..27 — an ALIGNED
    # morton subtree, the shape where col-stripe sorting must over-read
    lo = int(grid.morton_interleave(np.int64(16), np.int64(24)))
    hi = int(grid.morton_interleave(np.int64(19), np.int64(27)))
    n_z = sum(1 for a, b in rz if a <= hi and b >= lo)
    n_r = sum(1 for a, b in rr if a <= hi and b >= lo)
    assert n_z <= n_r, (n_z, n_r)
    # identical result rows from both layouts for the matching bbox
    lon0, lon1 = 16 / 64 * 360 - 180, 20 / 64 * 360 - 180 - 1e-9

    def lat_row(r):
        return math.degrees(math.atan(math.sinh(math.pi * (1 - 2 * r / 64.0))))
    bbox = (lon0, lat_row(28) + 1e-9, lon1, lat_row(24) - 1e-9)
    cols = ["col", "row", "band", "val", "source_idx"]
    key = lambda t: tuple((v is None, v) for v in t)  # noqa: E731 (NoData NULLs)
    got_z = sorted(map(tuple, tables.read_tiles(spark, pz, zoom=6, bbox=bbox)
                       .select(*cols).collect()), key=key)
    got_r = sorted(map(tuple, tables.read_tiles(spark, pr, zoom=6, bbox=bbox)
                       .select(*cols).collect()), key=key)
    assert got_z and got_z == got_r
    # the morton interval must be PUSHED to the parquet scan
    plan = _plan(tables.read_tiles(spark, pz, zoom=6, bbox=bbox))
    pushed = plan.split("PushedFilters")[1][:200]
    assert "GreaterThanOrEqual(morton" in pushed and "LessThanOrEqual(morton" in pushed


def test_doc_table_roundtrip(spark, tmp_path_factory):
    from geotrellis_contrib_spark import corpus
    docs = corpus.synth_docs(spark, 500, partitions=4)
    path = str(tmp_path_factory.mktemp("docs") / "doc_table")
    tables.write_doc_table(docs, path, n_partitions=4)
    back = spark.read.parquet(path)
    corpus.assert_span_invariant(docs, back)


def test_ddl(tile_path):
    ddl = tables.table_ddl("tiles_t", tile_path)
    assert ddl.startswith("CREATE TABLE IF NOT EXISTS tiles_t USING parquet")


def test_morton3_spark_matches_bit_reference(spark):
    """Z3 (SpaceTimeKey index): the Spark SQL bit-spread equals a
    bit-by-bit Python interleave for random 21-bit triples, and is
    monotone along each axis holding the others fixed."""
    import random

    from geotrellis_contrib_spark.functions import cells as C

    random.seed(7)
    triples = [(random.randrange(1 << 21), random.randrange(1 << 21),
                random.randrange(1 << 21)) for _ in range(200)]
    df = spark.createDataFrame(triples, "x long, y long, t long") \
        .withColumn("z3", C.morton3_code("x", "y", "t"))
    got = {(r.x, r.y, r.t): r.z3 for r in df.collect()}

    def ref(x, y, t):
        out = 0
        for i in range(21):
            out |= (((x >> i) & 1) << (3 * i)
                    | ((y >> i) & 1) << (3 * i + 1)
                    | ((t >> i) & 1) << (3 * i + 2))
        return out

    for (x, y, t), z in got.items():
        assert z == ref(x, y, t)
    # per-axis monotonicity (the property range pruning relies on)
    assert ref(5, 9, 1000) < ref(6, 9, 1000)
    assert ref(5, 9, 1000) < ref(5, 10, 1000)
    assert ref(5, 9, 1000) < ref(5, 9, 1001)


def _copy_tables(src, dst):
    dst.mkdir()
    for t in derive.TABLES:
        shutil.copyfile(f"{src}/{t}.parquet", dst / f"{t}.parquet")
    return str(dst)


def test_register_views_reuses_inferred_schemas(spark, tmp_path):
    sf = _copy_tables(SF_SMALL, tmp_path / "sf")
    app = spark.sparkContext.applicationId
    try:
        derive._REGISTERED.pop(app, None)
        jobs, _ = count_jobs(spark, lambda: derive.register_views(spark, sf))
        assert jobs == len(derive.TABLES)        # one inference job per table
        derive._REGISTERED.pop(app)
        jobs, _ = count_jobs(spark, lambda: derive.register_views(spark, sf))
        assert jobs == 0
        region = f"{sf}/region.parquet"
        t = pq.read_table(region)
        pq.write_table(t.append_column("extra", pa.array(range(t.num_rows))),
                       region)
        derive._REGISTERED.pop(app)
        jobs, _ = count_jobs(spark, lambda: derive.register_views(spark, sf))
        assert jobs == 1
        assert spark.table("region").columns[-1] == "extra"
    finally:
        derive._REGISTERED.pop(app, None)


def test_memoized_schemas_equal_fresh_inference(spark):
    for t in derive.TABLES:
        path = f"{SF_MED}/{t}.parquet"
        tables.read_parquet(spark, path)
        jobs, memo = count_jobs(spark, lambda: tables.read_parquet(spark, path))
        assert jobs == 0
        assert memo.schema.json() == spark.read.parquet(path).schema.json(), t


def test_read_parquet_memo_follows_read_settings(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.range(10).selectExpr("id", "cast(id as string) as s") \
        .write.parquet(path)
    tables.read_parquet(spark, path)
    key = "spark.sql.parquet.binaryAsString"
    spark.conf.set(key, "true")
    try:
        jobs, _ = count_jobs(spark, lambda: tables.read_parquet(spark, path))
    finally:
        spark.conf.unset(key)
    assert jobs == 1
    jobs, _ = count_jobs(spark, lambda: tables.read_parquet(spark, path))
    assert jobs == 0
