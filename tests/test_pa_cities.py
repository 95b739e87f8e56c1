"""The reference's own slick/PostGIS test queries replayed on its PA-cities
fixture — engine output vs the reference's in-memory-recomputation oracle
(PostgisSpec.scala:174-188 pattern) and its golden literals."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from geotrellis_contrib_spark import corpus, geom
from geotrellis_contrib_spark.functions import geometry as G
from geotrellis_contrib_spark.operators import spatial_join as sj


@pytest.fixture(scope="module")
def cities(spark):
    return corpus.pa_cities_df(spark).cache()


def test_distance_self_join_vs_naive_cross(spark, cities):
    """distance(c1, c2) < 0.5 AND c1.name != c2.name, projecting the
    distance formatted %1.4f — PostgisSpec.scala:174-188 verbatim."""
    pts = cities.select(F.col("id").alias("doc_id"), F.col("name"),
                        F.col("x").alias("lon"), F.col("y").alias("lat"))
    got = (sj.distance_join(pts, pts, radius=0.5)
           .filter(F.col("a_name") != F.col("b_name"))
           .select("a_name", "b_name", F.format_string("%1.4f", "dist").alias("d")))
    got_set = {(r.a_name, r.b_name, r.d) for r in got.collect()}

    # naive cross-product oracle (the reference's JTS recomputation)
    expect = set()
    for n1, x1, y1 in corpus.PA_CITIES:
        for n2, x2, y2 in corpus.PA_CITIES:
            d = ((x1 - x2) ** 2 + (y1 - y2) ** 2) ** 0.5
            if d < 0.5 and n1 != n2:
                expect.add((n1, n2, "%1.4f" % d))
    assert got_set == expect
    assert len(got_set) > 0


def test_altoona_bbox_single_hit(spark, cities):
    """bboxBuffer(78.32, 40.30, 0.01) selects exactly Altoona
    (PostgisSpec.scala:133-140,161-170)."""
    hits = cities.filter(G.point_in_box(
        F.col("x"), F.col("y"),
        F.lit(78.32 - 0.01), F.lit(40.30 - 0.01),
        F.lit(78.32 + 0.011), F.lit(40.30 + 0.011)))  # half-open: pad the top edge
    names = [r.name for r in hits.collect()]
    assert names == ["Altoona,PA"]
    # and through the PIP join operator with the exact closed bbox ring
    ring = geom.bbox_buffer(78.32, 40.30, 0.01)
    inside = geom.point_in_ring(
        np.array([c[1] for c in corpus.PA_CITIES]),
        np.array([c[2] for c in corpus.PA_CITIES]), ring)
    assert [c[0] for c, i in zip(corpus.PA_CITIES, inside) if i] == ["Altoona,PA"]


def test_reading_geojson_golden(spark, cities):
    """asGeoJSON golden: {"type":"Point","coordinates":[75.97,40.38]}
    (PostgisSpec.scala:191-196) — both the numpy codec and the Column tier."""
    assert geom.point_geojson(75.97, 40.38) == \
        '{"type":"Point","coordinates":[75.97,40.38]}'
    row = cities.filter(F.col("name") == "Reading,PA") \
                .select(G.point_geojson(F.col("x"), F.col("y")).alias("gj")).first()
    assert row.gj == '{"type":"Point","coordinates":[75.97,40.38]}'


def test_arrow_tier_scalar_udfs(spark):
    """The Arrow geometry UDFs at the DataFrame level, against the
    reference's golden literals (length 2.0, centroid (1.5,1.5))."""
    line = geom.wkb_encode(geom.WKB_LINESTRING, [(1.0, 1.0), (1.0, 3.0)], srid=3131)
    mp = geom.wkb_encode(geom.WKB_MULTIPOINT, [(1.0, 1.0), (2.0, 2.0)], srid=3131)
    df = spark.createDataFrame([(line, mp)], "line binary, mp binary")
    row = df.select(
        G.linestring_length_wkb(F.col("line")).alias("len"),
        G.centroid_wkb(F.col("mp")).alias("cen"),
        G.point_to_wkb(F.lit(75.97), F.lit(40.38), F.lit(4326)).alias("pw"),
    ).first()
    assert row.len == 2.0
    assert (row.cen.x, row.cen.y) == (1.5, 1.5)
    decoded = geom.wkb_decode(bytes(row.pw))
    assert decoded["coords"] == (75.97, 40.38) and decoded["srid"] == 4326


def test_tile_extent_cols(spark):
    from geotrellis_contrib_spark.operators import tiling
    df = spark.createDataFrame([(12, 1205, 1540)], "zoom int, col long, row long")
    r = tiling.tile_extent_cols(df).first()
    import numpy as np

    from geotrellis_contrib_spark import grid
    xmin, ymin, xmax, ymax = grid.tile_extent(12, np.array([1205]), np.array([1540]))
    assert r.txmin == xmin[0] and r.txmax == xmax[0]
    np.testing.assert_allclose([r.tymin, r.tymax], [ymin[0], ymax[0]], rtol=1e-13)


def test_insert_select_roundtrip_order(spark, cities, tmp_path):
    """Insert-then-select equality (PostgisSpec.scala:90-101): write the
    fixture, read it back, expect the exact rows."""
    path = str(tmp_path / "cities")
    cities.orderBy("id").write.parquet(path)
    back = spark.read.parquet(path).orderBy("id").collect()
    orig = cities.orderBy("id").collect()
    assert back == orig
