"""Geohash/quadkey cell names: canonical known-answer vectors (the
Wikipedia 'ezs42' geohash example; Bing Maps' documented quadkey
examples), Spark-vs-DuckDB twin parity, prefix-hierarchy properties,
NULL propagation, parameter fail-louds."""
import duckdb
import pytest
from pyspark.sql import functions as F

from geotrellis_contrib_spark.functions import cells as C


@pytest.fixture(scope="module", autouse=True)
def interpreted_fallback(spark):
    """The one-expression ``C.geohash`` / ``C.quadkey`` re-inline the whole
    bit-spread tree once per character, and the generated code of a
    projection of several of them grows past the JVM's 64 KB method
    limit, so Spark can only run those stages interpreted. This module
    allows that fallback, which the Tier-1 session otherwise turns off
    (the staged ``geohash_quadkey_codes`` path the queries use compiles)."""
    spark.conf.set("spark.sql.codegen.fallback", "true")
    yield
    spark.conf.set("spark.sql.codegen.fallback", "false")


def test_known_vectors(spark):
    df = spark.createDataFrame(
        [(-5.60302734375, 42.60498046875),  # geohash spec example
         (13.361389, 52.516667),            # Berlin
         (-122.0, 47.6)],                   # Bing docs Seattle region
        "lon double, lat double")
    got = df.select(
        C.geohash("lon", "lat", 5).alias("g5"),
        C.geohash("lon", "lat", 1).alias("g1"),
        C.quadkey("lon", "lat", 3).alias("q3"),
        C.quadkey("lon", "lat", 7).alias("q7")).collect()
    assert got[0].g5 == "ezs42" and got[0].g1 == "e"
    assert got[1].g5 == "u33db"
    # Bing Maps quadkey docs: the (-122.0, 47.6) area is tile '021' at
    # zoom 3; zoom-3 key is a prefix of the zoom-7 key
    assert got[2].q3 == "021"
    assert got[2].q7.startswith("021")


def test_twin_parity_and_hierarchy(spark):
    rows = [(float(-179 + i * 29.13), float(-59 + (i * 47) % 119 + 0.37))
            for i in range(12)]
    df = spark.createDataFrame(rows, "lon double, lat double")
    eng = (df.select(
        "lon", "lat",
        C.geohash("lon", "lat", 7).alias("g7"),
        C.geohash("lon", "lat", 4).alias("g4"),
        C.geohash("lon", "lat", 3).alias("g3"),
        C.quadkey("lon", "lat", 11).alias("q11"),
        C.quadkey("lon", "lat", 5).alias("q5"),
        C.geohash_code("lon", "lat", 7).alias("gc"),
        C.quadkey_code("lon", "lat", 11).alias("qc"))
        .withColumn("g7b", C.geohash_chars("gc", 7))
        .withColumn("q11b", C.quadkey_chars("qc", 11))).collect()
    # the two-step (code -> chars) fast path is the one-shot, verbatim
    assert all(r.g7 == r.g7b and r.q11 == r.q11b for r in eng)
    con = duckdb.connect()
    for r in eng:
        # bare decimal literals are DECIMALs in DuckDB — force DOUBLE
        # (same discipline as the bm25 oracle)
        lo, la = (f"CAST({r.lon!r} AS DOUBLE)",
                  f"CAST({r.lat!r} AS DOUBLE)")
        d = con.execute(
            f"SELECT {C.sql_geohash_duckdb(lo, la, 7)},"
            f" {C.sql_quadkey_duckdb(lo, la, 11)}").fetchone()
        assert (r.g7, r.q11) == d
        # hierarchy: lower precision/zoom is a prefix (geohash only for
        # even->even or within the same parity windowing: 4 is a prefix
        # of 7? geohash prefixes hold for ANY shorter precision)
        assert r.g7.startswith(r.g4) and r.g4.startswith(r.g3)
        assert r.q11.startswith(r.q5)


def test_null_and_bad_params(spark):
    df = spark.createDataFrame([(None, None)], "lon double, lat double")
    r = df.select(C.geohash("lon", "lat", 6).alias("g"),
                  C.quadkey("lon", "lat", 8).alias("q")).collect()[0]
    assert r.g is None and r.q is None
    with pytest.raises(ValueError, match="precision"):
        C.geohash("lon", "lat", 13)
    with pytest.raises(ValueError, match="zoom"):
        C.quadkey("lon", "lat", 0)


def test_hex_cell_vs_reference(spark):
    import math

    def hex_ref(x, y, size):
        xf = (math.sqrt(3.0) / 3.0 * x - 1.0 / 3.0 * y) / size
        zf = (2.0 / 3.0 * y) / size
        yf = -xf - zf
        rx = math.floor(xf + 0.5)
        ry = math.floor(yf + 0.5)
        rz = math.floor(zf + 0.5)
        dx, dy, dz = abs(rx - xf), abs(ry - yf), abs(rz - zf)
        if dx > dy and dx > dz:
            rx = -ry - rz
        elif dy > dz:
            ry = -rx - rz
        else:
            rz = -rx - ry
        return int(rx), int(rz)

    pts = [(i, -180.0 + i * 7.37, -60.0 + (i * 13) % 120 + 0.21)
           for i in range(49)] + [(99, None, None)]
    df = spark.createDataFrame(pts, "id long, x double, y double")
    out = {r.id: (r.hq, r.hr)
           for r in C.hex_cell(df, "x", "y", 5.0).collect()}
    for i, x, y in pts:
        if x is None:
            assert out[i] == (None, None)
        else:
            assert out[i] == hex_ref(x, y, 5.0), i
    # hex-center roundtrip: the center of axial (q, r) maps to (q, r)
    ctr = [(q * 100 + r, 5.0 * math.sqrt(3.0) * (q + r / 2.0),
            5.0 * 1.5 * r) for q in (-4, 0, 7) for r in (-3, 0, 5)]
    cdf = spark.createDataFrame(ctr, "id long, x double, y double")
    got = {rr.id: (rr.hq, rr.hr)
           for rr in C.hex_cell(cdf, "x", "y", 5.0).collect()}
    for q in (-4, 0, 7):
        for r in (-3, 0, 5):
            assert got[q * 100 + r] == (q, r)
    # containment: every point's hex center is within circumradius
    for i, x, y in pts:
        if x is None:
            continue
        q, r = out[i]
        cx = 5.0 * math.sqrt(3.0) * (q + r / 2.0)
        cy = 5.0 * 1.5 * r
        assert math.hypot(x - cx, y - cy) <= 5.0 + 1e-9, i
