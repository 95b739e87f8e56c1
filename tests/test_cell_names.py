"""Geohash/quadkey cell names, built the way the queries build them
(staged integer codes from ``geohash_quadkey_codes``, then
``geohash_chars`` / ``quadkey_chars``): canonical known-answer vectors
(the Wikipedia 'ezs42' geohash example; Bing Maps' documented quadkey
examples), parity with the DuckDB oracle's SQL text, prefix-hierarchy
properties, NULL propagation, parameter fail-louds."""
import duckdb
import pytest

from geotrellis_contrib_spark.functions import cells as C


def _names(df, precision, zoom):
    """(lon, lat, geohash code, quadkey code, geohash, quadkey) rows."""
    codes = C.geohash_quadkey_codes(df, "lon", "lat", precision, zoom,
                                    "ghc", "qkc")
    return codes.select("lon", "lat", "ghc", "qkc",
                        C.geohash_chars("ghc", precision).alias("gh"),
                        C.quadkey_chars("qkc", zoom).alias("qk")).collect()


def test_known_vectors(spark):
    df = spark.createDataFrame(
        [(-5.60302734375, 42.60498046875),  # geohash spec example
         (13.361389, 52.516667),            # Berlin
         (-122.0, 47.6)],                   # Bing docs Seattle region
        "lon double, lat double")
    g5q3 = _names(df, 5, 3)
    g1q7 = _names(df, 1, 7)
    assert g5q3[0].gh == "ezs42" and g1q7[0].gh == "e"
    assert g5q3[1].gh == "u33db"
    # Bing Maps quadkey docs: the (-122.0, 47.6) area is tile '021' at
    # zoom 3; zoom-3 key is a prefix of the zoom-7 key
    assert g5q3[2].qk == "021"
    assert g1q7[2].qk.startswith("021")


def test_twin_parity_and_hierarchy(spark):
    rows = [(float(-179 + i * 29.13), float(-59 + (i * 47) % 119 + 0.37))
            for i in range(12)]
    df = spark.createDataFrame(rows, "lon double, lat double")
    eng = _names(df, 7, 11)
    coarse = {(r.lon, r.lat): r for r in _names(df, 4, 5)}
    coarser = {(r.lon, r.lat): r for r in _names(df, 3, 5)}
    shl, shr = C._SHIFT_DUCKDB
    con = duckdb.connect()
    for r in eng:
        # bare decimal literals are DECIMALs in DuckDB — force DOUBLE
        # (same discipline as the bm25 oracle)
        lo, la = (f"CAST({r.lon!r} AS DOUBLE)",
                  f"CAST({r.lat!r} AS DOUBLE)")
        d = con.execute(
            f"SELECT g, q, {C.sql_code_chars('g', C._GEOHASH32, 5, 7, shr)},"
            f" {C.sql_code_chars('q', '0123', 2, 11, shr)} FROM (SELECT"
            f" {C.sql_geohash_code(lo, la, 7, shl)} AS g,"
            f" {C.sql_quadkey_code(lo, la, 11, shl)} AS q)").fetchone()
        assert (r.ghc, r.qkc, r.gh, r.qk) == d
        # hierarchy: a shorter geohash or a lower-zoom quadkey is a prefix
        g4, g3 = coarse[(r.lon, r.lat)], coarser[(r.lon, r.lat)]
        assert r.gh.startswith(g4.gh) and g4.gh.startswith(g3.gh)
        assert r.qk.startswith(g4.qk)


def test_null_and_bad_params(spark):
    df = spark.createDataFrame([(None, None)], "lon double, lat double")
    r = _names(df, 6, 8)[0]
    assert (r.ghc, r.qkc, r.gh, r.qk) == (None, None, None, None)
    with pytest.raises(ValueError, match="precision"):
        C.geohash_quadkey_codes(df, "lon", "lat", 13, 8, "ghc", "qkc")
    with pytest.raises(ValueError, match="zoom"):
        C.geohash_quadkey_codes(df, "lon", "lat", 6, 0, "ghc", "qkc")


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
