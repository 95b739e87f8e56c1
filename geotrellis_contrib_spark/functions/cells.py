"""Spark Column builders for the cell/tile index — pure ``pyspark.sql.functions``
expressions (JVM-side, whole-stage-codegen'd; NO Python UDFs in this hot path).

These mirror the numpy kernels in ``geotrellis_contrib_spark.grid``: same
float64 operation order and clamps. Pure-arithmetic expressions are
bit-identical across JVM/numpy/DuckDB; transcendental calls (ln/tan/cos) may
differ by 1 ulp between libm implementations — tile FLOORs absorb that
except on exact tile boundaries (measure zero for non-degenerate inputs).
The hot path — encoding 10^12 document anchors to SpatialKey(zoom, col,
row) — never leaves the JVM.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

from geotrellis_contrib_spark.grid import MAX_LAT, MERC_MAX, MIN_LAT

_COL_SHIFT = 29
_ZOOM_SHIFT = 58


def _c(x) -> Column:
    return x if isinstance(x, Column) else F.lit(x)


def clamp_lat(lat) -> Column:
    return F.least(F.greatest(_c(lat).cast("double"), F.lit(MIN_LAT)), F.lit(MAX_LAT))


def tile_col(lon, zoom) -> Column:
    """floor((lon+180)/360 * 2^zoom), clamped to [0, 2^zoom-1]. LONG."""
    n = F.pow(F.lit(2.0), _c(zoom).cast("double"))
    raw = F.floor((_c(lon).cast("double") + F.lit(180.0)) / F.lit(360.0) * n)
    return F.least(F.greatest(raw, F.lit(0).cast("long")), (n - F.lit(1.0)).cast("long"))


def tile_row(lat, zoom) -> Column:
    """floor((1 - ln(tan(lat)+sec(lat))/pi)/2 * 2^zoom), clamped. LONG.

    Same ln(tan + 1/cos) form as grid.lonlat_to_tile so JVM and numpy agree.
    """
    n = F.pow(F.lit(2.0), _c(zoom).cast("double"))
    lr = F.radians(clamp_lat(lat))
    merc = F.log(F.tan(lr) + F.lit(1.0) / F.cos(lr))
    raw = F.floor((F.lit(1.0) - merc / F.lit(math.pi)) / F.lit(2.0) * n)
    return F.least(F.greatest(raw, F.lit(0).cast("long")), (n - F.lit(1.0)).cast("long"))


def gpix_x(lon, zoom: int, tile_size: int) -> Column:
    """CONTINUOUS global pixel x at ``zoom`` (web-mercator pixel space,
    pixel centers at integer+0.5): (lon+180)/360 * 2^zoom * T. DOUBLE —
    the un-floored twin of tile_col*T; mirrored by sql_gpix_x."""
    npx = float((1 << zoom) * tile_size)
    return (_c(lon).cast("double") + F.lit(180.0)) / F.lit(360.0) * F.lit(npx)


def gpix_y(lat, zoom: int, tile_size: int) -> Column:
    """CONTINUOUS global pixel y: (1 - ln(tan(lat)+sec(lat))/pi)/2
    * 2^zoom * T (same ln(tan + 1/cos) form as tile_row); mirrored by
    sql_gpix_y."""
    npx = float((1 << zoom) * tile_size)
    lr = F.radians(clamp_lat(lat))
    merc = F.log(F.tan(lr) + F.lit(1.0) / F.cos(lr))
    return (F.lit(1.0) - merc / F.lit(math.pi)) / F.lit(2.0) * F.lit(npx)


def cell_id(zoom, col, row) -> Column:
    """Pack (zoom, col, row) into one int64: (z<<58) | (col<<29) | row."""
    return (
        F.shiftleft(_c(zoom).cast("long"), _ZOOM_SHIFT)
        + F.shiftleft(_c(col).cast("long"), _COL_SHIFT)
        + _c(row).cast("long")
    )


def cell_zoom(cell) -> Column:
    return F.shiftright(_c(cell).cast("long"), _ZOOM_SHIFT)


def cell_col(cell) -> Column:
    return F.shiftright(_c(cell).cast("long"), _COL_SHIFT) \
            .bitwiseAND(F.lit((1 << _COL_SHIFT) - 1).cast("long"))


def cell_row(cell) -> Column:
    return _c(cell).cast("long").bitwiseAND(F.lit((1 << _COL_SHIFT) - 1).cast("long"))


def cell_parent(cell, levels: int = 1) -> Column:
    return cell_id(cell_zoom(cell) - levels,
                   F.shiftright(cell_col(cell), levels),
                   F.shiftright(cell_row(cell), levels))


def encode_point(lon, lat, zoom) -> Column:
    """lon/lat -> packed cell id at ``zoom`` (one fused expression)."""
    return cell_id(_c(zoom), tile_col(lon, zoom), tile_row(lat, zoom))


def mercator_x(lon) -> Column:
    return _c(lon).cast("double") * F.lit(MERC_MAX / 180.0)


def mercator_y(lat) -> Column:
    lr = clamp_lat(lat)
    return F.log(F.tan((F.lit(90.0) + lr) * F.lit(math.pi / 360.0))) \
        * F.lit(MERC_MAX / math.pi)


def inv_mercator_lon(x) -> Column:
    return _c(x).cast("double") * F.lit(180.0 / MERC_MAX)


def inv_mercator_lat(y) -> Column:
    return F.degrees(F.lit(2.0) * F.atan(F.exp(_c(y).cast("double") * F.lit(math.pi / MERC_MAX)))
                     - F.lit(math.pi / 2.0))


def utm_easting_northing(lon, lat, zone: int) -> tuple[Column, Column]:
    """EPSG:4326 -> UTM zone (WGS84) as PURE JVM Columns — the same Krueger
    series as grid.lonlat_to_utm (sinh/cosh/atanh are Spark built-ins, so
    the whole transform stays inside whole-stage codegen). Returns
    (easting, northing-without-false-northing); southern rows add
    10,000,000 m (EPSG:327xx)."""
    from geotrellis_contrib_spark.grid import (
        _A_CAP, _E_SQRT, _UTM_E0, _UTM_K0, UTM_ALPHA, utm_central_meridian)

    lam = F.radians(_c(lon).cast("double") - F.lit(float(utm_central_meridian(zone))))
    phi = F.radians(_c(lat).cast("double"))
    s = F.sin(phi)
    t = F.sinh(F.atanh(s) - F.lit(_E_SQRT) * F.atanh(F.lit(_E_SQRT) * s))
    xi = F.atan2(t, F.cos(lam))
    eta = F.atanh(F.sin(lam) / F.sqrt(F.lit(1.0) + t * t))
    xi_s, eta_s = xi, eta
    for j, a in enumerate(UTM_ALPHA, start=1):
        xi_s = xi_s + F.lit(a) * F.sin(F.lit(2.0 * j) * xi) * F.cosh(F.lit(2.0 * j) * eta)
        eta_s = eta_s + F.lit(a) * F.cos(F.lit(2.0 * j) * xi) * F.sinh(F.lit(2.0 * j) * eta)
    return (F.lit(_UTM_E0) + F.lit(_UTM_K0 * _A_CAP) * eta_s,
            F.lit(_UTM_K0 * _A_CAP) * xi_s)


def utm_lon_lat(easting, northing, zone: int, southern: bool = False) -> tuple[Column, Column]:
    """UTM (WGS84) -> EPSG:4326 as PURE JVM Columns — the inverse Krueger
    series twin of :func:`utm_easting_northing` (grid.utm_to_lonlat in
    numpy). ``northing`` carries its hemisphere's false northing."""
    from geotrellis_contrib_spark.grid import (
        _A_CAP, _UTM_E0, _UTM_K0, _UTM_N0_SOUTH, UTM_BETA, UTM_DELTA,
        utm_central_meridian)

    n = _c(northing).cast("double")
    if southern:
        n = n - F.lit(_UTM_N0_SOUTH)
    xi = n / F.lit(_UTM_K0 * _A_CAP)
    eta = (_c(easting).cast("double") - F.lit(_UTM_E0)) / F.lit(_UTM_K0 * _A_CAP)
    xi_p, eta_p = xi, eta
    for j, b in enumerate(UTM_BETA, start=1):
        xi_p = xi_p - F.lit(b) * F.sin(F.lit(2.0 * j) * xi) * F.cosh(F.lit(2.0 * j) * eta)
        eta_p = eta_p - F.lit(b) * F.cos(F.lit(2.0 * j) * xi) * F.sinh(F.lit(2.0 * j) * eta)
    chi = F.asin(F.sin(xi_p) / F.cosh(eta_p))
    phi = chi
    for j, d in enumerate(UTM_DELTA, start=1):
        phi = phi + F.lit(d) * F.sin(F.lit(2.0 * j) * chi)
    lam = F.atan2(F.sinh(eta_p), F.cos(xi_p))
    lon = F.lit(float(utm_central_meridian(zone))) + F.degrees(lam)
    return lon, F.degrees(phi)


def tile_xmin(zoom, col) -> Column:
    n = F.pow(F.lit(2.0), _c(zoom).cast("double"))
    return _c(col).cast("double") / n * F.lit(360.0) - F.lit(180.0)


def tile_xmax(zoom, col) -> Column:
    n = F.pow(F.lit(2.0), _c(zoom).cast("double"))
    return (_c(col).cast("double") + F.lit(1.0)) / n * F.lit(360.0) - F.lit(180.0)


def _row_lat(zoom, r) -> Column:
    n = F.pow(F.lit(2.0), _c(zoom).cast("double"))
    return F.degrees(F.atan(F.sinh(F.lit(math.pi) * (F.lit(1.0) - F.lit(2.0) * _c(r).cast("double") / n))))


def tile_ymax(zoom, row) -> Column:
    return _row_lat(zoom, _c(row))


def tile_ymin(zoom, row) -> Column:
    return _row_lat(zoom, _c(row).cast("double") + F.lit(1.0))


def tiles_for_bbox(zoom, xmin, ymin, xmax, ymax):
    """Covering SpatialKeys of a bbox at ``zoom`` as two Columns of
    (col_array, row_cross): callers explode ``F.sequence`` ranges.

    Returns (col_min, col_max, row_min, row_max) Columns; use with::

        df.withColumn("col", F.explode(F.sequence(col_min, col_max)))
          .withColumn("row", F.explode(F.sequence(row_min, row_max)))

    Exploding ranges JVM-side keeps polygon->cover-cell tessellation out of
    Python entirely (the coarse phase of every spatial join, SURVEY.md §2.3).
    """
    return (
        tile_col(xmin, zoom), tile_col(xmax, zoom),
        tile_row(ymax, zoom), tile_row(ymin, zoom),  # row grows southward
    )


# ---------------------------------------------------------------------------
# SQL snippet twins (ANSI SQL, runnable by BOTH Spark SQL and DuckDB) — used
# to write dual-execution oracles; kept adjacent to the Column builders so
# the two stay in sync.
# ---------------------------------------------------------------------------

def sql_tile_col(lon: str, zoom: int) -> str:
    n = float(1 << zoom)
    return (f"CAST(LEAST(GREATEST(FLOOR(({lon} + 180.0) / 360.0 * {n}), 0), {n - 1:.1f}) AS BIGINT)")


def sql_tile_row(lat: str, zoom: int) -> str:
    n = float(1 << zoom)
    lr = f"RADIANS(LEAST(GREATEST({lat}, {MIN_LAT!r}), {MAX_LAT!r}))"
    merc = f"LN(TAN({lr}) + 1.0 / COS({lr}))"
    return (f"CAST(LEAST(GREATEST(FLOOR((1.0 - {merc} / PI()) / 2.0 * {n}), 0), {n - 1:.1f}) AS BIGINT)")


def sql_gpix_x(lon: str, zoom: int, tile_size: int) -> str:
    npx = float((1 << zoom) * tile_size)
    return f"(({lon} + 180.0) / 360.0 * {npx!r})"


def sql_gpix_y(lat: str, zoom: int, tile_size: int) -> str:
    npx = float((1 << zoom) * tile_size)
    lr = f"RADIANS(LEAST(GREATEST({lat}, {MIN_LAT!r}), {MAX_LAT!r}))"
    merc = f"LN(TAN({lr}) + 1.0 / COS({lr}))"
    return f"((1.0 - {merc} / PI()) / 2.0 * {npx!r})"


def sql_cell_id(zoom: str, col: str, row: str) -> str:
    return f"(CAST({zoom} AS BIGINT) * {1 << _ZOOM_SHIFT} + CAST({col} AS BIGINT) * {1 << _COL_SHIFT} + CAST({row} AS BIGINT))"


# --- Z-order (Morton) sort key --------------------------------------------
# Column + SQL twins of grid.morton_interleave: the locality-preserving
# layout key for range-partitioned tile/doc writes (SURVEY.md §2.6 sorted
# layout). Identical bit-spreading magic as the numpy kernel; intermediates
# stay below 2^62 for 31-bit inputs, so signed int64 arithmetic is exact in
# Spark, DuckDB, and numpy alike.

_MORTON_STAGES = ((16, 0x0000FFFF0000FFFF), (8, 0x00FF00FF00FF00FF),
                  (4, 0x0F0F0F0F0F0F0F0F), (2, 0x3333333333333333),
                  (1, 0x5555555555555555))


def _sql_spread(x: str, shift_fmt) -> str:
    e = f"(CAST({x} AS BIGINT) & 2147483647)"
    for sh, m in _MORTON_STAGES:
        e = f"(({e} | {shift_fmt(e, sh)}) & {m})"
    return e


def sql_morton_spark(col: str, row: str) -> str:
    """Spark SQL text (shiftleft function)."""
    s = lambda e, n: f"shiftleft({e}, {n})"  # noqa: E731
    return (f"({_sql_spread(col, s)} | "
            f"shiftleft({_sql_spread(row, s)}, 1))")


def sql_morton_duckdb(col: str, row: str) -> str:
    """DuckDB SQL text (<< operator)."""
    s = lambda e, n: f"({e} << {n})"  # noqa: E731
    return f"({_sql_spread(col, s)} | ({_sql_spread(row, s)} << 1))"


def morton_code(col_name: str, row_name: str) -> Column:
    """Z-order interleave of two named int columns as ONE parsed JVM
    expression (same single-F.expr discipline as the LSH builders — no
    py4j Column-by-Column assembly)."""
    return F.expr(sql_morton_spark(col_name, row_name))


# --- Z3 (3D Morton) key -----------------------------------------------------
# SpaceTimeKey index: interleave (col, row, timeBin) every third bit — the
# GeoTrellis Z3 curve (store.index.zcurve.Z3: z = spread(x) | spread(y)<<1
# | spread(t)<<2). 21-bit inputs spread to bit 62 max; all intermediates
# stay below 2^62, so signed int64 arithmetic is exact in Spark, DuckDB
# and numpy alike (same discipline as the 2D stages above).

_MORTON3_STAGES = ((32, 0x1F00000000FFFF), (16, 0x1F0000FF0000FF),
                   (8, 0x100F00F00F00F00F), (4, 0x10C30C30C30C30C3),
                   (2, 0x1249249249249249))


def _sql_spread3(x: str, shift_fmt) -> str:
    e = f"(CAST({x} AS BIGINT) & 2097151)"
    for sh, m in _MORTON3_STAGES:
        e = f"(({e} | {shift_fmt(e, sh)}) & {m})"
    return e


def sql_morton3_spark(col: str, row: str, t: str) -> str:
    """Spark SQL text (shiftleft function)."""
    s = lambda e, n: f"shiftleft({e}, {n})"  # noqa: E731
    return (f"({_sql_spread3(col, s)} | "
            f"shiftleft({_sql_spread3(row, s)}, 1) | "
            f"shiftleft({_sql_spread3(t, s)}, 2))")


def sql_morton3_duckdb(col: str, row: str, t: str) -> str:
    """DuckDB SQL text (<< operator)."""
    s = lambda e, n: f"({e} << {n})"  # noqa: E731
    return (f"({_sql_spread3(col, s)} | ({_sql_spread3(row, s)} << 1) | "
            f"({_sql_spread3(t, s)} << 2))")


def morton3_code(col_name: str, row_name: str, t_name: str) -> Column:
    """Z3 interleave of three named int columns as ONE parsed JVM
    expression."""
    return F.expr(sql_morton3_spark(col_name, row_name, t_name))


# --- Geohash / Bing quadkey cell names --------------------------------------
# The two PUBLIC string cell-naming schemes next to the integer curves
# above: geohash (Gustavo Niemeyer's base32 lat/lon bisection — the
# MSB-first interleave starts with LONGITUDE) and the Bing Maps quadkey
# (base-4 digits of the web-mercator (tile_col, tile_row) pair, one
# digit per zoom level, digit = 2*row_bit + col_bit). Two steps: the
# integer code, then its digits from the NAMED code column, so the
# Morton spread tree is not re-inlined once per character. The engine
# stages the codes through named columns (geohash_quadkey_codes); the
# DuckDB oracle runs the same arithmetic from the SQL text below. The
# base32 lookup is a SUBSTRING into the alphabet literal
# (dialect-common).

_GEOHASH32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def sql_geohash_code(lon: str, lat: str, precision: int,
                     shift_fmt) -> str:
    """The geohash integer code (5*precision bits) without the string
    step; NULL guard included."""
    if not 1 <= precision <= 12:
        raise ValueError(f"geohash precision must be 1..12: {precision}")
    bits = 5 * precision
    lonb = (bits + 1) // 2
    latb = bits // 2
    gx = (f"CAST(LEAST(GREATEST(FLOOR(({lon} + 180.0) / 360.0 "
          f"* {float(1 << lonb)!r}), 0), {float((1 << lonb) - 1)!r}) "
          "AS BIGINT)")
    gy = (f"CAST(LEAST(GREATEST(FLOOR(({lat} + 90.0) / 180.0 "
          f"* {float(1 << latb)!r}), 0), {float((1 << latb) - 1)!r}) "
          "AS BIGINT)")
    sx, sy = _sql_spread(gx, shift_fmt), _sql_spread(gy, shift_fmt)
    code = f"({sy} | {shift_fmt(sx, 1)})" if bits % 2 == 0 \
        else f"({sx} | {shift_fmt(sy, 1)})"
    return (f"CASE WHEN {lon} IS NULL OR {lat} IS NULL THEN NULL "
            f"ELSE {code} END")


def sql_quadkey_code(lon: str, lat: str, zoom: int, shift_fmt) -> str:
    """The quadkey integer code (2*zoom bits) without the string step;
    NULL guard included."""
    if not 1 <= zoom <= 23:
        raise ValueError(f"quadkey zoom must be 1..23: {zoom}")
    tx, ty = sql_tile_col(lon, zoom), sql_tile_row(lat, zoom)
    return (f"CASE WHEN {lon} IS NULL OR {lat} IS NULL THEN NULL "
            f"ELSE ({_sql_spread(tx, shift_fmt)} | "
            f"{shift_fmt(_sql_spread(ty, shift_fmt), 1)}) END")


def sql_code_chars(code: str, alphabet: str, digit_bits: int,
                   n_digits: int, rshift_fmt) -> str:
    """MSB-first digits of a NAMED integer code column as a string."""
    mask = (1 << digit_bits) - 1
    chars = [
        f"SUBSTRING('{alphabet}', "
        f"CAST((({rshift_fmt(code, digit_bits * (n_digits - 1 - k))}"
        f" & {mask}) + 1) AS INT), 1)"
        for k in range(n_digits)]
    # DuckDB CONCAT skips NULLs (''), Spark propagates — guard for parity
    return (f"CASE WHEN {code} IS NULL THEN NULL "
            "ELSE CONCAT(" + ", ".join(chars) + ") END")


_SHIFT_SPARK = (lambda e, n: f"shiftleft({e}, {n})",
                lambda e, n: f"shiftright({e}, {n})")
_SHIFT_DUCKDB = (lambda e, n: f"({e} << {n})",
                 lambda e, n: f"({e} >> {n})")


def spread_bits_staged(df, src: str, out: str):
    """Morton bit-spread of a named non-negative integer column as FIVE
    chained named-column stages. The inline `_sql_spread` text DOUBLES
    per stage (each stage references the previous expression twice), so
    a one-expression geohash+quadkey projection carries ~25 KB of SQL —
    and Catalyst pays analysis + codegen proportional to TREE size
    (measured: multi-second swings on cell_names). Staging through
    named columns keeps the tree linear; the integers are bit-for-bit
    the `_sql_spread` values (same stages, same masks)."""
    df = df.withColumn(
        out, F.col(src).cast("bigint").bitwiseAND(F.lit(2147483647)))
    for sh, m in _MORTON_STAGES:
        c = F.col(out)
        df = df.withColumn(
            out, c.bitwiseOR(F.shiftleft(c, sh)).bitwiseAND(F.lit(m)))
    return df


def geohash_quadkey_codes(df, lon: str, lat: str, precision: int,
                          zoom: int, gh_out: str, qk_out: str):
    """Geohash + quadkey INTEGER codes as staged named-column spreads
    (see :func:`spread_bits_staged`) — value-identical to the
    ``sql_geohash_code``/``sql_quadkey_code`` text, linear Catalyst tree.
    NULL coordinates yield NULL codes (explicit guard: GREATEST/LEAST
    skip NULLs)."""
    if not 1 <= precision <= 12:
        raise ValueError(f"geohash precision must be 1..12: {precision}")
    if not 1 <= zoom <= 23:
        raise ValueError(f"quadkey zoom must be 1..23: {zoom}")
    bits = 5 * precision
    lonb = (bits + 1) // 2
    latb = bits // 2
    gx = (f"CAST(LEAST(GREATEST(FLOOR(({lon} + 180.0) / 360.0 "
          f"* {float(1 << lonb)!r}), 0), {float((1 << lonb) - 1)!r}) "
          "AS BIGINT)")
    gy = (f"CAST(LEAST(GREATEST(FLOOR(({lat} + 90.0) / 180.0 "
          f"* {float(1 << latb)!r}), 0), {float((1 << latb) - 1)!r}) "
          "AS BIGINT)")
    pre = df.withColumn("_ghx", F.expr(gx)).withColumn("_ghy", F.expr(gy)) \
            .withColumn("_qtx", F.expr(sql_tile_col(lon, zoom))) \
            .withColumn("_qty", F.expr(sql_tile_row(lat, zoom)))
    for c in ("_ghx", "_ghy", "_qtx", "_qty"):
        pre = spread_bits_staged(pre, c, c)
    null_in = F.col(lon).isNull() | F.col(lat).isNull()
    gh_code = (F.col("_ghy").bitwiseOR(F.shiftleft(F.col("_ghx"), 1))
               if bits % 2 == 0 else
               F.col("_ghx").bitwiseOR(F.shiftleft(F.col("_ghy"), 1)))
    qk_code = F.col("_qtx").bitwiseOR(F.shiftleft(F.col("_qty"), 1))
    return (pre.withColumn(gh_out, F.when(null_in, None).otherwise(gh_code))
            .withColumn(qk_out, F.when(null_in, None).otherwise(qk_code))
            .drop("_ghx", "_ghy", "_qtx", "_qty"))


def geohash_chars(code_name: str, precision: int) -> Column:
    return F.expr(sql_code_chars(code_name, _GEOHASH32, 5, precision,
                                 _SHIFT_SPARK[1]))


def quadkey_chars(code_name: str, zoom: int) -> Column:
    return F.expr(sql_code_chars(code_name, "0123", 2, zoom,
                                 _SHIFT_SPARK[1]))


# --- Hilbert curve index -----------------------------------------------------
# GeoTrellis ships a HilbertSpatialKeyIndex NEXT TO the Z-curve
# (store.index.hilbert — selected by `"index": "hilbert"` in layer
# metadata; the reference's catalog tier accepts either). Unlike
# Morton, consecutive Hilbert distances are ALWAYS 4-adjacent cells,
# so a bbox decomposes into fewer, longer key ranges — fewer row-group
# seeks on the sorted layout. The public bit-level xy2d algorithm
# (Hamilton's compact Hilbert; Wikipedia "Hilbert curve"):
#   for s = 2^(bits-1) .. 1:
#     rx = (x & s) > 0;  ry = (y & s) > 0
#     d += s*s*((3*rx) XOR ry)
#     if ry == 0: { if rx == 1: x = n-1-x; y = n-1-y };  swap(x, y)
# The data-dependent reflect+swap means NO closed-form bit spread
# exists (the reason Z-order is the default everywhere): emitted as
# `bits` staged projections over NAMED (hx, hy, hd) columns — the
# hex_cell staging discipline, one narrow select per stage, zero
# shuffle. Spark's CollapseProject declines to inline multiply-
# referenced non-cheap CASEs, so the stages stay linear, not
# exponential. The tiny {0..3} XOR is replaced by dialect-common
# arithmetic ((3*rx)^ry == rx ? 3-ry : ry), so the SAME stage text
# runs in Spark and DuckDB; everything is integer CASE arithmetic —
# bit-identical by construction.

def _hilbert_stage(s: int, n: int) -> dict[str, str]:
    """One xy2d level (constant s): new (hd, hx, hy) from the old —
    all three MUST be computed in a single projection (hx' and hy'
    both read the pre-update pair)."""
    rx = f"(CASE WHEN (hx & {s}) > 0 THEN 1 ELSE 0 END)"
    ry = f"(CASE WHEN (hy & {s}) > 0 THEN 1 ELSE 0 END)"
    return {
        "hd": (f"(hd + {s * s} * (CASE WHEN {rx} = 1 "
               f"THEN 3 - {ry} ELSE {ry} END))"),
        "hx": (f"(CASE WHEN {ry} = 1 THEN hx "
               f"WHEN {rx} = 1 THEN {n - 1} - hy ELSE hy END)"),
        "hy": (f"(CASE WHEN {ry} = 1 THEN hy "
               f"WHEN {rx} = 1 THEN {n - 1} - hx ELSE hx END)"),
    }


def hilbert_key(df, x_col: str, y_col: str, bits: int,
                out: str = "hkey"):
    """Append the Hilbert distance of the named integer cell columns
    on the 2^bits x 2^bits grid as BIGINT ``out`` (zero shuffle;
    ``bits`` stacked narrow projections). Inputs must already lie in
    [0, 2^bits) — tile_col/tile_row clamp there by construction."""
    if not 1 <= bits <= 21:
        raise ValueError(f"hilbert bits must be 1..21: {bits}")
    n = 1 << bits
    d = df.withColumn("hx", F.col(x_col).cast("long")) \
          .withColumn("hy", F.col(y_col).cast("long")) \
          .withColumn("hd", F.lit(0).cast("long"))
    keep = [c for c in d.columns if c not in ("hx", "hy", "hd")]
    s = n >> 1
    while s > 0:
        st = _hilbert_stage(s, n)
        d = d.select(*keep, F.expr(st["hd"]).alias("hd"),
                     F.expr(st["hx"]).alias("hx"),
                     F.expr(st["hy"]).alias("hy"))
        s >>= 1
    return d.select(*keep, F.col("hd").alias(out))


def sql_hilbert_ctes(src: str, x: str, y: str, bits: int,
                     keep: str, out: str = "hkey") -> str:
    """Oracle twin: the identical stage chain as nested subqueries
    over ``src``, carrying ``keep`` columns; yields (keep..., out)."""
    if not 1 <= bits <= 21:
        raise ValueError(f"hilbert bits must be 1..21: {bits}")
    n = 1 << bits
    q = (f"SELECT {keep}, CAST({x} AS BIGINT) AS hx, "
         f"CAST({y} AS BIGINT) AS hy, CAST(0 AS BIGINT) AS hd "
         f"FROM {src}")
    s = n >> 1
    while s > 0:
        st = _hilbert_stage(s, n)
        q = (f"SELECT {keep}, {st['hd']} AS hd, {st['hx']} AS hx, "
             f"{st['hy']} AS hy FROM ({q})")
        s >>= 1
    return f"SELECT {keep}, hd AS {out} FROM ({q})"


# --- Hex grid (axial coordinates, cube rounding) ----------------------------
# The H3-style hexagonal bin next to the square curves: pointy-top axial
# hexes of circumradius `size` (same units as x/y), assignment by the
# public cube-rounding rule (fractional axial -> cube -> round each
# component with floor(v + 0.5) -> fix the largest-error component so
# x+y+z == 0). EVERY operation in the chain (+, -, *, /, SQRT, FLOOR,
# ABS, CASE) is IEEE-exact or correctly rounded, so identical SQL text
# produces bit-identical cells in Spark and DuckDB — no libm hazard
# (unlike LN/TAN in the mercator path). floor(v+0.5) replaces round()
# because the engines disagree on banker's rounding.
# Emitted as staged SQL (fractional -> rounded -> fixed) because the
# one-shot expression re-inlines the sqrt tree ~9x (the quadkey lesson).

def sql_hex_frac(x: str, y: str, size: float) -> dict[str, str]:
    """Stage 1: fractional cube coords (xf, zf; yf = -xf - zf)."""
    s = repr(float(size))
    return {
        "xf": f"((SQRT(3.0) / 3.0 * ({x}) - 1.0 / 3.0 * ({y})) / {s})",
        "zf": f"((2.0 / 3.0 * ({y})) / {s})",
    }


HEX_ROUND_STAGE2 = {
    "yf": "(-xf - zf)",
    "rx": "FLOOR(xf + 0.5)", "ry": "FLOOR((-xf - zf) + 0.5)",
    "rz": "FLOOR(zf + 0.5)",
}

HEX_FIX_STAGE3 = {
    "hq": ("CASE WHEN ABS(rx - xf) > ABS(ry - yf)"
           " AND ABS(rx - xf) > ABS(rz - zf)"
           " THEN -ry - rz ELSE rx END"),
    "hr": ("CASE WHEN ABS(rx - xf) > ABS(ry - yf)"
           " AND ABS(rx - xf) > ABS(rz - zf) THEN rz"
           " WHEN ABS(ry - yf) > ABS(rz - zf) THEN rz"
           " ELSE -rx - ry END"),
}


def hex_cell(df, x_col: str, y_col: str, size: float,
             out_q: str = "hq", out_r: str = "hr"):
    """Append axial hex cell (out_q, out_r) BIGINT columns via the
    staged projections (each stage one narrow select; zero shuffle).
    NULL coordinates yield NULL cells."""
    frac = sql_hex_frac(x_col, y_col, size)
    d = df
    for k, v in frac.items():
        d = d.withColumn(k, F.expr(v))
    for k, v in HEX_ROUND_STAGE2.items():
        d = d.withColumn(k, F.expr(v))
    d = (d.withColumn(out_q,
                      F.expr(HEX_FIX_STAGE3["hq"]).cast("long"))
         .withColumn(out_r,
                     F.expr(HEX_FIX_STAGE3["hr"]).cast("long")))
    return d.drop("xf", "zf", "yf", "rx", "ry", "rz")


def sql_hex_ctes(src: str, x: str, y: str, size: float,
                 keep: str) -> str:
    """Oracle-side staged CTE chain over `src`, carrying `keep`
    columns; yields a relation (…keep, hq, hr)."""
    frac = sql_hex_frac(x, y, size)
    s1 = (f"SELECT {keep}, {frac['xf']} AS xf, {frac['zf']} AS zf "
          f"FROM {src}")
    s2 = (f"SELECT {keep}, xf, zf, "
          + ", ".join(f"{v} AS {k}" for k, v in HEX_ROUND_STAGE2.items())
          + f" FROM ({s1})")
    s3 = (f"SELECT {keep}, "
          f"CAST({HEX_FIX_STAGE3['hq']} AS BIGINT) AS hq, "
          f"CAST({HEX_FIX_STAGE3['hr']} AS BIGINT) AS hr FROM ({s2})")
    return s3
