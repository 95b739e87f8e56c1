"""Layout & cell kernels — pure numpy, no Spark imports.

Re-implements, from observable semantics only, the grid math the reference
exposes through its RasterSource algebra and tiling usage sites:

  - WebMercator (EPSG:3857) <-> EPSG:4326 closed-form transforms
    (what a ZoomedLayoutScheme needs; reference uses proj4 CRS objects,
    e.g. /root/reference/vlm/.../effect/RasterMetadataF.scala:30).
  - ZoomedLayoutScheme-style power-of-two tile pyramid with 256-px tiles
    (the constant used throughout the reference:
    /root/reference/benchmark/src/main/scala/GeotrellisRasterSourceBench.scala:34,
    /root/reference/gdal/src/it/scala/geotrellis/contrib/vlm/SubsceneReadingIT.scala:91).
  - SpatialKey(zoom, col, row) packing into a single int64 cell id, with
    parent / children / k-ring neighbor ops (the engine's S2-style index).
  - GridExtent / GridBounds arithmetic matching the reference semantics:
    size = cols*rows, gridBounds = (0,0,cols-1,rows-1)
    (/root/reference/vlm/.../effect/RasterMetadataF.scala:33-35),
    extent->bounds with a half-pixel inset buffer
    (/root/reference/gdal/.../GDALRasterSource.scala:164-167),
    combine with round-not-ceil rows/cols
    (/root/reference/vlm/.../effect/MosaicRasterSource.scala:133-146,
    CHANGELOG.md:97).

All kernels are batch-in/batch-out over numpy arrays so they can back
Arrow-vectorized pandas UDFs without per-row Python.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import lru_cache as _lru_cache

import numpy as np

TILE_SIZE = 256
# WebMercator world bounds (meters). 2 * pi * 6378137 / 2.
MERC_MAX = 20037508.342789244
MIN_LAT = -85.05112877980659
MAX_LAT = 85.05112877980659

# int64 cell id packing: zoom in the top 6 bits, col/row 29 bits each.
# Supports zoom <= 29 (col/row < 2^29), comfortably past slippy zoom 22.
_COL_SHIFT = 29
_ZOOM_SHIFT = 58


# ---------------------------------------------------------------------------
# CRS transforms (closed form, float64)
# ---------------------------------------------------------------------------

def lonlat_to_mercator(lon, lat):
    """EPSG:4326 -> EPSG:3857 (spherical web mercator), vectorized."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.clip(np.asarray(lat, dtype=np.float64), MIN_LAT, MAX_LAT)
    x = lon * MERC_MAX / 180.0
    y = np.log(np.tan((90.0 + lat) * np.pi / 360.0)) * MERC_MAX / np.pi
    return x, y


def mercator_to_lonlat(x, y):
    """EPSG:3857 -> EPSG:4326, vectorized."""
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    lon = x * 180.0 / MERC_MAX
    lat = np.degrees(2.0 * np.arctan(np.exp(y * np.pi / MERC_MAX)) - np.pi / 2.0)
    return lon, lat


# ---------------------------------------------------------------------------
# UTM (WGS84 ellipsoidal transverse Mercator, Krueger series to n^6).
# The reference accepts any proj4 CRS (GeoTiffReprojectRasterSource.scala:39);
# the engine adds the UTM zone family on top of 4326<->3857 — the CRS pair
# covering most real-world rasters. Formulas are the standard public Krueger
# series (Karney 2011, "Transverse Mercator with an accuracy of a few
# nanometers"); truncation at n^6 is sub-millimeter.
# ---------------------------------------------------------------------------

_WGS84_A = 6378137.0
_WGS84_F = 1.0 / 298.257223563
_UTM_K0 = 0.9996
_UTM_E0 = 500000.0
_UTM_N0_SOUTH = 10000000.0


@_lru_cache(maxsize=None)
def _krueger_params(a: float, f: float):
    """Krueger-series parameters for an ellipsoid (a, f): rectifying radius
    A, the first-eccentricity-from-n shortcut e', and the alpha/beta/delta
    coefficient tuples (all functions of the third flattening n alone).
    Cached per ellipsoid; WGS84 is the module default, non-WGS84 ellipsoids
    (Airy, Bessel, ...) reuse the same kernels via these parameters."""
    n = f / (2.0 - f)
    n2, n3, n4, n5, n6 = n**2, n**3, n**4, n**5, n**6
    a_cap = a / (1.0 + n) * (1.0 + n2 / 4.0 + n4 / 64.0 + n6 / 256.0)
    alpha = (
        n / 2.0 - 2.0 * n2 / 3.0 + 5.0 * n3 / 16.0 + 41.0 * n4 / 180.0
        - 127.0 * n5 / 288.0 + 7891.0 * n6 / 37800.0,
        13.0 * n2 / 48.0 - 3.0 * n3 / 5.0 + 557.0 * n4 / 1440.0
        + 281.0 * n5 / 630.0 - 1983433.0 * n6 / 1935360.0,
        61.0 * n3 / 240.0 - 103.0 * n4 / 140.0 + 15061.0 * n5 / 26880.0
        + 167603.0 * n6 / 181440.0,
        49561.0 * n4 / 161280.0 - 179.0 * n5 / 168.0 + 6601661.0 * n6 / 7257600.0,
        34729.0 * n5 / 80640.0 - 3418889.0 * n6 / 1995840.0,
        212378941.0 * n6 / 319334400.0,
    )
    beta = (
        n / 2.0 - 2.0 * n2 / 3.0 + 37.0 * n3 / 96.0 - n4 / 360.0
        - 81.0 * n5 / 512.0 + 96199.0 * n6 / 604800.0,
        n2 / 48.0 + n3 / 15.0 - 437.0 * n4 / 1440.0 + 46.0 * n5 / 105.0
        - 1118711.0 * n6 / 3870720.0,
        17.0 * n3 / 480.0 - 37.0 * n4 / 840.0 - 209.0 * n5 / 4480.0
        + 5569.0 * n6 / 90720.0,
        4397.0 * n4 / 161280.0 - 11.0 * n5 / 504.0 - 830251.0 * n6 / 7257600.0,
        4583.0 * n5 / 161280.0 - 108847.0 * n6 / 3991680.0,
        20648693.0 * n6 / 638668800.0,
    )
    # conformal -> geographic latitude series (rectifying the inverse)
    delta = (
        2.0 * n - 2.0 * n2 / 3.0 - 2.0 * n3 + 116.0 * n4 / 45.0
        + 26.0 * n5 / 45.0 - 2854.0 * n6 / 675.0,
        7.0 * n2 / 3.0 - 8.0 * n3 / 5.0 - 227.0 * n4 / 45.0
        + 2704.0 * n5 / 315.0 + 2323.0 * n6 / 945.0,
        56.0 * n3 / 15.0 - 136.0 * n4 / 35.0 - 1262.0 * n5 / 105.0
        + 73814.0 * n6 / 2835.0,
        4279.0 * n4 / 630.0 - 332.0 * n5 / 35.0 - 399572.0 * n6 / 14175.0,
        4174.0 * n5 / 315.0 - 144838.0 * n6 / 6237.0,
        601676.0 * n6 / 22275.0,
    )
    e_sqrt = 2.0 * np.sqrt(n) / (1.0 + n)
    return a_cap, e_sqrt, alpha, beta, delta


_A_CAP, _E_SQRT, UTM_ALPHA, UTM_BETA, UTM_DELTA = \
    _krueger_params(_WGS84_A, _WGS84_F)


def utm_zone(lon) -> "np.ndarray":
    """Standard 6-degree UTM zone number for a longitude (1..60)."""
    return (np.floor((np.asarray(lon, dtype=np.float64) + 180.0) / 6.0)
            .astype(np.int64) % 60 + 1)


def utm_central_meridian(zone) -> "np.ndarray":
    return np.asarray(zone, dtype=np.float64) * 6.0 - 183.0


def _meridian_xi(lat0: float, ell_a: float = _WGS84_A,
                 ell_f: float = _WGS84_F) -> float:
    """Rectifying (Krueger) xi of the meridian arc at lat0 (eta = 0) —
    the tmerc +lat_0 northing offset. 0.0 at the equator by construction."""
    if lat0 == 0.0:
        return 0.0
    _, e_sqrt, alpha, _, _ = _krueger_params(ell_a, ell_f)
    phi = np.radians(np.float64(lat0))
    s = np.sin(phi)
    t = np.sinh(np.arctanh(s) - e_sqrt * np.arctanh(e_sqrt * s))
    xi = np.arctan(t)
    xi_s = xi
    for j, a in enumerate(alpha, start=1):
        xi_s = xi_s + a * np.sin(2.0 * j * xi)  # cosh(0) == 1
    return float(xi_s)


def lonlat_to_tmerc(lon, lat, lon0, k0: float = 1.0,
                    x0: float = 0.0, y0: float = 0.0, lat0: float = 0.0,
                    ell_a: float = _WGS84_A, ell_f: float = _WGS84_F):
    """Geodetic lon/lat -> transverse Mercator (Krueger series to n^6) with
    arbitrary central meridian / scale / false origin — the generalized
    kernel behind the UTM zone family (proj4 ``+proj=tmerc``). ``lon0``
    may be an array (per-point central meridian, the UTM case). The
    ellipsoid defaults to WGS84; (ell_a, ell_f) select another (e.g. Airy
    for the OSGB national grid) — input lon/lat must be geodetic ON that
    ellipsoid's datum (parse_proj4 composes the Helmert shift in front)."""
    a_cap, e_sqrt, alpha, _, _ = _krueger_params(ell_a, ell_f)
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    lam = np.radians(lon - lon0)
    phi = np.radians(lat)
    s = np.sin(phi)
    t = np.sinh(np.arctanh(s) - e_sqrt * np.arctanh(e_sqrt * s))
    xi = np.arctan2(t, np.cos(lam))
    eta = np.arctanh(np.sin(lam) / np.sqrt(1.0 + t * t))
    xi_s, eta_s = xi.copy(), eta.copy()
    for j, a in enumerate(alpha, start=1):
        xi_s = xi_s + a * np.sin(2.0 * j * xi) * np.cosh(2.0 * j * eta)
        eta_s = eta_s + a * np.cos(2.0 * j * xi) * np.sinh(2.0 * j * eta)
    k0a = k0 * a_cap
    easting = x0 + k0a * eta_s
    northing = y0 + k0a * xi_s - k0a * _meridian_xi(lat0, ell_a, ell_f)
    return easting, northing


def tmerc_to_lonlat(easting, northing, lon0, k0: float = 1.0,
                    x0: float = 0.0, y0: float = 0.0, lat0: float = 0.0,
                    ell_a: float = _WGS84_A, ell_f: float = _WGS84_F):
    """Inverse generalized transverse Mercator (see lonlat_to_tmerc)."""
    a_cap, _, _, beta, delta = _krueger_params(ell_a, ell_f)
    e = np.asarray(easting, dtype=np.float64)
    n = np.asarray(northing, dtype=np.float64)
    k0a = k0 * a_cap
    xi = (n - y0 + k0a * _meridian_xi(lat0, ell_a, ell_f)) / k0a
    eta = (e - x0) / k0a
    xi_p, eta_p = xi.copy(), eta.copy()
    for j, b in enumerate(beta, start=1):
        xi_p = xi_p - b * np.sin(2.0 * j * xi) * np.cosh(2.0 * j * eta)
        eta_p = eta_p - b * np.cos(2.0 * j * xi) * np.sinh(2.0 * j * eta)
    chi = np.arcsin(np.sin(xi_p) / np.cosh(eta_p))
    phi = chi.copy()
    for j, d in enumerate(delta, start=1):
        phi = phi + d * np.sin(2.0 * j * chi)
    lam = np.arctan2(np.sinh(eta_p), np.cos(xi_p))
    return np.asarray(lon0, dtype=np.float64) + np.degrees(lam), np.degrees(phi)


def lonlat_to_utm(lon, lat, zone):
    """EPSG:4326 -> UTM zone (WGS84): returns (easting, northing_northern).
    Southern-hemisphere callers add the 10,000,000 m false northing
    (``utm_false_northing``). Vectorized float64, Krueger series.
    Bit-identical delegation to the generalized tmerc kernel (k0*A and the
    false-origin adds reduce to the historical expressions exactly)."""
    return lonlat_to_tmerc(lon, lat, utm_central_meridian(zone),
                           k0=_UTM_K0, x0=_UTM_E0, y0=0.0, lat0=0.0)


def utm_false_northing(lat):
    """0 for the northern hemisphere, 10,000,000 m south (EPSG:327xx)."""
    return np.where(np.asarray(lat, dtype=np.float64) >= 0.0, 0.0, _UTM_N0_SOUTH)


def utm_to_lonlat(easting, northing, zone, northern: bool = True):
    """UTM (WGS84) -> EPSG:4326. ``northing`` with the false northing of its
    hemisphere (EPSG:326xx north / 327xx south). Vectorized float64.
    Delegates to the generalized tmerc inverse (bit-identical)."""
    n = np.asarray(northing, dtype=np.float64)
    if not northern:
        n = n - _UTM_N0_SOUTH
    return tmerc_to_lonlat(easting, n, utm_central_meridian(zone),
                           k0=_UTM_K0, x0=_UTM_E0, y0=0.0, lat0=0.0)


# ---------------------------------------------------------------------------
# Tile pyramid (slippy / ZoomedLayoutScheme-style)
# ---------------------------------------------------------------------------

def lonlat_to_tile(lon, lat, zoom):
    """(lon, lat, zoom) -> (col, row) int64 on the power-of-two 256-px grid.

    Standard slippy-map math: col from linear lon, row from the mercator
    y via ln(tan + sec). Rows grow southward (row 0 at the north edge),
    matching a ZoomedLayoutScheme layout over WebMercator.
    """
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.clip(np.asarray(lat, dtype=np.float64), MIN_LAT, MAX_LAT)
    n = np.float64(1 << zoom) if np.isscalar(zoom) else np.power(2.0, np.asarray(zoom, dtype=np.float64))
    lat_rad = np.radians(lat)
    col = np.floor((lon + 180.0) / 360.0 * n)
    row = np.floor((1.0 - np.log(np.tan(lat_rad) + 1.0 / np.cos(lat_rad)) / np.pi) / 2.0 * n)
    col = np.clip(col, 0, n - 1).astype(np.int64)
    row = np.clip(row, 0, n - 1).astype(np.int64)
    return col, row


def tile_extent(zoom, col, row):
    """SpatialKey -> lon/lat extent (xmin, ymin, xmax, ymax) of the tile."""
    zoom = np.asarray(zoom, dtype=np.float64)
    col = np.asarray(col, dtype=np.float64)
    row = np.asarray(row, dtype=np.float64)
    n = np.power(2.0, zoom)
    xmin = col / n * 360.0 - 180.0
    xmax = (col + 1.0) / n * 360.0 - 180.0

    def _lat(r):
        return np.degrees(np.arctan(np.sinh(np.pi * (1.0 - 2.0 * r / n))))

    ymax = _lat(row)
    ymin = _lat(row + 1.0)
    return xmin, ymin, xmax, ymax


def tiles_for_extent(zoom, xmin, ymin, xmax, ymax):
    """All SpatialKeys intersecting a lon/lat bbox at ``zoom``.

    The engine's ``keysForGeometry`` analog for the bbox case
    (/root/reference/benchmark/.../GeotrellisRasterSourceBench.scala:36-37).
    Returns (col, row) int64 arrays, row-major order (row, then col) so
    output order is deterministic.
    """
    c0, r1 = lonlat_to_tile(np.float64(xmin), np.float64(ymin), zoom)
    c1, r0 = lonlat_to_tile(np.float64(xmax), np.float64(ymax), zoom)
    cols = np.arange(int(c0), int(c1) + 1, dtype=np.int64)
    rows = np.arange(int(r0), int(r1) + 1, dtype=np.int64)
    rr, cc = np.meshgrid(rows, cols, indexing="ij")
    return cc.ravel(), rr.ravel()


# ---------------------------------------------------------------------------
# Cell ids (S2-style hierarchical index over the tile pyramid)
# ---------------------------------------------------------------------------

def pack_cell(zoom, col, row):
    """(zoom, col, row) -> int64 cell id. Vectorized."""
    zoom = np.asarray(zoom, dtype=np.int64)
    col = np.asarray(col, dtype=np.int64)
    row = np.asarray(row, dtype=np.int64)
    return (zoom << _ZOOM_SHIFT) | (col << _COL_SHIFT) | row


def unpack_cell(cell):
    """int64 cell id -> (zoom, col, row). Vectorized."""
    cell = np.asarray(cell, dtype=np.int64)
    zoom = cell >> _ZOOM_SHIFT
    col = (cell >> _COL_SHIFT) & ((1 << _COL_SHIFT) - 1)
    row = cell & ((1 << _COL_SHIFT) - 1)
    return zoom, col, row


def cell_parent(cell, levels=1):
    """Parent cell ``levels`` zooms up (quadtree ancestor)."""
    zoom, col, row = unpack_cell(cell)
    return pack_cell(zoom - levels, col >> levels, row >> levels)


def cell_children(cell):
    """The 4 child cells one zoom down, deterministic order (row-major)."""
    zoom, col, row = unpack_cell(cell)
    z = zoom + 1
    c, r = col << 1, row << 1
    return np.stack([
        pack_cell(z, c, r), pack_cell(z, c + 1, r),
        pack_cell(z, c, r + 1), pack_cell(z, c + 1, r + 1),
    ], axis=-1)


def neighbor_ring(zoom, col, row, ring=1):
    """Cells at Chebyshev distance exactly ``ring`` (ring=0 -> the cell
    itself). Wraps col across the antimeridian; clips rows at the poles.
    Returns (col, row) arrays for a scalar input key. Deterministic order.
    """
    n = 1 << int(zoom)
    col, row = int(col), int(row)
    if ring == 0:
        return (np.array([col], dtype=np.int64), np.array([row], dtype=np.int64))
    cs, rs = [], []
    for dr in range(-ring, ring + 1):
        r = row + dr
        if r < 0 or r >= n:
            continue
        dcs = range(-ring, ring + 1) if abs(dr) == ring else (-ring, ring)
        for dc in dcs:
            cs.append((col + dc) % n)
            rs.append(r)
    return np.asarray(cs, dtype=np.int64), np.asarray(rs, dtype=np.int64)


def morton_interleave(col, row):
    """Z-order (Morton) interleave of two < 2^31 coords — locality-preserving
    sort key for range-partitioning tile tables. Vectorized int64. Inputs are
    masked to 31 bits so the packed key never sets bit 63 (a negative int64
    would sort before positives and break the z-order)."""
    def _spread(v):
        v = np.asarray(v, dtype=np.uint64)
        v &= np.uint64(0x7FFFFFFF)
        v = (v | (v << np.uint64(16))) & np.uint64(0x0000FFFF0000FFFF)
        v = (v | (v << np.uint64(8))) & np.uint64(0x00FF00FF00FF00FF)
        v = (v | (v << np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
        v = (v | (v << np.uint64(2))) & np.uint64(0x3333333333333333)
        v = (v | (v << np.uint64(1))) & np.uint64(0x5555555555555555)
        return v
    return (_spread(col) | (_spread(row) << np.uint64(1))).astype(np.int64)


# ---------------------------------------------------------------------------
# GridExtent / GridBounds (reference-parity raster grid math)
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class GridExtent:
    """extent + cell size; cols/rows derived by round-not-ceil, matching
    /root/reference/vlm/.../effect/MosaicRasterSource.scala:142-143
    (fix recorded at CHANGELOG.md:97: "round instead of ceil")."""
    xmin: float
    ymin: float
    xmax: float
    ymax: float
    cellwidth: float
    cellheight: float

    @property
    def cols(self) -> int:
        return int(round((self.xmax - self.xmin) / self.cellwidth))

    @property
    def rows(self) -> int:
        return int(round((self.ymax - self.ymin) / self.cellheight))

    @property
    def size(self) -> int:
        # size = cols * rows (RasterMetadataF.scala:33)
        return self.cols * self.rows

    @property
    def grid_bounds(self):
        # gridBounds = (0, 0, cols-1, rows-1) (RasterMetadataF.scala:35)
        return (0, 0, self.cols - 1, self.rows - 1)

    def extent_to_bounds(self, xmin, ymin, xmax, ymax, clamp=True):
        """Map-space extent -> integer pixel window, with the half-pixel
        inset buffer of /root/reference/gdal/.../GDALRasterSource.scala:164-167
        (extent.buffer(-cellwidth/2, -cellheight/2) before snapping)."""
        bx0 = xmin + self.cellwidth / 2.0
        bx1 = xmax - self.cellwidth / 2.0
        by0 = ymin + self.cellheight / 2.0
        by1 = ymax - self.cellheight / 2.0
        col_min = int(np.floor((bx0 - self.xmin) / self.cellwidth))
        col_max = int(np.floor((bx1 - self.xmin) / self.cellwidth))
        # rows count down from ymax
        row_min = int(np.floor((self.ymax - by1) / self.cellheight))
        row_max = int(np.floor((self.ymax - by0) / self.cellheight))
        if clamp:
            col_min = max(col_min, 0)
            row_min = max(row_min, 0)
            col_max = min(col_max, self.cols - 1)
            row_max = min(row_max, self.rows - 1)
        return (col_min, row_min, col_max, row_max)

    def bounds_to_extent(self, col_min, row_min, col_max, row_max):
        """Integer pixel window -> map-space extent."""
        return (
            self.xmin + col_min * self.cellwidth,
            self.ymax - (row_max + 1) * self.cellheight,
            self.xmin + (col_max + 1) * self.cellwidth,
            self.ymax - row_min * self.cellheight,
        )

    def combine(self, other: "GridExtent") -> "GridExtent":
        """Union of extents; REQUIRES equal cell sizes, like the reference
        gridExtent semigroup which throws GeoAttrsError on mismatch
        (MosaicRasterSource.scala:133-141)."""
        if (self.cellwidth, self.cellheight) != (other.cellwidth, other.cellheight):
            raise ValueError(
                "cannot combine grid extents with different cell sizes: "
                f"{(self.cellwidth, self.cellheight)} vs {(other.cellwidth, other.cellheight)}"
            )
        return GridExtent(
            min(self.xmin, other.xmin), min(self.ymin, other.ymin),
            max(self.xmax, other.xmax), max(self.ymax, other.ymax),
            self.cellwidth, self.cellheight,
        )

    def with_resolution(self, cellwidth: float, cellheight: float) -> "GridExtent":
        return GridExtent(self.xmin, self.ymin, self.xmax, self.ymax, cellwidth, cellheight)


def bounds_intersection(a, b):
    """GridBounds intersection; None when disjoint — the window∩footprint
    pruning of /root/reference/vlm/.../geotiff/GeoTiffRasterSource.scala:102-103."""
    col_min = max(a[0], b[0])
    row_min = max(a[1], b[1])
    col_max = min(a[2], b[2])
    row_max = min(a[3], b[3])
    if col_min > col_max or row_min > row_max:
        return None
    return (col_min, row_min, col_max, row_max)


def split_bounds(bounds, tile_cols=TILE_SIZE, tile_rows=TILE_SIZE):
    """Split a pixel window into a grid of <=tile_cols x tile_rows windows,
    row-major — the gridBounds.split(256, 256) full-scene sweep of
    /root/reference/gdal/src/it/.../SubsceneReadingIT.scala:91."""
    col_min, row_min, col_max, row_max = bounds
    out = []
    r = row_min
    while r <= row_max:
        c = col_min
        while c <= col_max:
            out.append((c, r, min(c + tile_cols - 1, col_max), min(r + tile_rows - 1, row_max)))
            c += tile_cols
        r += tile_rows
    return out


def keys_for_polygon(rings, zoom: int):
    """keysForGeometry for a true polygon: exact cover cells at ``zoom``
    (cells whose box intersects the polygon), not just the bbox cover —
    the reference's layout.mapTransform.keysForGeometry semantics
    (GeotrellisRasterSourceBench.scala:36-37). Returns (col, row) int64
    arrays, deterministic row-major order."""
    from geotrellis_contrib_spark import geom as GM

    ext = np.asarray(rings[0], dtype=np.float64)
    cols, rows = tiles_for_extent(zoom, float(ext[:, 0].min()), float(ext[:, 1].min()),
                                  float(ext[:, 0].max()), float(ext[:, 1].max()))
    xmin, ymin, xmax, ymax = tile_extent(zoom, cols, rows)
    keep = GM.polygon_intersects_boxes(rings, xmin, ymin, xmax, ymax)
    return cols[keep], rows[keep]


# --- ResampleGrid strategies (five pure functions computing the target
# GridExtent, mirroring the reference's strategy enum applied at
# GeoTiffReprojectRasterSource.scala:71-84 / GeoTiffResampleRasterSource.scala:79-93) ---

def resample_identity(src: "GridExtent") -> "GridExtent":
    """IdentityResampleGrid: keep the source grid."""
    return src


def resample_to_region(src: "GridExtent", region: "GridExtent") -> "GridExtent":
    """TargetRegion: adopt the target region's extent AND cell size exactly."""
    return region


def resample_to_grid(src: "GridExtent", grid: "GridExtent") -> "GridExtent":
    """TargetGrid: snap the source extent onto the target grid's cell
    lattice (same cell size/origin, extent covering the source)."""
    import math as _m
    cw, ch = grid.cellwidth, grid.cellheight
    xmin = grid.xmin + _m.floor((src.xmin - grid.xmin) / cw) * cw
    ymin = grid.ymin + _m.floor((src.ymin - grid.ymin) / ch) * ch
    xmax = grid.xmin + _m.ceil((src.xmax - grid.xmin) / cw) * cw
    ymax = grid.ymin + _m.ceil((src.ymax - grid.ymin) / ch) * ch
    return GridExtent(xmin, ymin, xmax, ymax, cw, ch)


def resample_to_dimensions(src: "GridExtent", cols: int, rows: int) -> "GridExtent":
    """Dimensions: same extent, exact output cols x rows."""
    return GridExtent(src.xmin, src.ymin, src.xmax, src.ymax,
                      (src.xmax - src.xmin) / cols, (src.ymax - src.ymin) / rows)


def resample_to_cell_size(src: "GridExtent", cellwidth: float,
                          cellheight: float) -> "GridExtent":
    """TargetCellSize: same extent, requested cell size (round-not-ceil
    cols/rows fall out of the GridExtent math)."""
    return src.with_resolution(cellwidth, cellheight)


RESAMPLE_GRID_STRATEGIES = {
    "identity": resample_identity,
    "target_region": resample_to_region,
    "target_grid": resample_to_grid,
    "dimensions": resample_to_dimensions,
    "target_cell_size": resample_to_cell_size,
}


def select_overview(resolutions, target_cell_size):
    """AutoHigherResolution overview policy: pick the coarsest resolution
    that is still >= the requested detail (cell size <= target), i.e. the
    closest pre-built overview not coarser than the target
    (/root/reference/vlm/.../geotiff/GeoTiffReprojectRasterSource.scala:92-103).
    ``resolutions``: list of cell sizes sorted ascending (finest first).
    Returns the chosen index; falls back to the finest when all are coarser.
    """
    chosen = 0
    for i, res in enumerate(resolutions):
        if res <= target_cell_size:
            chosen = i
        else:
            break
    return chosen


# ---------------------------------------------------------------------------
# Equal-area projections (WGS84/GRS80 ellipsoid): Lambert Azimuthal
# Equal-Area (EPSG:3035 family) and Albers Equal-Area Conic (EPSG:5070
# family). Snyder, "Map Projections — A Working Manual" (USGS PP 1395),
# ch. 24 / ch. 14 ellipsoidal forms with authalic latitude. Vectorized
# float64. Validation is property-based (tests/test_equal_area.py): exact
# round trips, the EQUAL-AREA property against authalic-sphere areas, unit
# scale along Albers' standard parallels — stronger than transcribed
# goldens. (GRS80 vs WGS84 e^2 differ in the 12th digit — sub-0.1mm here.)
# ---------------------------------------------------------------------------

_E2 = _WGS84_F * (2.0 - _WGS84_F)
_E1 = np.sqrt(_E2)


def _q_authalic(phi, e2: float = _E2):
    """Snyder (3-12): q such that the authalic sphere area from the equator
    to phi is proportional to q; q(90 deg) = _QP."""
    e1 = np.sqrt(e2)
    s = np.sin(phi)
    return (1.0 - e2) * (s / (1.0 - e2 * s * s)
                         - (1.0 / (2.0 * e1))
                         * np.log((1.0 - e1 * s) / (1.0 + e1 * s)))


_QP = float(_q_authalic(np.pi / 2.0))
_RQ = _WGS84_A * np.sqrt(_QP / 2.0)   # authalic sphere radius


@_lru_cache(maxsize=None)
def _authalic_params(ell_a: float, e2: float) -> tuple[float, float]:
    """(qp, rq) for an ellipsoid: total authalic q at the pole and the
    authalic sphere radius. WGS84 reproduces the module constants' bits."""
    qp = float(_q_authalic(np.pi / 2.0, e2))
    return qp, ell_a * np.sqrt(qp / 2.0)


def _phi_from_q(q, e2: float = _E2, qp: float = _QP):
    """Invert q -> geodetic latitude (Snyder 3-16 iteration, with the
    polar clamp where |q| -> qp and the derivative degenerates)."""
    e1 = np.sqrt(e2)
    q = np.asarray(q, dtype=np.float64)
    phi = np.arcsin(np.clip(q / 2.0, -1.0, 1.0))
    polar = np.abs(q) >= qp * (1.0 - 1e-14)
    for _ in range(8):
        s = np.sin(phi)
        c = np.cos(phi)
        den = 1.0 - e2 * s * s
        f = (q / (1.0 - e2) - s / den
             + (1.0 / (2.0 * e1)) * np.log((1.0 - e1 * s) / (1.0 + e1 * s)))
        with np.errstate(divide="ignore", invalid="ignore"):
            step = np.where(polar, 0.0, den * den / (2.0 * np.maximum(c, 1e-300)) * f)
        phi = phi + step
    return np.where(polar, np.sign(q) * (np.pi / 2.0), phi)


def _m_ell(phi, e2: float = _E2):
    """Snyder (14-15): m = cos(phi) / sqrt(1 - e^2 sin^2 phi)."""
    s = np.sin(phi)
    return np.cos(phi) / np.sqrt(1.0 - e2 * s * s)


def _wrap_deg(d):
    return (np.asarray(d, dtype=np.float64) + 180.0) % 360.0 - 180.0


def lonlat_to_laea(lon, lat, lon0: float, lat0: float,
                   fe: float = 0.0, fn: float = 0.0,
                   ell_a: float = _WGS84_A, e2: float = _E2):
    """Geodetic lon/lat -> oblique ellipsoidal Lambert Azimuthal Equal-Area
    centered at (lon0, lat0) with false easting/northing (Snyder 24-2..8).
    EPSG:3035 = (10, 52, 4321000, 3210000) on the default WGS84/GRS80;
    (ell_a, e2) select another ellipsoid (parse_proj4 composes any datum
    shift in front)."""
    qp, rq = _authalic_params(ell_a, e2)
    lam = np.radians(_wrap_deg(np.asarray(lon, dtype=np.float64) - lon0))
    phi = np.radians(np.asarray(lat, dtype=np.float64))
    p0 = np.radians(lat0)
    q = _q_authalic(phi, e2)
    q0 = float(_q_authalic(p0, e2))
    beta = np.arcsin(np.clip(q / qp, -1.0, 1.0))
    beta0 = np.arcsin(np.clip(q0 / qp, -1.0, 1.0))
    d_cap = ell_a * float(_m_ell(p0, e2)) / (rq * np.cos(beta0))
    b_cap = rq * np.sqrt(2.0 / (1.0 + np.sin(beta0) * np.sin(beta)
                                + np.cos(beta0) * np.cos(beta) * np.cos(lam)))
    x = b_cap * d_cap * np.cos(beta) * np.sin(lam)
    y = (b_cap / d_cap) * (np.cos(beta0) * np.sin(beta)
                           - np.sin(beta0) * np.cos(beta) * np.cos(lam))
    return x + fe, y + fn


def laea_to_lonlat(x, y, lon0: float, lat0: float,
                   fe: float = 0.0, fn: float = 0.0,
                   ell_a: float = _WGS84_A, e2: float = _E2):
    """Inverse oblique ellipsoidal LAEA (Snyder 24-16..19, 26)."""
    qp, rq = _authalic_params(ell_a, e2)
    x = np.asarray(x, dtype=np.float64) - fe
    y = np.asarray(y, dtype=np.float64) - fn
    p0 = np.radians(lat0)
    q0 = float(_q_authalic(p0, e2))
    beta0 = np.arcsin(np.clip(q0 / qp, -1.0, 1.0))
    d_cap = ell_a * float(_m_ell(p0, e2)) / (rq * np.cos(beta0))
    rho = np.sqrt((x / d_cap) ** 2 + (d_cap * y) ** 2)
    ce = 2.0 * np.arcsin(np.clip(rho / (2.0 * rq), -1.0, 1.0))
    with np.errstate(divide="ignore", invalid="ignore"):
        q = qp * (np.cos(ce) * np.sin(beta0)
                  + d_cap * y * np.sin(ce) * np.cos(beta0) / rho)
        lam = np.arctan2(x * np.sin(ce),
                         d_cap * rho * np.cos(beta0) * np.cos(ce)
                         - d_cap * d_cap * y * np.sin(beta0) * np.sin(ce))
    center = rho == 0.0
    q = np.where(center, qp * np.sin(beta0), q)
    lam = np.where(center, 0.0, lam)
    phi = _phi_from_q(q, e2, qp)
    return _wrap_deg(lon0 + np.degrees(lam)), np.degrees(phi)


def albers_constants(lat0: float, lat1: float, lat2: float,
                     ell_a: float = _WGS84_A, e2: float = _E2):
    """Albers projection constants n, C, rho0 (Snyder 14-3..14-6)."""
    p0, p1, p2 = (np.radians(v) for v in (lat0, lat1, lat2))
    m1, m2 = float(_m_ell(p1, e2)), float(_m_ell(p2, e2))
    q0, q1, q2 = (float(_q_authalic(p, e2)) for p in (p0, p1, p2))
    if abs(lat1 - lat2) < 1e-12:
        n = float(np.sin(p1))
    else:
        n = (m1 * m1 - m2 * m2) / (q2 - q1)
    c_cap = m1 * m1 + n * q1
    rho0 = ell_a * np.sqrt(c_cap - n * q0) / n
    return n, c_cap, rho0


def lonlat_to_albers(lon, lat, lon0: float, lat0: float,
                     lat1: float, lat2: float,
                     fe: float = 0.0, fn: float = 0.0,
                     ell_a: float = _WGS84_A, e2: float = _E2):
    """Geodetic lon/lat -> ellipsoidal Albers Equal-Area Conic (Snyder
    14-1..14-6). EPSG:5070 (Conus Albers) = (lon0=-96, lat0=23, lat1=29.5,
    lat2=45.5) on the default WGS84/GRS80."""
    n, c_cap, rho0 = albers_constants(lat0, lat1, lat2, ell_a, e2)
    lam = np.radians(_wrap_deg(np.asarray(lon, dtype=np.float64) - lon0))
    phi = np.radians(np.asarray(lat, dtype=np.float64))
    theta = n * lam
    rho = ell_a * np.sqrt(np.maximum(c_cap - n * _q_authalic(phi, e2), 0.0)) / n
    x = rho * np.sin(theta)
    y = rho0 - rho * np.cos(theta)
    return x + fe, y + fn


def albers_to_lonlat(x, y, lon0: float, lat0: float,
                     lat1: float, lat2: float,
                     fe: float = 0.0, fn: float = 0.0,
                     ell_a: float = _WGS84_A, e2: float = _E2):
    """Inverse ellipsoidal Albers (Snyder 14-10..14-11)."""
    qp, _ = _authalic_params(ell_a, e2)
    n, c_cap, rho0 = albers_constants(lat0, lat1, lat2, ell_a, e2)
    x = np.asarray(x, dtype=np.float64) - fe
    y = np.asarray(y, dtype=np.float64) - fn
    sgn = 1.0 if n >= 0 else -1.0
    rho = sgn * np.sqrt(x * x + (rho0 - y) ** 2)
    theta = np.arctan2(sgn * x, sgn * (rho0 - y))
    q = (c_cap - (rho * n / ell_a) ** 2) / n
    phi = _phi_from_q(q, e2, qp)
    return _wrap_deg(lon0 + np.degrees(theta / n)), np.degrees(phi)


# named equal-area CRS registry: EPSG -> (forward lonlat->xy, inverse)
EQUAL_AREA_CRS = {
    # ETRS89-extended / LAEA Europe
    3035: (lambda lon, lat: lonlat_to_laea(lon, lat, 10.0, 52.0, 4321000.0, 3210000.0),
           lambda x, y: laea_to_lonlat(x, y, 10.0, 52.0, 4321000.0, 3210000.0)),
    # NAD83 / Conus Albers
    5070: (lambda lon, lat: lonlat_to_albers(lon, lat, -96.0, 23.0, 29.5, 45.5),
           lambda x, y: albers_to_lonlat(x, y, -96.0, 23.0, 29.5, 45.5)),
}


# ---------------------------------------------------------------------------
# Lambert Conformal Conic (Snyder ch. 15, ellipsoidal, two standard
# parallels) — the state-plane / national-grid family (EPSG:2154
# Lambert-93 et al). Property oracle: CONFORMALITY (isotropic local scale,
# right angles preserved) + unit scale on both standard parallels.
# ---------------------------------------------------------------------------

def _t_conf(phi, e1: float = _E1):
    """Snyder (15-9): conformal-latitude auxiliary t."""
    s = np.sin(phi)
    return (np.tan(np.pi / 4.0 - phi / 2.0)
            / np.power((1.0 - e1 * s) / (1.0 + e1 * s), e1 / 2.0))


def lcc_constants(lat0: float, lat1: float, lat2: float,
                  ell_a: float = _WGS84_A, e2: float = _E2):
    """LCC cone constant n, F, rho0 (Snyder 15-8, 15-10, 15-7a). Ellipsoid
    defaults to WGS84; (ell_a, e2) select another (national conformal grids
    on Airy/Bessel via parse_proj4)."""
    e1 = np.sqrt(e2)
    p0, p1, p2 = (np.radians(v) for v in (lat0, lat1, lat2))
    m1, m2 = float(_m_ell(p1, e2)), float(_m_ell(p2, e2))
    t0, t1, t2 = (float(_t_conf(p, e1)) for p in (p0, p1, p2))
    if abs(lat1 - lat2) < 1e-12:
        n = float(np.sin(p1))
    else:
        n = (np.log(m1) - np.log(m2)) / (np.log(t1) - np.log(t2))
    f_cap = m1 / (n * t1 ** n)
    rho0 = ell_a * f_cap * t0 ** n
    return n, f_cap, rho0


def lonlat_to_lcc(lon, lat, lon0: float, lat0: float,
                  lat1: float, lat2: float,
                  fe: float = 0.0, fn: float = 0.0,
                  ell_a: float = _WGS84_A, e2: float = _E2):
    """Geodetic lon/lat -> ellipsoidal Lambert Conformal Conic (Snyder
    15-1..15-10). EPSG:2154 (Lambert-93) = (lon0=3, lat0=46.5, lat1=49,
    lat2=44, FE=700000, FN=6600000) on WGS84/GRS80 (the default)."""
    e1 = np.sqrt(e2)
    n, f_cap, rho0 = lcc_constants(lat0, lat1, lat2, ell_a, e2)
    lam = np.radians(_wrap_deg(np.asarray(lon, dtype=np.float64) - lon0))
    phi = np.radians(np.asarray(lat, dtype=np.float64))
    rho = ell_a * f_cap * np.power(_t_conf(phi, e1), n)
    theta = n * lam
    x = rho * np.sin(theta)
    y = rho0 - rho * np.cos(theta)
    return x + fe, y + fn


def lcc_to_lonlat(x, y, lon0: float, lat0: float,
                  lat1: float, lat2: float,
                  fe: float = 0.0, fn: float = 0.0,
                  ell_a: float = _WGS84_A, e2: float = _E2):
    """Inverse ellipsoidal LCC (Snyder 15-11, 7-9 iteration)."""
    e1 = np.sqrt(e2)
    n, f_cap, rho0 = lcc_constants(lat0, lat1, lat2, ell_a, e2)
    x = np.asarray(x, dtype=np.float64) - fe
    y = np.asarray(y, dtype=np.float64) - fn
    sgn = 1.0 if n >= 0 else -1.0
    rho = sgn * np.sqrt(x * x + (rho0 - y) ** 2)
    theta = np.arctan2(sgn * x, sgn * (rho0 - y))
    t = np.power(rho / (ell_a * f_cap), 1.0 / n)
    phi = np.pi / 2.0 - 2.0 * np.arctan(t)
    for _ in range(8):
        s = np.sin(phi)
        phi = (np.pi / 2.0
               - 2.0 * np.arctan(t * np.power((1.0 - e1 * s) / (1.0 + e1 * s),
                                              e1 / 2.0)))
    return _wrap_deg(lon0 + np.degrees(theta / n)), np.degrees(phi)


# ---------------------------------------------------------------------------
# Spherical projection forms (Snyder, USGS PP 1395 — closed forms, no
# series/iterations). proj4 selects these when the CRS carries +R, a lone
# +a, +a=+b, or +ellps=sphere; they are distinct projections from the
# ellipsoidal kernels above (a sphere is not the e->0 special case of the
# code paths, it has its own exact closed forms). Reference parity:
# arbitrary proj4 CRS objects at GeoTiffReprojectRasterSource.scala:39.
# ---------------------------------------------------------------------------

def lonlat_to_tmerc_sph(lon, lat, lon0: float, k0: float = 1.0,
                        x0: float = 0.0, y0: float = 0.0, lat0: float = 0.0,
                        radius: float = 6370997.0):
    """Spherical transverse Mercator forward (Snyder 8-1, 8-3): x =
    k0*R*atanh(B), y = k0*R*(atan2(tan(phi), cos(lam)) - phi0)."""
    lam = np.radians(_wrap_deg(np.asarray(lon, dtype=np.float64) - lon0))
    phi = np.radians(np.asarray(lat, dtype=np.float64))
    b = np.cos(phi) * np.sin(lam)
    kr = k0 * radius
    x = x0 + kr * np.arctanh(b)
    y = y0 + kr * (np.arctan2(np.tan(phi), np.cos(lam)) - np.radians(lat0))
    return x, y


def tmerc_sph_to_lonlat(x, y, lon0: float, k0: float = 1.0,
                        x0: float = 0.0, y0: float = 0.0, lat0: float = 0.0,
                        radius: float = 6370997.0):
    """Spherical transverse Mercator inverse (Snyder 8-6..8-8)."""
    kr = k0 * radius
    xp = (np.asarray(x, dtype=np.float64) - x0) / kr
    d = (np.asarray(y, dtype=np.float64) - y0) / kr + np.radians(lat0)
    phi = np.arcsin(np.clip(np.sin(d) / np.cosh(xp), -1.0, 1.0))
    lam = np.arctan2(np.sinh(xp), np.cos(d))
    return _wrap_deg(lon0 + np.degrees(lam)), np.degrees(phi)


def lonlat_to_laea_sph(lon, lat, lon0: float, lat0: float,
                       x0: float = 0.0, y0: float = 0.0,
                       radius: float = 6370997.0):
    """Spherical oblique Lambert azimuthal equal-area forward (Snyder
    24-2..24-4)."""
    lam = np.radians(_wrap_deg(np.asarray(lon, dtype=np.float64) - lon0))
    phi = np.radians(np.asarray(lat, dtype=np.float64))
    phi0 = np.radians(np.float64(lat0))
    kp = np.sqrt(2.0 / (1.0 + np.sin(phi0) * np.sin(phi)
                        + np.cos(phi0) * np.cos(phi) * np.cos(lam)))
    x = x0 + radius * kp * np.cos(phi) * np.sin(lam)
    y = y0 + radius * kp * (np.cos(phi0) * np.sin(phi)
                            - np.sin(phi0) * np.cos(phi) * np.cos(lam))
    return x, y


def laea_sph_to_lonlat(x, y, lon0: float, lat0: float,
                       x0: float = 0.0, y0: float = 0.0,
                       radius: float = 6370997.0):
    """Spherical oblique LAEA inverse (Snyder 20-14..20-18 with
    24-16..24-19): rho = 0 maps to the projection center exactly."""
    xs = np.asarray(x, dtype=np.float64) - x0
    ys = np.asarray(y, dtype=np.float64) - y0
    phi0 = np.radians(np.float64(lat0))
    rho = np.sqrt(xs * xs + ys * ys)
    c = 2.0 * np.arcsin(np.clip(rho / (2.0 * radius), -1.0, 1.0))
    safe = np.where(rho > 0.0, rho, 1.0)
    phi = np.arcsin(np.clip(
        np.cos(c) * np.sin(phi0)
        + np.where(rho > 0.0, ys * np.sin(c) * np.cos(phi0) / safe, 0.0),
        -1.0, 1.0))
    lam = np.arctan2(xs * np.sin(c),
                     safe * np.cos(phi0) * np.cos(c)
                     - ys * np.sin(phi0) * np.sin(c))
    lam = np.where(rho > 0.0, lam, 0.0)
    return _wrap_deg(lon0 + np.degrees(lam)), np.degrees(phi)


def albers_sph_constants(lat0: float, lat1: float, lat2: float,
                         radius: float = 6370997.0):
    """Spherical Albers cone constants (Snyder 14-5, 14-6, 14-3 at phi0):
    (n, C, rho0)."""
    phi0, phi1, phi2 = (np.radians(np.float64(v)) for v in (lat0, lat1, lat2))
    n = (np.sin(phi1) + np.sin(phi2)) / 2.0
    c_cap = np.cos(phi1) ** 2 + 2.0 * n * np.sin(phi1)
    rho0 = radius * np.sqrt(c_cap - 2.0 * n * np.sin(phi0)) / n
    return float(n), float(c_cap), float(rho0)


def lonlat_to_albers_sph(lon, lat, lon0: float, lat0: float,
                         lat1: float, lat2: float,
                         x0: float = 0.0, y0: float = 0.0,
                         radius: float = 6370997.0):
    """Spherical Albers equal-area conic forward (Snyder 14-1..14-4)."""
    n, c_cap, rho0 = albers_sph_constants(lat0, lat1, lat2, radius)
    lam = np.radians(_wrap_deg(np.asarray(lon, dtype=np.float64) - lon0))
    phi = np.radians(np.asarray(lat, dtype=np.float64))
    rho = radius * np.sqrt(c_cap - 2.0 * n * np.sin(phi)) / n
    theta = n * lam
    return x0 + rho * np.sin(theta), y0 + rho0 - rho * np.cos(theta)


def albers_sph_to_lonlat(x, y, lon0: float, lat0: float,
                         lat1: float, lat2: float,
                         x0: float = 0.0, y0: float = 0.0,
                         radius: float = 6370997.0):
    """Spherical Albers inverse (Snyder 14-8..14-11)."""
    n, c_cap, rho0 = albers_sph_constants(lat0, lat1, lat2, radius)
    xs = np.asarray(x, dtype=np.float64) - x0
    ys = np.asarray(y, dtype=np.float64) - y0
    sgn = 1.0 if n >= 0 else -1.0
    rho = sgn * np.sqrt(xs * xs + (rho0 - ys) * (rho0 - ys))
    theta = np.arctan2(sgn * xs, sgn * (rho0 - ys))
    phi = np.arcsin(np.clip((c_cap - (rho * n / radius) ** 2) / (2.0 * n),
                            -1.0, 1.0))
    return _wrap_deg(lon0 + np.degrees(theta / n)), np.degrees(phi)


def lcc_sph_constants(lat0: float, lat1: float, lat2: float,
                      radius: float = 6370997.0, k0: float = 1.0):
    """Spherical Lambert conformal conic constants (Snyder 15-3, 15-2,
    15-1a at phi0): (n, rf, rho0) where rf = k0*R*F so the inverse's
    rf/rho is ONE precomputed double (the SQL oracle renders it as a
    literal and must reproduce the engine arithmetic term-for-term)."""
    phi0, phi1, phi2 = (np.radians(np.float64(v)) for v in (lat0, lat1, lat2))
    if lat1 == lat2:
        n = np.sin(phi1)
    else:
        n = (np.log(np.cos(phi1) / np.cos(phi2))
             / np.log(np.tan(np.pi / 4.0 + phi2 / 2.0)
                      / np.tan(np.pi / 4.0 + phi1 / 2.0)))
    f_cap = np.cos(phi1) * np.tan(np.pi / 4.0 + phi1 / 2.0) ** n / n
    rf = k0 * radius * f_cap
    rho0 = rf / np.tan(np.pi / 4.0 + phi0 / 2.0) ** n
    return float(n), float(rf), float(rho0)


def lonlat_to_lcc_sph(lon, lat, lon0: float, lat0: float,
                      lat1: float, lat2: float,
                      x0: float = 0.0, y0: float = 0.0,
                      radius: float = 6370997.0, k0: float = 1.0):
    """Spherical Lambert conformal conic forward (Snyder 15-1, 15-4)."""
    n, rf, rho0 = lcc_sph_constants(lat0, lat1, lat2, radius, k0)
    lam = np.radians(_wrap_deg(np.asarray(lon, dtype=np.float64) - lon0))
    phi = np.radians(np.asarray(lat, dtype=np.float64))
    rho = rf / np.tan(np.pi / 4.0 + phi / 2.0) ** n
    theta = n * lam
    return x0 + rho * np.sin(theta), y0 + rho0 - rho * np.cos(theta)


def lcc_sph_to_lonlat(x, y, lon0: float, lat0: float,
                      lat1: float, lat2: float,
                      x0: float = 0.0, y0: float = 0.0,
                      radius: float = 6370997.0, k0: float = 1.0):
    """Spherical LCC inverse (Snyder 15-5, 14-10/11): phi = 2*atan((rf/
    rho)^(1/n)) - pi/2. The expression tree mirrors the SQL oracle of the
    reproject_sphere gate exactly (same precomputed rf, rho0, 1/n)."""
    n, rf, rho0 = lcc_sph_constants(lat0, lat1, lat2, radius, k0)
    inv_n = 1.0 / n
    xs = np.asarray(x, dtype=np.float64) - x0
    ys = np.asarray(y, dtype=np.float64) - y0
    sgn = 1.0 if n >= 0 else -1.0
    rho = sgn * np.sqrt(xs * xs + (rho0 - ys) * (rho0 - ys))
    theta = np.arctan2(sgn * xs, sgn * (rho0 - ys))
    phi = 2.0 * np.arctan(np.power(rf / rho, inv_n)) - np.pi / 2.0
    return _wrap_deg(lon0 + np.degrees(theta / n)), np.degrees(phi)


# ---------------------------------------------------------------------------
# Stereographic (Snyder ch. 21): POLAR ellipsoidal aspect (the EPSG:3413 /
# 3031 / 5041 polar-grid family, +lat_ts or +k_0 scaling) and the general
# OBLIQUE spherical form. Oblique ELLIPSOIDAL stereographic is fail-loud in
# parse_proj4 (the EPSG variant is the double-stereographic, a different
# projection the engine does not approximate).
# ---------------------------------------------------------------------------

def stere_polar_rf(k0: float | None = None, lat_ts: float | None = None,
                   ell_a: float = _WGS84_A, e2: float = _E2) -> float:
    """The single radial constant rf of the polar stereographic: rho =
    rf * t(|phi|). With +lat_ts (Snyder 21-34): rf = a*m(ts)/t(ts); with
    +k_0 (Snyder 21-33): rf = 2*a*k0 / sqrt((1+e)^(1+e)*(1-e)^(1-e))."""
    e1 = float(np.sqrt(e2))
    if lat_ts is not None:
        ts = np.radians(np.float64(abs(lat_ts)))
        return float(ell_a * _m_ell(ts, e2) / _t_conf(ts, e1))
    return float(2.0 * ell_a * (1.0 if k0 is None else k0)
                 / np.sqrt((1.0 + e1) ** (1.0 + e1) * (1.0 - e1) ** (1.0 - e1)))


def lonlat_to_stere_polar(lon, lat, lon0: float, rf: float,
                          x0: float = 0.0, y0: float = 0.0,
                          north: bool = True, e2: float = _E2):
    """Polar ellipsoidal stereographic forward (Snyder 21-30/31 with
    21-33/34 folded into ``rf``). South aspect mirrors phi and the y
    axis (Snyder's phi->-phi, lam->lam convention)."""
    e1 = np.sqrt(e2)
    lam = np.radians(_wrap_deg(np.asarray(lon, dtype=np.float64) - lon0))
    phi = np.radians(np.asarray(lat, dtype=np.float64))
    if not north:
        phi = -phi
    rho = rf * _t_conf(phi, e1)
    x = x0 + rho * np.sin(lam)
    y = y0 - rho * np.cos(lam) if north else y0 + rho * np.cos(lam)
    return x, y


_STERE_ITERS = 8  # same pinned conformal iteration count as merc/lcc


def stere_polar_to_lonlat(x, y, lon0: float, rf: float,
                          x0: float = 0.0, y0: float = 0.0,
                          north: bool = True, e2: float = _E2):
    """Polar ellipsoidal stereographic inverse (Snyder 21-39/40 + the 7-9
    conformal fixed point, 8 steps pinned — the reproject_stere SQL twin
    unrolls the identical arithmetic)."""
    e1 = np.sqrt(e2)
    xs = np.asarray(x, dtype=np.float64) - x0
    ys = np.asarray(y, dtype=np.float64) - y0
    rho = np.sqrt(xs * xs + ys * ys)
    t = rho / rf
    phi = np.pi / 2.0 - 2.0 * np.arctan(t)
    for _ in range(_STERE_ITERS):
        s = np.sin(phi)
        phi = (np.pi / 2.0
               - 2.0 * np.arctan(t * np.power((1.0 - e1 * s) / (1.0 + e1 * s),
                                              e1 / 2.0)))
    lam = np.arctan2(xs, -ys) if north else np.arctan2(xs, ys)
    if not north:
        phi = -phi
    return _wrap_deg(lon0 + np.degrees(lam)), np.degrees(phi)


def lonlat_to_stere_sph(lon, lat, lon0: float, lat0: float,
                        x0: float = 0.0, y0: float = 0.0,
                        radius: float = 6370997.0, k0: float = 1.0):
    """Oblique spherical stereographic forward (Snyder 21-2..21-4)."""
    lam = np.radians(_wrap_deg(np.asarray(lon, dtype=np.float64) - lon0))
    phi = np.radians(np.asarray(lat, dtype=np.float64))
    phi0 = np.radians(np.float64(lat0))
    k = 2.0 * k0 / (1.0 + np.sin(phi0) * np.sin(phi)
                    + np.cos(phi0) * np.cos(phi) * np.cos(lam))
    x = x0 + radius * k * np.cos(phi) * np.sin(lam)
    y = y0 + radius * k * (np.cos(phi0) * np.sin(phi)
                           - np.sin(phi0) * np.cos(phi) * np.cos(lam))
    return x, y


def stere_sph_to_lonlat(x, y, lon0: float, lat0: float,
                        x0: float = 0.0, y0: float = 0.0,
                        radius: float = 6370997.0, k0: float = 1.0):
    """Oblique spherical stereographic inverse (Snyder 20-14..20-17 with
    c = 2*atan(rho/(2*R*k0)), 21-15)."""
    xs = np.asarray(x, dtype=np.float64) - x0
    ys = np.asarray(y, dtype=np.float64) - y0
    phi0 = np.radians(np.float64(lat0))
    rho = np.sqrt(xs * xs + ys * ys)
    c = 2.0 * np.arctan(rho / (2.0 * radius * k0))
    safe = np.where(rho > 0.0, rho, 1.0)
    phi = np.arcsin(np.clip(
        np.cos(c) * np.sin(phi0)
        + np.where(rho > 0.0, ys * np.sin(c) * np.cos(phi0) / safe, 0.0),
        -1.0, 1.0))
    lam = np.arctan2(xs * np.sin(c),
                     safe * np.cos(phi0) * np.cos(c)
                     - ys * np.sin(phi0) * np.sin(c))
    lam = np.where(rho > 0.0, lam, 0.0)
    return _wrap_deg(lon0 + np.degrees(lam)), np.degrees(phi)


# ---------------------------------------------------------------------------
# Oblique (double) stereographic — the EPSG "Oblique Stereographic" method
# (Guidance Note 7-2; proj4 ``+proj=sterea``), i.e. the EPSG:28992
# Amersfoort / RD New national grid: ellipsoid -> Gauss conformal sphere ->
# oblique spherical stereographic. This is a DIFFERENT projection from
# Snyder's +proj=stere (which stays fail-loud for oblique ellipsoidal).
# ---------------------------------------------------------------------------

@_lru_cache(maxsize=None)
def _sterea_params(lat0: float, ell_a: float, e2: float):
    """Conformal-sphere constants (R, n, c, chi0) of the EPSG oblique
    stereographic at latitude-of-origin ``lat0`` (GN 7-2: R = sqrt(rho0 *
    nu0), n, the w1/w2 chain and the conformal origin latitude chi0)."""
    e1 = float(np.sqrt(e2))
    p0 = np.radians(np.float64(lat0))
    s0 = float(np.sin(p0))
    rho0 = ell_a * (1.0 - e2) / (1.0 - e2 * s0 * s0) ** 1.5
    nu0 = ell_a / np.sqrt(1.0 - e2 * s0 * s0)
    r = float(np.sqrt(rho0 * nu0))
    n = float(np.sqrt(1.0 + e2 * np.cos(p0) ** 4 / (1.0 - e2)))
    s1 = (1.0 + s0) / (1.0 - s0)
    s2 = (1.0 - e1 * s0) / (1.0 + e1 * s0)
    w1 = (s1 * s2 ** e1) ** n
    sin_chi00 = (w1 - 1.0) / (w1 + 1.0)
    c = ((n + s0) * (1.0 - sin_chi00)) / ((n - s0) * (1.0 + sin_chi00))
    w2 = c * w1
    chi0 = float(np.arcsin((w2 - 1.0) / (w2 + 1.0)))
    return r, n, c, chi0


def lonlat_to_sterea(lon, lat, lon0: float, lat0: float, k0: float = 1.0,
                     x0: float = 0.0, y0: float = 0.0,
                     ell_a: float = _WGS84_A, e2: float = _E2):
    """EPSG oblique (double) stereographic forward (GN 7-2): conformal
    latitude chi via the w chain, then the spherical oblique stereographic
    on the conformal sphere."""
    r, n, c, chi0 = _sterea_params(lat0, ell_a, e2)
    e1 = np.sqrt(e2)
    dl = n * np.radians(_wrap_deg(np.asarray(lon, dtype=np.float64) - lon0))
    phi = np.radians(np.asarray(lat, dtype=np.float64))
    s = np.sin(phi)
    w = c * np.power(((1.0 + s) / (1.0 - s))
                     * np.power((1.0 - e1 * s) / (1.0 + e1 * s), e1), n)
    chi = np.arcsin((w - 1.0) / (w + 1.0))
    b = (1.0 + np.sin(chi) * np.sin(chi0)
         + np.cos(chi) * np.cos(chi0) * np.cos(dl))
    x = x0 + 2.0 * r * k0 * np.cos(chi) * np.sin(dl) / b
    y = y0 + 2.0 * r * k0 * (np.sin(chi) * np.cos(chi0)
                             - np.cos(chi) * np.sin(chi0) * np.cos(dl)) / b
    return x, y


_STEREA_ITERS = 8  # pinned isometric-latitude iteration (SQL-twinned)


def sterea_to_lonlat(x, y, lon0: float, lat0: float, k0: float = 1.0,
                     x0: float = 0.0, y0: float = 0.0,
                     ell_a: float = _WGS84_A, e2: float = _E2):
    """EPSG oblique stereographic inverse (GN 7-2): the g/h/i/j closed
    forms to (chi, Lambda), then the pinned isometric-latitude fixed point
    phi <- phi - (psi(phi) - psi)*cos(phi)*(1 - e2 sin^2 phi)/(1 - e2)."""
    r, n, c, chi0 = _sterea_params(lat0, ell_a, e2)
    e1 = np.sqrt(e2)
    xs = np.asarray(x, dtype=np.float64) - x0
    ys = np.asarray(y, dtype=np.float64) - y0
    g = 2.0 * r * k0 * np.tan(np.pi / 4.0 - chi0 / 2.0)
    h = 4.0 * r * k0 * np.tan(chi0) + g
    i = np.arctan2(xs, h + ys)
    j = np.arctan2(xs, g - ys) - i
    chi = chi0 + 2.0 * np.arctan((ys - xs * np.tan(j / 2.0))
                                 / (2.0 * r * k0))
    lon = _wrap_deg(lon0 + np.degrees((j + 2.0 * i) / n))
    psi = 0.5 * np.log((1.0 + np.sin(chi))
                       / (c * (1.0 - np.sin(chi)))) / n
    phi = 2.0 * np.arctan(np.exp(psi)) - np.pi / 2.0
    for _ in range(_STEREA_ITERS):
        s = np.sin(phi)
        psi_i = (np.log(np.tan(phi / 2.0 + np.pi / 4.0))
                 - (e1 / 2.0) * np.log((1.0 + e1 * s) / (1.0 - e1 * s)))
        phi = phi - (psi_i - psi) * np.cos(phi) * (1.0 - e2 * s * s) / (1.0 - e2)
    return lon, np.degrees(phi)


# ---------------------------------------------------------------------------
# Swiss oblique Mercator (proj4 ``+proj=somerc``) — the CH1903 / LV03
# (EPSG:21781) and CH1903+ / LV95 (EPSG:2056) national-grid method, from
# the published swisstopo projection formulas ("Formulas and constants for
# the calculation of the Swiss conformal cylindrical projection"): a
# DOUBLE projection like sterea — ellipsoid -> Gauss conformal sphere
# (R = sqrt(M0*N0), alpha, b0, K at the latitude of origin), then the
# sphere is rotated so the projection centre becomes the origin, then a
# plain Mercator on the rotated sphere. The inverse closes with the same
# pinned isometric-latitude fixed point the sterea kernel uses.
# ---------------------------------------------------------------------------

def _somerc_params(lat0: float, ell_a: float, e2: float):
    """Gauss conformal-sphere constants (R, alpha, b0, K) of the Swiss
    oblique Mercator at latitude-of-origin ``lat0``."""
    e1 = float(np.sqrt(e2))
    p0 = np.radians(np.float64(lat0))
    s0 = float(np.sin(p0))
    r = float(ell_a * np.sqrt(1.0 - e2) / (1.0 - e2 * s0 * s0))
    alpha = float(np.sqrt(1.0 + e2 * np.cos(p0) ** 4 / (1.0 - e2)))
    b0 = float(np.arcsin(s0 / alpha))
    k = float(np.log(np.tan(np.pi / 4.0 + b0 / 2.0))
              - alpha * np.log(np.tan(np.pi / 4.0 + p0 / 2.0))
              + alpha * e1 / 2.0
              * np.log((1.0 + e1 * s0) / (1.0 - e1 * s0)))
    return r, alpha, b0, k


# ---------------------------------------------------------------------------
# Krovak (EPSG method 9819 — the S-JTSK Czech/Slovak national grid,
# EPSG:2065 southing/westing and EPSG:5514 east/north): oblique conformal
# conic via a conformal sphere tilted to the cone axis. The EPSG longitude
# of origin is 42°30' east of Ferro == 24°50' GREENWICH — the proj4
# +lon_0=24.833333... convention (Greenwich in, Greenwich params) is used
# here; no Ferro arithmetic appears in the kernels.
# ---------------------------------------------------------------------------


def _krovak_consts(lat0: float, lat_p: float, k_p: float,
                   a: float, e2: float):
    """GN7-2 constant set: A (Gaussian radius at phiC), B, gamma0, t0,
    n = sin(phiP), r0."""
    e1 = np.sqrt(e2)
    phic = np.radians(np.float64(lat0))
    A = a * np.sqrt(1.0 - e2) / (1.0 - e2 * np.sin(phic) ** 2)
    B = np.sqrt(1.0 + e2 * np.cos(phic) ** 4 / (1.0 - e2))
    g0 = np.arcsin(np.sin(phic) / B)
    t0 = (np.tan(np.pi / 4.0 + g0 / 2.0)
          * ((1.0 + e1 * np.sin(phic))
             / (1.0 - e1 * np.sin(phic))) ** (e1 * B / 2.0)
          / np.tan(np.pi / 4.0 + phic / 2.0) ** B)
    n = np.sin(np.radians(np.float64(lat_p)))
    r0 = k_p * A / np.tan(np.radians(np.float64(lat_p)))
    return float(A), float(B), float(g0), float(t0), float(n), float(r0)


def lonlat_to_krovak(lon, lat, lon0: float, lat0: float,
                     alpha_c: float, lat_p: float, k_p: float,
                     a: float, e2: float, x0: float = 0.0,
                     y0: float = 0.0, czech: bool = False):
    """Krovak forward (GN7-2 9819): Greenwich lon/lat -> EPSG:5514
    east/north (negative in-country), or positive southing/westing
    (EPSG:2065) with ``czech=True``."""
    e1 = np.sqrt(e2)
    A, B, g0, t0, n, r0 = _krovak_consts(lat0, lat_p, k_p, a, e2)
    ac = np.radians(np.float64(alpha_c))
    phi = np.radians(np.asarray(lat, dtype=np.float64))
    U = 2.0 * (np.arctan(
        t0 * np.tan(phi / 2.0 + np.pi / 4.0) ** B
        / ((1.0 + e1 * np.sin(phi))
           / (1.0 - e1 * np.sin(phi))) ** (e1 * B / 2.0)) - np.pi / 4.0)
    V = B * np.radians(lon0 - np.asarray(lon, dtype=np.float64))
    T = np.arcsin(np.clip(np.cos(ac) * np.sin(U)
                          + np.sin(ac) * np.cos(U) * np.cos(V),
                          -1.0, 1.0))
    D = np.arcsin(np.clip(np.cos(U) * np.sin(V) / np.cos(T), -1.0, 1.0))
    theta = n * D
    phip = np.radians(np.float64(lat_p))
    r = (r0 * np.tan(np.pi / 4.0 + phip / 2.0) ** n
         / np.tan(T / 2.0 + np.pi / 4.0) ** n)
    Xs = r * np.cos(theta)   # southing
    Yw = r * np.sin(theta)   # westing
    if czech:
        return Xs + x0, Yw + y0
    return -Yw + x0, -Xs + y0  # EPSG:5514 east/north


_KROVAK_ITERS = 8  # pinned (the SQL twin unrolls exactly these)


def krovak_to_lonlat(x, y, lon0: float, lat0: float,
                     alpha_c: float, lat_p: float, k_p: float,
                     a: float, e2: float, x0: float = 0.0,
                     y0: float = 0.0, czech: bool = False):
    """Krovak inverse: conic unroll to (T, D), rotate back to (U, V),
    then the pinned isometric-latitude fixed point for phi."""
    e1 = np.sqrt(e2)
    A, B, g0, t0, n, r0 = _krovak_consts(lat0, lat_p, k_p, a, e2)
    ac = np.radians(np.float64(alpha_c))
    if czech:
        Xs = np.asarray(x, dtype=np.float64) - x0
        Yw = np.asarray(y, dtype=np.float64) - y0
    else:
        Yw = -(np.asarray(x, dtype=np.float64) - x0)
        Xs = -(np.asarray(y, dtype=np.float64) - y0)
    r = np.sqrt(Xs * Xs + Yw * Yw)
    theta = np.arctan2(Yw, Xs)
    D = theta / n
    phip = np.radians(np.float64(lat_p))
    T = 2.0 * (np.arctan(
        (r0 / r) ** (1.0 / n) * np.tan(np.pi / 4.0 + phip / 2.0))
        - np.pi / 4.0)
    U = np.arcsin(np.clip(np.cos(ac) * np.sin(T)
                          - np.sin(ac) * np.cos(T) * np.cos(D),
                          -1.0, 1.0))
    V = np.arcsin(np.clip(np.cos(T) * np.sin(D) / np.cos(U), -1.0, 1.0))
    lam = lon0 - np.degrees(V / B)
    tU = (np.tan(U / 2.0 + np.pi / 4.0) / t0) ** (1.0 / B)
    phi = U
    for _ in range(_KROVAK_ITERS):
        s = np.sin(phi)
        phi = 2.0 * (np.arctan(
            tU * ((1.0 + e1 * s) / (1.0 - e1 * s)) ** (e1 / 2.0))
            - np.pi / 4.0)
    return _wrap_deg(lam), np.degrees(phi)


def lonlat_to_somerc(lon, lat, lon0: float, lat0: float, k0: float = 1.0,
                     x0: float = 0.0, y0: float = 0.0,
                     ell_a: float = _WGS84_A, e2: float = _E2):
    """Swiss oblique Mercator forward: conformal-sphere latitude b from
    the isometric chain (S = alpha*psi(phi) + K), rotation taking the
    centre (b0, 0) to the origin, Mercator on the rotated sphere."""
    r, alpha, b0, k = _somerc_params(lat0, ell_a, e2)
    e1 = np.sqrt(e2)
    lam = alpha * np.radians(_wrap_deg(np.asarray(lon, dtype=np.float64)
                                       - lon0))
    phi = np.radians(np.asarray(lat, dtype=np.float64))
    s = np.sin(phi)
    big_s = (alpha * np.log(np.tan(np.pi / 4.0 + phi / 2.0))
             - alpha * (e1 / 2.0)
             * np.log((1.0 + e1 * s) / (1.0 - e1 * s)) + k)
    b = 2.0 * (np.arctan(np.exp(big_s)) - np.pi / 4.0)
    sb, cb = np.sin(b), np.cos(b)
    sb0, cb0 = np.sin(b0), np.cos(b0)
    bb = np.arcsin(cb0 * sb - sb0 * cb * np.cos(lam))
    ll = np.arctan2(cb * np.sin(lam), cb0 * cb * np.cos(lam) + sb0 * sb)
    x = x0 + k0 * r * ll
    y = y0 + k0 * r * (0.5 * np.log((1.0 + np.sin(bb))
                                    / (1.0 - np.sin(bb))))
    return x, y


_SOMERC_ITERS = 8  # same pinned isometric-latitude iteration as sterea


def somerc_to_lonlat(x, y, lon0: float, lat0: float, k0: float = 1.0,
                     x0: float = 0.0, y0: float = 0.0,
                     ell_a: float = _WGS84_A, e2: float = _E2):
    """Swiss oblique Mercator inverse: Mercator inverse on the rotated
    sphere, inverse rotation, then the ellipsoidal latitude by the pinned
    isometric-latitude fixed point (psi = (S - K)/alpha). Mirrored
    term-for-term by the ``reproject_somerc`` SQL oracle."""
    r, alpha, b0, k = _somerc_params(lat0, ell_a, e2)
    e1 = np.sqrt(e2)
    ll = (np.asarray(x, dtype=np.float64) - x0) / (k0 * r)
    bb = 2.0 * np.arctan(np.exp((np.asarray(y, dtype=np.float64) - y0)
                                / (k0 * r))) - np.pi / 2.0
    sb0, cb0 = np.sin(b0), np.cos(b0)
    sbb, cbb = np.sin(bb), np.cos(bb)
    b = np.arcsin(cb0 * sbb + sb0 * cbb * np.cos(ll))
    lam = np.arctan2(cbb * np.sin(ll),
                     cb0 * cbb * np.cos(ll) - sb0 * sbb)
    lon = _wrap_deg(lon0 + np.degrees(lam / alpha))
    psi = (np.log(np.tan(np.pi / 4.0 + b / 2.0)) - k) / alpha
    phi = 2.0 * np.arctan(np.exp(psi)) - np.pi / 2.0
    for _ in range(_SOMERC_ITERS):
        s = np.sin(phi)
        psi_i = (np.log(np.tan(phi / 2.0 + np.pi / 4.0))
                 - (e1 / 2.0) * np.log((1.0 + e1 * s) / (1.0 - e1 * s)))
        phi = phi - (psi_i - psi) * np.cos(phi) \
            * (1.0 - e2 * s * s) / (1.0 - e2)
    return lon, np.degrees(phi)


# ---------------------------------------------------------------------------
# Hotine oblique Mercator (proj4 ``+proj=omerc`` with +alpha — EPSG methods
# 9812 "variant A" / 9815 "variant B"): the Timbalai 1948 / RSO Borneo
# (EPSG:29871-29873), Malaysia GDM2000 RSO, Alaska zone 1 and Swiss-style
# rotated-grid family. EPSG Guidance Note 7-2 formulas: an "aposphere"
# constant set (B, A, t0, D, F, H, G, gamma0, lam0) at the projection
# centre, conformal mapping to (u, v) skew coordinates along the initial
# line at azimuth alpha_c, then rectification by the grid angle gamma_c.
# Variant B (proj4 default) additionally shifts u by the centre offset
# u_c so the false origin sits at the projection CENTRE; ``+no_off``
# selects variant A (natural-origin false easting/northing).
# ---------------------------------------------------------------------------

@_lru_cache(maxsize=None)
def _omerc_params(lat0: float, alphac: float, k0: float,
                  ell_a: float, e2: float):
    """EPSG GN7-2 Hotine constants (B, A, H, gamma0, lam0_offset, u_c)
    at centre latitude ``lat0`` and initial-line azimuth ``alphac``
    (both degrees). ``lam0_offset`` is the (radian) longitude offset
    lam_c - lam_0; u_c carries SIGN(lat0) per the EPSG convention."""
    e1 = float(np.sqrt(e2))
    p0 = np.radians(np.float64(lat0))
    s0, c0 = float(np.sin(p0)), float(np.cos(p0))
    big_b = float(np.sqrt(1.0 + e2 * c0 ** 4 / (1.0 - e2)))
    big_a = float(ell_a * big_b * k0 * np.sqrt(1.0 - e2)
                  / (1.0 - e2 * s0 * s0))
    t0 = float(np.tan(np.pi / 4.0 - p0 / 2.0)
               / ((1.0 - e1 * s0) / (1.0 + e1 * s0)) ** (e1 / 2.0))
    big_d = float(big_b * np.sqrt(1.0 - e2)
                  / (c0 * np.sqrt(1.0 - e2 * s0 * s0)))
    d2 = big_d * big_d if big_d * big_d >= 1.0 else 1.0  # EPSG: clamp
    sign0 = 1.0 if lat0 >= 0.0 else -1.0
    big_f = float(big_d + np.sqrt(d2 - 1.0) * sign0)
    big_h = float(big_f * t0 ** big_b)
    big_g = float((big_f - 1.0 / big_f) / 2.0)
    ac = np.radians(np.float64(alphac))
    gamma0 = float(np.arcsin(np.sin(ac) / big_d))
    lam0_off = float(np.arcsin(big_g * np.tan(gamma0)) / big_b)
    uc = float((big_a / big_b) * np.arctan2(np.sqrt(d2 - 1.0),
                                            np.cos(ac)) * sign0)
    return big_b, big_a, big_h, gamma0, lam0_off, uc


def lonlat_to_omerc(lon, lat, lonc: float, lat0: float, alphac: float,
                    gammac: float, k0: float = 1.0,
                    x0: float = 0.0, y0: float = 0.0,
                    no_off: bool = False,
                    ell_a: float = _WGS84_A, e2: float = _E2):
    """Hotine oblique Mercator forward (EPSG GN7-2 variant B; variant A
    with ``no_off=True``): conformal t(phi), Q/S/T/U/V chain to the skew
    (u, v) axes, then rectification by the grid angle ``gammac``."""
    big_b, big_a, big_h, g0, l0off, uc = _omerc_params(lat0, alphac, k0,
                                                       ell_a, e2)
    e1 = np.sqrt(e2)
    lam0_deg = lonc - np.degrees(l0off)
    phi = np.radians(np.asarray(lat, dtype=np.float64))
    sphi = np.sin(phi)
    t = (np.tan(np.pi / 4.0 - phi / 2.0)
         / np.power((1.0 - e1 * sphi) / (1.0 + e1 * sphi), e1 / 2.0))
    big_q = big_h / np.power(t, big_b)
    big_s = (big_q - 1.0 / big_q) / 2.0
    big_t = (big_q + 1.0 / big_q) / 2.0
    dlr = big_b * np.radians(_wrap_deg(np.asarray(lon, dtype=np.float64)
                                       - lam0_deg))
    big_v = np.sin(dlr)
    big_u = (-big_v * np.cos(g0) + big_s * np.sin(g0)) / big_t
    v = big_a * np.log((1.0 - big_u) / (1.0 + big_u)) / (2.0 * big_b)
    u = big_a * np.arctan2(big_s * np.cos(g0) + big_v * np.sin(g0),
                           np.cos(dlr)) / big_b
    if not no_off:
        u = u - uc
    gc = np.radians(np.float64(gammac))
    x = v * np.cos(gc) + u * np.sin(gc) + x0
    y = u * np.cos(gc) - v * np.sin(gc) + y0
    return x, y


_OMERC_ITERS = 8  # pinned isometric-latitude iteration (as somerc/sterea)


def omerc_to_lonlat(x, y, lonc: float, lat0: float, alphac: float,
                    gammac: float, k0: float = 1.0,
                    x0: float = 0.0, y0: float = 0.0,
                    no_off: bool = False,
                    ell_a: float = _WGS84_A, e2: float = _E2):
    """Hotine oblique Mercator inverse (EPSG GN7-2): de-rectify to
    (u', v'), Q'/S'/T'/U'/V' chain to t', then the ellipsoidal latitude
    by the pinned isometric-latitude fixed point (psi = -ln t' IS the
    isometric latitude, so the iteration is the somerc/sterea one
    verbatim). Mirrored term-for-term by the ``reproject_omerc`` SQL
    oracle."""
    big_b, big_a, big_h, g0, l0off, uc = _omerc_params(lat0, alphac, k0,
                                                       ell_a, e2)
    e1 = np.sqrt(e2)
    lam0 = np.radians(np.float64(lonc)) - l0off
    gc = np.radians(np.float64(gammac))
    xs = np.asarray(x, dtype=np.float64) - x0
    ys = np.asarray(y, dtype=np.float64) - y0
    vr = xs * np.cos(gc) - ys * np.sin(gc)
    ur = ys * np.cos(gc) + xs * np.sin(gc)
    if not no_off:
        ur = ur + uc
    qp = np.exp(-(big_b * vr / big_a))
    sp = (qp - 1.0 / qp) / 2.0
    tp = (qp + 1.0 / qp) / 2.0
    vp = np.sin(big_b * ur / big_a)
    up = (vp * np.cos(g0) + sp * np.sin(g0)) / tp
    t_p = np.power(big_h / np.sqrt((1.0 + up) / (1.0 - up)), 1.0 / big_b)
    lam = lam0 - np.arctan2(sp * np.cos(g0) - vp * np.sin(g0),
                            np.cos(big_b * ur / big_a)) / big_b
    lon = _wrap_deg(np.degrees(lam))
    psi = -np.log(t_p)
    phi = 2.0 * np.arctan(np.exp(psi)) - np.pi / 2.0
    for _ in range(_OMERC_ITERS):
        s = np.sin(phi)
        psi_i = (np.log(np.tan(phi / 2.0 + np.pi / 4.0))
                 - (e1 / 2.0) * np.log((1.0 + e1 * s) / (1.0 - e1 * s)))
        phi = phi - (psi_i - psi) * np.cos(phi) \
            * (1.0 - e2 * s * s) / (1.0 - e2)
    return lon, np.degrees(phi)


# ---------------------------------------------------------------------------
# Sinusoidal (Snyder ch. 30) — the MODIS land-product grid family
# (+proj=sinu +R=6371007.181). Spherical closed forms plus the ellipsoidal
# form via the meridional arc (Snyder 3-21 series + pinned Newton inverse).
# ---------------------------------------------------------------------------

MODIS_SPHERE_R = 6371007.181  # the authalic radius the MODIS grid publishes


def lonlat_to_sinu_sph(lon, lat, lon0: float,
                       x0: float = 0.0, y0: float = 0.0,
                       radius: float = MODIS_SPHERE_R):
    """Spherical sinusoidal forward (Snyder 30-1/30-2): x = R*lam*cos(phi),
    y = R*phi. Equal-area, pseudocylindrical."""
    lam = np.radians(_wrap_deg(np.asarray(lon, dtype=np.float64) - lon0))
    phi = np.radians(np.asarray(lat, dtype=np.float64))
    return x0 + radius * lam * np.cos(phi), y0 + radius * phi


def sinu_sph_to_lonlat(x, y, lon0: float,
                       x0: float = 0.0, y0: float = 0.0,
                       radius: float = MODIS_SPHERE_R):
    """Spherical sinusoidal inverse (Snyder 30-5/30-6, exact closed form —
    the reproject_sinu SQL twin recomputes the identical arithmetic)."""
    phi = (np.asarray(y, dtype=np.float64) - y0) / radius
    lam = (np.asarray(x, dtype=np.float64) - x0) / (radius * np.cos(phi))
    return _wrap_deg(lon0 + np.degrees(lam)), np.degrees(phi)


@_lru_cache(maxsize=None)
def _merid_coeffs(e2: float) -> tuple[float, float, float, float]:
    """Meridional-arc series coefficients (Snyder 3-21), cached per e2."""
    e4, e6 = e2 * e2, e2 * e2 * e2
    return (1.0 - e2 / 4.0 - 3.0 * e4 / 64.0 - 5.0 * e6 / 256.0,
            3.0 * e2 / 8.0 + 3.0 * e4 / 32.0 + 45.0 * e6 / 1024.0,
            15.0 * e4 / 256.0 + 45.0 * e6 / 1024.0,
            35.0 * e6 / 3072.0)


def merid_arc(phi, ell_a: float = _WGS84_A, e2: float = _E2):
    """Meridional arc length M(phi) from the equator (Snyder 3-21)."""
    c0, c2, c4, c6 = _merid_coeffs(e2)
    phi = np.asarray(phi, dtype=np.float64)
    return ell_a * (c0 * phi - c2 * np.sin(2.0 * phi)
                    + c4 * np.sin(4.0 * phi) - c6 * np.sin(6.0 * phi))


_SINU_ITERS = 6  # pinned Newton steps for the meridional-arc inverse


def lonlat_to_sinu(lon, lat, lon0: float,
                   x0: float = 0.0, y0: float = 0.0,
                   ell_a: float = _WGS84_A, e2: float = _E2):
    """Ellipsoidal sinusoidal forward (Snyder 30-8/30-9):
    x = a*lam*cos(phi)/sqrt(1 - e2*sin^2 phi), y = M(phi)."""
    lam = np.radians(_wrap_deg(np.asarray(lon, dtype=np.float64) - lon0))
    phi = np.radians(np.asarray(lat, dtype=np.float64))
    s = np.sin(phi)
    x = x0 + ell_a * lam * np.cos(phi) / np.sqrt(1.0 - e2 * s * s)
    return x, y0 + merid_arc(phi, ell_a, e2)


def sinu_to_lonlat(x, y, lon0: float,
                   x0: float = 0.0, y0: float = 0.0,
                   ell_a: float = _WGS84_A, e2: float = _E2):
    """Ellipsoidal sinusoidal inverse: phi from M by pinned Newton
    (rectifying-latitude start, derivative a(1-e2)/(1-e2 sin^2)^(3/2) —
    Snyder 30-10/30-11), then lam from 30-8."""
    c0, _, _, _ = _merid_coeffs(e2)
    m = np.asarray(y, dtype=np.float64) - y0
    phi = m / (ell_a * c0)
    for _ in range(_SINU_ITERS):
        s = np.sin(phi)
        dm = ell_a * (1.0 - e2) / np.power(1.0 - e2 * s * s, 1.5)
        phi = phi - (merid_arc(phi, ell_a, e2) - m) / dm
    s = np.sin(phi)
    lam = ((np.asarray(x, dtype=np.float64) - x0)
           * np.sqrt(1.0 - e2 * s * s) / (ell_a * np.cos(phi)))
    return _wrap_deg(lon0 + np.degrees(lam)), np.degrees(phi)


# ---------------------------------------------------------------------------
# Cylindrical equal-area (Snyder ch. 10) — the EASE-Grid 2.0 family
# (EPSG:6933 global, +lat_ts=30 on WGS84). Ellipsoidal form rides the same
# authalic q machinery as LAEA/Albers; spherical is the Lambert/Behrmann
# closed form.
# ---------------------------------------------------------------------------

def cea_k0(lat_ts: float, e2: float = _E2) -> float:
    """Standard-parallel scale of the ellipsoidal CEA: k0 = m(ts) =
    cos(ts)/sqrt(1 - e2 sin^2 ts) (Snyder 10-13)."""
    return float(_m_ell(np.radians(np.float64(lat_ts)), e2))


def lonlat_to_cea(lon, lat, lon0: float, k0: float,
                  x0: float = 0.0, y0: float = 0.0,
                  ell_a: float = _WGS84_A, e2: float = _E2):
    """Ellipsoidal cylindrical equal-area forward (Snyder 10-14/10-15):
    x = a*k0*lam, y = a*q(phi)/(2*k0)."""
    lam = np.radians(_wrap_deg(np.asarray(lon, dtype=np.float64) - lon0))
    phi = np.radians(np.asarray(lat, dtype=np.float64))
    x = x0 + ell_a * k0 * lam
    y = y0 + ell_a * _q_authalic(phi, e2) / (2.0 * k0)
    return x, y


def cea_to_lonlat(x, y, lon0: float, k0: float,
                  x0: float = 0.0, y0: float = 0.0,
                  ell_a: float = _WGS84_A, e2: float = _E2):
    """Ellipsoidal CEA inverse (Snyder 10-26 + the 3-16 phi(q) iteration —
    the same 8-step pinned Newton the LAEA/Albers inverses use, so the
    reproject_cea SQL twin reuses their MATERIALIZED iteration CTEs)."""
    qp, _ = _authalic_params(ell_a, e2)
    q = 2.0 * k0 * (np.asarray(y, dtype=np.float64) - y0) / ell_a
    phi = _phi_from_q(q, e2, qp)
    lam = (np.asarray(x, dtype=np.float64) - x0) / (ell_a * k0)
    return _wrap_deg(lon0 + np.degrees(lam)), np.degrees(phi)


def lonlat_to_cea_sph(lon, lat, lon0: float, k0: float,
                      x0: float = 0.0, y0: float = 0.0,
                      radius: float = 6370997.0):
    """Spherical CEA forward (Snyder 10-1/10-2): x = R*k0*lam,
    y = R*sin(phi)/k0. k0 = cos(lat_ts)."""
    lam = np.radians(_wrap_deg(np.asarray(lon, dtype=np.float64) - lon0))
    phi = np.radians(np.asarray(lat, dtype=np.float64))
    return x0 + radius * k0 * lam, y0 + radius * np.sin(phi) / k0


def cea_sph_to_lonlat(x, y, lon0: float, k0: float,
                      x0: float = 0.0, y0: float = 0.0,
                      radius: float = 6370997.0):
    """Spherical CEA inverse (Snyder 10-6/10-7)."""
    phi = np.arcsin(np.clip(
        (np.asarray(y, dtype=np.float64) - y0) * k0 / radius, -1.0, 1.0))
    lam = (np.asarray(x, dtype=np.float64) - x0) / (radius * k0)
    return _wrap_deg(lon0 + np.degrees(lam)), np.degrees(phi)


def lonlat_to_eqc(lon, lat, lon0: float, k0: float,
                  x0: float = 0.0, y0: float = 0.0,
                  radius: float = _WGS84_A):
    """Equirectangular / plate carree forward (Snyder 12-1/12-2; proj4
    ``+proj=eqc`` semantics — SPHERICAL formulas on the semi-major axis
    regardless of +ellps, k0 = cos(lat_ts)): x = a*k0*lam, y = a*phi."""
    lam = np.radians(_wrap_deg(np.asarray(lon, dtype=np.float64) - lon0))
    phi = np.radians(np.asarray(lat, dtype=np.float64))
    return x0 + radius * k0 * lam, y0 + radius * phi


def eqc_to_lonlat(x, y, lon0: float, k0: float,
                  x0: float = 0.0, y0: float = 0.0,
                  radius: float = _WGS84_A):
    """Equirectangular inverse (exact closed form)."""
    phi = (np.asarray(y, dtype=np.float64) - y0) / radius
    lam = (np.asarray(x, dtype=np.float64) - x0) / (radius * k0)
    return _wrap_deg(lon0 + np.degrees(lam)), np.degrees(phi)


# ---------------------------------------------------------------------------
# Geostationary satellite view (proj4 ``+proj=geos``) — the GOES-R ABI /
# Meteosat SEVIRI fixed-grid CRS, the native projection of geostationary
# weather rasters. Implemented from the published normalized geostationary
# projection geometry (CGMS LRIT/HRIT Global Specification; GOES-R PUG
# vol. 3 §5.1.2.8): projected coordinates are SCALED SCAN ANGLES,
# x = h * angle, seen from a satellite at geocentric distance a + h on the
# equatorial plane at lon_0. ``sweep="x"`` is the GOES convention (x-axis
# scan first), ``sweep="y"`` the Meteosat convention. Works for both the
# ellipsoidal (rp2 = 1 - e2) and spherical (rp2 = 1) cases in one kernel.
# ---------------------------------------------------------------------------

def lonlat_to_geos(lon, lat, lon0: float, h: float, sweep: str = "y",
                   x0: float = 0.0, y0: float = 0.0,
                   ell_a: float = _WGS84_A, e2: float = _E2):
    """Geostationary forward: geodetic -> geocentric latitude on the
    a-normalized ellipsoid, view vector from the satellite, scan angles
    scaled by h. Points not visible from the satellite (behind the limb)
    map to NaN — the warp machinery treats them as outside the footprint."""
    lam = np.radians(_wrap_deg(np.asarray(lon, dtype=np.float64) - lon0))
    phi = np.radians(np.asarray(lat, dtype=np.float64))
    rp2 = 1.0 - e2                      # (b/a)^2
    rg = 1.0 + h / ell_a                # satellite geocentric dist / a
    phi_c = np.arctan(rp2 * np.tan(phi))
    cc, sc = np.cos(phi_c), np.sin(phi_c)
    r = np.sqrt(rp2) / np.sqrt(rp2 * cc * cc + sc * sc)
    vx = r * np.cos(lam) * cc
    vy = r * np.sin(lam) * cc
    vz = r * sc
    tmp = rg - vx
    vis = (tmp * vx - vy * vy - vz * vz / rp2) >= 0.0
    with np.errstate(invalid="ignore"):
        if sweep == "x":                # GOES: x scans along the x-axis
            x = h * np.arctan(vy / np.sqrt(vz * vz + tmp * tmp))
            y = h * np.arctan(vz / tmp)
        else:                           # Meteosat
            x = h * np.arctan(vy / tmp)
            y = h * np.arctan(vz / np.sqrt(vy * vy + tmp * tmp))
    return (np.where(vis, x + x0, np.nan),
            np.where(vis, y + y0, np.nan))


def geos_to_lonlat(x, y, lon0: float, h: float, sweep: str = "y",
                   x0: float = 0.0, y0: float = 0.0,
                   ell_a: float = _WGS84_A, e2: float = _E2):
    """Geostationary inverse (exact closed form): scan angles -> view-ray
    direction -> nearest intersection with the a-normalized ellipsoid
    (quadratic in the ray parameter; negative discriminant = ray misses
    the Earth -> NaN) -> geocentric then geodetic latitude. Mirrored
    term-for-term by the ``reproject_geos`` SQL oracle — change one only
    with the other."""
    xn = (np.asarray(x, dtype=np.float64) - x0) / h
    yn = (np.asarray(y, dtype=np.float64) - y0) / h
    rp2 = 1.0 - e2
    rg = 1.0 + h / ell_a
    if sweep == "x":
        vz = np.tan(yn)
        vy = np.tan(xn) * np.sqrt(1.0 + vz * vz)
    else:
        vy = np.tan(xn)
        vz = np.tan(yn) * np.sqrt(1.0 + vy * vy)
    qa = vy * vy + vz * vz / rp2 + 1.0
    det = (2.0 * rg) * (2.0 * rg) - 4.0 * qa * (rg * rg - 1.0)
    with np.errstate(invalid="ignore"):
        k = (2.0 * rg - np.sqrt(det)) / (2.0 * qa)
        wx = rg - k
        wy = k * vy
        wz = k * vz
        lam = np.arctan2(wy, wx)
        phi = np.arctan((wz * np.cos(lam) / wx) / rp2)
    return _wrap_deg(lon0 + np.degrees(lam)), np.degrees(phi)


# ---------------------------------------------------------------------------
# Mollweide (proj4 ``+proj=moll``) — the equal-area pseudocylindrical world
# projection (ESRI:54009 "World Mollweide"). proj4 semantics are SPHERICAL
# formulas on the semi-major axis regardless of +ellps (like eqc). Forward
# needs the auxiliary angle from 2*theta + sin(2*theta) = pi*sin(phi)
# (pinned Newton, _MOLL_ITERS steps); the inverse is exact closed form.
# ---------------------------------------------------------------------------

_MOLL_CX = float(2.0 * np.sqrt(2.0) / np.pi)
_MOLL_CY = float(np.sqrt(2.0))
_MOLL_ITERS = 8  # pinned like the other fixed-point inverses


def lonlat_to_aeqd_sph(lon, lat, lon0: float, lat0: float,
                       x0: float = 0.0, y0: float = 0.0,
                       radius: float = 6371000.0):
    """Oblique spherical azimuthal equidistant forward (Snyder 25-1..25-4
    with k' = c/sin c): distances from the center are TRUE. Ellipsoidal
    aeqd needs geodesics and is fail-loud in parse_proj4."""
    lam = np.radians(_wrap_deg(np.asarray(lon, dtype=np.float64) - lon0))
    phi = np.radians(np.asarray(lat, dtype=np.float64))
    phi0 = np.radians(np.float64(lat0))
    cosc = np.clip(np.sin(phi0) * np.sin(phi)
                   + np.cos(phi0) * np.cos(phi) * np.cos(lam), -1.0, 1.0)
    c = np.arccos(cosc)
    sinc = np.sin(c)
    k = np.where(sinc > 0.0, c / np.where(sinc > 0.0, sinc, 1.0), 1.0)
    x = x0 + radius * k * np.cos(phi) * np.sin(lam)
    y = y0 + radius * k * (np.cos(phi0) * np.sin(phi)
                           - np.sin(phi0) * np.cos(phi) * np.cos(lam))
    return x, y


def aeqd_sph_to_lonlat(x, y, lon0: float, lat0: float,
                       x0: float = 0.0, y0: float = 0.0,
                       radius: float = 6371000.0):
    """Spherical azimuthal equidistant inverse (Snyder 20-14..20-17 with
    c = rho/R — the same asin/atan2 chain as the spherical stere inverse,
    mirrored term-for-term by the reproject_aeqd SQL oracle)."""
    xs = np.asarray(x, dtype=np.float64) - x0
    ys = np.asarray(y, dtype=np.float64) - y0
    phi0 = np.radians(np.float64(lat0))
    rho = np.sqrt(xs * xs + ys * ys)
    c = rho / radius
    safe = np.where(rho > 0.0, rho, 1.0)
    phi = np.arcsin(np.clip(
        np.cos(c) * np.sin(phi0)
        + np.where(rho > 0.0, ys * np.sin(c) * np.cos(phi0) / safe, 0.0),
        -1.0, 1.0))
    lam = np.arctan2(xs * np.sin(c),
                     safe * np.cos(phi0) * np.cos(c)
                     - ys * np.sin(phi0) * np.sin(c))
    lam = np.where(rho > 0.0, lam, 0.0)
    return _wrap_deg(lon0 + np.degrees(lam)), np.degrees(phi)


# ---------------------------------------------------------------------------
# Ellipsoidal azimuthal equidistant via Vincenty geodesics (Vincenty 1975,
# Survey Review 23(176) — public worked examples in the Geoscience
# Australia GDA manual). PROJ's ellipsoidal +proj=aeqd is "distance and
# azimuth from the center are the geodesic distance and azimuth": forward
# solves the geodesic INVERSE problem (center -> point), inverse solves the
# geodesic DIRECT problem (center + azimuth + distance -> point). The
# reference accepts arbitrary CRS objects here
# (GeoTiffReprojectRasterSource.scala:39). Iteration counts are PINNED (no
# convergence break) so the reproject_aeqd_ell SQL oracle can unroll the
# IDENTICAL chain; all squares are explicit multiplies for bit parity.
# Vincenty's inverse diverges near the antipode — fail-loud there (a
# regional aeqd grid never asks for it; full-sphere support needs Karney).
# ---------------------------------------------------------------------------

_VINC_DIRECT_ITERS = 4    # contraction factor ~B (<1e-3): 4 is double-exact
_VINC_INVERSE_ITERS = 16
_VINC_ANTIPODAL_DEG = 179.0


def aeqd_ell_to_lonlat(x, y, lon0: float, lat0: float,
                       x0: float = 0.0, y0: float = 0.0,
                       a: float = _WGS84_A, f: float = 1.0 / 298.257223563):
    """Ellipsoidal azimuthal equidistant inverse = Vincenty DIRECT:
    alpha1 = atan2(x, y), s = hypot(x, y), then the pinned
    ``_VINC_DIRECT_ITERS``-step sigma iteration and the closed-form
    latitude/longitude (mirrored term-for-term by the
    reproject_aeqd_ell SQL oracle)."""
    b = a * (1.0 - f)
    ep2 = (a * a - b * b) / (b * b)
    xs = np.asarray(x, dtype=np.float64) - x0
    ys = np.asarray(y, dtype=np.float64) - y0
    s = np.sqrt(xs * xs + ys * ys)
    a1 = np.arctan2(xs, ys)
    phi0 = np.radians(np.float64(lat0))
    tanu1 = (1.0 - f) * np.tan(phi0)
    u1 = np.arctan(tanu1)
    sinu1, cosu1 = np.sin(u1), np.cos(u1)
    sig1 = np.arctan2(tanu1, np.cos(a1))
    sina = cosu1 * np.sin(a1)
    cos2a = 1.0 - sina * sina
    u2 = cos2a * ep2
    biga = 1.0 + u2 / 16384.0 * (4096.0 + u2 * (-768.0 + u2 * (320.0
                                                               - 175.0 * u2)))
    bigb = u2 / 1024.0 * (256.0 + u2 * (-128.0 + u2 * (74.0 - 47.0 * u2)))
    sig0 = s / (b * biga)
    sig = sig0
    for _ in range(_VINC_DIRECT_ITERS):
        ctm = np.cos(2.0 * sig1 + sig)
        dsig = bigb * np.sin(sig) * (
            ctm + 0.25 * bigb * (
                np.cos(sig) * (-1.0 + 2.0 * ctm * ctm)
                - (bigb / 6.0) * ctm * (-3.0 + 4.0 * np.sin(sig)
                                        * np.sin(sig))
                * (-3.0 + 4.0 * ctm * ctm)))
        sig = sig0 + dsig
    ctm = np.cos(2.0 * sig1 + sig)
    sins, coss = np.sin(sig), np.cos(sig)
    cosa1 = np.cos(a1)
    tmp = sinu1 * sins - cosu1 * coss * cosa1
    phi = np.arctan2(sinu1 * coss + cosu1 * sins * cosa1,
                     (1.0 - f) * np.sqrt(sina * sina + tmp * tmp))
    lam = np.arctan2(sins * np.sin(a1), cosu1 * coss - sinu1 * sins * cosa1)
    cc = f / 16.0 * cos2a * (4.0 + f * (4.0 - 3.0 * cos2a))
    bigl = lam - (1.0 - cc) * f * sina * (
        sig + cc * sins * (ctm + cc * coss * (-1.0 + 2.0 * ctm * ctm)))
    lon = _wrap_deg(lon0 + np.degrees(bigl))
    lat = np.degrees(phi)
    return (np.where(s > 0.0, lon, np.float64(lon0)),
            np.where(s > 0.0, lat, np.float64(lat0)))


def lonlat_to_aeqd_ell(lon, lat, lon0: float, lat0: float,
                       x0: float = 0.0, y0: float = 0.0,
                       a: float = _WGS84_A, f: float = 1.0 / 298.257223563):
    """Ellipsoidal azimuthal equidistant forward = Vincenty INVERSE
    (pinned ``_VINC_INVERSE_ITERS`` lambda iterations): geodesic
    distance s and forward azimuth alpha1 from the center, then
    x = s*sin(alpha1), y = s*cos(alpha1). Fail-loud past
    ``_VINC_ANTIPODAL_DEG`` of angular distance, where the lambda
    iteration stops contracting."""
    b = a * (1.0 - f)
    ep2 = (a * a - b * b) / (b * b)
    bigl = np.radians(_wrap_deg(np.asarray(lon, dtype=np.float64) - lon0))
    phi = np.radians(np.asarray(lat, dtype=np.float64))
    phi0 = np.radians(np.float64(lat0))
    u1 = np.arctan((1.0 - f) * np.tan(phi0))
    u2r = np.arctan((1.0 - f) * np.tan(phi))
    sinu1, cosu1 = np.sin(u1), np.cos(u1)
    sinu2, cosu2 = np.sin(u2r), np.cos(u2r)
    lam = bigl.copy()
    for _ in range(_VINC_INVERSE_ITERS):
        sinl, cosl = np.sin(lam), np.cos(lam)
        t1 = cosu2 * sinl
        t2 = cosu1 * sinu2 - sinu1 * cosu2 * cosl
        sins = np.sqrt(t1 * t1 + t2 * t2)
        coss = sinu1 * sinu2 + cosu1 * cosu2 * cosl
        sig = np.arctan2(sins, coss)
        safe = np.where(sins > 0.0, sins, 1.0)
        sina = np.where(sins > 0.0, cosu1 * cosu2 * sinl / safe, 0.0)
        cos2a = 1.0 - sina * sina
        safe2a = np.where(cos2a > 0.0, cos2a, 1.0)
        c2sm = np.where(cos2a > 0.0,
                        coss - 2.0 * sinu1 * sinu2 / safe2a, 0.0)
        cc = f / 16.0 * cos2a * (4.0 + f * (4.0 - 3.0 * cos2a))
        lam = bigl + (1.0 - cc) * f * sina * (
            sig + cc * sins * (c2sm + cc * coss * (-1.0 + 2.0 * c2sm
                                                   * c2sm)))
    if np.any(np.degrees(sig) > _VINC_ANTIPODAL_DEG):
        raise ValueError(
            f"near-antipodal geodesic (> {_VINC_ANTIPODAL_DEG} deg): "
            "Vincenty's inverse does not converge there — ellipsoidal "
            "aeqd is regional (use a spherical +R aeqd for global grids)")
    u2 = cos2a * ep2
    biga = 1.0 + u2 / 16384.0 * (4096.0 + u2 * (-768.0 + u2 * (320.0
                                                               - 175.0 * u2)))
    bigb = u2 / 1024.0 * (256.0 + u2 * (-128.0 + u2 * (74.0 - 47.0 * u2)))
    dsig = bigb * sins * (c2sm + 0.25 * bigb * (
        coss * (-1.0 + 2.0 * c2sm * c2sm)
        - (bigb / 6.0) * c2sm * (-3.0 + 4.0 * sins * sins)
        * (-3.0 + 4.0 * c2sm * c2sm)))
    s = b * biga * (sig - dsig)
    a1 = np.arctan2(cosu2 * np.sin(lam),
                    cosu1 * sinu2 - sinu1 * cosu2 * np.cos(lam))
    return x0 + s * np.sin(a1), y0 + s * np.cos(a1)


def lonlat_to_moll(lon, lat, lon0: float,
                   x0: float = 0.0, y0: float = 0.0,
                   radius: float = _WGS84_A):
    """Mollweide forward: x = (2*sqrt(2)/pi)*R*lam*cos(theta),
    y = sqrt(2)*R*sin(theta) with 2*theta + sin(2*theta) = pi*sin(phi)
    solved by _MOLL_ITERS pinned Newton steps from theta = phi; a
    zero-denominator guard (the poles, where 2 + 2*cos(2*theta) -> 0)
    freezes the iterate instead of dividing by ~0."""
    lam = np.radians(_wrap_deg(np.asarray(lon, dtype=np.float64) - lon0))
    phi = np.radians(np.asarray(lat, dtype=np.float64))
    p = np.pi * np.sin(phi)
    th = phi.copy()
    for _ in range(_MOLL_ITERS):
        den = 2.0 + 2.0 * np.cos(2.0 * th)
        step = np.where(np.abs(den) < 1e-14, 0.0,
                        (2.0 * th + np.sin(2.0 * th) - p)
                        / np.where(np.abs(den) < 1e-14, 1.0, den))
        th = th - step
    x = x0 + _MOLL_CX * radius * lam * np.cos(th)
    y = y0 + _MOLL_CY * radius * np.sin(th)
    return x, y


def moll_to_lonlat(x, y, lon0: float,
                   x0: float = 0.0, y0: float = 0.0,
                   radius: float = _WGS84_A):
    """Mollweide inverse (exact closed form): theta = asin(y/(sqrt(2)R)),
    phi = asin((2*theta + sin(2*theta))/pi), lam = x/((2sqrt2/pi)R cos
    theta). Mirrored term-for-term by the ``reproject_moll`` SQL oracle."""
    sth = np.clip((np.asarray(y, dtype=np.float64) - y0)
                  / (_MOLL_CY * radius), -1.0, 1.0)
    th = np.arcsin(sth)
    phi = np.arcsin(np.clip((2.0 * th + np.sin(2.0 * th)) / np.pi,
                            -1.0, 1.0))
    lam = ((np.asarray(x, dtype=np.float64) - x0)
           / (_MOLL_CX * radius * np.cos(th)))
    return _wrap_deg(lon0 + np.degrees(lam)), np.degrees(phi)


# umbrella registry of all named projected CRS (equal-area family plus
# the conformal conics); EQUAL_AREA_CRS stays as the equal-area subset
NAMED_CRS = dict(EQUAL_AREA_CRS)
# RGF93 / Lambert-93
NAMED_CRS[2154] = (
    lambda lon, lat: lonlat_to_lcc(lon, lat, 3.0, 46.5, 49.0, 44.0,
                                   700000.0, 6600000.0),
    lambda x, y: lcc_to_lonlat(x, y, 3.0, 46.5, 49.0, 44.0,
                               700000.0, 6600000.0),
)


# ---------------------------------------------------------------------------
# Ellipsoids & datum shifts (7-parameter Helmert, position-vector
# convention — the proj4 ``+towgs84`` semantics). Closes the national-grid
# family (EPSG:27700 OSGB on Airy, Bessel grids, ...) the reference reaches
# through arbitrary proj4 CRS objects (GeoTiffReprojectRasterSource.scala:39).
# Grid-file shifts (NTv2/NADCON — e.g. NAD27) stay fail-loud: the engine
# must not silently approximate what it cannot compute exactly.
# ---------------------------------------------------------------------------

# name -> (semi-major a [m], inverse flattening rf; rf = 0 means sphere).
# Values are the published defining constants of each ellipsoid.
ELLIPSOIDS = {
    "WGS84": (6378137.0, 298.257223563),
    "GRS80": (6378137.0, 298.257222101),
    "airy": (6377563.396, 299.3249646),       # OSGB36 / EPSG:27700
    "bessel": (6377397.155, 299.1528128),     # DHDN, CH1903, Tokyo
    "intl": (6378388.0, 297.0),               # ED50 (Hayford 1924)
    "clrk66": (6378206.4, 294.9786982138982), # NAD27 (a=6378206.4 b=6356583.8)
    "evrstSS": (6377298.556, 300.8017),       # Everest 1830 (1967/Sabah-Sarawak)
    "sphere": (6370997.0, 0.0),
}


def ellipsoid_params(name: str) -> tuple[float, float, float]:
    """(a, f, e2) for a named ellipsoid; f = e2 = 0 for a sphere."""
    key = {"wgs84": "WGS84", "grs80": "GRS80"}.get(name.lower(), name)
    if key not in ELLIPSOIDS:
        raise ValueError(f"unknown ellipsoid {name!r} "
                         f"(supported: {sorted(ELLIPSOIDS)})")
    a, rf = ELLIPSOIDS[key]
    f = 0.0 if rf == 0.0 else 1.0 / rf
    return a, f, f * (2.0 - f)


def geodetic_to_geocentric(lon, lat, ell_a: float = _WGS84_A,
                           e2: float = _E2):
    """Geodetic lon/lat (h = 0 on the ellipsoid surface) -> geocentric
    cartesian (X, Y, Z) meters. Vectorized float64."""
    lam = np.radians(np.asarray(lon, dtype=np.float64))
    phi = np.radians(np.asarray(lat, dtype=np.float64))
    s, c = np.sin(phi), np.cos(phi)
    nu = ell_a / np.sqrt(1.0 - e2 * s * s)
    return nu * c * np.cos(lam), nu * c * np.sin(lam), nu * (1.0 - e2) * s


_GEOCENTRIC_ITERS = 8  # fixed count: the SQL oracle unrolls the same 8 steps


def geocentric_to_geodetic(x, y, z, ell_a: float = _WGS84_A,
                           e2: float = _E2):
    """Geocentric (X, Y, Z) -> geodetic lon/lat, dropping height (the 2D
    datum-shift convention). Fixed-point latitude iteration
    phi <- atan2(Z + e2*nu(phi)*sin(phi), p), 8 steps from the reduced
    first guess — deliberately iteration-count-pinned so the DuckDB oracle
    can unroll the identical arithmetic."""
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    z = np.asarray(z, dtype=np.float64)
    lon = np.degrees(np.arctan2(y, x))
    p = np.sqrt(x * x + y * y)
    phi = np.arctan2(z, p * (1.0 - e2))
    for _ in range(_GEOCENTRIC_ITERS):
        s = np.sin(phi)
        nu = ell_a / np.sqrt(1.0 - e2 * s * s)
        phi = np.arctan2(z + e2 * nu * s, p)
    return lon, np.degrees(phi)


@_lru_cache(maxsize=None)
def helmert_matrices(dx: float, dy: float, dz: float,
                     rx_as: float = 0.0, ry_as: float = 0.0,
                     rz_as: float = 0.0, s_ppm: float = 0.0):
    """Forward matrix M and its EXACT inverse for a 7-parameter Helmert
    transform in the position-vector convention (proj4 ``+towgs84``
    semantics: rotations in arc-seconds, scale in ppm, local datum ->
    WGS84): X_wgs = M @ X_local + T. The inverse uses the true 3x3 matrix
    inverse (not the historical negate-the-parameters approximation), so
    round trips are exact to machine precision."""
    m = 1.0 + s_ppm * 1e-6
    rx, ry, rz = (float(np.radians(v / 3600.0)) for v in (rx_as, ry_as, rz_as))
    mat = m * np.array([[1.0, -rz, ry],
                        [rz, 1.0, -rx],
                        [-ry, rx, 1.0]])
    inv = np.linalg.inv(mat)
    t = np.array([dx, dy, dz])
    return mat, inv, t


def helmert_apply(x, y, z, mat, t):
    """Apply X' = mat @ X + t elementwise over coordinate arrays. The
    expansion is written out so the SQL oracle can mirror it term-for-term."""
    return (mat[0, 0] * x + mat[0, 1] * y + mat[0, 2] * z + t[0],
            mat[1, 0] * x + mat[1, 1] * y + mat[1, 2] * z + t[1],
            mat[2, 0] * x + mat[2, 1] * y + mat[2, 2] * z + t[2])


def datum_to_wgs84(lon, lat, towgs84: tuple, ell_a: float, e2: float):
    """Geodetic lon/lat on a local datum -> WGS84 lon/lat via geocentric
    Helmert (position-vector, local -> WGS84)."""
    mat, _, t = helmert_matrices(*towgs84)
    xl, yl, zl = geodetic_to_geocentric(lon, lat, ell_a, e2)
    xw, yw, zw = helmert_apply(xl, yl, zl, mat, t)
    return geocentric_to_geodetic(xw, yw, zw, _WGS84_A, _E2)


def wgs84_to_datum(lon, lat, towgs84: tuple, ell_a: float, e2: float):
    """WGS84 lon/lat -> geodetic lon/lat on a local datum (exact inverse
    Helmert)."""
    mat, inv, t = helmert_matrices(*towgs84)
    xw, yw, zw = geodetic_to_geocentric(lon, lat, _WGS84_A, _E2)
    xl, yl, zl = helmert_apply(xw - t[0], yw - t[1], zw - t[2],
                               inv, np.zeros(3))
    return geocentric_to_geodetic(xl, yl, zl, ell_a, e2)


# minimal named-datum registry: name -> (ellipsoid, towgs84 7-tuple).
# OSGB36 carries the published OSTN-free national 7-parameter set. Datums
# needing grid files (NAD27 et al) are deliberately absent -> fail-loud.
DATUMS = {
    "WGS84": ("WGS84", (0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0)),
    "OSGB36": ("airy", (446.448, -125.157, 542.06,
                        0.15, 0.247, 0.842, -20.489)),
}


# ---------------------------------------------------------------------------
# proj4-string CRS dispatch: arbitrary parallels/centers onto the existing
# Snyder/Krueger kernels, closing the CRS family generically instead of
# EPSG-by-EPSG (reference parity: GeoTiffReprojectRasterSource.scala:39
# accepts any CRS object). tmerc/lcc/merc accept any registered ellipsoid
# plus a +towgs84 Helmert shift (all six projections); grid-file datum
# shifts (NTv2) fail loudly rather than silently reprojecting wrong.
# ---------------------------------------------------------------------------

_PROJ4_IGNORED = {"no_defs", "wktext", "type"}
_PROJ4_PARAM_KEYS = {"proj", "lat_0", "lon_0", "lat_1", "lat_2", "lat_ts",
                     "x_0", "y_0", "k_0", "k", "units", "ellps", "datum",
                     "towgs84", "nadgrids", "a", "b", "R", "zone", "south",
                     "h", "sweep", "lonc", "alpha", "gamma", "no_off",
                     "no_uoff", "no_rot", "czech"}


def parse_proj4(s: str):
    """Parse a proj4 string into ``(forward, inverse)`` WGS84-lon/lat <->
    x/y closures. Supported projections: ``longlat``, ``merc``, ``tmerc``
    (Krueger, any +lon_0/+k_0/+lat_0), ``laea``, ``aea``, ``lcc`` (Snyder,
    any parallels/centers), ``stere`` (polar ellipsoidal + oblique
    spherical), ``sinu`` (the MODIS grid family), ``cea`` (the EASE-Grid
    2.0 family), ``eqc`` (plate carree), each with +x_0/+y_0 false
    origins, each in BOTH the ellipsoidal form and the spherical closed
    form (+R / lone +a / +a=+b / +ellps=sphere select the Snyder spherical
    kernels). All ellipsoidal kernels accept any registered ellipsoid
    (+ellps=airy/bessel/intl/clrk66/...), a 3- or 7-parameter ``+towgs84``
    Helmert datum shift (position-vector convention, exact matrix inverse)
    — the EPSG:27700/OSGB family — and ``+nadgrids=<file.gsb>`` NTv2
    grid-file datums (single- or multi-sub-grid, finest-containing-grid
    refinement). Unknown keys, unsupported ellipsoid/datum combinations,
    parameters a kernel would ignore, and non-meter units raise
    ``ValueError`` — a CRS the engine cannot honor exactly must not be
    silently approximated."""
    toks = [t for t in s.strip().split() if t]
    kv: dict[str, str] = {}
    for tok in toks:
        if not tok.startswith("+"):
            raise ValueError(f"proj4 token must start with '+': {tok!r}")
        body = tok[1:]
        if "=" in body:
            k, v = body.split("=", 1)
        else:
            k, v = body, ""
        if k in _PROJ4_IGNORED:
            continue
        if k not in _PROJ4_PARAM_KEYS:
            raise ValueError(f"unsupported proj4 parameter +{k} in {s!r}")
        kv[k] = v

    if kv.get("units", "m") != "m":
        raise ValueError(f"only meter units supported: {s!r}")
    proj = kv.get("proj")
    if proj is None:
        raise ValueError(f"missing +proj in {s!r}")

    def fnum(key: str, default: float | None = None) -> float:
        if key not in kv:
            if default is None:
                raise ValueError(f"+proj={proj} requires +{key}: {s!r}")
            return default
        return float(kv[key])

    # --- datum resolution: +datum name -> (ellipsoid, towgs84) ------------
    datum_ell, datum_towgs84 = None, None
    if "datum" in kv:
        if kv["datum"] not in DATUMS:
            raise ValueError(
                f"unsupported +datum={kv['datum']} (grid-file datums like "
                f"NAD27 need their NTv2 grid — pass it explicitly via "
                f"+nadgrids=<file.gsb>; the engine will not approximate): "
                f"{s!r}")
        datum_ell, datum_towgs84 = DATUMS[kv["datum"]]

    # --- towgs84: explicit parameter wins over the datum registry ---------
    shift = None
    if "towgs84" in kv:
        vals = tuple(float(v) for v in kv["towgs84"].split(","))
        if len(vals) == 3:
            vals = vals + (0.0, 0.0, 0.0, 0.0)
        if len(vals) != 7:
            raise ValueError(f"+towgs84 needs 3 or 7 parameters: {s!r}")
        shift = vals
    elif datum_towgs84 is not None:
        shift = datum_towgs84
    if shift is not None and not any(v != 0.0 for v in shift):
        shift = None  # identity shift == no shift

    # --- nadgrids: NTv2 grid-file datum (loaded EAGERLY at parse time so
    # the returned closures carry the shift arrays, not the file path) ----
    ntv2 = None
    if "nadgrids" in kv:
        if kv["nadgrids"] in ("@null", "null"):
            pass  # explicit no-shift marker (proj4 convention)
        else:
            if shift is not None:
                raise ValueError(
                    f"+nadgrids combined with +towgs84/+datum shift is "
                    f"ambiguous — pick one: {s!r}")
            from geotrellis_contrib_spark import gridshift as _gs
            ntv2 = _gs.read_ntv2(kv["nadgrids"])

    # --- ellipsoid resolution (proj4 precedence: +a/+b/+R > +ellps > datum)
    a_str, b_str = kv.get("a"), kv.get("b")
    if b_str is not None and a_str is None:
        raise ValueError(f"+b without +a: {s!r}")
    if a_str is not None:
        a_val = float(a_str)
        if b_str is not None and float(b_str) != a_val:
            b_val = float(b_str)
            ell_f = (a_val - b_val) / a_val
            ell = (a_val, ell_f, ell_f * (2.0 - ell_f))
        else:
            # proj4 semantics: +a with no unequal +b is a SPHERE of radius
            # a (+a=+b compares numerically — '+b=6378137.0' == '+a=6378137')
            ell = (a_val, 0.0, 0.0)
    elif "R" in kv:
        ell = (float(kv["R"]), 0.0, 0.0)
    else:
        ename = kv.get("ellps", datum_ell or "WGS84")
        # GRS80 == WGS84 here: same semi-major axis, flattening differs in
        # the 10th decimal (sub-0.1mm) — keeps proj4 strings of the GRS80-
        # based EPSG registry entries (3035/5070/2154) BIT-identical to the
        # named kernels
        if ename in ("GRS80", "grs80"):
            ename = "WGS84"
        ell = ellipsoid_params(ename)
    ell_a, ell_f, ell_e2 = ell
    spherical = ell_f == 0.0

    if (shift is not None or ntv2 is not None) and spherical:
        raise ValueError(f"datum shift on a sphere is meaningless: {s!r}")
    lon0 = fnum("lon_0", 0.0)
    lat0 = fnum("lat_0", 0.0)
    x0 = fnum("x_0", 0.0)
    y0 = fnum("y_0", 0.0)
    k0 = float(kv.get("k_0", kv.get("k", "1.0")))

    def compose(p_fwd, p_inv):
        """Wrap projection closures (geodetic-on-local-datum <-> x/y) with
        the datum legs (7-param Helmert or NTv2 grid shift) so the returned
        pair is WGS84 <-> x/y."""
        if ntv2 is not None:
            from geotrellis_contrib_spark import gridshift as _gs

            def fwd_g(lon, lat):
                dlon, dlat = _gs.shift_inverse(lon, lat, ntv2)
                return p_fwd(dlon, dlat)

            def inv_g(x, y):
                dlon, dlat = p_inv(x, y)
                return _gs.shift_forward(dlon, dlat, ntv2)
            return fwd_g, inv_g
        if shift is None:
            return p_fwd, p_inv

        def fwd(lon, lat):
            dlon, dlat = wgs84_to_datum(lon, lat, shift, ell_a, ell_e2)
            return p_fwd(dlon, dlat)

        def inv(x, y):
            dlon, dlat = p_inv(x, y)
            return datum_to_wgs84(dlon, dlat, shift, ell_a, ell_e2)
        return fwd, inv

    if proj == "longlat":
        ident = lambda u, v: (np.asarray(u, dtype=np.float64),  # noqa: E731
                              np.asarray(v, dtype=np.float64))
        return compose(ident, ident)
    if "lat_ts" in kv and proj not in ("merc", "stere", "cea", "eqc"):
        raise ValueError(f"+lat_ts is not a +proj={proj} parameter: {s!r}")
    if ("zone" in kv or "south" in kv) and proj != "utm":
        raise ValueError(f"+zone/+south are +proj=utm parameters: {s!r}")
    if ("h" in kv or "sweep" in kv) and proj != "geos":
        raise ValueError(f"+h/+sweep are +proj=geos parameters: {s!r}")
    if (any(k in kv for k in ("lonc", "gamma", "no_off",
                              "no_uoff", "no_rot"))
            and proj != "omerc"):
        raise ValueError(f"+lonc/+gamma/+no_off/+no_rot are "
                         f"+proj=omerc parameters: {s!r}")
    if "alpha" in kv and proj not in ("omerc", "krovak"):
        raise ValueError(f"+alpha is an omerc/krovak parameter: {s!r}")
    if "czech" in kv and proj != "krovak":
        raise ValueError(f"+czech is a +proj=krovak parameter: {s!r}")

    if proj == "omerc":
        # Hotine oblique Mercator, azimuth (+alpha) form — EPSG 9812
        # (variant A, +no_off) / 9815 (variant B, the proj4 default).
        # The two-point form (+lon_1/+lat_1/+lon_2/+lat_2), +no_rot
        # (skew u/v output), alpha = +-90 (Laborde-degenerate) and
        # spheres stay FAIL-LOUD: the engine must not approximate.
        if "alpha" not in kv:
            raise ValueError(f"+proj=omerc supports only the azimuth "
                             f"(+alpha) form — two-point omerc is "
                             f"unsupported: {s!r}")
        if "no_rot" in kv:
            raise ValueError(f"+no_rot (skew-axis output) unsupported: "
                             f"{s!r}")
        if "lonc" not in kv:
            raise ValueError(f"+proj=omerc requires +lonc (NOT +lon_0 — "
                             f"proj4 omerc semantics): {s!r}")
        if "lon_0" in kv:
            raise ValueError(f"+lon_0 conflicts with +proj=omerc "
                             f"(+lonc is the centre longitude): {s!r}")
        if spherical:
            raise ValueError(f"+proj=omerc on a sphere unsupported: {s!r}")
        alpha_c = fnum("alpha")
        if abs(abs(alpha_c) - 90.0) < 1e-12 or abs(lat0) >= 90.0:
            raise ValueError(f"omerc with +alpha=+-90 or polar +lat_0 is "
                             f"degenerate (use tmerc/stere): {s!r}")
        gamma_c = fnum("gamma", alpha_c)  # proj4 default: gamma = alpha
        lonc_v = fnum("lonc")
        nooff = ("no_off" in kv) or ("no_uoff" in kv)
        return compose(
            lambda lon, lat: lonlat_to_omerc(lon, lat, lonc_v, lat0,
                                             alpha_c, gamma_c, k0, x0, y0,
                                             nooff, ell_a, ell_e2),
            lambda x, y: omerc_to_lonlat(x, y, lonc_v, lat0,
                                         alpha_c, gamma_c, k0, x0, y0,
                                         nooff, ell_a, ell_e2))

    if proj == "utm":
        # the common shorthand for tmerc with the UTM constants
        # (k0=0.9996, x_0=500000, y_0=0/10000000, lon_0 from the zone)
        zone = int(fnum("zone"))
        if not 1 <= zone <= 60 or float(kv["zone"]) != zone:
            raise ValueError(f"+zone must be an integer in 1..60: {s!r}")
        for bad_key in ("lat_0", "lon_0", "x_0", "y_0", "k_0", "k"):
            if bad_key in kv:
                raise ValueError(f"+{bad_key} conflicts with +proj=utm "
                                 f"(fixed UTM constants): {s!r}")
        if spherical:
            raise ValueError(f"+proj=utm on a sphere unsupported: {s!r}")
        lon0u = float(zone * 6 - 183)
        y0u = 10000000.0 if "south" in kv else 0.0
        return compose(
            lambda lon, lat: lonlat_to_tmerc(lon, lat, lon0u, 0.9996,
                                             500000.0, y0u, 0.0,
                                             ell_a, ell_f),
            lambda x, y: tmerc_to_lonlat(x, y, lon0u, 0.9996,
                                         500000.0, y0u, 0.0, ell_a, ell_f))

    if proj == "sterea":
        # EPSG oblique (double) stereographic — the RD New / EPSG:28992
        # method. On a sphere the conformal-sphere mapping is the identity
        # (n=1, c=1, chi=phi), i.e. exactly the spherical oblique stere.
        if spherical:
            return compose(
                lambda lon, lat: lonlat_to_stere_sph(lon, lat, lon0, lat0,
                                                     x0, y0, ell_a, k0),
                lambda x, y: stere_sph_to_lonlat(x, y, lon0, lat0,
                                                 x0, y0, ell_a, k0))
        return compose(
            lambda lon, lat: lonlat_to_sterea(lon, lat, lon0, lat0, k0,
                                              x0, y0, ell_a, ell_e2),
            lambda x, y: sterea_to_lonlat(x, y, lon0, lat0, k0,
                                          x0, y0, ell_a, ell_e2))

    if proj == "krovak":
        # S-JTSK (EPSG:2065/5514). proj4 semantics: Greenwich params,
        # defaults lat_0=49.5 lon_0=24.8333... alpha=30.288139...
        # k=0.9999, pseudo standard parallel FIXED at 78.5 deg; +czech
        # flips to positive southing/westing (EPSG:2065 axes).
        if spherical:
            raise ValueError(f"krovak is defined on an ellipsoid "
                             f"(use +ellps=bessel): {s!r}")
        kr_lat0 = fnum("lat_0") if "lat_0" in kv else 49.5
        kr_lon0 = fnum("lon_0") if "lon_0" in kv else 24.833333333333332
        kr_alpha = fnum("alpha") if "alpha" in kv else 30.28813972222222
        kr_k = k0 if ("k_0" in kv or "k" in kv) else 0.9999
        czech = "czech" in kv
        return compose(
            lambda lon, lat: lonlat_to_krovak(
                lon, lat, kr_lon0, kr_lat0, kr_alpha, 78.5, kr_k,
                ell_a, ell_e2, x0, y0, czech),
            lambda x, y: krovak_to_lonlat(
                x, y, kr_lon0, kr_lat0, kr_alpha, 78.5, kr_k,
                ell_a, ell_e2, x0, y0, czech))
    if proj == "somerc":
        # Swiss oblique Mercator (CH1903 LV03 / CH1903+ LV95). On a
        # sphere the Gauss chain is the identity (alpha=1, K=0) and the
        # kernel is the plain rotated-sphere Mercator — same code path.
        e2_s = 0.0 if spherical else ell_e2
        return compose(
            lambda lon, lat: lonlat_to_somerc(lon, lat, lon0, lat0, k0,
                                              x0, y0, ell_a, e2_s),
            lambda x, y: somerc_to_lonlat(x, y, lon0, lat0, k0,
                                          x0, y0, ell_a, e2_s))
    if proj == "merc":
        # spherical form when +R / lone +a / +a=+b (EPSG:3857 publishes
        # +a=+b=6378137); otherwise ELLIPSOIDAL mercator via the conformal
        # latitude (y = -a ln t(phi), Snyder 7-7; inverse by the same
        # Snyder 7-9 fixed-point iteration the LCC inverse uses)
        if "lat_ts" in kv:
            # standard-parallel scaling (Snyder 7-3 / 14-15): exact, and
            # lat_ts=0 gives k0=1.0 BITWISE (the canonical EPSG:3857
            # proj4 string carries +lat_ts=0)
            if k0 != 1.0:
                raise ValueError(f"+lat_ts and +k_0 are alternative "
                                 f"mercator scalings — pass one: {s!r}")
            ts = np.radians(np.float64(fnum("lat_ts")))
            k0 = float(np.cos(ts)) if spherical else float(_m_ell(ts, ell_e2))
        radius = ell_a if spherical else None
        m_e1 = None if spherical else np.sqrt(ell_e2)

        def m_fwd(lon, lat):
            lam = np.radians(_wrap_deg(np.asarray(lon, dtype=np.float64) - lon0))
            phi = np.radians(np.asarray(lat, dtype=np.float64))
            if radius is not None:
                x = k0 * radius * lam + x0
                y = k0 * radius * np.log(np.tan(np.pi / 4.0 + phi / 2.0)) + y0
            else:
                x = k0 * ell_a * lam + x0
                y = -k0 * ell_a * np.log(_t_conf(phi, m_e1)) + y0
            return x, y

        def m_inv(x, y):
            x = np.asarray(x, dtype=np.float64) - x0
            y = np.asarray(y, dtype=np.float64) - y0
            if radius is not None:
                lon = lon0 + np.degrees(x / (k0 * radius))
                lat = np.degrees(2.0 * np.arctan(np.exp(y / (k0 * radius)))
                                 - np.pi / 2.0)
                return _wrap_deg(lon), lat
            lon = lon0 + np.degrees(x / (k0 * ell_a))
            t = np.exp(-y / (k0 * ell_a))
            phi = np.pi / 2.0 - 2.0 * np.arctan(t)
            for _ in range(8):
                sn = np.sin(phi)
                phi = (np.pi / 2.0
                       - 2.0 * np.arctan(t * np.power((1.0 - m_e1 * sn)
                                                      / (1.0 + m_e1 * sn),
                                                      m_e1 / 2.0)))
            return _wrap_deg(lon), np.degrees(phi)
        return compose(m_fwd, m_inv)
    if proj == "tmerc":
        if spherical:
            return compose(
                lambda lon, lat: lonlat_to_tmerc_sph(lon, lat, lon0, k0,
                                                     x0, y0, lat0, ell_a),
                lambda x, y: tmerc_sph_to_lonlat(x, y, lon0, k0,
                                                 x0, y0, lat0, ell_a))
        return compose(
            lambda lon, lat: lonlat_to_tmerc(lon, lat, lon0, k0, x0, y0,
                                             lat0, ell_a, ell_f),
            lambda x, y: tmerc_to_lonlat(x, y, lon0, k0, x0, y0,
                                         lat0, ell_a, ell_f))
    if proj == "laea":
        if k0 != 1.0:
            raise ValueError(f"+k_0 is not a laea parameter: {s!r}")
        if spherical:
            return compose(
                lambda lon, lat: lonlat_to_laea_sph(lon, lat, lon0, lat0,
                                                    x0, y0, ell_a),
                lambda x, y: laea_sph_to_lonlat(x, y, lon0, lat0,
                                                x0, y0, ell_a))
        return compose(
            lambda lon, lat: lonlat_to_laea(lon, lat, lon0, lat0, x0, y0,
                                            ell_a, ell_e2),
            lambda x, y: laea_to_lonlat(x, y, lon0, lat0, x0, y0,
                                        ell_a, ell_e2))
    if proj == "aea":
        if k0 != 1.0:
            raise ValueError(f"+k_0 is not an aea parameter: {s!r}")
        lat1, lat2 = fnum("lat_1"), fnum("lat_2")
        if spherical:
            return compose(
                lambda lon, lat: lonlat_to_albers_sph(lon, lat, lon0, lat0,
                                                      lat1, lat2, x0, y0,
                                                      ell_a),
                lambda x, y: albers_sph_to_lonlat(x, y, lon0, lat0,
                                                  lat1, lat2, x0, y0, ell_a))
        return compose(
            lambda lon, lat: lonlat_to_albers(lon, lat, lon0, lat0,
                                              lat1, lat2, x0, y0,
                                              ell_a, ell_e2),
            lambda x, y: albers_to_lonlat(x, y, lon0, lat0,
                                          lat1, lat2, x0, y0,
                                          ell_a, ell_e2))
    if proj == "lcc":
        lat1 = fnum("lat_1")
        lat2 = fnum("lat_2", lat1)  # 1SP degenerates to lat_2 = lat_1
        if spherical:
            return compose(
                lambda lon, lat: lonlat_to_lcc_sph(lon, lat, lon0, lat0,
                                                   lat1, lat2, x0, y0,
                                                   ell_a, k0),
                lambda x, y: lcc_sph_to_lonlat(x, y, lon0, lat0,
                                               lat1, lat2, x0, y0,
                                               ell_a, k0))
        if k0 != 1.0:
            raise ValueError(f"+k_0 != 1 on ellipsoidal lcc is not wired "
                             f"into the Snyder kernel (it would be silently "
                             f"ignored): {s!r}")
        return compose(
            lambda lon, lat: lonlat_to_lcc(lon, lat, lon0, lat0,
                                           lat1, lat2, x0, y0, ell_a, ell_e2),
            lambda x, y: lcc_to_lonlat(x, y, lon0, lat0,
                                       lat1, lat2, x0, y0, ell_a, ell_e2))
    if proj == "stere":
        if spherical:
            if "lat_ts" in kv:
                raise ValueError(
                    f"+lat_ts on spherical stere unsupported (scale via "
                    f"+k_0): {s!r}")
            return compose(
                lambda lon, lat: lonlat_to_stere_sph(lon, lat, lon0, lat0,
                                                     x0, y0, ell_a, k0),
                lambda x, y: stere_sph_to_lonlat(x, y, lon0, lat0,
                                                 x0, y0, ell_a, k0))
        if lat0 not in (90.0, -90.0):
            raise ValueError(
                f"oblique ellipsoidal stereographic unsupported (the EPSG "
                f"variant is the double-stereographic, a different "
                f"projection; polar aspects +lat_0=90/-90 are supported): "
                f"{s!r}")
        if "lat_ts" in kv and ("k_0" in kv or "k" in kv):
            raise ValueError(f"+lat_ts and +k_0 are alternative polar-"
                             f"stereographic scalings — pass one: {s!r}")
        rf = stere_polar_rf(k0=None if "lat_ts" in kv else k0,
                            lat_ts=fnum("lat_ts") if "lat_ts" in kv else None,
                            ell_a=ell_a, e2=ell_e2)
        north = lat0 == 90.0
        return compose(
            lambda lon, lat: lonlat_to_stere_polar(lon, lat, lon0, rf,
                                                   x0, y0, north, ell_e2),
            lambda x, y: stere_polar_to_lonlat(x, y, lon0, rf,
                                               x0, y0, north, ell_e2))
    if proj == "sinu":
        # sinusoidal has no scale factor or latitude-of-origin parameter
        if k0 != 1.0:
            raise ValueError(f"+k_0 is not a +proj=sinu parameter: {s!r}")
        if lat0 != 0.0:
            raise ValueError(f"+lat_0 is not a +proj=sinu parameter: {s!r}")
        if spherical:  # the MODIS land-grid family (+R=6371007.181)
            return compose(
                lambda lon, lat: lonlat_to_sinu_sph(lon, lat, lon0,
                                                    x0, y0, ell_a),
                lambda x, y: sinu_sph_to_lonlat(x, y, lon0, x0, y0, ell_a))
        return compose(
            lambda lon, lat: lonlat_to_sinu(lon, lat, lon0,
                                            x0, y0, ell_a, ell_e2),
            lambda x, y: sinu_to_lonlat(x, y, lon0, x0, y0, ell_a, ell_e2))
    if proj == "cea":
        # standard-parallel (+lat_ts, the EASE-Grid/Behrmann convention)
        # and +k_0 are alternative scalings, like merc/stere
        if lat0 != 0.0:
            raise ValueError(f"+lat_0 is not a +proj=cea parameter: {s!r}")
        if "lat_ts" in kv:
            if k0 != 1.0:
                raise ValueError(f"+lat_ts and +k_0 are alternative CEA "
                                 f"scalings — pass one: {s!r}")
            ts = fnum("lat_ts")
            k0 = (float(np.cos(np.radians(np.float64(ts)))) if spherical
                  else cea_k0(ts, ell_e2))
        if spherical:
            return compose(
                lambda lon, lat: lonlat_to_cea_sph(lon, lat, lon0, k0,
                                                   x0, y0, ell_a),
                lambda x, y: cea_sph_to_lonlat(x, y, lon0, k0,
                                               x0, y0, ell_a))
        return compose(
            lambda lon, lat: lonlat_to_cea(lon, lat, lon0, k0,
                                           x0, y0, ell_a, ell_e2),
            lambda x, y: cea_to_lonlat(x, y, lon0, k0,
                                       x0, y0, ell_a, ell_e2))
    if proj == "geos":
        # geostationary satellite view (GOES-R ABI / Meteosat SEVIRI fixed
        # grid): +h (satellite height above the ellipsoid) is REQUIRED,
        # +sweep=x (GOES) or y (Meteosat, the proj4 default); one kernel
        # covers ellipsoidal and spherical (rp2 = 1). lat_0 is fixed at the
        # equator by the geometry.
        h = fnum("h")
        if h <= 0.0:
            raise ValueError(f"+h must be positive: {s!r}")
        sweep = kv.get("sweep", "y")
        if sweep not in ("x", "y"):
            raise ValueError(f"+sweep must be x or y: {s!r}")
        if lat0 != 0.0:
            raise ValueError(f"+lat_0 is not a +proj=geos parameter "
                             f"(the satellite sits on the equator): {s!r}")
        if k0 != 1.0:
            raise ValueError(f"+k_0 is not a +proj=geos parameter: {s!r}")
        e2_g = 0.0 if spherical else ell_e2
        return compose(
            lambda lon, lat: lonlat_to_geos(lon, lat, lon0, h, sweep,
                                            x0, y0, ell_a, e2_g),
            lambda x, y: geos_to_lonlat(x, y, lon0, h, sweep,
                                        x0, y0, ell_a, e2_g))
    if proj == "aeqd":
        # azimuthal equidistant: distances from the center are true.
        # Spherical closed form (Snyder 25) on +R / +a=+b; ellipsoidal
        # via Vincenty geodesics (forward = geodesic inverse problem,
        # inverse = geodesic direct problem) — regional, fail-loud near
        # the antipode where Vincenty's lambda iteration diverges.
        if k0 != 1.0:
            raise ValueError(f"+k_0 is not a +proj=aeqd parameter: {s!r}")
        if spherical:
            if shift is not None or ntv2 is not None:
                raise ValueError(f"datum shift on spherical +proj=aeqd "
                                 f"unsupported: {s!r}")
            return (
                lambda lon, lat: lonlat_to_aeqd_sph(lon, lat, lon0, lat0,
                                                    x0, y0, ell_a),
                lambda x, y: aeqd_sph_to_lonlat(x, y, lon0, lat0,
                                                x0, y0, ell_a))
        return compose(
            lambda lon, lat: lonlat_to_aeqd_ell(lon, lat, lon0, lat0,
                                                x0, y0, ell_a, ell_f),
            lambda x, y: aeqd_ell_to_lonlat(x, y, lon0, lat0,
                                            x0, y0, ell_a, ell_f))
    if proj == "moll":
        # proj4 moll is SPHERICAL formulas on the semi-major axis
        # regardless of +ellps (like eqc) — ESRI:54009 "World Mollweide"
        if k0 != 1.0:
            raise ValueError(f"+k_0 is not a +proj=moll parameter: {s!r}")
        if lat0 != 0.0:
            raise ValueError(f"+lat_0 is not a +proj=moll parameter: {s!r}")
        if shift is not None or ntv2 is not None:
            raise ValueError(f"datum shift on +proj=moll (spherical-on-a "
                             f"semantics) unsupported: {s!r}")
        return (
            lambda lon, lat: lonlat_to_moll(lon, lat, lon0, x0, y0, ell_a),
            lambda x, y: moll_to_lonlat(x, y, lon0, x0, y0, ell_a))
    if proj == "eqc":
        # proj4 eqc is SPHERICAL formulas on the semi-major axis regardless
        # of +ellps (plate carree); +lat_0 offsets y (y = a*(phi - phi_0))
        if k0 != 1.0:
            raise ValueError(f"+k_0 is not a +proj=eqc parameter (use "
                             f"+lat_ts): {s!r}")
        if "lat_ts" in kv:
            k0 = float(np.cos(np.radians(np.float64(fnum("lat_ts")))))
        y0_eqc = y0 - ell_a * float(np.radians(np.float64(lat0)))
        if shift is not None or ntv2 is not None:
            raise ValueError(f"datum shift on +proj=eqc (spherical-on-a "
                             f"semantics) unsupported: {s!r}")
        return (
            lambda lon, lat: lonlat_to_eqc(lon, lat, lon0, k0,
                                           x0, y0_eqc, ell_a),
            lambda x, y: eqc_to_lonlat(x, y, lon0, k0, x0, y0_eqc, ell_a))
    raise ValueError(f"unsupported +proj={proj}: {s!r}")


def vincenty_distance(lon1, lat1, lon2, lat2,
                      a: float = _WGS84_A,
                      f: float = 1.0 / 298.257223563):
    """Pairwise geodesic distance in meters — Vincenty's INVERSE
    (Vincenty 1975; the PostGIS geography ST_DistanceSpheroid /
    ST_DWithin kernel) with the SAME pinned ``_VINC_INVERSE_ITERS``
    lambda iterations, guard structure, and expression ORDER as
    :func:`lonlat_to_aeqd_ell`'s center-to-point solve, so a SQL
    oracle can unroll the IDENTICAL chain (all squares explicit
    multiplies). Coincident points return exactly 0.0 (sins = 0 path).
    Fail-loud past ``_VINC_ANTIPODAL_DEG`` of angular distance, where
    the lambda iteration stops contracting."""
    b = a * (1.0 - f)
    ep2 = (a * a - b * b) / (b * b)
    bigl = np.radians(_wrap_deg(np.asarray(lon2, dtype=np.float64)
                                - np.asarray(lon1, dtype=np.float64)))
    u1r = np.arctan((1.0 - f)
                    * np.tan(np.radians(np.asarray(lat1,
                                                   dtype=np.float64))))
    u2r = np.arctan((1.0 - f)
                    * np.tan(np.radians(np.asarray(lat2,
                                                   dtype=np.float64))))
    sinu1, cosu1 = np.sin(u1r), np.cos(u1r)
    sinu2, cosu2 = np.sin(u2r), np.cos(u2r)
    lam = bigl.copy()
    for _ in range(_VINC_INVERSE_ITERS):
        sinl, cosl = np.sin(lam), np.cos(lam)
        t1 = cosu2 * sinl
        t2 = cosu1 * sinu2 - sinu1 * cosu2 * cosl
        sins = np.sqrt(t1 * t1 + t2 * t2)
        coss = sinu1 * sinu2 + cosu1 * cosu2 * cosl
        sig = np.arctan2(sins, coss)
        safe = np.where(sins > 0.0, sins, 1.0)
        sina = np.where(sins > 0.0, cosu1 * cosu2 * sinl / safe, 0.0)
        cos2a = 1.0 - sina * sina
        safe2a = np.where(cos2a > 0.0, cos2a, 1.0)
        c2sm = np.where(cos2a > 0.0,
                        coss - 2.0 * sinu1 * sinu2 / safe2a, 0.0)
        cc = f / 16.0 * cos2a * (4.0 + f * (4.0 - 3.0 * cos2a))
        lam = bigl + (1.0 - cc) * f * sina * (
            sig + cc * sins * (c2sm + cc * coss * (-1.0 + 2.0 * c2sm
                                                   * c2sm)))
    if np.any(np.degrees(sig) > _VINC_ANTIPODAL_DEG):
        raise ValueError(
            f"near-antipodal geodesic (> {_VINC_ANTIPODAL_DEG} deg): "
            "Vincenty's inverse does not converge there")
    u2 = cos2a * ep2
    biga = 1.0 + u2 / 16384.0 * (4096.0 + u2 * (-768.0 + u2 * (320.0
                                                               - 175.0 * u2)))
    bigb = u2 / 1024.0 * (256.0 + u2 * (-128.0 + u2 * (74.0 - 47.0 * u2)))
    dsig = bigb * sins * (c2sm + 0.25 * bigb * (
        coss * (-1.0 + 2.0 * c2sm * c2sm)
        - (bigb / 6.0) * c2sm * (-3.0 + 4.0 * sins * sins)
        * (-3.0 + 4.0 * c2sm * c2sm)))
    return b * biga * (sig - dsig)
