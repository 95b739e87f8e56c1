"""Ellipsoidal azimuthal equidistant (Vincenty geodesics): published
worked-example golden, direct<->inverse roundtrips, the spherical
limit, proj4 dispatch incl. the datum-shift composition, and the
antipodal fail-loud."""
import numpy as np
import pytest

from geotrellis_contrib_spark import grid as GR


def _dms(d, m, s):
    sg = -1.0 if d < 0 else 1.0
    return sg * (abs(d) + m / 60.0 + s / 3600.0)


# Geoscience Australia GDA manual Vincenty worked example (GRS80):
# Flinders Peak -> Buninyong, s = 54 972.271 m, az = 306 deg 52' 05.37"
FL_LAT, FL_LON = _dms(-37, 57, 3.72030), _dms(144, 25, 29.52440)
BU_LAT, BU_LON = _dms(-37, 39, 10.15610), _dms(143, 55, 35.38390)
GRS80_F = 1.0 / 298.257222101


def test_vincenty_published_golden():
    x, y = GR.lonlat_to_aeqd_ell(BU_LON, BU_LAT, FL_LON, FL_LAT,
                                 a=6378137.0, f=GRS80_F)
    s = float(np.hypot(x, y))
    az = float(np.degrees(np.arctan2(x, y))) % 360.0
    assert abs(s - 54972.271) < 1e-3
    assert abs(az - _dms(306, 52, 5.37)) < 1e-5


def test_direct_inverse_roundtrip_grid():
    lons, lats = np.meshgrid(np.linspace(-75.0, -45.0, 13),
                             np.linspace(20.0, 44.0, 11))
    x, y = GR.lonlat_to_aeqd_ell(lons.ravel(), lats.ravel(), -60.0, 32.0)
    lo, la = GR.aeqd_ell_to_lonlat(x, y, -60.0, 32.0)
    np.testing.assert_allclose(lo, lons.ravel(), atol=1e-11)
    np.testing.assert_allclose(la, lats.ravel(), atol=1e-11)


def test_center_maps_to_false_origin_and_back():
    x, y = GR.lonlat_to_aeqd_ell(-60.0, 32.0, -60.0, 32.0,
                                 x0=5000.0, y0=-3000.0)
    assert abs(float(x) - 5000.0) < 1e-6 and abs(float(y) + 3000.0) < 1e-6
    lo, la = GR.aeqd_ell_to_lonlat(5000.0, -3000.0, -60.0, 32.0,
                                   x0=5000.0, y0=-3000.0)
    assert (float(lo), float(la)) == (-60.0, 32.0)  # rho=0 short-circuit


def test_spherical_limit_matches_snyder_closed_form():
    """f=0 degenerates Vincenty to the great circle: A=1, B=0, C=0."""
    lons = np.array([-70.0, -55.0, -40.0, -61.0])
    lats = np.array([25.0, 38.0, 30.0, 32.5])
    xe, ye = GR.lonlat_to_aeqd_ell(lons, lats, -60.0, 32.0,
                                   a=6371000.0, f=0.0)
    xs, ys = GR.lonlat_to_aeqd_sph(lons, lats, -60.0, 32.0,
                                   radius=6371000.0)
    np.testing.assert_allclose(xe, xs, atol=1e-5)
    np.testing.assert_allclose(ye, ys, atol=1e-5)


def test_meridian_arc_distance():
    """North along the central meridian: s equals the meridian arc
    computed by dense numeric quadrature of a(1-e2)/(1-e2 sin^2)^{3/2}."""
    a, f, e2 = GR.ellipsoid_params("WGS84")
    x, y = GR.lonlat_to_aeqd_ell(-60.0, 33.0, -60.0, 32.0, a=a, f=f)
    phi = np.linspace(np.radians(32.0), np.radians(33.0), 200001)
    integrand = a * (1 - e2) / (1 - e2 * np.sin(phi) ** 2) ** 1.5
    trap = getattr(np, "trapezoid", None) or np.trapz
    arc = float(trap(integrand, phi))
    assert abs(float(x)) < 1e-6
    assert abs(float(y) - arc) < 1e-3


def test_parse_proj4_dispatch_and_guards():
    fwd, inv = GR.parse_proj4(
        "+proj=aeqd +lat_0=32 +lon_0=-60 +x_0=100 +y_0=200 "
        "+ellps=WGS84 +units=m +no_defs")
    x, y = fwd(np.array([-58.0]), np.array([33.0]))
    lo, la = inv(x, y)
    assert abs(float(lo[0]) + 58.0) < 1e-11 \
        and abs(float(la[0]) - 33.0) < 1e-11
    with pytest.raises(ValueError, match="k_0"):
        GR.parse_proj4("+proj=aeqd +lat_0=32 +lon_0=-60 +k_0=2 "
                       "+ellps=WGS84 +units=m +no_defs")
    with pytest.raises(ValueError, match="antipodal"):
        fwd(np.array([119.9]), np.array([-32.0]))


def test_parse_proj4_towgs84_compose():
    """Datum legs wrap the ellipsoidal kernel: a bessel+towgs84 aeqd
    roundtrips WGS84 coords through the Helmert shift exactly."""
    crs = ("+proj=aeqd +lat_0=32 +lon_0=-60 +x_0=0 +y_0=0 +ellps=bessel "
           "+towgs84=598.1,73.7,418.2,0.202,0.045,-2.455,6.7 "
           "+units=m +no_defs")
    fwd, inv = GR.parse_proj4(crs)
    x, y = fwd(np.array([-59.0, -62.5]), np.array([31.0, 33.5]))
    lo, la = inv(x, y)
    np.testing.assert_allclose(lo, [-59.0, -62.5], atol=1e-9)
    np.testing.assert_allclose(la, [31.0, 33.5], atol=1e-9)
    # and the shift actually moves the grid vs the no-shift CRS
    fwd0, _ = GR.parse_proj4("+proj=aeqd +lat_0=32 +lon_0=-60 +x_0=0 "
                             "+y_0=0 +ellps=bessel +units=m +no_defs")
    x0, y0 = fwd0(np.array([-59.0]), np.array([31.0]))
    assert abs(float(x[0]) - float(x0[0])) > 1.0
