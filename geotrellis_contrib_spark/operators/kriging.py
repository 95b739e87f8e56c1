"""Ordinary kriging interpolation (geotrellis.raster.interpolation /
geotrellis-vector Kriging analog — the geostatistical sibling of
``pixels.idw_interpolate``): per pixel, value = sum(w_i * z_i) with the
weights solving the ordinary-kriging system

    [ G   1 ] [w]   [g(px)]        G_ij = gamma(|s_i - s_j|)
    [ 1^T 0 ] [m] = [  1  ]        g_j  = gamma(|pixel - s_j|)

under a SPHERICAL variogram gamma(h) = c0 + c1*(1.5u - 0.5u^3) for
u = h/a < 1 else c0 + c1 (h = 0 -> 0). The spherical model is chosen
deliberately: the whole chain is +,-,*,/ and sqrt — all IEEE
correctly-rounded everywhere — so the DuckDB oracle replays it
bit-for-bit (exponential/gaussian variograms would drag exp() parity
in; they can be added pytest-gated).

Scale plan: the sample set is a constant-small dimension (dense-solve
kriging is O(K^3) + O(K) per pixel — fail-loud past ``max_samples``;
beyond that real systems switch to local-neighborhood kriging, which
is a different operator). Samples are collected ONCE, the (K+1)^2
system is inverted DRIVER-side, and (samples, inverse) are bound to
the per-tile kernel :func:`k_krige` that ``pixels.map_tiles`` runs over
the target tile grid — ZERO shuffle at any raster size, the
kernel_density/IDW tier's plan shape.

Determinism contract (mirrored by the ``kriging`` SQL oracle — change
one only with the other): the inverse is the ADJUGATE/DETERMINANT
expansion evaluated by :func:`_inv` in a pinned recursion order; the
same Python code emits the oracle's SQL expression tree through
:class:`Sym` string operands, so both sides are the LITERAL same
operation chain. Weights fold j = 0..K left-to-right; the value folds
i = 0..K-1 left-to-right; per-pixel outputs quantize to
floor(val * 2^20 + 0.5) and reduce as order-free integer sums.
"""

from __future__ import annotations

import math
from functools import partial

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geotrellis_contrib_spark.operators.pixels import map_tiles

Q_KRIG = 1048576.0  # 2^20 quantization grid


class Sym:
    """SQL-expression operand: arithmetic mirrors float semantics but
    builds a fully-parenthesized DuckDB string — running the SAME
    inversion code over Sym yields the oracle's expression tree."""

    __slots__ = ("s",)

    def __init__(self, s: str) -> None:
        self.s = s

    @staticmethod
    def lit(v: float) -> "Sym":
        return Sym(f"CAST({v!r} AS DOUBLE)")

    def _c(self, o) -> "Sym":
        return o if isinstance(o, Sym) else Sym.lit(float(o))

    def __add__(self, o):
        return Sym(f"({self.s} + {self._c(o).s})")

    def __sub__(self, o):
        return Sym(f"({self.s} - {self._c(o).s})")

    def __mul__(self, o):
        return Sym(f"({self.s} * {self._c(o).s})")

    def __truediv__(self, o):
        return Sym(f"({self.s} / {self._c(o).s})")

    def __neg__(self):
        return Sym(f"(- {self.s})")


def sql_sqrt(s: Sym) -> Sym:
    """IEEE-correctly-rounded on both sides (numpy/libm/DuckDB)."""
    return Sym(f"SQRT({s.s})")


def _det(m):
    """Determinant by first-row Laplace expansion, pinned recursion
    order (works over floats AND Sym operands)."""
    n = len(m)
    if n == 1:
        return m[0][0]
    if n == 2:
        return m[0][0] * m[1][1] - m[0][1] * m[1][0]
    acc = None
    for j in range(n):
        minor = [[m[r][c] for c in range(n) if c != j]
                 for r in range(1, n)]
        term = m[0][j] * _det(minor)
        if j % 2 == 1:
            term = -term
        acc = term if acc is None else acc + term
    return acc


def _inv(m):
    """Adjugate / determinant inverse, same pinned expansion both
    backends. Returns (inv_matrix, det)."""
    n = len(m)
    d = _det(m)
    inv = [[None] * n for _ in range(n)]
    for i in range(n):
        for j in range(n):
            minor = [[m[r][c] for c in range(n) if c != i]
                     for r in range(n) if r != j]
            cof = _det(minor)
            if (i + j) % 2 == 1:
                cof = -cof
            inv[i][j] = cof / d
    return inv, d


def gamma_spherical(h, c0: float, c1: float, a: float):
    """Spherical variogram on floats or numpy arrays, pinned order:
    u = h / a; gamma = c0 + c1 * (1.5*u - 0.5*u*u*u)."""
    u = h / a
    s = c0 + c1 * (1.5 * u - 0.5 * u * u * u)
    if isinstance(h, np.ndarray):
        return np.where(h == 0.0, 0.0, np.where(h < a, s, c0 + c1))
    return 0.0 if h == 0.0 else (s if h < a else c0 + c1)


def sql_gamma_spherical(h: Sym, c0: float, c1: float, a: float) -> Sym:
    """The identical variogram as a DuckDB expression (same chain)."""
    u = h / Sym.lit(a)
    s = Sym.lit(c0) + Sym.lit(c1) \
        * (Sym.lit(1.5) * u - Sym.lit(0.5) * u * u * u)
    return Sym(f"CASE WHEN {h.s} = CAST(0.0 AS DOUBLE) "
               f"THEN CAST(0.0 AS DOUBLE) "
               f"WHEN {h.s} < CAST({a!r} AS DOUBLE) THEN {s.s} "
               f"ELSE CAST({(c0 + c1)!r} AS DOUBLE) END")


def kriging_system_inverse(samples: list[tuple[float, float, float]],
                           c0: float, c1: float, a: float):
    """Driver-side (K+1)^2 ordinary-kriging matrix inverse over python
    floats via the pinned adjugate expansion."""
    k = len(samples)
    A = [[0.0] * (k + 1) for _ in range(k + 1)]
    for i in range(k):
        for j in range(k):
            dx = samples[i][0] - samples[j][0]
            dy = samples[i][1] - samples[j][1]
            h = math.sqrt(dx * dx + dy * dy)
            A[i][j] = gamma_spherical(h, c0, c1, a)
        A[i][k] = 1.0
        A[k][i] = 1.0
    A[k][k] = 0.0
    if _det(A) == 0.0:
        raise ValueError("kriging: singular system (duplicate sample "
                         "locations?)")
    inv, _ = _inv(A)
    return inv


def k_krige(row: dict, t: int, zoom: int, pts: list, inv_np: list,
            c0: float, c1: float, a: float) -> dict:
    """One tile of :func:`kriging_interpolate`: the kriged value of every
    pixel center (weights = inverse system x variogram column, fixed
    summation order), quantized and summed."""
    k = len(pts)
    cx = np.arange(t, dtype=np.float64).reshape(1, -1)
    cy = np.arange(t, dtype=np.float64).reshape(-1, 1)
    px = int(row["col"]) * t + cx + 0.5
    py = int(row["row"]) * t + cy + 0.5
    b = []
    for sx, sy, _ in pts:
        dx = px - sx
        dy = py - sy
        h = np.sqrt(dx * dx + dy * dy)
        b.append(gamma_spherical(h, c0, c1, a))
    b.append(np.ones((t, t), dtype=np.float64))
    valpx = None
    for i in range(k):
        w = None
        for j in range(k + 1):
            term = inv_np[i][j] * b[j]
            w = term if w is None else w + term
        term = w * pts[i][2]
        valpx = term if valpx is None else valpx + term
    q = np.floor(valpx * Q_KRIG + 0.5).astype(np.int64)
    return {"zoom": zoom, "ksum": int(q.sum()), "n_px": int(q.size)}


def kriging_interpolate(samples: DataFrame, zoom: int,
                        cols: tuple[int, int], rows: tuple[int, int],
                        c0: float = 0.0, c1: float = 1.0,
                        a: float = 250.0, tile_size: int = 64,
                        max_samples: int = 64,
                        x="gx", y="gy", val="z") -> DataFrame:
    """Ordinary-kriging surface over the tile window ``cols`` x ``rows``
    (inclusive tile ranges at ``zoom``): per tile, the quantized sum
    ksum = sum(floor(val_px * 2^20 + 0.5)) and n_px. ``samples`` holds
    global-pixel coordinates + values; constant-small (fail-loud past
    ``max_samples``)."""
    t = int(tile_size)
    rows_s = samples.select(x, y, val).limit(max_samples + 1).collect()
    if len(rows_s) > max_samples:
        raise ValueError(
            f"kriging: > {max_samples} samples — dense-solve ordinary "
            "kriging is O(K^3); use a local-neighborhood variant")
    if len(rows_s) < 2:
        raise ValueError("kriging needs at least 2 samples")
    pts = sorted((float(r[0]), float(r[1]), float(r[2]))
                 for r in rows_s)
    inv = kriging_system_inverse(pts, c0, c1, a)
    k = len(pts)
    inv_np = [[float(inv[i][j]) for j in range(k + 1)]
              for i in range(k + 1)]
    spark = samples.sparkSession
    c0t, c1t = int(cols[0]), int(cols[1])
    r0t, r1t = int(rows[0]), int(rows[1])
    nc = c1t - c0t + 1
    grid = spark.range(nc * (r1t - r0t + 1)).select(
        (F.lit(c0t) + F.col("id") % nc).alias("col"),
        (F.lit(r0t) + F.floor(F.col("id") / nc)).alias("row"))

    return map_tiles(
        grid, partial(k_krige, t=t, zoom=int(zoom), pts=pts, inv_np=inv_np,
                      c0=c0, c1=c1, a=a),
        "zoom int, col bigint, row bigint, ksum bigint, n_px bigint")
