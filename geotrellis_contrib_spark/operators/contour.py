"""Marching-squares contour extraction — the isoline raster→vector
sibling of polygonize (GDAL exposes it as gdal_contour; GeoTrellis
users reach it through GDAL on the same rasters this engine's catalog
reads, e.g. the reference's aspect-tiled.tif terrain fixtures). From
scratch on the standard 16-case table.

Semantics (all shared VERBATIM with the SQL oracle through
:data:`CASES` / :func:`sql_segment_cases` — the kriging discipline of
emitting both sides from one pinned table):

  * corner state = value > iso STRICTLY; callers pick an iso off the
    data grid (e.g. a 1/16-multiple against 1/4-multiple data) so
    equality never occurs and every referenced edge has a true sign
    change (nonzero interpolation denominator).
  * case index = 8·TL + 4·TR + 2·BR + 1·BL; saddles (5, 10) split on
    the center average (vTL+vTR+vBR+vBL)/4 > iso.
  * edge points by linear interpolation t = (iso − va)/(vb − va),
    emitted in the TABLE's segment/endpoint order (no sorting — both
    sides share the order, so no float comparison is needed).
  * a 2×2 block participates only if all four corners are valid
    (non-NoData, non-NaN, inside the scene).

Spark shape: ONE shuffle — every tile sends its first column / first
row / corner pixel to its left / upper / upper-left neighbor (an
O(perimeter) halo, the focal-family discipline), then a vectorized
numpy kernel walks each assembled (T+1)² grid."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geotrellis_contrib_spark.operators.pixels import map_tiles, valid_px

# case -> list of segments, each ((edgeA, edgeB)); saddle cases 5/10
# appear as {True: [...], False: [...]} keyed by center > iso.
CASES = {
    0: [], 15: [],
    1: [("L", "B")],
    2: [("B", "R")],
    3: [("L", "R")],
    4: [("T", "R")],
    6: [("T", "B")],
    7: [("L", "T")],
    8: [("T", "L")],
    9: [("T", "B")],
    11: [("T", "R")],
    12: [("L", "R")],
    13: [("B", "R")],
    14: [("L", "B")],
    5: {True: [("L", "T"), ("R", "B")],    # center high: lows isolated
        False: [("T", "R"), ("B", "L")]},  # center low: highs isolated
    10: {True: [("T", "R"), ("B", "L")],
         False: [("L", "T"), ("R", "B")]},
}

_OUT = ("gr bigint, gc bigint, seg int, "
        "qx1 bigint, qy1 bigint, qx2 bigint, qy2 bigint")
_Q = 1048576.0


def _edge_points(edge: str, gr, gc, vtl, vtr, vbr, vbl, iso: float):
    """(x, y) of the iso crossing on `edge` of block (gr, gc) — numpy
    arrays; the SQL twin in sql_segment_cases mirrors each expression
    term for term."""
    if edge == "T":
        return gc + (iso - vtl) / (vtr - vtl), gr + 0.0 * vtl
    if edge == "R":
        return gc + 1.0 + 0.0 * vtl, gr + (iso - vtr) / (vbr - vtr)
    if edge == "B":
        return gc + (iso - vbl) / (vbr - vbl), gr + 1.0 + 0.0 * vtl
    if edge == "L":
        return gc + 0.0 * vtl, gr + (iso - vtl) / (vbl - vtl)
    raise ValueError(edge)


def marching_squares(grid: np.ndarray, iso: float,
                     gr0: int, gc0: int) -> list[tuple]:
    """Vectorized 16-case walk over one assembled grid (NaN = invalid);
    returns (gr, gc, seg, qx1, qy1, qx2, qy2) rows. (gr0, gc0) is the
    global position of grid[0, 0]."""
    vtl = grid[:-1, :-1]
    vtr = grid[:-1, 1:]
    vbr = grid[1:, 1:]
    vbl = grid[1:, :-1]
    valid = (~np.isnan(vtl) & ~np.isnan(vtr)
             & ~np.isnan(vbr) & ~np.isnan(vbl))
    idx = (8 * (vtl > iso) + 4 * (vtr > iso)
           + 2 * (vbr > iso) + 1 * (vbl > iso))
    center_hi = (vtl + vtr + vbr + vbl) / 4.0 > iso
    rr, cc = np.indices(vtl.shape)
    out = []
    for case, table in CASES.items():
        variants = table.items() if isinstance(table, dict) \
            else [(None, table)]
        for ctr, segs in variants:
            if not segs:
                continue
            m = valid & (idx == case)
            if ctr is not None:
                m &= (center_hi == ctr)
            if not m.any():
                continue
            r_i, c_i = np.nonzero(m)
            gr = gr0 + r_i
            gc = gc0 + c_i
            args = (gr, gc, vtl[r_i, c_i], vtr[r_i, c_i],
                    vbr[r_i, c_i], vbl[r_i, c_i])
            for si, (ea, eb) in enumerate(segs):
                x1, y1 = _edge_points(ea, *args, iso)
                x2, y2 = _edge_points(eb, *args, iso)
                q = [np.floor(v * _Q + 0.5).astype(np.int64)
                     for v in (x1, y1, x2, y2)]
                out.extend(zip(gr.tolist(), gc.tolist(),
                               [si] * len(gr), *[a.tolist() for a in q]))
    return out


def k_contour_fan(row: dict) -> list[dict]:
    """A tile's own float64 pixels (NaN = NoData) plus the first column,
    first row and corner pixel its left, upper and upper-left neighbors
    need to close their (T+1)^2 grids (roles 0-3)."""
    arr = row["px"].astype(np.float64)
    arr = np.where(valid_px(arr, row["nodata"]), arr, np.nan)
    col, r = row["col"], row["row"]
    return [{"col": col, "row": r, "role": 0, "px": arr},
            {"col": col - 1, "row": r, "role": 1, "px": arr[:, 0]},
            {"col": col, "row": r - 1, "role": 2, "px": arr[0, :]},
            {"col": col - 1, "row": r - 1, "role": 3, "px": arr[0:1, 0]}]


def contour_segments(tiles: DataFrame, iso: float,
                     tile_size: int = 64) -> DataFrame:
    """Iso-contour segments across tile boundaries. Input: one band of
    co-gridded tiles (source_id/zoom/col/row/band/dtype/nodata/px).
    Output: (gr, gc, seg, qx1, qy1, qx2, qy2) — block global coords,
    segment slot, 2^20-quantized endpoint coordinates."""
    T = tile_size
    fan = map_tiles(tiles, k_contour_fan,
                    "col bigint, row bigint, role int, px binary")

    def solve(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        col, row = int(key[0]), int(key[1])
        grid = np.full((T + 1, T + 1), np.nan)
        has_own = False
        for row_t in pdf.itertuples():
            role = int(row_t.role)
            if role == 0:
                grid[:T, :T] = np.frombuffer(
                    row_t.px, dtype=np.float64).reshape(T, T)
                has_own = True
            elif role == 1:
                grid[:T, T] = np.frombuffer(row_t.px, dtype=np.float64)
            elif role == 2:
                grid[T, :T] = np.frombuffer(row_t.px, dtype=np.float64)
            else:
                grid[T, T] = np.frombuffer(row_t.px, dtype=np.float64)[0]
        if not has_own:
            return pd.DataFrame(
                columns=["gr", "gc", "seg", "qx1", "qy1", "qx2", "qy2"])
        segs = marching_squares(grid, iso, row * T, col * T)
        return pd.DataFrame(
            segs, columns=["gr", "gc", "seg", "qx1", "qy1", "qx2", "qy2"])

    return fan.groupBy("col", "row").applyInPandas(solve, _OUT)


def sql_segment_cases(v_fn, iso: str) -> str:
    """Oracle generator: given ``v_fn(dr, dc) -> SQL`` for the corner
    value at block offset (dr, dc) (returning NULL for invalid
    corners) and the iso literal, emit the FROM-less SQL fragment
    computing (seg, qx1, qy1, qx2, qy2) rows per block (gr, gc) via
    the SAME case table. Expects gr/gc columns in scope; yields a
    LATERAL-ready 'segs(...)' VALUES-style union of the two slots."""
    vtl, vtr, vbr, vbl = v_fn(0, 0), v_fn(0, 1), v_fn(1, 1), v_fn(1, 0)

    def pt(edge: str) -> tuple[str, str]:
        if edge == "T":
            return (f"(gc + ({iso} - ({vtl})) / (({vtr}) - ({vtl})))",
                    "CAST(gr AS DOUBLE)")
        if edge == "R":
            return ("CAST(gc + 1 AS DOUBLE)",
                    f"(gr + ({iso} - ({vtr})) / (({vbr}) - ({vtr})))")
        if edge == "B":
            return (f"(gc + ({iso} - ({vbl})) / (({vbr}) - ({vbl})))",
                    "CAST(gr + 1 AS DOUBLE)")
        return ("CAST(gc AS DOUBLE)",
                f"(gr + ({iso} - ({vtl})) / (({vbl}) - ({vtl})))")

    idx = (f"(8 * CASE WHEN ({vtl}) > {iso} THEN 1 ELSE 0 END"
           f" + 4 * CASE WHEN ({vtr}) > {iso} THEN 1 ELSE 0 END"
           f" + 2 * CASE WHEN ({vbr}) > {iso} THEN 1 ELSE 0 END"
           f" + 1 * CASE WHEN ({vbl}) > {iso} THEN 1 ELSE 0 END)")
    ctr = (f"(CASE WHEN (({vtl}) + ({vtr}) + ({vbr}) + ({vbl})) / 4.0"
           f" > {iso} THEN 1 ELSE 0 END)")
    valid = (f"({vtl} IS NOT NULL AND {vtr} IS NOT NULL"
             f" AND {vbr} IS NOT NULL AND {vbl} IS NOT NULL)")

    def q(e: str) -> str:
        return f"CAST(FLOOR(({e}) * 1048576.0 + 0.5) AS BIGINT)"

    arms = {0: [], 1: []}  # slot -> list of (cond, (x1,y1,x2,y2))
    for case, table in CASES.items():
        variants = table.items() if isinstance(table, dict) \
            else [(None, table)]
        for c_hi, segs in variants:
            cond = f"_idx = {case}"
            if c_hi is not None:
                cond += f" AND _ctr = {1 if c_hi else 0}"
            for si, (ea, eb) in enumerate(segs):
                x1, y1 = pt(ea)
                x2, y2 = pt(eb)
                arms[si].append((cond, (x1, y1, x2, y2)))

    def slot_select(si: int) -> str:
        conds = arms[si]
        whens = lambda k: " ".join(  # noqa: E731
            f"WHEN {c} THEN {q(coords[k])}" for c, coords in conds)
        any_cond = " OR ".join(f"({c})" for c, _ in conds)
        return (f"SELECT gr, gc, {si} AS seg, "
                f"CASE {whens(0)} END AS qx1, "
                f"CASE {whens(1)} END AS qy1, "
                f"CASE {whens(2)} END AS qx2, "
                f"CASE {whens(3)} END AS qy2 "
                f"FROM blk WHERE _valid AND ({any_cond})")

    return (f"blk AS (SELECT gr, gc, {idx} AS _idx, {ctr} AS _ctr, "
            f"{valid} AS _valid FROM blocks),\n"
            f"segs AS ({slot_select(0)} UNION ALL {slot_select(1)})")
