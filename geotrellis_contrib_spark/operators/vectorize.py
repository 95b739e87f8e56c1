"""Raster -> vector polygonization (GeoTrellis ``raster.vectorize`` /
``Tile#toVector`` analog): every 4-connected component of a pixel
predicate becomes an OGC polygon — exterior ring plus hole rings —
traced on the global pixel lattice, ACROSS tile boundaries.

Reference parity: GeoTrellis vectorizes the tiled layers the reference's
RasterSources produce (the same consumption tier as RegionGroup —
RasterSourceSpec tiling); this is the vector-side closer of the
raster<->vector pair whose other half is ``pixels.rasterize_*``.

Spark-first plan (every stage O(boundary), never O(pixels)):
  1. ``map_tiles`` scan (:func:`k_vectorize_scan`), ZERO shuffle: per
     tile, in-tile min-label components (region.py machinery), then
     vectorized numpy shifts emit one row per exposed cell SIDE —
     resolved immediately where the facing cell is in-tile, and as a
     CANDIDATE keyed by the geometric unit segment where the facing
     cell lives in the next tile. Border mask cells ride along for the
     label merge.
  2. Candidate cancellation: ONE groupBy on the segment key — two
     facing masked cells produce the same key (4-adjacent => same
     region, so the segment is interior: drop both); a lone row is a
     real boundary edge. Shuffle volume = region boundary on tile
     edges only.
  3. Label merge: ``region._label_merge``, the cross-tile
     connected-components join shared with ``region_stats``
     (min-pixel-id roots).
  4. Ring assembly: edges shuffle ONCE keyed by (source, band, region)
     into ``applyInPandas`` — per-region memory is its perimeter
     (O(sqrt(area)); fail-loud past ``max_edges``). Tracing keeps the
     region on the RIGHT of travel and takes the sharpest RIGHT turn
     at pinch vertices (the GDALPolygonize convention), so exterior
     rings come out clockwise in screen coords (y down) and holes
     counterclockwise; collinear lattice steps merge; rings start at
     their minimal (row, col) vertex, holes sort by start vertex.

Determinism contract (mirrored bit-for-bit by the ``vectorize`` SQL
oracle): region_id = MIN(gr*npx + gc); WKT coordinates are INTEGER
global pixel-lattice positions ``x=gc y=gr`` (the caller applies the
layout affine for map coordinates — kept integer here so the value
gate is exact); ring/vertex order as above.
"""

from __future__ import annotations

from functools import partial
from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geotrellis_contrib_spark.operators.pixels import map_tiles
from geotrellis_contrib_spark.operators.region import (
    _border, _label_merge, _local_labels, _scan_mask)

# (dr, dc) travel directions; region is on the RIGHT of travel
_RIGHT = {(0, 1): (1, 0), (1, 0): (0, -1), (0, -1): (-1, 0),
          (-1, 0): (0, 1)}
_LEFT = {v: k for k, v in _RIGHT.items()}


def _trace_rings(edges: list[tuple[int, int, int, int]]):
    """Assemble directed unit edges (r1, c1, r2, c2) into closed rings.
    At pinch vertices (two outgoing choices) take the sharpest RIGHT
    turn relative to the incoming direction — rings never cross and the
    signed-area accounting stays exact. Returns [(ring_vertices,
    signed_area2)] with ring_vertices = [(r, c), ...] open (no repeated
    endpoint), collinear steps merged, starting at the ring's minimal
    (r, c) vertex; signed_area2 = twice the shoelace area in screen
    coords (positive = clockwise on screen = exterior)."""
    out_edges: dict[tuple[int, int], list[tuple[int, int]]] = {}
    for r1, c1, r2, c2 in edges:
        out_edges.setdefault((r1, c1), []).append((r2, c2))
    for v in out_edges:
        out_edges[v].sort()
    used: set[tuple[int, int, int, int]] = set()
    rings = []
    remaining = sorted(set((r1, c1) for r1, c1, _, _ in edges))
    for start in remaining:
        while True:
            nxts = [e for e in out_edges.get(start, ())
                    if (start[0], start[1], e[0], e[1]) not in used]
            if not nxts:
                break
            cur = start
            nxt = nxts[0]  # min-vertex start is never a pinch
            ring = [cur]
            used.add((cur[0], cur[1], nxt[0], nxt[1]))
            prev_dir = (nxt[0] - cur[0], nxt[1] - cur[1])
            cur = nxt
            while cur != start:
                cand = [e for e in out_edges.get(cur, ())
                        if (cur[0], cur[1], e[0], e[1]) not in used]
                if not cand:
                    raise ValueError("vectorize: open boundary chain "
                                     f"at vertex {cur} (corrupt edge "
                                     "set)")
                if len(cand) == 1:
                    nxt = cand[0]
                else:
                    # sharpest right turn first, then straight, left
                    pri = [_RIGHT[prev_dir], prev_dir, _LEFT[prev_dir]]
                    by_dir = {(e[0] - cur[0], e[1] - cur[1]): e
                              for e in cand}
                    nxt = next(by_dir[d] for d in pri if d in by_dir)
                ring.append(cur)
                used.add((cur[0], cur[1], nxt[0], nxt[1]))
                prev_dir = (nxt[0] - cur[0], nxt[1] - cur[1])
                cur = nxt
            # merge collinear steps (closed ring: wrap-around aware)
            n = len(ring)
            keep = []
            for i in range(n):
                p0, p1, p2 = ring[i - 1], ring[i], ring[(i + 1) % n]
                d1 = (p1[0] - p0[0], p1[1] - p0[1])
                d2 = (p2[0] - p1[0], p2[1] - p1[1])
                if d1 != d2:
                    keep.append(p1)
            k = keep.index(min(keep))
            keep = keep[k:] + keep[:k]
            a2 = 0
            for i in range(len(keep)):
                (r1, c1), (r2, c2) = keep[i], keep[(i + 1) % len(keep)]
                a2 += c1 * r2 - c2 * r1
            rings.append((keep, a2))
    return rings


def _pip(pt: tuple[float, float], ring: list[tuple[int, int]]) -> bool:
    """Crossing-number point-in-ring ((r, c) vertices, point (r, c))."""
    pr, pc = pt
    inside = False
    n = len(ring)
    for i in range(n):
        (r1, c1), (r2, c2) = ring[i], ring[(i + 1) % n]
        if (r1 > pr) != (r2 > pr):
            x = c1 + (pr - r1) * (c2 - c1) / (r2 - r1)
            if pc < x:
                inside = not inside
    return inside


def _ring_wkt(ring: list[tuple[int, int]]) -> str:
    pts = ring + [ring[0]]
    return "(" + ", ".join(f"{c} {r}" for r, c in pts) + ")"


def _assemble_wkt(edges: list[tuple[int, int, int, int]]) -> tuple:
    """Rings -> (n_rings, n_pixels, perimeter, wkt). Exterior rings are
    screen-clockwise (a2 > 0); holes attach to the smallest containing
    exterior (region interior sits just right of the hole's first
    edge). One exterior -> POLYGON, several -> MULTIPOLYGON sorted by
    exterior start vertex."""
    rings = _trace_rings(edges)
    exts = [(v, a2) for v, a2 in rings if a2 > 0]
    holes = [(v, a2) for v, a2 in rings if a2 < 0]
    if not exts:
        raise ValueError("vectorize: no exterior ring traced")
    n_pixels = sum(a2 for _, a2 in rings) // 2
    polys: list[tuple[list, list]] = [(v, []) for v, _ in
                                      sorted(exts, key=lambda e: e[0][0])]
    for hv, _ in holes:
        if len(polys) == 1:
            polys[0][1].append(hv)
            continue
        # probe point just right of the hole's first edge (= region
        # interior), then smallest containing exterior
        (r1, c1), (r2, c2) = hv[0], hv[1]
        dr = (r2 > r1) - (r2 < r1)
        dc = (c2 > c1) - (c2 < c1)
        rr, rc = _RIGHT[(dr, dc)]
        probe = (r1 + dr * 0.5 + rr * 0.25, c1 + dc * 0.5 + rc * 0.25)
        best = None
        for i, (ev, _) in enumerate(polys):
            if _pip(probe, ev):
                a = abs(sum(c1 * r2 - c2 * r1 for (r1, c1), (r2, c2)
                            in zip(ev, ev[1:] + ev[:1])))
                if best is None or a < best[0]:
                    best = (a, i)
        if best is None:
            raise ValueError("vectorize: hole ring outside every "
                             "exterior ring")
        polys[best[1]][1].append(hv)
    parts = []
    for ev, hvs in polys:
        hvs.sort(key=lambda v: v[0])
        parts.append(", ".join([_ring_wkt(ev)]
                               + [_ring_wkt(h) for h in hvs]))
    if len(parts) == 1:
        wkt = f"POLYGON ({parts[0]})"
    else:
        wkt = "MULTIPOLYGON (" + ", ".join(f"({p})" for p in parts) + ")"
    return len(rings), n_pixels, len(edges), wkt


def k_vectorize_scan(row: dict, predicate, t: int, npx: int) -> list[dict]:
    """The zero-shuffle scan of :func:`vectorize_regions`: the tile's
    mask labelled in-tile (region.py machinery), one kind-0 row per
    exposed cell side whose facing cell is in-tile, one kind-2 candidate
    per side on a tile edge, and one kind-1 row per border mask cell
    (``er``/``ec`` carry the CELL coords there) for the label merge."""
    mask, gr, gc = _scan_mask(row, predicate, t)
    if not mask.any():
        return []
    lab = _local_labels(mask, gr * npx + gc)
    out = []

    def emit(sel, ekind, er, ec, dr, kind=0):
        for rr, cc in zip(*np.nonzero(sel)):
            out.append({"kind": kind, "ekind": ekind, "er": int(er[rr, cc]),
                        "ec": int(ec[rr, cc]), "dir": dr,
                        "label": int(lab[rr, cc])})

    # sides resolved in-tile (facing cell visible)
    top = mask.copy()
    top[1:, :] &= ~mask[:-1, :]
    top[0, :] = False
    bot = mask.copy()
    bot[:-1, :] &= ~mask[1:, :]
    bot[-1, :] = False
    lft = mask.copy()
    lft[:, 1:] &= ~mask[:, :-1]
    lft[:, 0] = False
    rgt = mask.copy()
    rgt[:, :-1] &= ~mask[:, 1:]
    rgt[:, -1] = False
    emit(top, 0, gr, gc, 1)
    emit(bot, 0, gr + 1, gc, -1)
    emit(lft, 1, gr, gc, -1)
    emit(rgt, 1, gr, gc + 1, 1)
    # tile-edge sides: candidates (facing cell next tile)
    edge = np.zeros((t, t), dtype=bool)
    edge[0, :] = True
    emit(mask & edge, 0, gr, gc, 1, kind=2)
    edge[:] = False
    edge[-1, :] = True
    emit(mask & edge, 0, gr + 1, gc, -1, kind=2)
    edge[:] = False
    edge[:, 0] = True
    emit(mask & edge, 1, gr, gc, -1, kind=2)
    edge[:] = False
    edge[:, -1] = True
    emit(mask & edge, 1, gr, gc + 1, 1, kind=2)
    emit(mask & _border(t), 0, gr, gc, 0, kind=1)
    return out


def vectorize_regions(tiles: DataFrame,
                      predicate: Callable[[np.ndarray, np.ndarray,
                                           np.ndarray], np.ndarray],
                      tile_size: int = 64, npx: int = 1 << 22,
                      max_edges: int = 1 << 22) -> DataFrame:
    """Polygonize the 4-connected components of ``predicate(values, gr,
    gc) & valid`` across all tiles of each (source_id, band). Returns
    ``(source_id, band, region_id, n_rings, n_pixels, perimeter, wkt)``
    — see the module docstring for the plan shape and the determinism
    contract the SQL oracle mirrors."""
    t = int(tile_size)
    rows = map_tiles(
        tiles, partial(k_vectorize_scan, predicate=predicate, t=t, npx=npx),
        "source_id string, band bigint, kind int, ekind int, er bigint, "
        "ec bigint, dir int, label bigint").localCheckpoint(eager=False)

    # candidate cancellation: facing masked cells share the segment key
    # (same region by 4-adjacency) -> interior -> drop both
    cand = (rows.filter(F.col("kind") == 2)
            .groupBy("source_id", "band", "ekind", "er", "ec")
            .agg(F.count(F.lit(1)).alias("nn"),
                 F.min("dir").alias("dir"), F.min("label").alias("label"))
            .filter(F.col("nn") == 1)
            .drop("nn"))
    edges = rows.filter(F.col("kind") == 0) \
        .select("source_id", "band", "ekind", "er", "ec", "dir",
                "label").unionByName(cand.select(
                    "source_id", "band", "ekind", "er", "ec", "dir",
                    "label"))

    # label merge: region_stats' packed-neighbor CC join
    border = rows.filter(F.col("kind") == 1) \
        .select("source_id", "band", F.col("er").alias("gr"),
                F.col("ec").alias("gc"), "label")
    _, root = _label_merge(tiles, border, t, npx)
    merged = root(edges, "region_id")

    def assemble(key, pdf):
        if len(pdf) > max_edges:
            raise ValueError(
                f"vectorize: region {key} has {len(pdf)} boundary "
                f"edges > max_edges={max_edges}; raise the guard or "
                "pre-split the scene")
        es = []
        for ek, er, ec, dr in zip(pdf["ekind"].to_numpy(),
                                  pdf["er"].to_numpy(),
                                  pdf["ec"].to_numpy(),
                                  pdf["dir"].to_numpy()):
            er, ec = int(er), int(ec)
            if ek == 0:  # horizontal segment (er,ec)-(er,ec+1)
                es.append((er, ec, er, ec + 1) if dr > 0
                          else (er, ec + 1, er, ec))
            else:        # vertical segment (er,ec)-(er+1,ec)
                es.append((er, ec, er + 1, ec) if dr > 0
                          else (er + 1, ec, er, ec))
        n_rings, n_px, perim, wkt = _assemble_wkt(es)
        return pd.DataFrame([{
            "source_id": key[0], "band": int(key[1]),
            "region_id": int(key[2]), "n_rings": n_rings,
            "n_pixels": n_px, "perimeter": perim, "wkt": wkt}])

    return merged.groupBy("source_id", "band", "region_id").applyInPandas(
        assemble,
        "source_id string, band bigint, region_id bigint, "
        "n_rings bigint, n_pixels bigint, perimeter bigint, wkt string")
