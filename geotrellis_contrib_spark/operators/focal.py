"""Focal (neighborhood) map algebra over the distributed tile table — the
canonical stencil pattern: per-tile HALO EXCHANGE, then a vectorized numpy
stencil per assembled tile.

Reference parity: the reference's RasterSources feed GeoTrellis focal ops
(aspect-tiled.tif is literally an aspect/slope fixture —
vlm/src/test/resources, RasterSourceSpec reads it); the contrib layer's
job is exactly this tiling/halo plumbing.

Spark-first plan (scale posture), owned by ``focal_map``:
  1. ``map_tiles`` strip extraction (``k_halo_pieces``) — each tile
     CUTS the r-wide edge strips its 8 neighbors need BEFORE the
     shuffle, so shuffle volume is ~(1 + 4r/T) x tile bytes, not 9x (no
     full-tile replication).
  2. ONE shuffle: ``groupBy(source, band, col, row).applyInPandas`` —
     assemble the (T+2r)^2 padded frame (missing neighbors / NoData ->
     NaN), run the operator's kernel, emit per-tile results.
At 100 TB this is one co-partitioned shuffle of ~1.06x the raster bytes;
the stencil itself is embarrassingly parallel per tile.

Kernel contract: each per-tile checksum operator validates its
parameters, binds them to a module-level ``k_<op>(frame, t, col, row,
**params)`` with ``functools.partial`` and hands it to ``focal_map``. A
kernel gets the receiving tile's (t+2r)^2 float64 frame (NaN = NoData or
no neighbor; the tile itself is ``frame[r:r+t, r:r+t]``), the tile size
and the tile's (col, row); it returns the tile's result columns as a
dict, or None for "no row" (nothing hit). Halo-only groups — the
receiving tile does not exist — never reach a kernel and emit no row.
Quantize-first checksums go through ``qsum``.

Iterative operators (cost_distance, flow_accumulation, fill_sinks) run
on ``halo_rounds``, the synchronous-rounds sibling of ``focal_map``: the
operator builds its round-0 state (key columns plus one binary t x t
plane per column) and hands over a spec — which planes travel as 1-px
strips, which stay home, each strip plane's ring fill and whether the
tile keeps ring memory, an ``offers(piece)`` test for strips worth
sending — and a module-level relax kernel ``k_<op>_relax(frames, t)``.
The kernel gets one (t+2)^2 frame per plane (interior = the tile,
ring = neighbor strips, ring memory or the fill; a home plane's ring is
NaN) and returns the new t x t interiors of the planes it updates;
frames may be changed in place. Per round the driver cuts the strips of
tiles that improved last round, shuffles once on the tile key, passes
through tiles that received no strip, and stops at the first round in
which no tile improved (``improved = any(new != old)``).

The pointer-chain operators (watershed, flow_length, the distributed
least-cost path) run on ``contract``, the tile-contraction driver: a
kernel turns each tile's halo pieces into a direction plane over its
(t+2)^2 frame (``_NEIGHBORS`` index per cell, anything else a chain
end); ``_collapse`` pointer-doubles the chains inside the frame,
carrying additive per-hop weights; the tile emits one border row per
live cell of its own 1-px ring and its rows to resolve, all keyed by the
injective ``_gid``; ``border_doubling`` resolves the O(perimeter) border
table and each row joins it at its chain end.

The eight scene-or-distributed operators (flow_accumulation, watershed,
fill_sinks, stream_network, flow_length here; cost_distance and the
least-cost path in ``costdistance``; viewshed) pick a path with
``_scene_small``. Their scene path runs on ``scene_tiles``, the grouped
sibling of ``focal_map`` and the reference's windowed mosaic read
(``MosaicRasterSource``): ONE ``groupBy(source_id, band)`` stage whose
body refuses a footprint past ``max_px``, assembles the scene's float64
mosaic ``z`` (NaN = NoData or no tile) and calls a module-level
``k_<op>_scene(z, r0, c0, key, **params)``, (r0, c0) = the tile key of
the mosaic's top-left corner; ``key`` holds the group's ``source_id``
and ``band`` and its present tiles' ``col``/``row``. The kernel returns
a list of row dicts; ``_per_tile`` cuts one per present tile.

Determinism contract (mirrored by the ``focal_stats`` SQL oracle in
``__spark_entry__.py`` — change one only with the other):
  * the 3x3 accumulation adds the 9 neighbor terms in FIXED lexicographic
    (dr, dc) order: (-1,-1), (-1,0), ..., (1,1) — chained left-to-right
    float adds, invalid terms contribute literal 0.0;
  * focal_mean = acc / count (one division, both operands bit-identical
    on both sides);
  * the per-tile checksum quantizes FIRST — floor(v * 2^20 + 0.5) as
    int64 — then sums INTEGERS, so the sum is order-independent (float
    sums of quotients would depend on order; integer sums do not).
"""

from __future__ import annotations

from functools import partial
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geotrellis_contrib_spark.operators.pixels import (
    DTYPES, _names, _records, map_tiles, pack, qsum, valid_px)
from geotrellis_contrib_spark.plans.iterate import (
    border_doubling, fixpoint, flag_clear)
from geotrellis_contrib_spark.util import compute_grouped

# fixed lexicographic neighbor order — the SQL oracle's chained-add order
_OFFSETS = [(dr, dc) for dr in (-1, 0, 1) for dc in (-1, 0, 1)]
_NEIGHBORS = [o for o in _OFFSETS if o != (0, 0)]


def _strip(arr: np.ndarray, dr: int, dc: int, r: int) -> np.ndarray:
    """The r-wide edge of ``arr`` that the neighbor at (dr, dc) needs."""
    rows = slice(None) if dr == 0 else (slice(-r, None) if dr == 1
                                        else slice(0, r))
    cols = slice(None) if dc == 0 else (slice(-r, None) if dc == 1
                                        else slice(0, r))
    return arr[rows, cols]


def _ring_slot(dr: int, dc: int, r: int, t: int) -> tuple[slice, slice]:
    """Where a piece sent with offset (dr, dc) lands in the receiver's
    (t+2r)^2 padded frame: at the OPPOSITE edge (the center piece, (0,
    0), fills the interior)."""
    p = t + 2 * r
    rows = slice(r, r + t) if dr == 0 else (
        slice(0, r) if dr == 1 else slice(p - r, p))
    cols = slice(r, r + t) if dc == 0 else (
        slice(0, r) if dc == 1 else slice(p - r, p))
    return rows, cols


def k_halo_pieces(row: dict, r: int) -> list[dict]:
    """Stage 1 of the stencil pattern: a tile cuts the r-wide edge strips
    its 8 neighbors need BEFORE the shuffle (no full-tile replication),
    plus its own center piece; each piece is keyed by the RECEIVING tile
    and carries its (h, w)."""
    arr = row["px"].astype(np.float64)
    out = []
    for dr, dc in _OFFSETS:
        piece = arr if (dr == 0 and dc == 0) else _strip(arr, dr, dc, r)
        out.append({"col": row["col"] + dc, "row": row["row"] + dr,
                    "dr": dr, "dc": dc, "h": piece.shape[0],
                    "w": piece.shape[1], "px": piece})
    return out


_PIECE_DDL = ("source_id string, band int, col bigint, row bigint, "
              "dr int, dc int, nodata double, h int, w int, px binary")


def _halo_pieces(tiles: DataFrame, r: int) -> DataFrame:
    return map_tiles(tiles, partial(k_halo_pieces, r=r), _PIECE_DDL)


def _assemble_frame(pdf: pd.DataFrame, r: int, t: int):
    """Stage 2 helper: build the (t+2r)^2 padded frame from a receiving
    tile's pieces — NaN where no neighbor exists or NoData. Returns None
    for halo-only groups (the target tile itself does not exist)."""
    p = t + 2 * r
    frame = np.full((p, p), np.nan)
    have_center = False
    nodata = None
    for row_t in pdf.itertuples(index=False):
        arr = np.frombuffer(row_t.px, dtype=np.float64) \
                .reshape(int(row_t.h), int(row_t.w))
        nodata = row_t.nodata
        dr, dc = int(row_t.dr), int(row_t.dc)
        if dr == 0 and dc == 0:
            have_center = True
        frame[_ring_slot(dr, dc, r, t)] = arr
    if not have_center:
        return None
    frame[~valid_px(frame, nodata)] = np.nan
    return frame


def focal_map(tiles: DataFrame, r: int, t: int, kernel,
              schema: str) -> DataFrame:
    """The halo-stencil driver of every checksum operator (module
    docstring): r-wide halo strips, ONE shuffle on the tile key, then
    ``kernel(frame, t, col, row)`` per receiving tile. Emits the key
    columns plus the kernel's dict as one row; halo-only groups and a
    ``None`` result emit nothing. ``schema`` is the output DDL."""

    def stencil(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        source_id, band, col, row = key
        frame = _assemble_frame(pdf, r, t)
        out = None if frame is None else kernel(frame, t, int(col),
                                                int(row))
        if out is None:
            return pd.DataFrame()
        return pd.DataFrame([{"source_id": source_id, "band": int(band),
                              "col": int(col), "row": int(row), **out}])

    return compute_grouped(
        _halo_pieces(tiles, r), "source_id", "band", "col", "row") \
        .applyInPandas(stencil, schema)


_KEY = ("source_id", "band", "col", "row")
_KEY_DDL = "source_id string, band int, col bigint, row bigint"


def _ring_store(frame: np.ndarray) -> bytes:
    """Serialize a (p, p) frame's 1-px ring (top row, bottom row, left
    column, right column — corners ride the rows) for ring memory."""
    return np.ascontiguousarray(np.concatenate(
        [frame[0, :], frame[-1, :],
         frame[1:-1, 0], frame[1:-1, -1]])).tobytes()


def _ring_load(frame: np.ndarray, buf: bytes, dtype) -> None:
    p = frame.shape[0]
    a = np.frombuffer(buf, dtype=dtype)
    frame[0, :] = a[:p]
    frame[-1, :] = a[p:2 * p]
    frame[1:-1, 0] = a[2 * p:3 * p - 2]
    frame[1:-1, -1] = a[3 * p - 2:]


def _piece_ddl(strips: dict, carry=()) -> str:
    return ", ".join([_KEY_DDL, "dr int, dc int, h int, w int",
                      *(f"{c} binary" for c in (*strips, *carry))])


def _halo_cut(t: int, strips: dict, carry=(), offers=None,
              every: bool = False):
    """The strip cut of a halo round (a ``mapInPandas`` body over the
    state): every tile emits its center piece (the ``strips`` planes
    plus the ``carry`` columns) and the 1-px strips of its ``strips``
    planes that each of its 8 neighbors needs, keyed by the receiving
    tile. ``offers(piece)`` drops a strip that cannot change its
    receiver; ``every`` cuts unimproved tiles too."""
    cols = [*_KEY, "dr", "dc", "h", "w", *strips, *carry]

    def cut(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row_t in pdf.itertuples(index=False):
                key = {"source_id": row_t.source_id,
                       "band": int(row_t.band),
                       "col": int(row_t.col), "row": int(row_t.row)}
                out.append({**key, "dr": 0, "dc": 0, "h": t, "w": t,
                            **{c: getattr(row_t, c)
                               for c in (*strips, *carry)}})
                # delta propagation (r7): a tile that did NOT
                # improve last round would re-offer the exact strips it
                # already offered; its receivers hold them in ring memory
                # or, with a memory-less ring, integrated them already
                # and relaxation is idempotent in its offers — so
                # skipping them is exact, and shuffle volume and relax
                # work shrink to the active wavefront
                if not (every or int(row_t.improved)):
                    continue
                arrs = {k: np.frombuffer(getattr(row_t, k), dtype=dt)
                        .reshape(t, t) for k, dt in strips.items()}
                for dr, dc in _NEIGHBORS:
                    piece = {k: np.ascontiguousarray(_strip(a, dr, dc, 1))
                             for k, a in arrs.items()}
                    if offers is not None and not offers(piece):
                        continue
                    out.append({**key, "col": key["col"] + dc,
                                "row": key["row"] + dr, "dr": dr, "dc": dc,
                                "h": 1 if dr else t, "w": 1 if dc else t,
                                **{k: v.tobytes() for k, v in piece.items()},
                                **dict.fromkeys(carry)})
            yield pd.DataFrame(out, columns=cols)

    return cut


def _split_center(pdf: pd.DataFrame):
    """A receiving tile's pieces -> (center row or None for a halo-only
    group, list of strip rows)."""
    center, pieces = None, []
    for row_t in pdf.itertuples(index=False):
        if int(row_t.dr) == 0 and int(row_t.dc) == 0:
            center = row_t
        else:
            pieces.append(row_t)
    return center, pieces


def _halo_frames(center, pieces, t: int, planes: dict, ring: dict) -> dict:
    """One (t+2)^2 frame per plane: the ring starts at the plane's fill
    (``ring[plane] = (fill, memory)``; NaN for a plane not in ``ring``)
    or, with memory, at the center row's ``ring_<plane>``; the center
    fills the interior and each strip its ring slot."""
    p = t + 2
    frames = {}
    for k, dt in planes.items():
        fill, memory = ring.get(k, (np.nan, False))
        frame = np.full((p, p), fill, dtype=dt)
        if memory:
            _ring_load(frame, getattr(center, f"ring_{k}"), dt)
        frame[1:1 + t, 1:1 + t] = np.frombuffer(
            getattr(center, k), dtype=dt).reshape(t, t)
        frames[k] = frame
    for row_t in pieces:
        slot = _ring_slot(int(row_t.dr), int(row_t.dc), 1, t)
        for k in ring:
            frames[k][slot] = np.frombuffer(
                getattr(row_t, k), dtype=planes[k]).reshape(
                    int(row_t.h), int(row_t.w))
    return frames


def _halo_round(t: int, *, strips: dict, home=None, ring: dict, offers,
                relax):
    """One round of :func:`halo_rounds` as plain pandas functions:
    (round-0 columns, cut, relax_tile, piece DDL, state DDL). ``cut`` is
    the ``mapInPandas`` body and ``relax_tile`` the grouped-map body on
    the tile key."""
    home = home or {}
    planes = {**home, **strips}
    memory = [k for k, (_, keep) in ring.items() if keep]
    kept = [f"ring_{k}" for k in memory]
    cols = [*_KEY, *planes, "improved", *kept]
    state_ddl = ", ".join([_KEY_DDL, *(f"{c} binary" for c in planes),
                           "improved int", *(f"{c} binary" for c in kept)])
    carry = [*kept, *home]
    p = t + 2
    start = {"improved": 1, **{
        f"ring_{k}": np.full(4 * p - 4, ring[k][0],
                             dtype=strips[k]).tobytes() for k in memory}}

    def relax_tile(pdf: pd.DataFrame) -> pd.DataFrame:
        center, pieces = _split_center(pdf)
        if center is None:
            return pd.DataFrame(columns=cols)
        out = {c: getattr(center, c) for c in cols if c != "improved"}
        if not pieces:
            # pass-through (r7 delta propagation): no new strips means
            # an unchanged ring, so the tile's fixpoint cannot move
            out["improved"] = 0
            return pd.DataFrame([out], columns=cols)
        frames = _halo_frames(center, pieces, t, planes, ring)
        out.update({f"ring_{k}": _ring_store(frames[k]) for k in memory})
        improved = False
        for k, new in relax(frames, t).items():
            old = np.frombuffer(getattr(center, k), dtype=planes[k])
            improved |= bool(np.any(new != old.reshape(t, t)))
            out[k] = pack(new)
        out["improved"] = int(improved)
        return pd.DataFrame([out], columns=cols)

    return (start, _halo_cut(t, strips, carry, offers), relax_tile,
            _piece_ddl(strips, carry), state_ddl)


def halo_rounds(state: DataFrame, t: int, *, strips: dict, home=None,
                ring: dict, offers, relax, max_iter: int,
                name: str) -> DataFrame:
    """The halo-rounds driver of every iterative raster operator (module
    docstring). ``state`` is the round-0 state: the key columns plus one
    binary t x t plane per key of ``strips`` (planes that travel as 1-px
    strips) and ``home`` (planes that stay home), each a {plane: dtype}
    map. ``ring`` maps each strip plane to (ring fill, ring memory);
    ``offers(piece)`` (None: always) tests a {plane: strip} piece.
    ``relax(frames, t)`` returns {plane: new interior}. Returns the
    converged state; fail-loud after ``max_iter`` rounds."""
    start, cut, relax_tile, piece_ddl, state_ddl = _halo_round(
        t, strips=strips, home=home, ring=ring, offers=offers, relax=relax)
    state = state.withColumns({c: F.lit(v) for c, v in start.items()}) \
        .localCheckpoint(eager=True)
    return fixpoint(
        state, lambda st: compute_grouped(
            st.mapInPandas(cut, piece_ddl), *_KEY)
        .applyInPandas(relax_tile, state_ddl),
        F.max("improved"), rounds=1, max_syncs=max_iter, stop=flag_clear,
        name=name,
        message=f"{name} did not reach a global fixpoint in "
                f"{max_iter} rounds; raise max_iter")


def _gid(gr, gc):
    """The contraction's global cell key: injective for any scene up to
    2^32 pixels wide (the public watershed label is not)."""
    return (gr << 32) + gc


def _collapse(chosen: np.ndarray, hops=None):
    """Collapse the pointer chains of a direction plane. ``chosen`` holds
    per cell the index of its successor's offset in ``_NEIGHBORS`` (the
    ``_D8`` order, also the least-cost backtrack order); any other value
    (a terminal, an invalid or a halo cell) self-points. ``hops`` maps a
    name to per-direction integer hop weights. Pointer doubling to the
    fixpoint returns (flat chain end per cell, {name: weights summed
    along the chain}); integer sums are exact in any association, and
    self-pointing ends carry 0, so a composition past the fixpoint adds
    nothing. Fail-loud at 64 rounds."""
    h, w = chosen.shape
    flat = chosen.ravel()
    ptr = np.arange(h * w, dtype=np.int64)
    moves = (flat >= 0) & (flat < len(_NEIGHBORS))
    k = flat[moves]
    ptr[moves] += np.array([dr * w + dc for dr, dc in _NEIGHBORS])[k]
    acc = {}
    for name, weights in (hops or {}).items():
        acc[name] = np.zeros(h * w, dtype=np.int64)
        acc[name][moves] = np.asarray(weights, dtype=np.int64)[k]
    for _ in range(64):
        nxt = ptr[ptr]
        if np.array_equal(nxt, ptr):
            return ptr, acc
        acc = {name: a + a[ptr] for name, a in acc.items()}
        ptr = nxt
    raise RuntimeError(  # pragma: no cover
        "pointer doubling did not settle")


def _contract_tile(t: int, kernel, hops: dict, each=()):
    """Per-tile body of :func:`contract` as a plain pandas function:
    (resolve(key, pdf), parts DDL). ``resolve`` returns the tile's
    kind-1 BORDER rows (one per live cell of its own 1-px ring: gid,
    chain end ``rep``, hop sums, ``final`` = the end is in-tile) and its
    kind-0 rows to resolve: one per (cell, payload) the kernel names, or,
    without names, the live interior cells contracted by chain end (cnt =
    cells, summed hops; a tile with none emits one zero row)."""
    p = t + 2
    fr, fc = np.divmod(np.arange(p * p, dtype=np.int64), p)
    interior = (fr >= 1) & (fr <= t) & (fc >= 1) & (fc <= t)
    ring = interior & ~((fr >= 2) & (fr < t) & (fc >= 2) & (fc < t))
    cols = [*_KEY, "kind", "gid", "rep", "cnt", "final", *hops, *each]
    ddl = ", ".join([_KEY_DDL, "kind int, gid bigint, rep bigint, "
                     "cnt bigint, final int",
                     *(f"{c} bigint" for c in (*hops, *each))])

    def resolve(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        source_id, band, col, row = key
        out = kernel(pdf, t, source_id, int(band), int(col), int(row))
        if out is None:
            return pd.DataFrame(columns=cols)
        chosen, live, named = out
        live = live.ravel()
        ptr, acc = _collapse(chosen, hops)
        gid = _gid(int(row) * t + fr - 1, int(col) * t + fc - 1)
        if named is None:
            cells = interior & live
            dest, inv, cnt = np.unique(ptr[cells], return_inverse=True,
                                       return_counts=True)
            # bincount sums small integers in float64: exact
            sums = {c: np.bincount(inv, weights=a[cells],
                                   minlength=len(dest)).astype(np.int64)
                    for c, a in acc.items()}
            if not len(dest):  # no live cell: one zero row keeps the tile
                dest, cnt = np.array([p + 1]), np.zeros(1, np.int64)
                sums = {c: cnt for c in hops}
        else:
            cells = np.asarray(named["cell"], dtype=np.int64)
            dest, cnt = ptr[cells], np.ones(len(cells), np.int64)
            sums = {c: a[cells] for c, a in acc.items()}
        final = interior[dest]
        edge = np.flatnonzero(ring & live)
        n0, n1 = len(dest), len(edge)
        zeros = np.zeros(n1, np.int64)
        return pd.DataFrame({
            "source_id": source_id, "band": band, "col": col, "row": row,
            "kind": np.repeat(np.array([0, 1], np.int32), [n0, n1]),
            "gid": np.concatenate([np.zeros(n0, np.int64), gid[edge]]),
            "rep": np.concatenate([gid[dest], gid[ptr[edge]]]),
            "cnt": np.concatenate([cnt, zeros]),
            "final": np.concatenate([final, interior[ptr[edge]]])
            .astype(np.int32),
            **{c: np.concatenate([sums[c], acc[c][edge]]) for c in hops},
            **{c: np.concatenate([np.asarray(named[c], np.int64), zeros])
               for c in each}}, columns=cols)

    return resolve, ddl


def contract(pieces: DataFrame, t: int, kernel, *, hops=None, each=(),
             max_rounds: int, name: str, message: str) -> DataFrame:
    """The tile-contraction driver of watershed, flow_length and the
    least-cost path (module docstring). ``pieces`` is a halo-piece table
    keyed by the receiving tile; per tile, ``kernel(pdf, t, source_id,
    band, col, row)`` returns None (halo-only group) or (direction plane,
    live mask, named) over the (t+2)^2 frame; ``named`` is None or
    {"cell": flat frame indices, **payload columns in ``each``}. Chains
    collapse in the tile (``_collapse``), the border table
    pointer-doubles across tiles (``border_doubling``), and each kind-0
    row joins the border at its chain end. Returns the resolved rows:
    key, rep (the chain's global end key), cnt, the ``hops`` sums (own
    sum + cnt x the end's) and the ``each`` payload."""
    hops = hops or {}
    resolve, ddl = _contract_tile(t, kernel, hops, each)
    parts = compute_grouped(pieces, *_KEY).applyInPandas(resolve, ddl) \
        .localCheckpoint(eager=True)
    border, bc = border_doubling(
        parts.filter(F.col("kind") == 1)
        .select("source_id", "band", "gid", "rep", *hops, "final"),
        summed=list(hops), max_syncs=max_rounds, name=name,
        message=message)
    rows = parts.filter(F.col("kind") == 0) \
        .select(*_KEY, "rep", "cnt", *hops, *each, "final")
    done = rows.filter(F.col("final") == 1).drop("final")
    todo = rows.filter(F.col("final") == 0).alias("g").join(
        bc(border.select("source_id", "band", F.col("gid").alias("bgid"),
                         F.col("rep").alias("brep"),
                         *(F.col(c).alias(f"b{c}") for c in hops))
           .alias("m")),
        on=[F.col("g.source_id") == F.col("m.source_id"),
            F.col("g.band") == F.col("m.band"),
            F.col("g.rep") == F.col("m.bgid")]) \
        .select(*(F.col(f"g.{c}").alias(c) for c in _KEY),
                F.col("m.brep").alias("rep"), F.col("g.cnt").alias("cnt"),
                *((F.col(f"g.{c}") + F.col("g.cnt") * F.col(f"m.b{c}"))
                  .alias(c) for c in hops),
                *(F.col(f"g.{c}").alias(c) for c in each))
    return done.unionByName(todo)


def _scene_small(tiles: DataFrame, t: int, scene_max_px: int) -> bool:
    """Adaptive chooser of every scene-or-distributed operator: one cheap
    agg job reads the largest scene footprint; ``scene_max_px=0`` forces
    the distributed path."""
    if not scene_max_px:
        return False
    ext = tiles.groupBy("source_id", "band").agg(
        ((F.max("col") - F.min("col") + 1) * t).alias("w"),
        ((F.max("row") - F.min("row") + 1) * t).alias("h")) \
        .agg(F.max(F.greatest("w", "h")).alias("m")).collect()
    return bool(ext) and ext[0]["m"] is not None \
        and int(ext[0]["m"]) <= int(scene_max_px)


def _mosaic(pdf: pd.DataFrame, t: int):
    """A scene group's (source_id, band) tiles as one float64 mosaic,
    NaN on NoData and absent tiles: (z, r0, c0), (r0, c0) = the tile
    coordinates of its top-left corner."""
    c0, r0 = int(pdf["col"].min()), int(pdf["row"].min())
    nc = int(pdf["col"].max()) - c0 + 1
    nr = int(pdf["row"].max()) - r0 + 1
    z = np.full((nr * t, nc * t), np.nan)
    for row_t in pdf.itertuples(index=False):
        arr = np.frombuffer(row_t.px, dtype=DTYPES[row_t.dtype]) \
                .reshape(t, t).astype(np.float64)
        ty, tx = (int(row_t.row) - r0) * t, (int(row_t.col) - c0) * t
        z[ty:ty + t, tx:tx + t] = np.where(valid_px(arr, row_t.nodata), arr, np.nan)
    return z, r0, c0


def _grid(r: int, c: int, h: int, w: int) -> tuple[np.ndarray, np.ndarray]:
    """(gr, gc) int64 global pixel coordinates of an h x w block whose
    top-left pixel is (r, c)."""
    rr, cc = np.indices((h, w), dtype=np.int64)
    return r + rr, c + cc


def _per_tile(key: dict, r0: int, c0: int, t: int, stats) -> list[dict]:
    """The per-present-tile cut of a scene kernel: one row per tile of
    ``key`` (input order), its ``col``/``row`` plus ``stats(sl)``, where
    ``sl`` is the tile's (rows, cols) slice of the mosaic."""
    out = []
    for col, row in zip(key["col"], key["row"]):
        ty, tx = (int(row) - r0) * t, (int(col) - c0) * t
        out.append({"col": int(col), "row": int(row),
                    **stats((slice(ty, ty + t), slice(tx, tx + t)))})
    return out


def scene_group(pdf: pd.DataFrame, t: int, max_px: int, kernel,
                names: list[str]) -> pd.DataFrame:
    """One (source_id, band) group through ``kernel`` — the body of
    :func:`scene_tiles`, callable on any pandas frame. Refuses a
    footprint longer than ``max_px`` on a side, assembles the
    :func:`_mosaic` and returns ``kernel(z, r0, c0, key)``'s rows with
    the ``names`` columns; ``key`` maps ``source_id`` and ``band`` to the
    group's values and ``col``/``row`` to the present tiles' keys in
    input order. A column a row does not set is taken from ``key``."""
    source_id, band = pdf["source_id"].iat[0], int(pdf["band"].iat[0])
    span = t * (1 + max(int(pdf["col"].max() - pdf["col"].min()),
                        int(pdf["row"].max() - pdf["row"].min())))
    if span > max_px:  # checked before _mosaic allocates the footprint
        raise ValueError(f"scene {source_id} exceeds max_px={max_px}")
    z, r0, c0 = _mosaic(pdf, t)
    key = {"source_id": source_id, "band": band,
           "col": pdf["col"].to_numpy(), "row": pdf["row"].to_numpy()}
    return pd.DataFrame(_records(kernel(z, r0, c0, key), key, names),
                        columns=names)


def scene_tiles(tiles: DataFrame, t: int, max_px: int, kernel,
                schema: str) -> DataFrame:
    """The scene driver of every scene-or-distributed operator (module
    docstring), the grouped sibling of :func:`focal_map`: ONE
    ``groupBy(source_id, band).applyInPandas`` stage that runs
    ``kernel(z, r0, c0, key)`` on each scene's whole mosaic
    (:func:`scene_group`) and declares ``schema``."""
    names = _names(schema)

    def solve(pdf: pd.DataFrame) -> pd.DataFrame:
        return scene_group(pdf, t, max_px, kernel, names)

    return compute_grouped(tiles, "source_id", "band").applyInPandas(
        solve, schema)


def k_focal_stats(frame, t, col, row, *, r, op, offsets, classify_div):
    """:func:`focal_stats` per tile: ``op`` over the ``offsets``
    neighborhood, checksummed over cells with a valid neighbor."""
    if classify_div is not None:
        # majority filter runs on RECLASSIFIED cells (GeoTrellis Mode
        # is for categorical rasters) — floor(v/div), NoData stays NaN
        frame = np.floor(frame / classify_div)
    valid = ~np.isnan(frame)
    acc = np.zeros((t, t))
    acc2 = np.zeros((t, t))
    cnt = np.zeros((t, t), dtype=np.int64)
    ext = None
    wins = []
    for dr, dc in offsets:
        win = frame[r + dr:r + dr + t, r + dc:r + dc + t]
        vw = valid[r + dr:r + dr + t, r + dc:r + dc + t]
        if op in ("mean", "sum"):
            acc = acc + np.where(vw, win, 0.0)
        elif op == "stddev":
            # sum AND sum-of-squares in the same fixed chained-add
            # order; the fixture's quarter-multiples make both EXACT
            acc = acc + np.where(vw, win, 0.0)
            acc2 = acc2 + np.where(vw, win * win, 0.0)
        elif op in ("median", "mode"):
            wins.append(np.where(vw, win, np.nan))
        else:
            cur = np.where(vw, win, np.nan)
            ext = cur if ext is None else (
                np.fmax(ext, cur) if op == "max" else np.fmin(ext, cur))
        cnt = cnt + vw
    any_valid = cnt > 0
    if op == "mean":
        focal = np.where(any_valid, acc / np.maximum(cnt, 1), np.nan)
    elif op == "sum":
        focal = np.where(any_valid, acc, np.nan)
    elif op == "stddev":
        # population stddev: ONE division each for mean and mean-of-
        # squares, var = m2 - m*m clamped at 0 (float dust), sqrt —
        # mirrored op-for-op by the focal_stddev SQL oracle
        n = np.maximum(cnt, 1).astype(np.float64)
        m = acc / n
        m2 = acc2 / n
        var = np.maximum(m2 - m * m, 0.0)
        focal = np.where(any_valid, np.sqrt(var), np.nan)
    elif op == "mode":
        # majority vote over the valid window, SMALLEST value on ties
        # (deterministic categorical rule). Exact: class values are
        # small integers, equality is exact. O(k^2) vectorized over
        # the k=(2r+1)^2 window slices.
        stack = np.stack(wins, axis=-1)
        best_v = np.full((t, t), np.nan)
        best_c = np.zeros((t, t), dtype=np.int64)
        for j in range(stack.shape[-1]):
            vj = stack[..., j]
            with np.errstate(invalid="ignore"):
                cj = np.nansum(
                    (stack == vj[..., None]).astype(np.int64), axis=-1)
            ok_j = ~np.isnan(vj)
            take = ok_j & ((cj > best_c)
                           | ((cj == best_c)
                              & ~(np.isnan(best_v) | (vj >= best_v))))
            best_v = np.where(take, vj, best_v)
            best_c = np.where(take, cj, best_c)
        focal = best_v
    elif op == "median":
        # rank-based, so EXACT: sort (NaN last), take the two middle
        # order statistics of the valid prefix, (lo + hi)/2.0 — for an
        # odd count lo == hi and (x + x)/2.0 is bitwise x; the SQL
        # oracle mirrors with list_sort/list_filter + 1-based picks
        srt = np.sort(np.stack(wins, axis=-1), axis=-1)
        il = np.maximum((cnt - 1) // 2, 0)
        ih = cnt // 2
        lo = np.take_along_axis(srt, il[..., None], axis=-1)[..., 0]
        hi = np.take_along_axis(srt, ih[..., None], axis=-1)[..., 0]
        with np.errstate(invalid="ignore"):
            focal = np.where(any_valid, (lo + hi) / 2.0, np.nan)
    else:
        focal = ext
    return {"focal_sum": qsum(focal, any_valid),
            "focal_count": int(any_valid.sum())}


def focal_stats(tiles: DataFrame, op: str = "mean", radius: int = 1,
                tile_size: int = 64,
                classify_div: float | None = None,
                shape: str = "square",
                inner_radius: int | None = None,
                start_angle: float | None = None,
                end_angle: float | None = None) -> DataFrame:
    """Focal ``op`` over every pixel's neighborhood ACROSS tile
    boundaries (halo exchange), NoData/edge cells excluded from the
    neighborhood; returns the per-tile quantized checksum
    ``(source_id, band, col, row, focal_sum, focal_count)`` where
    focal_sum = sum of floor(focal * 2^20 + 0.5) over cells with at least
    one valid neighbor and focal_count = that cell count.

    ``shape`` selects the GeoTrellis neighborhood family
    (geotrellis.raster.mapalgebra.focal.{Square, Circle, Annulus,
    Wedge}): 'square' = the full (2r+1)^2 window; 'circle' keeps
    offsets with dr^2 + dc^2 <= radius^2 (integer arithmetic — the
    mask is exact and trivially replayed by the SQL oracle); 'annulus'
    additionally requires dr^2 + dc^2 >= inner_radius^2; 'wedge' keeps
    circle offsets whose ray angle atan2(-dr, dc) (math convention,
    north = +pi/2) lies in [start_angle, end_angle] (radians,
    wrap-around arcs supported; the center cell always belongs). Pick
    wedge bounds away from exact offset angles — the oracle recomputes
    membership with SQL ATAN2, identical up to sub-ulp libm noise that
    only matters ON a boundary. The offset iteration order stays
    row-major in every shape, so accumulation chains are identical
    across shapes (each is the square's chain with terms removed)."""
    if op not in ("mean", "sum", "max", "min", "median", "stddev", "mode"):
        raise ValueError(f"unsupported focal op: {op!r}")
    if radius < 1 or radius >= tile_size:
        raise ValueError(f"radius must be in 1..{tile_size - 1}: {radius}")
    if classify_div is not None and op != "mode":
        raise ValueError("classify_div is a mode-only parameter")
    if shape not in ("square", "circle", "annulus", "wedge"):
        raise ValueError(f"unsupported neighborhood shape: {shape!r} "
                         "(square | circle | annulus | wedge)")
    if shape == "annulus":
        if inner_radius is None or not 0 < int(inner_radius) <= radius:
            raise ValueError("annulus needs 0 < inner_radius <= radius")
    elif inner_radius is not None:
        raise ValueError("inner_radius is annulus-only")
    if shape == "wedge":
        if start_angle is None or end_angle is None:
            raise ValueError("wedge needs start_angle and end_angle "
                             "(radians)")
    elif start_angle is not None or end_angle is not None:
        raise ValueError("start/end_angle are wedge-only")
    r, t = int(radius), int(tile_size)
    offsets = [(dr0, dc0) for dr0 in range(-r, r + 1)
               for dc0 in range(-r, r + 1)]
    if shape == "circle":
        offsets = [(a, b) for a, b in offsets if a * a + b * b <= r * r]
    elif shape == "annulus":
        ir = int(inner_radius)
        offsets = [(a, b) for a, b in offsets
                   if ir * ir <= a * a + b * b <= r * r]
    elif shape == "wedge":
        import math

        a0 = float(start_angle)
        a1 = float(end_angle)

        def in_arc(a, b):
            if a == 0 and b == 0:
                return True  # the center cell always belongs
            ang = math.atan2(-a, b)
            if a0 <= a1:
                return a0 <= ang <= a1
            return ang >= a0 or ang <= a1  # wrap-around arc

        offsets = [(a, b) for a, b in offsets
                   if a * a + b * b <= r * r and in_arc(a, b)]
    return focal_map(
        tiles, r, t, partial(k_focal_stats, r=r, op=op, offsets=offsets,
                             classify_div=classify_div),
        "source_id string, band bigint, col bigint, row bigint, "
        "focal_sum bigint, focal_count bigint")


def _nb9(frame: np.ndarray, t: int):
    """The nine 3x3-neighborhood slices (a..i, row-major: a=NW, e=center,
    i=SE) of a radius-1 padded frame and the mask of cells whose nine are
    all valid (the GDAL edge rule) — shared by the Horn/GDALDEM kernels."""
    a, b, c, d, e, f, g, h, i = nb = (
        frame[0:t, 0:t], frame[0:t, 1:t + 1], frame[0:t, 2:t + 2],
        frame[1:t + 1, 0:t], frame[1:t + 1, 1:t + 1],
        frame[1:t + 1, 2:t + 2],
        frame[2:t + 2, 0:t], frame[2:t + 2, 1:t + 1],
        frame[2:t + 2, 2:t + 2])
    return nb, ~np.isnan(a + b + c + d + e + f + g + h + i)


def _horn_pq(frame: np.ndarray, t: int, dx: float, dy: float):
    """HORN (1981) p/q derivatives of a radius-1 padded frame (formulas
    in :func:`terrain_stats`) and its all-9-valid mask."""
    (a, b, c, d, _, f, g, h, i), ok = _nb9(frame, t)
    with np.errstate(invalid="ignore"):
        p = ((c + 2.0 * f + i) - (a + 2.0 * d + g)) / (8.0 * dx)
        q = ((g + 2.0 * h + i) - (a + 2.0 * b + c)) / (8.0 * dy)
    return p, q, ok


def k_tri_stats(frame, t, col, row):
    """:func:`tri_stats` per tile: TRI, TPI and roughness checksums."""
    (a, b, c, d, e, f, g, h, i), ok = _nb9(frame, t)
    with np.errstate(invalid="ignore"):
        tri = (np.abs(e - a) + np.abs(e - b) + np.abs(e - c)
               + np.abs(e - d) + np.abs(e - f) + np.abs(e - g)
               + np.abs(e - h) + np.abs(e - i)) / 8.0
        tpi = e - (a + b + c + d + f + g + h + i) / 8.0
        mx = np.fmax(np.fmax(np.fmax(np.fmax(a, b), np.fmax(c, d)),
                             np.fmax(np.fmax(e, f), np.fmax(g, h))), i)
        mn = np.fmin(np.fmin(np.fmin(np.fmin(a, b), np.fmin(c, d)),
                             np.fmin(np.fmin(e, f), np.fmin(g, h))), i)
        rough = mx - mn
    return {"tri_sum": qsum(tri, ok), "tpi_sum": qsum(tpi, ok),
            "rough_sum": qsum(rough, ok), "tri_count": int(ok.sum())}


def tri_stats(tiles: DataFrame, tile_size: int = 64) -> DataFrame:
    """TRI + TPI + roughness — the rest of the GDALDEM terrain family
    (gdaldem tri/tpi/roughness), on the same halo machinery and all-9-valid
    edge rule as the Horn kernels:

        TRI (Wilson)  = mean of |e - neighbor| over the 8 neighbors
        TPI           = e - mean of the 8 neighbors
        roughness     = max(3x3) - min(3x3)

    Determinism contract (mirrored by the ``tri_stats`` SQL oracle —
    change one only with the other): the 8-term chained adds run in FIXED
    a,b,c,d,f,g,h,i order (left-to-right float adds), one division by 8.0,
    max/min are order-free exactly; quantize-first (floor(v*2^20+0.5) as
    int64 — TPI can be negative; floor-toward--inf is identical in numpy
    and SQL) then integer sums. Returns per-tile checksums
    ``(source_id, band, col, row, tri_sum, tpi_sum, rough_sum, tri_count)``.
    Reference parity: the reference's aspect-tiled.tif fixture family
    (vlm/src/test/resources, RasterSourceSpec) — the contrib tier owns the
    tiling/halo plumbing these kernels ride."""
    return focal_map(
        tiles, 1, int(tile_size), k_tri_stats,
        "source_id string, band bigint, col bigint, row bigint, "
        "tri_sum bigint, tpi_sum bigint, rough_sum bigint, tri_count bigint")


def k_terrain_stats(frame, t, col, row, *, dx, dy):
    """:func:`terrain_stats` per tile: Horn slope and aspect checksums."""
    p, q, ok = _horn_pq(frame, t, dx, dy)
    with np.errstate(invalid="ignore"):
        slope = np.degrees(np.arctan(np.sqrt(p * p + q * q)))
        aspect = (np.degrees(np.arctan2(q, -p)) + 360.0) % 360.0
        aspect = np.where((p == 0.0) & (q == 0.0), 0.0, aspect)
    return {"slope_sum": qsum(slope, ok), "aspect_sum": qsum(aspect, ok),
            "terrain_count": int(ok.sum())}


def terrain_stats(tiles: DataFrame, dx: float = 30.0, dy: float = 30.0,
                  tile_size: int = 64) -> DataFrame:
    """Slope + aspect via the HORN (1981) 3x3 kernel over the same halo
    machinery — the op family behind the reference's own aspect fixture
    (vlm/src/test/resources aspect-tiled.tif, read by RasterSourceSpec).

    Horn derivatives on the padded frame (rows grow southward, cols
    eastward):
        p = dz/dx = ((c + 2f + i) - (a + 2d + g)) / (8*dx)
        q = dz/dy = ((g + 2h + i) - (a + 2b + c)) / (8*dy)
        slope_deg  = degrees(atan(sqrt(p*p + q*q)))
        aspect_deg = (degrees(atan2(q, -p)) + 360) % 360, flat cells -> 0
    A cell gets output only when ALL 9 neighborhood cells are valid
    (the GDAL edge convention). Returns per-tile quantized checksums
    ``(source_id, band, col, row, slope_sum, aspect_sum, terrain_count)``
    — floor(v * 2^20 + 0.5) summed as int64, order-independent. The
    ``terrain_stats`` SQL oracle mirrors this arithmetic term-for-term —
    change one only with the other."""
    return focal_map(
        tiles, 1, int(tile_size), partial(k_terrain_stats, dx=dx, dy=dy),
        "source_id string, band bigint, col bigint, row bigint, "
        "slope_sum bigint, aspect_sum bigint, terrain_count bigint")


def k_curvature_stats(frame, t, col, row, *, L):
    """:func:`curvature_stats` per tile: Zevenbergen-Thorne profile,
    plan and total curvature checksums (cell size ``L``)."""
    (a, b, c, d, e, f, g, h, i), ok = _nb9(frame, t)
    l2 = L * L
    with np.errstate(invalid="ignore"):
        D = ((d + f) / 2.0 - e) / l2
        E = ((b + h) / 2.0 - e) / l2
        Fc = (-a + c + g - i) / (4.0 * l2)
        G = (-d + f) / (2.0 * L)
        H = (b - h) / (2.0 * L)
        den = G * G + H * H
        total = -2.0 * (D + E) * 100.0
        safe = np.where(den > 0.0, den, 1.0)
        prof = np.where(
            den > 0.0,
            -2.0 * (D * G * G + E * H * H + Fc * G * H)
            / safe * 100.0, 0.0)
        plan = np.where(
            den > 0.0,
            2.0 * (D * H * H + E * G * G - Fc * G * H)
            / safe * 100.0, 0.0)
    return {"prof_sum": qsum(prof, ok), "plan_sum": qsum(plan, ok),
            "total_sum": qsum(total, ok), "curv_count": int(ok.sum())}


def curvature_stats(tiles: DataFrame, cell: float = 30.0,
                    tile_size: int = 64) -> DataFrame:
    """Profile / plan / total CURVATURE via the ZEVENBERGEN & THORNE
    (1987) 3x3 quadratic fit — the terrain-family member next to
    slope/aspect/hillshade/TRI (the GDALDEM/ArcGIS curvature recipe,
    ×100 scaling). On the padded frame (a..i row-major, e center):

        D = ((d + f)/2 − e)/L²      E = ((b + h)/2 − e)/L²
        F = (−a + c + g − i)/(4L²)  G = (−d + f)/(2L)   H = (b − h)/(2L)
        total   = −2(D + E)·100
        profile = −2(DG² + EH² + FGH)/(G² + H²)·100   (flat → 0)
        plan    =  2(DH² + EG² − FGH)/(G² + H²)·100   (flat → 0)

    Full-3x3-valid convention (the GDAL edge rule), same halo machinery,
    quantize-first integer checksums. The ``curvature_stats`` SQL oracle
    mirrors every expression term-for-term — change one only with the
    other."""
    return focal_map(
        tiles, 1, int(tile_size), partial(k_curvature_stats, L=float(cell)),
        "source_id string, band bigint, col bigint, row bigint, "
        "prof_sum bigint, plan_sum bigint, total_sum bigint, "
        "curv_count bigint")


def k_hillshade_stats(frame, t, col, row, *, zen, az, dx, dy):
    """:func:`hillshade_stats` per tile (``zen``/``az`` in radians)."""
    p, q, ok = _horn_pq(frame, t, dx, dy)
    with np.errstate(invalid="ignore"):
        slope = np.arctan(np.sqrt(p * p + q * q))
        aspect = np.arctan2(q, -p)
        sh = 255.0 * np.maximum(
            0.0, np.cos(zen) * np.cos(slope)
            + np.sin(zen) * np.sin(slope) * np.cos(az - aspect))
    return {"shade_sum": qsum(sh, ok), "shade_count": int(ok.sum())}


def hillshade_stats(tiles: DataFrame, azimuth: float = 315.0,
                    altitude: float = 45.0, dx: float = 30.0,
                    dy: float = 30.0, tile_size: int = 64) -> DataFrame:
    """Hillshade (GDALDEM/ESRI convention) on the Horn p/q derivatives:
        shade = 255 * max(0, cos(zen)*cos(slope)
                             + sin(zen)*sin(slope)*cos(az_rad - aspect_rad))
    with zen = 90 - altitude, az measured clockwise from north and
    aspect_rad = atan2(q, -p) in the same frame. Same halo machinery and
    all-9-valid edge rule as terrain_stats; per-tile quantized checksums
    ``(source_id, band, col, row, shade_sum, shade_count)``."""
    zen = np.radians(np.float64(90.0 - altitude))
    az = np.radians(np.float64(azimuth))
    return focal_map(
        tiles, 1, int(tile_size),
        partial(k_hillshade_stats, zen=zen, az=az, dx=dx, dy=dy),
        "source_id string, band bigint, col bigint, row bigint, "
        "shade_sum bigint, shade_count bigint")


def k_convolve_stats(frame, t, col, row, *, r, weights):
    """:func:`convolve_stats` per tile: the NoData-renormalizing
    convolution with the (2r+1)^2 ``weights``."""
    valid = ~np.isnan(frame)
    acc = np.zeros((t, t))
    wacc = np.zeros((t, t))
    cnt = np.zeros((t, t), dtype=np.int64)
    for dr in range(-r, r + 1):
        for dc in range(-r, r + 1):
            w = float(weights[dr + r][dc + r])
            win = frame[r + dr:r + dr + t, r + dc:r + dc + t]
            vw = valid[r + dr:r + dr + t, r + dc:r + dc + t]
            acc = acc + np.where(vw, w * win, 0.0)
            wacc = wacc + np.where(vw, w, 0.0)
            cnt = cnt + vw
    any_valid = cnt > 0
    with np.errstate(invalid="ignore", divide="ignore"):
        focal = np.where(any_valid, acc / np.where(wacc == 0.0, 1.0,
                                                   wacc), np.nan)
    return {"conv_sum": qsum(focal, any_valid),
            "conv_count": int(any_valid.sum())}


def convolve_stats(tiles: DataFrame,
                   kernel: tuple = ((1.0, 2.0, 1.0),
                                    (2.0, 4.0, 2.0),
                                    (1.0, 2.0, 1.0)),
                   tile_size: int = 64) -> DataFrame:
    """Kernel CONVOLUTION (GeoTrellis focal.Convolve / Kernel) with
    cross-tile halo exchange: out = sum(w_ij * v_ij over valid cells)
    / sum(w_ij over valid cells) — the NoData-renormalizing convolution
    (a plain weighted sum would bleed NoData). Kernel must be odd-sized.

    Determinism contract (mirrored by the ``focal_conv`` SQL oracle —
    change one only with the other): the weighted terms accumulate in
    FIXED lexicographic (dr, dc) order (chained left-to-right float adds;
    the default integer kernel times the fixture's quarter-multiples is
    EXACT, so both accumulators are order-free anyway), ONE division,
    quantize-first checksums. Returns
    ``(source_id, band, col, row, conv_sum, conv_count)``."""
    kh = len(kernel)
    kw = len(kernel[0])
    if kh % 2 != 1 or kw % 2 != 1 or kh != kw:
        raise ValueError(f"kernel must be odd square: {kh}x{kw}")
    r = kh // 2
    t = int(tile_size)
    if r < 1 or r >= t:
        raise ValueError(f"kernel radius must be in 1..{t - 1}: {r}")
    return focal_map(
        tiles, r, t, partial(k_convolve_stats, r=r, weights=kernel),
        "source_id string, band bigint, col bigint, row bigint, "
        "conv_sum bigint, conv_count bigint")


def _mask_frame(frame, t, col, row, r, mask_predicate):
    """Global pixel coords (gr, gc) of a padded frame and the mask of its
    valid cells that satisfy ``mask_predicate(values, gr, gc)``."""
    gr, gc = _grid(row * t - r, col * t - r, t + 2 * r, t + 2 * r)
    return gr, gc, mask_predicate(frame, gr, gc) & ~np.isnan(frame)


def k_euclidean_distance(frame, t, col, row, *, r, mask_predicate, offs):
    """:func:`euclidean_distance` per tile; None when no valid cell
    has a mask cell within range."""
    _, _, mask = _mask_frame(frame, t, col, row, r, mask_predicate)
    dist = np.full((t, t), np.inf)
    for dr, dc, d in offs:
        win = mask[r + dr:r + dr + t, r + dc:r + dc + t]
        np.copyto(dist, np.minimum(dist, d), where=win)
    valid = ~np.isnan(frame[r:r + t, r:r + t])
    hit = valid & np.isfinite(dist)
    if not hit.any():
        return None
    return {"dist_qsum": qsum(dist, hit), "n_within": int(hit.sum())}


def euclidean_distance(tiles: DataFrame, mask_predicate,
                       radius: int = 5, tile_size: int = 64) -> DataFrame:
    """Bounded-radius Euclidean distance transform ACROSS tile
    boundaries (the raster sibling of GeoTrellis's Euclidean-distance
    ops, with an explicit cutoff): per valid pixel, the distance to the
    NEAREST cell of ``mask_predicate(values, gr, gc)`` within ``radius``
    cells (chebyshev window, euclidean metric, mask cells themselves get
    0); pixels with no mask cell in range are absent from the stats.

    Rides the focal halo machinery: r-wide strips, ONE co-partitioned
    shuffle, then a vectorized min-over-offsets scan ((2r+1)^2 shifted
    compares — MIN is order-independent, no quantization needed until
    the rollup). Output: (source_id, band, col, row, dist_qsum,
    n_within) with dist_qsum = sum of floor(d * 2^20 + 0.5) (each d is a
    single SQRT both engine- and oracle-side, so quantization is
    bit-identical)."""
    r, t = int(radius), int(tile_size)
    if r < 1 or r >= tile_size:
        raise ValueError(f"radius must be in 1..{tile_size - 1}: {r}")
    offs = [(dr, dc, float(np.sqrt(float(dr * dr + dc * dc))))
            for dr in range(-r, r + 1) for dc in range(-r, r + 1)
            if dr * dr + dc * dc <= r * r]
    return focal_map(
        tiles, r, t, partial(k_euclidean_distance, r=r,
                             mask_predicate=mask_predicate, offs=offs),
        "source_id string, band int, col bigint, row bigint, "
        "dist_qsum bigint, n_within bigint")


_D8_SQRT2 = 1.4142135623730951

# (dr, dc, distance, ESRI power-of-two code) in FIXED row-major order —
# the SQL oracle enumerates the same tuples
_D8 = [(-1, -1, _D8_SQRT2, 32), (-1, 0, 1.0, 64), (-1, 1, _D8_SQRT2, 128),
       (0, -1, 1.0, 16), (0, 1, 1.0, 1),
       (1, -1, _D8_SQRT2, 8), (1, 0, 1.0, 4), (1, 1, _D8_SQRT2, 2)]


def _d8_rates(zp: np.ndarray):
    """The D8 drop rates of every cell of a 1-px-NaN-padded elevation
    frame ``zp``: (rates in _D8 order, their max ``best``). A rate is
    (z - z_n) / dist toward a valid neighbor, -inf toward a NaN one.
    Shared by flow_direction and ``_d8_chosen``."""
    H, W = zp.shape[0] - 2, zp.shape[1] - 2
    z = zp[1:1 + H, 1:1 + W]
    best = np.full((H, W), -np.inf)
    rates = []
    for dr, dc, dist, _ in _D8:
        zn = zp[1 + dr:1 + dr + H, 1 + dc:1 + dc + W]
        rate = np.where(~np.isnan(zn), (z - zn) / dist, -np.inf)
        rates.append(rate)
        best = np.maximum(best, rate)
    return rates, best


def k_flow_direction(frame, t, col, row):
    """:func:`flow_direction` per tile: D8 code sum, pits, valid cells."""
    valid = ~np.isnan(frame[1:1 + t, 1:1 + t])
    rates, best = _d8_rates(frame)
    code_sum = np.zeros((t, t), dtype=np.int64)
    for (dr, dc, dist, code), rate in zip(_D8, rates):
        code_sum += np.where((rate == best) & (best > 0.0), code, 0)
    code_sum = np.where(valid, code_sum, 0)
    pits = valid & (best <= 0.0)
    return {"dir_sum": int(code_sum.sum()), "n_pits": int(pits.sum()),
            "n_valid": int(valid.sum())}


def flow_direction(tiles: DataFrame, tile_size: int = 64) -> DataFrame:
    """D8 flow direction (the GeoTrellis raster.hydrology FlowDirection /
    ArcGIS encoding) ACROSS tile boundaries on the focal halo machinery:
    per valid cell the drop RATE to each valid neighbor is
    (z - z_n) / dist (1 orthogonal, sqrt(2) diagonal); the cell flows
    along the maximum positive rate, ties SUM their power-of-two codes
    (E=1 SE=2 S=4 SW=8 W=16 NW=32 N=64 NE=128); no positive drop -> 0
    (pit/flat). Mosaic-edge and NoData neighbors are not candidates.

    Determinism: rates are identical arithmetic on both sides, the max
    is order-free, and codes are exact integers — the per-tile rollup
    (dir_sum, n_pits, n_valid) needs no quantization."""
    return focal_map(
        tiles, 1, int(tile_size), k_flow_direction,
        "source_id string, band int, col bigint, row bigint, "
        "dir_sum bigint, n_pits bigint, n_valid bigint")


def _d8_chosen(zp: np.ndarray) -> np.ndarray:
    """Single D8 direction per cell from a 1-px-NaN-padded elevation
    frame ``zp``: returns int64 (H, W) with -2 on invalid (NaN) cells,
    -1 on valid cells with no positive drop (pit/flat), else the FIRST
    max-positive-drop-rate direction index in the fixed row-major _D8
    order (ties resolve first — the SQL oracle's CASE cascade order).
    Shared by the scene solvers AND the distributed halo paths, so both
    compute bit-identical directions from the same local arithmetic."""
    rates, best = _d8_rates(zp)
    chosen = np.full(best.shape, -1, dtype=np.int64)
    for idx in range(len(_D8) - 1, -1, -1):
        sel = (rates[idx] == best) & (best > 0.0)
        chosen[sel] = idx
    chosen[np.isnan(zp[1:-1, 1:-1])] = -2
    return chosen


def _acc_fixpoint(accf: np.ndarray, chf: np.ndarray,
                  base: np.ndarray) -> np.ndarray:
    """In-frame accumulation fixpoint (Jacobi sweeps): interior
    acc = base + sum of inflows; the frame's 1-px ring is FROZEN
    boundary input (0 for the scene solve, the neighbor tiles' current
    acc for the halo rounds). ``accf``/``chf`` are (H+2, W+2); ``base``
    is (H, W). The in-frame flow graph is acyclic (drops are strictly
    positive), so sweeps terminate in max in-frame path length; all
    values are integer-valued float64 — exact arithmetic, unique
    fixpoint regardless of the starting interior."""
    H, W = base.shape
    masks = [chf[1 - dr:1 - dr + H, 1 - dc:1 - dc + W] == idx
             for idx, (dr, dc, _, _) in enumerate(_D8)]
    srcs = [accf[1 - dr:1 - dr + H, 1 - dc:1 - dc + W]
            for dr, dc, _, _ in _D8]
    for _ in range(H * W + 1):
        nxt = base.copy()
        for idx in range(len(_D8)):
            nxt += np.where(masks[idx], srcs[idx], 0.0)
        if np.array_equal(nxt, accf[1:1 + H, 1:1 + W]):
            break
        accf[1:1 + H, 1:1 + W] = nxt
    else:  # pragma: no cover - acyclicity makes this unreachable
        raise RuntimeError("flow accumulation did not converge")
    return accf


_ACC_SCHEMA = ("source_id string, band int, col bigint, row bigint, "
               "acc_sum bigint, acc_max bigint, n_valid bigint")


def _acc_stats(up: np.ndarray, va: np.ndarray) -> dict:
    """A tile's accumulation rollup over its valid cells ``va``."""
    return {"acc_sum": int(up[va].sum()),
            "acc_max": int(up[va].max()) if va.any() else 0,
            "n_valid": int(va.sum())}


def k_acc_rollup(row: dict) -> dict:
    """The accumulation rollup of one converged flow-rounds state tile
    (exclusive upstream count = acc - 1 on valid cells)."""
    va = np.frombuffer(row["chosen"], dtype=np.int8) >= -1
    acc = np.frombuffer(row["acc"], dtype=np.float64)
    return _acc_stats(np.where(va, acc - 1.0, 0.0).astype(np.int64), va)


def _scene_acc(z: np.ndarray):
    """A whole mosaic's D8 directions and accumulation fixpoint (zero
    inflow from outside it): (chosen, padded acc frame). Shared by the
    flow-accumulation and stream-network scene kernels."""
    chosen = _d8_chosen(np.pad(z, 1, constant_values=np.nan))
    base = np.where(~np.isnan(z), 1.0, 0.0)
    return chosen, _acc_fixpoint(np.pad(base, 1, constant_values=0.0),
                                 np.pad(chosen, 1, constant_values=-1), base)


def k_acc_scene(z, r0, c0, key, *, t):
    """:func:`flow_accumulation`'s scene kernel: the fixpoint swept
    directly on the mosaic, then the per-tile rollup."""
    valid = ~np.isnan(z)
    _, accf = _scene_acc(z)
    up = np.where(valid, accf[1:-1, 1:-1] - 1.0, 0.0).astype(np.int64)
    return _per_tile(key, r0, c0, t,
                     lambda sl: _acc_stats(up[sl], valid[sl]))


def k_acc_init(frame, t, col, row):
    """Round 0 of the flow_accumulation rounds (a ``focal_map`` kernel):
    D8 directions from the 1-px elevation halo and the in-tile
    accumulation fixpoint with zero boundary inflow."""
    chosen = _d8_chosen(frame)
    base = (chosen >= -1).astype(np.float64)
    accf = _acc_fixpoint(np.zeros((t + 2, t + 2)),
                         np.pad(chosen, 1, constant_values=-1), base)
    return {"chosen": chosen.astype(np.int8).tobytes(),
            "acc": pack(accf[1:1 + t, 1:1 + t])}


def k_acc_relax(frames, t):
    """A flow_accumulation round: re-sweep the in-tile accumulation
    fixpoint against the neighbors' frozen (acc, chosen) ring."""
    chf = frames["chosen"]
    base = (chf[1:1 + t, 1:1 + t] >= -1).astype(np.float64)
    return {"acc": _acc_fixpoint(frames["acc"], chf, base)[1:1 + t,
                                                          1:1 + t]}


# (acc, chosen) travel; the ring keeps memory, starting as zero inflow
# from a no-flow ring; a strip offers something when an edge cell flows
_ACC_ROUNDS = dict(strips={"chosen": np.int8, "acc": np.float64},
                   ring={"acc": (0.0, True), "chosen": (-1, True)},
                   offers=lambda piece: bool((piece["chosen"] >= 0).any()),
                   relax=k_acc_relax)


def _flow_rounds_state(tiles: DataFrame, t: int,
                       max_iter: int) -> DataFrame:
    """Converged distributed flow state on :func:`halo_rounds`: NO
    scene-size bound. Round 0 (``k_acc_init``, one halo shuffle)
    computes each tile's D8 directions and its in-tile accumulation
    fixpoint with zero boundary inflow; each round (``k_acc_relax``)
    exchanges 1-px (acc, chosen) edge strips and re-sweeps the in-tile
    fixpoint against the neighbors' frozen acc. Values only INCREASE
    toward the true accumulation (monotone inflow fixpoint over an
    acyclic graph), so the global no-tile-improved fixpoint is exact
    and bit-identical to the scene solve; round count is bounded by the
    max number of tile-boundary crossings of any flow path, fail-loud
    at ``max_iter``. Returns the per-tile (chosen, acc) state — consumed
    by the accumulation rollup and by :func:`stream_network`'s
    distributed path."""
    state = focal_map(tiles, 1, t, k_acc_init,
                      f"{_KEY_DDL}, chosen binary, acc binary")
    return halo_rounds(state, t, **_ACC_ROUNDS, max_iter=max_iter,
                       name="flow_accumulation")


def _flow_acc_rounds(tiles: DataFrame, t: int, max_iter: int) -> DataFrame:
    """Distributed accumulation rollup over the converged
    :func:`_flow_rounds_state`."""
    return map_tiles(_flow_rounds_state(tiles, t, max_iter), k_acc_rollup,
                     _ACC_SCHEMA)


def flow_accumulation(tiles: DataFrame, tile_size: int = 64,
                      scene_max_px: int = 1 << 11,
                      max_iter: int = 64) -> DataFrame:
    """D8 flow accumulation (GeoTrellis raster.hydrology
    FlowAccumulation analog): per valid cell the COUNT of upstream cells
    whose single-direction D8 path passes through it (exclusive, the
    ArcGIS convention). Direction per cell = the max positive drop rate;
    ties resolve to the FIRST direction in the fixed row-major _D8 order
    (deterministic, mirrored by the SQL oracle's CASE cascade); pits and
    flats have no outflow.

    Adaptive strategy (:func:`scene_tiles`): when every scene's tile
    footprint fits ``scene_max_px`` on a side, each scene solves in ONE
    task; otherwise — or with ``scene_max_px=0`` forcing it — the
    synchronous halo-rounds path runs with NO scene-size bound
    (bit-identical values; r5 verdict task 1). Output per tile:
    (source_id, band, col, row, acc_sum, acc_max, n_valid)."""
    t = int(tile_size)
    if _scene_small(tiles, t, scene_max_px):
        return scene_tiles(tiles, t, scene_max_px,
                           partial(k_acc_scene, t=t), _ACC_SCHEMA)
    return _flow_acc_rounds(tiles, t, max_iter)


_WSHED_SCHEMA = ("source_id string, band int, col bigint, row bigint, "
                 "basin_qsum bigint, n_basins bigint, n_valid bigint")


def k_watershed_scene(z, r0, c0, key, *, t):
    """:func:`watershed_labels`' scene kernel: labels resolved by
    in-memory pointer doubling on the mosaic."""
    H, W = z.shape
    valid = ~np.isnan(z)
    ptr, _ = _collapse(_d8_chosen(np.pad(z, 1, constant_values=np.nan)))
    gi = (r0 * t + (ptr // W)) * 4096 + (c0 * t + (ptr % W))
    labels = np.where(valid.ravel(), gi, -1).reshape(H, W)

    def stats(sl):
        lab = labels[sl][valid[sl]]
        return {"basin_qsum": int(lab.sum()),
                "n_basins": int(np.unique(lab).size),
                "n_valid": int(valid[sl].sum())}

    return _per_tile(key, r0, c0, t, stats)


def k_d8_tile(pdf, t, source_id, band, col, row):
    """Contraction kernel of watershed and flow_length: D8 directions
    from the tile's 1-px elevation halo (the scene solvers'
    ``_d8_chosen``); every valid cell is live."""
    frame = _assemble_frame(pdf, 1, t)
    if frame is None:
        return None
    chosen = np.pad(_d8_chosen(frame), 1, constant_values=-2)
    return chosen, chosen >= -1, None


def _watershed_dist(tiles: DataFrame, t: int, max_rounds: int) -> DataFrame:
    """Distributed path on :func:`contract` (r5 verdict task 1 — the
    pointer doubling lifted OUT of the scene task onto the O(perimeter)
    border table, a 16x contraction at t=64): each tile's valid cells,
    contracted by chain end, take their basin's key from the resolved
    border; per-tile rollups are pure JVM aggregation (sum(label*cnt),
    countDistinct, sum(cnt)). Bit-identical to the scene solve while
    gc < 4096: directions come from the same _d8_chosen arithmetic and
    the public label gr*4096+gc is computed once, here, from the
    injective key."""
    rows = contract(
        _halo_pieces(tiles, 1), t, k_d8_tile, max_rounds=max_rounds,
        name="watershed",
        message=f"watershed border resolution did not settle in "
                f"{max_rounds} rounds; a flow path crosses more than "
                f"2^{max_rounds} tile boundaries or the border table "
                f"dropped a link")
    label = F.shiftright("rep", 32) * 4096 \
        + F.col("rep").bitwiseAND(F.lit(0xFFFFFFFF))
    return rows.select(*_KEY, label.alias("label"), "cnt") \
        .groupBy("source_id", "band", "col", "row") \
        .agg(F.sum(F.col("label") * F.col("cnt")).alias("basin_qsum"),
             F.countDistinct(F.when(F.col("cnt") > 0,
                                    F.col("label"))).alias("n_basins"),
             F.sum("cnt").alias("n_valid"))


def watershed_labels(tiles: DataFrame, tile_size: int = 64,
                     scene_max_px: int = 1 << 11,
                     max_rounds: int = 64) -> DataFrame:
    """Watershed / drainage-basin labeling: every valid cell is labeled
    with the global pixel id (gr*4096 + gc) of the TERMINAL cell (pit or
    flat) its single-direction D8 path drains to — same direction rule
    as flow_accumulation (first max positive drop, fixed order).

    Adaptive strategy (:func:`scene_tiles`): scenes fitting
    ``scene_max_px`` on a side solve in ONE pointer-doubling task;
    otherwise — or with ``scene_max_px=0`` forcing it — the distributed
    contraction path runs (:func:`contract`): in-tile pointer doubling
    to the tile border, then distributed pointer doubling over the
    O(perimeter) border table (bit-identical labels, r5 verdict task 1).
    Output per tile: (source_id, band, col, row, basin_qsum = exact int64
    sum of labels, n_basins = distinct basins touching the tile,
    n_valid).

    Bound: the label is the SQL oracle's encoding and is unique only
    while every global pixel column gc < 4096; past it two terminals can
    share a label, so n_basins can count two basins as one (basin_qsum
    stays the exact sum of the labels). Both paths still follow every
    flow path exactly (the distributed one keys its border table
    injectively)."""
    t = int(tile_size)
    if _scene_small(tiles, t, scene_max_px):
        return scene_tiles(tiles, t, scene_max_px,
                           partial(k_watershed_scene, t=t), _WSHED_SCHEMA)
    return _watershed_dist(tiles, t, max_rounds)


# ---------------------------------------------------------------------------
# Fill sinks (Planchon & Darboux 2001, eps=0, 8-connectivity) — the
# standard DEM pit-filling preprocessing ahead of D8 flow direction /
# accumulation (GeoTrellis raster.hydrology family; the reference feeds
# hydrology through the same tiled RasterSource plumbing, e.g.
# /root/reference/gdal/src/it/scala/geotrellis/contrib/vlm/SubsceneReadingIT.scala:91-97).
#
# Semantics: W is the unique fixpoint of W(c) = max(dem(c), min over the
# 8 neighbors n of W(n)), starting from W = +inf on interior valid cells,
# where NoData cells and cells beyond the data edge act as OUTLETS
# (encoded uniformly as W = -inf, so a cell adjacent to one relaxes to
# its own dem — no special boundary init). Equivalently W(c) = the min
# over escape paths to an outlet of the max dem along the path ("the
# level water settles at"). W only DECREASES toward the fixpoint, values
# are SELECTED from the dem's value set (max/min only, zero arithmetic),
# so scene and distributed paths are bit-identical by construction.
# ---------------------------------------------------------------------------

_FILL_SCHEMA = ("source_id string, band int, col bigint, row bigint, "
                "n_valid bigint, n_filled bigint, q_fill_sum bigint")


def _fill_gs(wf: np.ndarray, z: np.ndarray, valid: np.ndarray) -> None:
    """In-frame Gauss–Seidel Planchon–Darboux sweeps to the LOCAL
    fixpoint, in place. ``wf`` is the (H+2, W+2) water frame whose 1-px
    ring is FROZEN input (-inf = outlet, +inf = unknown neighbor,
    else the neighbor's current W); interior carries the current state
    (-inf on invalid cells). Four row/column sweeps per macro round
    (down/up/right/left — each uses already-updated predecessor lines,
    so information crosses the frame in one sweep per direction);
    terminates when a full round changes nothing. W is monotone
    non-increasing and drawn from a finite value set, so termination is
    guaranteed; the guard is a pure fail-loud."""
    H, W = z.shape

    def relax_line(fi_line, prev, same_l, same_r, nxt, zi, vi):
        m = np.minimum(np.minimum(
            np.minimum(prev[:-2], prev[1:-1]), prev[2:]),
            np.minimum(np.minimum(same_l, same_r),
                       np.minimum(np.minimum(nxt[:-2], nxt[1:-1]),
                                  nxt[2:])))
        cand = np.maximum(zi, m)
        return np.where(vi, np.minimum(fi_line, cand), fi_line)

    for _ in range(H * W + 2):
        before = wf[1:1 + H, 1:1 + W].copy()
        for i in range(H):                       # down sweep
            fi = i + 1
            wf[fi, 1:-1] = relax_line(
                wf[fi, 1:-1], wf[fi - 1], wf[fi, :-2], wf[fi, 2:],
                wf[fi + 1], z[i], valid[i])
        for i in range(H - 1, -1, -1):           # up sweep
            fi = i + 1
            wf[fi, 1:-1] = relax_line(
                wf[fi, 1:-1], wf[fi - 1], wf[fi, :-2], wf[fi, 2:],
                wf[fi + 1], z[i], valid[i])
        for j in range(W):                       # right sweep
            fj = j + 1
            wf[1:-1, fj] = relax_line(
                wf[1:-1, fj], wf[:, fj - 1], wf[:-2, fj], wf[2:, fj],
                wf[:, fj + 1], z[:, j], valid[:, j])
        for j in range(W - 1, -1, -1):           # left sweep
            fj = j + 1
            wf[1:-1, fj] = relax_line(
                wf[1:-1, fj], wf[:, fj - 1], wf[:-2, fj], wf[2:, fj],
                wf[:, fj + 1], z[:, j], valid[:, j])
        if np.array_equal(before, wf[1:1 + H, 1:1 + W]):
            return
    raise RuntimeError(
        "fill_sinks: in-frame sweep guard exceeded")  # pragma: no cover


def _fill_stats(w: np.ndarray, z: np.ndarray, valid: np.ndarray,
                q_fill: float) -> dict:
    """A tile's fill rollup: valid cells, cells raised above their dem,
    and the quantize-first sum of the filled surface."""
    return {"n_valid": int(valid.sum()),
            "n_filled": int((valid & (w > z)).sum()),
            "q_fill_sum": qsum(w, valid, q_fill)}


def k_fill_rollup(row: dict, q_fill: float) -> dict:
    """The fill rollup of one converged fill-rounds state tile."""
    z = np.frombuffer(row["dem"], dtype=np.float64)
    w = np.frombuffer(row["water"], dtype=np.float64)
    return _fill_stats(w, z, ~np.isnan(z), q_fill)


def k_fill_scene(z, r0, c0, key, *, t, q_fill):
    """:func:`fill_sinks`' scene kernel: the mosaic swept to the global
    fixpoint directly, then the per-tile rollup."""
    valid = ~np.isnan(z)
    wf = np.full((z.shape[0] + 2, z.shape[1] + 2), -np.inf)
    wf[1:-1, 1:-1] = np.where(valid, np.inf, -np.inf)
    _fill_gs(wf, z, valid)
    w = wf[1:-1, 1:-1]
    return _per_tile(key, r0, c0, t, lambda sl: _fill_stats(
        w[sl], z[sl], valid[sl], q_fill))


def k_fill_init(frame, t, col, row):
    """Round 0 of the fill_sinks rounds (a ``focal_map`` kernel): the
    tile's local fixpoint with +inf (unknown) on data-neighbor ring
    cells and -inf (outlet) on absent/NoData ring cells."""
    z = frame[1:1 + t, 1:1 + t]
    valid = ~np.isnan(z)
    wf = np.where(np.isnan(frame), -np.inf, np.inf)
    wf[1:1 + t, 1:1 + t] = np.where(valid, np.inf, -np.inf)
    _fill_gs(wf, z, valid)
    return {"dem": pack(z), "water": pack(wf[1:1 + t, 1:1 + t])}


def k_fill_relax(frames, t):
    """A fill_sinks round: re-sweep the in-tile fixpoint against the
    neighbors' frozen W ring."""
    z = frames["dem"][1:1 + t, 1:1 + t]
    wf = frames["water"]
    _fill_gs(wf, z, ~np.isnan(z))
    return {"water": wf[1:1 + t, 1:1 + t]}


# W travels, the dem stays home; the ring keeps memory, starting as
# -inf (outlet) everywhere: every EXISTING neighbor sends its strips in
# round 1 (all tiles start improved), absent neighbors stay outlets
_FILL_ROUNDS = dict(strips={"water": np.float64}, home={"dem": np.float64},
                    ring={"water": (-np.inf, True)}, offers=None,
                    relax=k_fill_relax)


def _fill_rounds(tiles: DataFrame, t: int, q_fill: float,
                 max_iter: int) -> DataFrame:
    """Distributed path on :func:`halo_rounds`: NO scene-size bound.
    Round 0 (``k_fill_init``) solves each tile's local fixpoint; each
    round (``k_fill_relax``) exchanges 1-px W edge strips and re-sweeps
    against the neighbors' frozen W. Ring inputs only DECREASE per
    round, so the in-tile fixpoints decrease monotonically to the
    global fixpoint — exact, bit-identical to the scene solve
    (selection only, no arithmetic). Per-round shuffle is O(perimeter)
    strips."""
    state = focal_map(tiles, 1, t, k_fill_init,
                      f"{_KEY_DDL}, dem binary, water binary")
    state = halo_rounds(state, t, **_FILL_ROUNDS, max_iter=max_iter,
                        name="fill_sinks")
    return map_tiles(state, partial(k_fill_rollup, q_fill=q_fill),
                     _FILL_SCHEMA)


def fill_sinks(tiles: DataFrame, tile_size: int = 64,
               scene_max_px: int = 1 << 11, max_iter: int = 64,
               q_fill: float = 4.0) -> DataFrame:
    """Planchon–Darboux sink filling (eps=0, 8-connectivity) — see the
    block comment above. Adaptive strategy (:func:`scene_tiles`):
    scenes fitting ``scene_max_px`` on a side solve in ONE task; otherwise — or with ``scene_max_px=0`` forcing it — the
    synchronous halo-rounds path runs with no scene-size bound
    (bit-identical: the fill is pure max/min SELECTION over dem
    values). Output per tile: (source_id, band, col, row, n_valid,
    n_filled = cells raised above their dem, q_fill_sum =
    Σ floor(W·q + 0.5) over valid cells)."""
    t = int(tile_size)
    if _scene_small(tiles, t, scene_max_px):
        return scene_tiles(tiles, t, scene_max_px,
                           partial(k_fill_scene, t=t, q_fill=q_fill),
                           _FILL_SCHEMA)
    return _fill_rounds(tiles, t, q_fill, max_iter)


# ---------------------------------------------------------------------------
# Stream network extraction — the hydrology product built ON TOP of flow
# accumulation (GeoTrellis/ArcGIS convention: stream cells are cells
# whose exclusive accumulation reaches a threshold; channel heads are
# stream cells with no upstream stream cell; links follow the D8
# direction). Selection + integer ids only — exact.
# ---------------------------------------------------------------------------

_STREAM_SCHEMA = ("source_id string, band int, col bigint, row bigint, "
                  "n_stream bigint, n_heads bigint, link_qsum bigint")


def _stream_cell_arrays(chf: np.ndarray, accf: np.ndarray, thr: int):
    """From 1-px-padded chosen/acc frames: (stream, heads, streamf).
    stream = valid & exclusive acc >= thr; head = stream with no
    8-neighbor stream cell whose D8 direction points at it (neighbor
    at offset (dr,dc) points back along direction index 7-idx — the
    fixed row-major _D8 order is antisymmetric under reversal)."""
    H, W = chf.shape[0] - 2, chf.shape[1] - 2
    streamf = (chf >= -1) & (accf - 1.0 >= float(thr))
    stream = streamf[1:1 + H, 1:1 + W]
    inflow = np.zeros((H, W), dtype=bool)
    for idx, (dr, dc, _, _) in enumerate(_D8):
        nb_stream = streamf[1 + dr:1 + dr + H, 1 + dc:1 + dc + W]
        nb_ch = chf[1 + dr:1 + dr + H, 1 + dc:1 + dc + W]
        inflow |= nb_stream & (nb_ch == (7 - idx))
    return stream, stream & ~inflow, streamf


def _stream_link_terms(stream, streamf, ch, GR, GC):
    """Per-cell outgoing-link term: for a stream cell whose D8 target
    is also a stream cell, the target's global id GR*4096 + GC; else 0.
    Each cell has at most one outgoing direction, so this is exact."""
    H, W = stream.shape
    terms = np.zeros((H, W), dtype=np.int64)
    for idx, (dr, dc, _, _) in enumerate(_D8):
        nb_stream = streamf[1 + dr:1 + dr + H, 1 + dc:1 + dc + W]
        sel = stream & (ch == idx) & nb_stream
        terms += np.where(sel, (GR + dr) * 4096 + (GC + dc), 0)
    return terms


def _stream_stats(stream, heads, terms) -> dict:
    """A tile's stream rollup: stream cells, channel heads and the sum
    of its outgoing link targets."""
    return {"n_stream": int(stream.sum()), "n_heads": int(heads.sum()),
            "link_qsum": int(terms.sum())}


def k_stream_scene(z, r0, c0, key, *, t, thr):
    """:func:`stream_network`'s scene kernel: the stream arrays of the
    mosaic's accumulation, then the per-tile rollup."""
    chosen, accf = _scene_acc(z)
    stream, heads, streamf = _stream_cell_arrays(
        np.pad(chosen, 1, constant_values=-2), accf, thr)
    terms = _stream_link_terms(stream, streamf, chosen,
                               *_grid(r0 * t, c0 * t, *z.shape))
    return _per_tile(key, r0, c0, t, lambda sl: _stream_stats(
        stream[sl], heads[sl], terms[sl]))


def _stream_dist(tiles: DataFrame, t: int, thr: int,
                 max_iter: int) -> DataFrame:
    """Distributed path: ONE more halo pass over the converged
    :func:`_flow_rounds_state` with the :func:`halo_rounds` cut and
    frame assembly — (chosen, acc) strips exchange UNCONDITIONALLY
    (unlike the accumulation rounds, a non-flowing neighbor cell can
    still be a stream TARGET: a pit with acc past the threshold), over a
    memory-less no-data ring — then the same local stream/head/link
    arrays."""
    state = _flow_rounds_state(tiles, t, max_iter)
    strips = _ACC_ROUNDS["strips"]
    ring = {"chosen": (-2, False), "acc": (0.0, False)}

    def rollup(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        source_id, band, col, row = key
        center, pieces = _split_center(pdf)
        if center is None:
            return pd.DataFrame(columns=["source_id", "band", "col",
                                         "row", "n_stream", "n_heads",
                                         "link_qsum"])
        frames = _halo_frames(center, pieces, t, strips, ring)
        chf = frames["chosen"]
        stream, heads, streamf = _stream_cell_arrays(chf, frames["acc"],
                                                     thr)
        terms = _stream_link_terms(stream, streamf, chf[1:1 + t, 1:1 + t],
                                   *_grid(int(row) * t, int(col) * t, t, t))
        return pd.DataFrame([{
            "source_id": source_id, "band": int(band),
            "col": int(col), "row": int(row),
            **_stream_stats(stream, heads, terms)}])

    return compute_grouped(
        state.mapInPandas(_halo_cut(t, strips, every=True),
                          _piece_ddl(strips)), *_KEY) \
        .applyInPandas(rollup, _STREAM_SCHEMA)


def stream_network(tiles: DataFrame, tile_size: int = 64,
                   threshold: int = 8, scene_max_px: int = 1 << 11,
                   max_iter: int = 64) -> DataFrame:
    """Stream network extraction over D8 accumulation (module block
    comment): per tile the count of stream cells (exclusive acc >=
    ``threshold``), channel heads (no upstream stream cell), and the
    exact integer sum of stream->stream link target ids (gr*4096+gc).
    Adaptive strategy (:func:`scene_tiles`); ``scene_max_px=0``
    forces the distributed path (bit-identical: thresholding and link
    ids are selection over the SAME converged accumulation state)."""
    t = int(tile_size)
    if _scene_small(tiles, t, scene_max_px):
        return scene_tiles(tiles, t, scene_max_px,
                           partial(k_stream_scene, t=t, thr=int(threshold)),
                           _STREAM_SCHEMA)
    return _stream_dist(tiles, t, int(threshold), max_iter)


# ---------------------------------------------------------------------------
# Downstream flow length (ArcGIS FlowLength, direction=DOWNSTREAM) — per
# cell the D8 path length to its terminal, kept EXACT as the integer
# step decomposition (n_orth, n_diag): length = n_orth·1 + n_diag·√2,
# but a float accumulation would depend on addition ORDER and pointer
# doubling reassociates it — the integer pair is order-free, so the
# scene solve, the distributed contraction, and the SQL closure agree
# bit-for-bit and the caller applies √2 once at the end.
# ---------------------------------------------------------------------------

_FLEN_SCHEMA = ("source_id string, band int, col bigint, row bigint, "
                "n_valid bigint, orth_sum bigint, diag_sum bigint")
# per-direction hop weights of flow_length: (orthogonal, diagonal) steps
_FLEN_HOPS = {"no": [int(not (dr and dc)) for dr, dc in _NEIGHBORS],
              "nd": [int(bool(dr and dc)) for dr, dc in _NEIGHBORS]}


def k_flow_length_scene(z, r0, c0, key, *, t):
    """:func:`flow_length`'s scene kernel: step counts summed along the
    mosaic's collapsed D8 chains, then the per-tile rollup."""
    H, W = z.shape
    valid = ~np.isnan(z)
    _, acc = _collapse(_d8_chosen(np.pad(z, 1, constant_values=np.nan)),
                       _FLEN_HOPS)
    no, nd = acc["no"].reshape(H, W), acc["nd"].reshape(H, W)
    return _per_tile(key, r0, c0, t, lambda sl: {
        "n_valid": int(valid[sl].sum()),
        "orth_sum": int(no[sl][valid[sl]].sum()),
        "diag_sum": int(nd[sl][valid[sl]].sum())})


def _flow_length_dist(tiles: DataFrame, t: int,
                      max_rounds: int) -> DataFrame:
    """Distributed path (the _watershed_dist contraction with ADDITIVE
    integer step counts riding the pointer doubling): each group of a
    tile's cells with one chain end carries its cell count and its local
    step sums; the border table pointer-doubles with counts ADDING each
    round (exact — integer addition is associative). Tile total =
    Σ_groups (local sums + cnt · resolved(end))."""
    rows = contract(
        _halo_pieces(tiles, 1), t, k_d8_tile, hops=_FLEN_HOPS,
        max_rounds=max_rounds, name="flow_length",
        message=f"flow_length border resolution did not settle in "
                f"{max_rounds} rounds")
    return rows.groupBy("source_id", "band", "col", "row") \
        .agg(F.sum("cnt").alias("n_valid"),
             F.sum("no").alias("orth_sum"),
             F.sum("nd").alias("diag_sum"))


def flow_length(tiles: DataFrame, tile_size: int = 64,
                scene_max_px: int = 1 << 11,
                max_rounds: int = 64) -> DataFrame:
    """Downstream D8 flow length (module block comment): per tile
    n_valid plus the EXACT integer step decomposition (orth_sum,
    diag_sum) of the summed path lengths to each cell's terminal —
    length = orth·1 + diag·√2 applied by the caller ONCE at the end.
    Adaptive (:func:`scene_tiles`); ``scene_max_px=0`` forces
    the distributed contraction (bit-identical: integer addition is
    associative, so pointer doubling cannot change the answer)."""
    t = int(tile_size)
    if _scene_small(tiles, t, scene_max_px):
        return scene_tiles(tiles, t, scene_max_px,
                           partial(k_flow_length_scene, t=t), _FLEN_SCHEMA)
    return _flow_length_dist(tiles, t, max_rounds)


# ---------------------------------------------------------------------------
# Global Moran's I (the classic spatial-autocorrelation statistic; the
# raster sibling of the vector hotspot family) over rook-adjacent
# pixels — returned as EXACT integer MOMENTS, not the final ratio:
# with v quantized to an integer grid,
#     n      valid pixels
#     w      ordered adjacent valid pairs (Sum_i deg_i)
#     s1     Sum over ordered pairs v_i * v_j
#     sdeg   Sum_i deg_i * v_i
#     sv     Sum_i v_i          svv    Sum_i v_i^2
# I = (n/w) * (s1 - 2*m*sdeg + m^2*w) / (svv - n*m^2), m = sv/n —
# applied ONCE by the caller; the mean-centered formulation would put
# a float subtraction inside every partial sum (order-dependent),
# while the raw integer moments are order-free and distributable
# (the flow_length integer-decomposition discipline).
# ---------------------------------------------------------------------------

def k_morans(frame, t, col, row, *, qf):
    """:func:`morans_moments` per tile: the tile's integer moments over
    its rook-adjacent valid pairs, neighbors read from the 1-px halo."""
    val = ~np.isnan(frame)
    vq = np.where(val, np.floor(frame * qf + 0.5), 0).astype(np.int64)
    cen = (slice(1, 1 + t), slice(1, 1 + t))
    mc, vc = val[cen], vq[cen]
    deg = np.zeros((t, t), dtype=np.int64)
    nsum = np.zeros((t, t), dtype=np.int64)
    for dr, dc in ((-1, 0), (1, 0), (0, -1), (0, 1)):
        nm = val[1 + dr:1 + t + dr, 1 + dc:1 + t + dc]
        nv = vq[1 + dr:1 + t + dr, 1 + dc:1 + t + dc]
        both = mc & nm
        deg += both
        nsum += np.where(both, nv, 0)
    return {"n": int(mc.sum()), "w_pairs": int(deg[mc].sum()),
            "s1": int((vc * nsum)[mc].sum()),
            "sdeg": int((deg * vc)[mc].sum()),
            "sv": int(vc[mc].sum()), "svv": int((vc * vc)[mc].sum())}


def morans_moments(tiles: DataFrame, tile_size: int = 64,
                   quant: float = 4.0) -> DataFrame:
    """Per-(scene, band) Moran's I integer moments (module block
    comment): values quantized floor(v*quant + 0.5) to int64 first, so
    every product and sum is exact. ONE halo-strip shuffle
    (:func:`focal_map`) + a map-side-combined scene rollup; each tile
    emits a single partial row — constant state per task at any scene
    size."""
    moments = ("n", "w_pairs", "s1", "sdeg", "sv", "svv")
    parts = focal_map(
        tiles, 1, int(tile_size), partial(k_morans, qf=float(quant)),
        ", ".join([_KEY_DDL, *(f"{c} bigint" for c in moments)]))
    return parts.groupBy("source_id", "band").agg(
        *(F.sum(c).alias(c) for c in moments))


def k_euclidean_allocation(frame, t, col, row, *, r, mask_predicate, offs):
    """:func:`euclidean_allocation` per tile; None when no valid cell
    has a mask cell within range."""
    gr, gc, mask = _mask_frame(frame, t, col, row, r, mask_predicate)
    # the packed key d2*2^24 + (gr*4096 + gc) is only injective
    # while global pixel coords stay below 4096 — fail loud on
    # oversize mosaics instead of silently corrupting the MIN
    # ordering and the decode (r6 ADVICE)
    if int(gr.max()) >= 4096 or int(gc.max()) >= 4096:
        raise ValueError(
            "euclidean_allocation: global pixel coords exceed the "
            "4096 packing limit — re-derive the pack shift from the "
            "mosaic extent")
    gidf = gr * 4096 + gc
    big = np.iinfo(np.int64).max
    key = np.full((t, t), big, dtype=np.int64)
    for dr, dc, d2 in offs:
        sl = (slice(r + dr, r + dr + t), slice(r + dc, r + dc + t))
        cand = d2 * 16777216 + gidf[sl]
        np.copyto(key, np.minimum(key, cand), where=mask[sl])
    valid = ~np.isnan(frame[r:r + t, r:r + t])
    hit = valid & (key < big)
    if not hit.any():
        return None
    kv = key[hit]
    return {"n_within": int(hit.sum()),
            "d2_sum": int((kv // 16777216).sum()),
            "alloc_sum": int((kv % 16777216).sum())}


def euclidean_allocation(tiles: DataFrame, mask_predicate,
                         radius: int = 5, tile_size: int = 64) -> DataFrame:
    """Bounded-radius EUCLIDEAN ALLOCATION across tile boundaries (the
    argmin sibling of :func:`euclidean_distance` — GDAL/ArcGIS
    Euclidean Allocation: per pixel WHICH mask cell is nearest, not
    just how far): ties at equal squared distance go to the SMALLEST
    global pixel id — the whole comparison is the packed integer key

        key = d2 * 2^24 + gid      (d2 <= 2r^2, gid = gr*4096+gc < 2^24)

    so the scan is a running int64 MIN with NO float anywhere (the
    distance version's SQRT is monotone so both rank identically —
    this one just never needs it). Same halo machinery, ONE
    co-partitioned shuffle. Output per tile: (n_within, d2_sum = Σ d2
    of winners, alloc_sum = Σ winning gid) — all order-free integer
    sums."""
    r, t = int(radius), int(tile_size)
    if r < 1 or r >= tile_size:
        raise ValueError(f"radius must be in 1..{tile_size - 1}: {r}")
    offs = [(dr, dc, dr * dr + dc * dc)
            for dr in range(-r, r + 1) for dc in range(-r, r + 1)
            if dr * dr + dc * dc <= r * r]
    return focal_map(
        tiles, r, t, partial(k_euclidean_allocation, r=r,
                             mask_predicate=mask_predicate, offs=offs),
        "source_id string, band bigint, col bigint, row bigint, "
        "n_within bigint, d2_sum bigint, alloc_sum bigint")


def k_tpi_roughness(frame, t, col, row, *, q_tpi):
    """:func:`tpi_roughness` per tile; None when no cell has a fully
    valid 3x3."""
    wins, _ = _nb9(frame, t)
    ok = np.ones((t, t), dtype=bool)
    for w in wins:
        ok &= ~np.isnan(w)
    if not ok.any():
        return None
    center = wins[4]
    nsum = np.zeros((t, t))
    mx = np.full((t, t), -np.inf)
    mn = np.full((t, t), np.inf)
    for i, w in enumerate(wins):
        if i != 4:
            nsum = nsum + np.where(ok, w, 0.0)
        mx = np.maximum(mx, np.where(ok, w, -np.inf))
        mn = np.minimum(mn, np.where(ok, w, np.inf))
    tpi = center - nsum / 8.0
    rough = mx - mn
    return {"n_valid9": int(ok.sum()), "tpi_qsum": qsum(tpi, ok, q_tpi),
            "rough_q4sum": qsum(rough, ok, 4.0)}


def tpi_roughness(tiles: DataFrame, tile_size: int = 64,
                  q_tpi: float = 1048576.0) -> DataFrame:
    """TPI + ROUGHNESS (gdaldem's last two modes — completing the
    terrain family next to Horn slope/aspect, hillshade and TRI):
    per pixel with a FULLY VALID 3x3 (the GDAL edge rule terrain_stats
    already pins),

        tpi       = center - (sum of 8 neighbors) / 8   (ONE division)
        roughness = max(3x3) - min(3x3)                 (selection)

    Roughness stays on the exact x4 integer grid (selections and one
    subtraction of quarter-grid values); TPI quantizes its single
    division. Same halo machinery, ONE co-partitioned shuffle. Output
    per tile: (n_valid9, tpi_qsum, rough_q4sum)."""
    return focal_map(
        tiles, 1, int(tile_size), partial(k_tpi_roughness, q_tpi=q_tpi),
        "source_id string, band bigint, col bigint, row bigint, "
        "n_valid9 bigint, tpi_qsum bigint, rough_q4sum bigint")
