"""Cost distance (accumulated-cost surface) over the distributed tile
table — the GeoTrellis ``CostDistance`` / iterative cost-distance op
family re-expressed for Spark: from a set of seed cells, the minimum
accumulated cost to every reachable cell of a FRICTION raster, moving
8-connected, where stepping between adjacent cells a->b costs
``dist(a,b) * (friction(a) + friction(b)) / 2`` (``dist`` = ``straight``
for orthogonal moves, ``diag`` for diagonal — GeoTrellis uses the
physical cell distances; the gate fixture uses dyadic 1.0/1.5 so sums
are exact). NoData friction cells are impassable.

Spark-first plan — synchronous tile rounds with halo exchange on
``focal.halo_rounds`` (the iterative sibling of ``focal.focal_map``):
  round 0: per tile, seed cells get cost 0 and an in-tile vectorized
    8-way min-relaxation runs to its LOCAL fixpoint (``map_tiles``,
    zero shuffle — cost needs no halo);
  round k: the driver cuts the 1-px edge strips of (cost, friction) of
    every tile that improved last round, plus each tile's own state,
    into ONE grouped-map shuffle on the tile key; the
    relax kernel ``k_cost_relax`` re-relaxes each (t+2)^2 frame against
    the neighbor costs (a memory-less ring: NaN friction, +inf cost
    where no strip arrived) and the driver reports whether anything
    improved. Rounds repeat until a global fixpoint (no tile improved),
    fail-loud at ``max_iter``.
Per-round shuffle volume is ~2.1x tile bytes (cost+friction center +
strips); the number of rounds is bounded by the tile-grid diameter of
the longest optimal path (4x4 fixture: <= ~8). At cluster scale rounds
are co-partitioned shuffles on the same key — AQE coalesces the tail.

Monotone convergence: costs only decrease, every relaxation is a min
over path sums of positive weights, so the fixpoint is the exact
shortest-path metric regardless of relaxation order; with dyadic step
costs the float arithmetic is exact and order-independent, which is what
lets the ``cost_distance`` SQL oracle recompute the metric in closed
form (octile distance on the uniform-friction fixture).

Determinism contract (mirrored by the SQL oracle — change one only with
the other): cost values are min-over-paths of left-to-right accumulated
sums; the per-tile checksum quantizes FIRST (floor(cost*2 + 0.5) as
int64 — exact on dyadic costs) then sums integers."""

from __future__ import annotations

from functools import partial
from typing import Callable

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geotrellis_contrib_spark.operators.focal import (
    _KEY_DDL, _NEIGHBORS, _assemble_frame, _grid, _halo_pieces, _per_tile,
    _scene_small, contract, halo_rounds, scene_tiles)
from geotrellis_contrib_spark.operators.pixels import map_tiles, pack, qsum, valid_px
from geotrellis_contrib_spark.util import compute_spread


def _relax(cost: np.ndarray, fric: np.ndarray, straight: float,
           diag: float, max_cost: float | None) -> np.ndarray:
    """Vectorized 8-way min-relaxation to the in-frame fixpoint. ``fric``
    is NaN on impassable/absent cells; ``cost`` is +inf where unreached.
    Monotone (costs only decrease), so sweep count is bounded by the
    longest in-frame optimal hop chain; guarded anyway."""
    valid = ~np.isnan(fric)
    cost = np.where(valid, cost, np.inf)
    h, w = cost.shape
    for _ in range(h * w + 1):
        nxt = cost.copy()
        for dr, dc in _NEIGHBORS:
            dist = diag if (dr != 0 and dc != 0) else straight
            src_r = slice(max(dr, 0), h + min(dr, 0))
            src_c = slice(max(dc, 0), w + min(dc, 0))
            dst_r = slice(max(-dr, 0), h + min(-dr, 0))
            dst_c = slice(max(-dc, 0), w + min(-dc, 0))
            step = dist * (fric[dst_r, dst_c] + fric[src_r, src_c]) / 2.0
            cand = cost[src_r, src_c] + step
            sub = nxt[dst_r, dst_c]
            np.copyto(sub, np.minimum(sub, cand), where=~np.isnan(step))
            nxt[dst_r, dst_c] = sub
        if max_cost is not None:
            nxt = np.where(nxt > max_cost, np.inf, nxt)
        if np.array_equal(nxt, cost):
            break
        cost = nxt
    else:  # pragma: no cover - monotonicity makes this unreachable
        raise RuntimeError("in-tile relaxation did not converge")
    return np.where(valid, cost, np.inf)


def k_cost_relax(frames, t, *, straight, diag, max_cost):
    """A cost_distance round: re-relax the tile against the neighbor
    (cost, friction) strips in its ring."""
    return {"cost": _relax(frames["cost"], frames["friction"], straight,
                           diag, max_cost)[1:1 + t, 1:1 + t]}


# (friction, cost) travel over a memory-less ring (NaN friction, +inf
# cost: a missing strip offers nothing); a strip offers something when
# one of its costs is finite
_COST_ROUNDS = dict(
    strips={"friction": np.float64, "cost": np.float64},
    ring={"friction": (np.nan, False), "cost": (np.inf, False)},
    offers=lambda piece: bool(np.isfinite(piece["cost"]).any()))


def _check_friction(fric: np.ndarray) -> None:
    """Every valid friction cell must be positive: with zero friction the
    exact optimality equation holds in both directions and the backtrack
    can ping-pong between equal-cost cells (r5 ADVICE)."""
    if not np.all(np.isnan(fric)) and float(np.nanmin(fric)) <= 0.0:
        raise ValueError("friction must be positive")


def _seed_relax(fric: np.ndarray, r0: int, c0: int, t: int, seed_predicate,
                straight: float, diag: float,
                max_cost: float | None) -> np.ndarray:
    """The cost of a friction block (NaN = impassable) whose top-left
    tile key is (r0, c0): its ``seed_predicate`` cells at cost 0, relaxed
    to the block's fixpoint. A whole scene for the scene kernels, one
    tile for round 0 of the rounds."""
    _check_friction(fric)
    seed = seed_predicate(fric, *_grid(r0 * t, c0 * t, *fric.shape)) \
        & ~np.isnan(fric)
    return _relax(np.where(seed, 0.0, np.inf), fric, straight, diag,
                  max_cost)


def k_cost_init(row: dict, seed_predicate, t: int, straight: float,
                diag: float, max_cost: float | None) -> dict:
    """Round 0 of the cost_distance rounds: the tile's friction (NaN on
    NoData) relaxed from its own seeds (:func:`_seed_relax`)."""
    arr = row["px"].astype(np.float64)
    fric = np.where(valid_px(arr, row["nodata"]), arr, np.nan)
    cost = _seed_relax(fric, int(row["row"]), int(row["col"]), t,
                       seed_predicate, straight, diag, max_cost)
    return {"friction": pack(fric), "cost": pack(cost)}


def k_cost_rollup(row: dict) -> dict:
    """A converged cost tile's quantize-first checksum over its reached
    cells (floor(cost * 2 + 0.5), exact on dyadic costs)."""
    cost = np.frombuffer(row["cost"], dtype=np.float64)
    fin = np.isfinite(cost)
    return {"cost_qsum": qsum(cost, fin, 2.0), "n_reached": int(fin.sum())}


def _cost_rounds(tiles: DataFrame,
                 seed_predicate: Callable[[np.ndarray, np.ndarray,
                                           np.ndarray], np.ndarray],
                 tile_size: int, straight: float, diag: float,
                 max_cost: float | None, max_iter: int) -> DataFrame:
    """Run the synchronous tile rounds (:func:`halo_rounds`) to the
    global fixpoint; returns the converged state DataFrame (cost tiles
    as float64 binary)."""
    t = int(tile_size)
    if straight <= 0 or diag <= 0:
        raise ValueError("step distances must be positive")

    state = map_tiles(
        compute_spread(tiles),
        partial(k_cost_init, seed_predicate=seed_predicate, t=t,
                straight=straight, diag=diag, max_cost=max_cost),
        f"{_KEY_DDL}, friction binary, cost binary")
    return halo_rounds(
        state, t, **_COST_ROUNDS,
        relax=partial(k_cost_relax, straight=straight, diag=diag,
                      max_cost=max_cost),
        max_iter=max_iter, name="cost_distance")


def k_cost_scene(z, r0, c0, key, *, t, seed_predicate, straight, diag,
                 max_cost):
    """The cost_distance scene kernel: the whole mosaic relaxed to the
    global fixpoint — the same min-over-paths value set as the rounds,
    so bit-identical, at ONE shuffle instead of 4+ sync rounds."""
    cost = _seed_relax(z, r0, c0, t, seed_predicate, straight, diag,
                       max_cost)
    return _per_tile(key, r0, c0, t, lambda sl: {"cost": pack(cost[sl])})


def _adaptive_state(tiles: DataFrame, seed_predicate, t: int,
                    straight: float, diag: float,
                    max_cost: float | None, max_iter: int,
                    scene_max_px: int) -> DataFrame:
    """Pick scene-solve vs synchronous rounds (``focal._scene_small``;
    ``scene_max_px=0`` forces rounds)."""
    if _scene_small(tiles, t, scene_max_px):
        return scene_tiles(
            tiles, t, scene_max_px,
            partial(k_cost_scene, t=t, seed_predicate=seed_predicate,
                    straight=straight, diag=diag, max_cost=max_cost),
            f"{_KEY_DDL}, cost binary")
    return _cost_rounds(tiles, seed_predicate, t, straight, diag,
                        max_cost, max_iter)


def cost_distance(tiles: DataFrame,
                  seed_predicate: Callable[[np.ndarray, np.ndarray,
                                            np.ndarray], np.ndarray],
                  tile_size: int = 64, straight: float = 1.0,
                  diag: float = 1.5, max_cost: float | None = None,
                  max_iter: int = 64,
                  scene_max_px: int = 1 << 11) -> DataFrame:
    """Accumulated cost from ``seed_predicate(friction, gr, gc)`` cells
    over each (source_id, band)'s friction tiles. Returns the per-tile
    quantized rollup ``(source_id, band, col, row, cost_qsum,
    n_reached)`` — zero-shuffle from the converged state.

    Adaptive strategy (:func:`focal.scene_tiles`): when every scene's
    tile footprint fits ``scene_max_px`` on a side (one cheap agg job to
    check), each scene is solved in ONE task at the global fixpoint
    (``k_cost_scene``, bit-identical values); otherwise the synchronous
    halo rounds run. ``scene_max_px=0`` forces the rounds path."""
    t = int(tile_size)
    state = _adaptive_state(tiles, seed_predicate, t, straight, diag,
                            max_cost, max_iter, scene_max_px)

    return map_tiles(state, k_cost_rollup,
                     "source_id string, band int, col bigint, row bigint, "
                     "cost_qsum bigint, n_reached bigint")


def cost_surface(tiles: DataFrame, seed_predicate,
                 tile_size: int = 64, straight: float = 1.0,
                 diag: float = 1.5, max_cost: float | None = None,
                 max_iter: int = 64,
                 scene_max_px: int = 1 << 11) -> DataFrame:
    """Full per-cell cost surface (the pytest/brute-force surface): the
    converged (source_id, band, col, row, cost binary float64) tiles.
    Same adaptive strategy as ``cost_distance``."""
    state = _adaptive_state(tiles, seed_predicate, int(tile_size),
                            straight, diag, max_cost, max_iter,
                            scene_max_px)
    return state.select("source_id", "band", "col", "row", "cost")


def _lcp_walk(cost: np.ndarray, fric: np.ndarray, i: int, j: int,
              straight: float, diag: float) -> int:
    """The scene backtrack: steps from (i, j) to a seed, moving each step
    to the FIRST ``_NEIGHBORS`` neighbor (row-major, the SQL twin's CASE
    cascade order) that satisfies the exact optimality equation."""
    H, W = cost.shape
    steps = 0
    while cost[i, j] != 0.0:
        for dr, dc in _NEIGHBORS:
            x, y = i + dr, j + dc
            if 0 <= x < H and 0 <= y < W and np.isfinite(cost[x, y]):
                dist = diag if (dr != 0 and dc != 0) else straight
                step = dist * (fric[i, j] + fric[x, y]) / 2.0
                if cost[i, j] == cost[x, y] + step:
                    i, j = x, y
                    break
        else:  # pragma: no cover - optimality guarantees a pred
            raise RuntimeError("no optimal predecessor found")
        steps += 1
        if steps > H * W:  # pragma: no cover
            raise RuntimeError("path did not terminate")
    return steps


def k_lcp_scene(z, r0, c0, key, *, t, seed_predicate, targets, straight,
                diag):
    """The least_cost_path scene kernel: the mosaic's cost surface
    (:func:`_seed_relax`) and one walked row per target."""
    cost = _seed_relax(z, r0, c0, t, seed_predicate, straight, diag, None)
    H, W = z.shape
    out = []
    for tgr, tgc in targets(key["source_id"], key["band"]):
        i, j = int(tgr) - r0 * t, int(tgc) - c0 * t
        if not (0 <= i < H and 0 <= j < W) or not np.isfinite(cost[i, j]):
            raise ValueError(f"target ({tgr},{tgc}) unreachable in "
                             f"{key['source_id']}/{key['band']}")
        out.append({"tgr": int(tgr), "tgc": int(tgc),
                    "path_len": _lcp_walk(cost, z, i, j, straight, diag),
                    "cost_q2": int(np.floor(cost[i, j] * 2.0 + 0.5))})
    return out


def k_lcp_tile(pdf, t, source_id, band, col, row, *, targets, straight,
               diag):
    """Contraction kernel of the distributed least-cost path: per cell
    the FIRST ``_NEIGHBORS`` predecessor satisfying the exact equality
    (the scene walk's rule, vectorized) over the tile's (cost, friction)
    frames (pieces tagged ``plane`` 0 and 1); live = reached cells; one
    named row per target inside the tile, with its quantized cost."""
    p = t + 2
    cframe = _assemble_frame(pdf[pdf["plane"] == 0], 1, t)
    fric = _assemble_frame(pdf[pdf["plane"] == 1], 1, t)
    if cframe is None or fric is None:
        return None
    cost = np.where(np.isnan(cframe), np.inf, cframe)
    _check_friction(fric)
    finite = np.isfinite(cost)
    interior = np.zeros((p, p), dtype=bool)
    interior[1:1 + t, 1:1 + t] = True
    remaining = finite & (cost != 0.0) & interior
    chosen = np.full((p, p), -1, dtype=np.int64)
    for k, (dr, dc) in enumerate(_NEIGHBORS):
        nco = np.full((p, p), np.inf)
        nfr = np.full((p, p), np.nan)
        rs = slice(max(0, dr), p + min(0, dr))
        rd = slice(max(0, -dr), p + min(0, -dr))
        cs = slice(max(0, dc), p + min(0, dc))
        cd = slice(max(0, -dc), p + min(0, -dc))
        nco[rd, cd] = cost[rs, cs]
        nfr[rd, cd] = fric[rs, cs]
        dist = diag if (dr != 0 and dc != 0) else straight
        with np.errstate(invalid="ignore"):
            eq = (remaining & np.isfinite(nco)
                  & (cost == nco + dist * (fric + nfr) / 2.0))
        chosen[eq] = k
        remaining &= ~eq
    if remaining.any():  # pragma: no cover - optimality guarantees
        raise RuntimeError("no optimal predecessor found")
    named = {"cell": [], "q2": [], "tgr": [], "tgc": []}
    for tgr, tgc in targets(source_id, band):
        i, j = int(tgr) - row * t + 1, int(tgc) - col * t + 1
        if not (1 <= i <= t and 1 <= j <= t):
            continue  # another tile owns this target
        if not finite[i, j]:
            raise ValueError(
                f"target ({tgr},{tgc}) unreachable in {source_id}/{band}")
        named["cell"].append(i * p + j)
        named["q2"].append(int(np.floor(cost[i, j] * 2.0 + 0.5)))
        named["tgr"].append(int(tgr))
        named["tgc"].append(int(tgc))
    return chosen, finite, named


def _lcp_dist(tiles: DataFrame, seed_predicate, targets,
              tile_size: int, straight: float, diag: float,
              max_iter: int, max_rounds: int) -> DataFrame:
    """Distributed least-cost-path (NO scene-size bound — the watershed
    contraction, ``focal.contract``, applied to the backtrack):

    1. The converged cost surface comes from the synchronous halo-rounds
       solver (`_cost_rounds` on `focal.halo_rounds` — bit-identical to
       the scene fixpoint), so the
       exact optimality equality holds across tile boundaries.
    2. ONE halo shuffle ships each tile its 1-px (cost, friction)
       neighbor strips; ``k_lcp_tile`` picks every cell's predecessor,
       and the driver's LOCAL pointer doubling collapses every in-tile
       chain to either a seed (terminal) or the first out-of-tile cell,
       carrying the EXACT in-tile step count. Emitted per tile:
       O(perimeter) border rows + one row per target inside the tile
       (its coordinates and quantized cost).
    3. Distributed pointer doubling on the border table — log2(tile
       crossings) tiny self-joins, steps summed exactly, fail-loud at
       ``max_rounds`` — then one join resolves targets through it.

    Identical output contract to the scene path: (source_id, band, tgr,
    tgc, path_len, cost_q2); path_len parity is bit-exact because cost,
    friction and the predecessor rule are all bit-identical."""
    t = int(tile_size)
    state = _cost_rounds(tiles, seed_predicate, t, straight, diag, None,
                         max_iter)
    nan = float("nan")
    planes = None
    for plane, src in ((0, "cost"), (1, "friction")):
        plane_tiles = state.select(
            "source_id", "band", "col", "row", F.col(src).alias("px"),
            F.lit("float64").alias("dtype"), F.lit(nan).alias("nodata"))
        cut = _halo_pieces(plane_tiles, 1) \
            .withColumn("plane", F.lit(plane))
        planes = cut if planes is None else planes.unionByName(cut)

    rows = contract(
        planes, t, partial(k_lcp_tile, targets=targets, straight=straight,
                           diag=diag),
        hops={"steps": [1] * len(_NEIGHBORS)}, each=("q2", "tgr", "tgc"),
        max_rounds=max_rounds, name="least_cost_path",
        message=f"least-cost-path border resolution did not settle in "
                f"{max_rounds} rounds; a path crosses more than "
                f"2^{max_rounds} tile boundaries or the border table "
                f"dropped a link")
    return rows.select("source_id", "band", "tgr", "tgc",
                       F.col("steps").alias("path_len"),
                       F.col("q2").alias("cost_q2"))


def least_cost_path(tiles: DataFrame, seed_predicate, targets,
                    tile_size: int = 64, straight: float = 1.0,
                    diag: float = 1.5, max_px: int = 1 << 11,
                    max_iter: int = 64,
                    max_rounds: int = 24) -> DataFrame:
    """Least-cost path backtracking (GeoTrellis LeastCostPath analog):
    from each target cell, walk predecessors on the accumulated-cost
    surface until a seed (cost 0). The predecessor of ``cur`` is the
    FIRST neighbor (fixed row-major order) satisfying the EXACT
    optimality equation cost(cur) == cost(n) + dist * (f(cur)+f(n))/2 —
    exact float equality, which is what the dyadic-cost gate fixture
    guarantees and the SQL oracle mirrors. ``targets`` is a callable
    (source_id, band) -> list[(gr, gc)]. Output one row per target:
    (source_id, band, tgr, tgc, path_len, cost_q2) with cost_q2 =
    floor(cost(target)*2 + 0.5).

    Adaptive strategy (NO scene-size refusal anywhere): scenes fitting
    ``max_px`` on a side solve + walk in ONE task (``k_lcp_scene`` on
    :func:`focal.scene_tiles`); larger scenes take
    the distributed contraction path (`_lcp_dist` — halo-rounds cost
    state, per-tile pointer collapse, O(perimeter) border doubling).
    ``max_px=0`` forces distributed. Both paths are bit-identical
    (pytest parity on multi-tile fixtures)."""
    t = int(tile_size)
    if _scene_small(tiles, t, max_px):
        return scene_tiles(
            tiles, t, max_px,
            partial(k_lcp_scene, t=t, seed_predicate=seed_predicate,
                    targets=targets, straight=straight, diag=diag),
            "source_id string, band int, tgr bigint, tgc bigint, "
            "path_len bigint, cost_q2 bigint")
    return _lcp_dist(tiles, seed_predicate, targets, t, straight, diag,
                     max_iter, max_rounds)
