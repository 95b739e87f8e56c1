"""Spark-free replay of ``focal.halo_rounds``: the driver's round
functions run through pandas (the cut over one batch for
``mapInPandas``, ``groupby(key)`` for the grouped map) on a 3x4-tile
scene with an absent tile and a NoData hole, for the cost, flow and fill
relax kernels. The converged planes must equal the scene solve bit for
bit. The delta-propagation contract is pinned too: an unimproved tile
emits only its center row, and a tile that receives no strip passes
through unchanged with ``improved = 0``."""
from functools import partial

import numpy as np
import pandas as pd
import pytest

from geotrellis_contrib_spark.operators import costdistance as CD
from geotrellis_contrib_spark.operators import focal as FO
from geotrellis_contrib_spark.operators.pixels import pack
from tests.conftest import replay_scenes, replay_tiles

T = 8
NR, NC = 3, 4
ABSENT = (2, 3)                      # (tile row, tile col)
KEY = list(FO._KEY)
OPS = ["cost", "flow", "fill"]


def _scene():
    """Elevation / friction mosaic: a tilted plane with integer noise
    (long flow paths and pits that cross tiles), a walled basin, a
    NoData hole, and the absent tile's cells NaN — as the scene
    solvers' mosaic has them."""
    rng = np.random.default_rng(11)
    r = np.arange(NR * T).reshape(-1, 1)
    c = np.arange(NC * T).reshape(1, -1)
    z = (1 + r + 2 * c + rng.integers(0, 6, size=(NR * T, NC * T))) \
        .astype(np.float64)
    z[T + 2:T + 5, 2 * T - 2:2 * T + 3] = np.nan
    # a walled basin across all four tile columns: it fills to the level
    # of its one low rim cell, at the east end
    inner = z[2:7, 2:30].copy()
    z[1:8, 1:31] = 200.0
    z[2:7, 2:30] = inner
    z[1, 29] = 150.0
    ar, ac = ABSENT
    z[ar * T:(ar + 1) * T, ac * T:(ac + 1) * T] = np.nan
    tiles = [(tr, tc) for tr in range(NR) for tc in range(NC)
             if (tr, tc) != ABSENT]
    return z, tiles


def _seed(fric, gr, gc):
    return (((gr == 3) & (gc == 4)) | ((gr == 12) & (gc == 12))
            | ((gr == 20) & (gc == 17)))


def _round(op):
    if op == "cost":
        return FO._halo_round(T, **CD._COST_ROUNDS, relax=partial(
            CD.k_cost_relax, straight=1.0, diag=1.5, max_cost=None))
    return FO._halo_round(
        T, **(FO._ACC_ROUNDS if op == "flow" else FO._FILL_ROUNDS))


def _state0(op, z, tiles, start):
    """Round-0 state as the operators build it: the cost init per tile,
    the flow / fill ``focal_map`` init kernels per 1-px halo frame."""
    zp = np.pad(z, 1, constant_values=np.nan)
    rows = []
    for tr, tc in tiles:
        key = {"source_id": "s", "band": 0, "col": tc, "row": tr}
        if op == "cost":
            fric = z[tr * T:(tr + 1) * T, tc * T:(tc + 1) * T]
            gr = tr * T + np.arange(T).reshape(-1, 1) + np.zeros((1, T), int)
            gc = tc * T + np.arange(T).reshape(1, -1) + np.zeros((T, 1), int)
            cost = np.where(_seed(fric, gr, gc) & ~np.isnan(fric),
                            0.0, np.inf)
            planes = {"friction": pack(fric), "cost": pack(
                CD._relax(cost, fric, 1.0, 1.5, None))}
        else:
            frame = zp[tr * T:(tr + 1) * T + 2, tc * T:(tc + 1) * T + 2]
            kern = FO.k_acc_init if op == "flow" else FO.k_fill_init
            planes = kern(frame.copy(), T, tc, tr)
        rows.append({**key, **planes, **start})
    return pd.DataFrame(rows)


def _cut(cut, state):
    return pd.concat(list(cut(iter([state]))), ignore_index=True)


def _relax_all(relax_tile, pieces):
    out = [relax_tile(g) for _, g in pieces.groupby(KEY, sort=True)]
    return pd.concat([o for o in out if len(o)], ignore_index=True)


def _replay(op, z, tiles):
    start, cut, relax_tile, _, _ = _round(op)
    state = _state0(op, z, tiles, start)
    for rounds in range(1, 65):
        state = _relax_all(relax_tile, _cut(cut, state))
        if not state["improved"].max():
            return state, rounds
    raise AssertionError("replay did not converge")


# per op: the scene kernel, its output DDL, and the distributed rollup
# that turns a converged state tile into the same row (None: the state
# plane itself is the output)
SCENE = {
    "cost": (partial(CD.k_cost_scene, t=T, seed_predicate=_seed,
                     straight=1.0, diag=1.5, max_cost=None),
             f"{FO._KEY_DDL}, cost binary", None),
    "flow": (partial(FO.k_acc_scene, t=T), FO._ACC_SCHEMA, FO.k_acc_rollup),
    "fill": (partial(FO.k_fill_scene, t=T, q_fill=4.0), FO._FILL_SCHEMA,
             partial(FO.k_fill_rollup, q_fill=4.0)),
}


def _tile_rows(z, tiles):
    return [{"source_id": "s", "band": 0, "col": tc, "row": tr,
             "nodata": np.nan,
             "px": z[tr * T:(tr + 1) * T, tc * T:(tc + 1) * T]}
            for tr, tc in tiles]


@pytest.mark.parametrize("op", OPS)
def test_replay_matches_scene_solve(op):
    z, tiles = _scene()
    state, rounds = _replay(op, z, tiles)
    assert rounds >= 3  # strips really cross several tile seams
    assert sorted(zip(state["row"], state["col"])) == sorted(tiles)
    kernel, ddl, rollup = SCENE[op]
    want = replay_scenes(_tile_rows(z, tiles), T, 1 << 11, kernel, ddl)
    got = state[want.columns] if rollup is None else replay_tiles(
        state.to_dict("records"), rollup, ddl)
    got = got.sort_values(["row", "col"], ignore_index=True)
    want = want.sort_values(["row", "col"], ignore_index=True)
    assert len(want) == len(tiles)
    assert got.astype(object).equals(want.astype(object))


@pytest.mark.parametrize("op", OPS)
def test_delta_propagation_contract(op):
    z, tiles = _scene()
    start, cut, relax_tile, _, _ = _round(op)
    state = _state0(op, z, tiles, start)
    # tile (1, 1) stays improved; all 8 of its neighbors did not improve
    quiet = [(1 + dr, 1 + dc) for dr, dc in FO._NEIGHBORS]
    state["improved"] = [int((tr, tc) not in quiet)
                         for tr, tc in zip(state["row"], state["col"])]
    pieces = _cut(cut, state)
    center = (pieces["dr"] == 0) & (pieces["dc"] == 0)
    origin = list(zip(pieces["row"] - pieces["dr"],
                      pieces["col"] - pieces["dc"]))
    for tile in quiet:
        sent = np.array([o == tile for o in origin])
        assert (center & sent).sum() == 1, tile   # its center row only
        assert (~center & sent).sum() == 0, tile
    assert (~center & np.array([o == (1, 1) for o in origin])).sum() > 0
    # (1, 1) receives no strip: it passes through with improved = 0
    group = pieces[(pieces["row"] == 1) & (pieces["col"] == 1)]
    assert len(group) == 1
    out = relax_tile(group)
    before = state[(state["row"] == 1) & (state["col"] == 1)]
    assert int(out["improved"].iat[0]) == 0
    for col in out.columns:
        if col != "improved":
            assert out[col].iat[0] == before[col].iat[0], col
