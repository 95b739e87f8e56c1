"""Spark-free replay of ``focal.contract``: the halo cut and the per-tile
resolve run through pandas (one batch for ``map_tiles``,
``groupby(key)`` for the grouped map), the border table pointer-doubles
in numpy the way ``plans.iterate.border_doubling`` joins it, and each
row to resolve joins the border at its chain end. On a 3x4-tile scene
with an absent tile, an all-NoData tile and a NoData hole, watershed,
flow_length and the least-cost path must equal bit for bit, per tile:
per-cell path following on the scene's D8 directions (``_paths``), and
the least-cost scene kernel run through the scene driver's group body.
The watershed and flow_length scene kernels are checked against
``_paths`` too. Two copies of the scene share one (source_id, band),
the second starting at global pixel column 4096: the public watershed
label gr*4096 + gc maps its cells onto the first copy's, so the
contraction's border keys must not."""
from functools import partial

import numpy as np
import pandas as pd

from geotrellis_contrib_spark.operators import costdistance as CD
from geotrellis_contrib_spark.operators import focal as FO
from geotrellis_contrib_spark.operators.pixels import pack, tile_batch
from tests.conftest import replay_scenes

T = 8
NR, NC = 3, 4
ABSENT = (2, 3)                      # (tile row, tile col)
EMPTY = (0, 3)                       # present, every cell NoData
KEY = list(FO._KEY)
NODATA = -9999.0
# tile-column offsets of the two scene copies
COPIES = [0, 4096 // T]


def _scene():
    rng = np.random.default_rng(7)
    r = np.arange(NR * T).reshape(-1, 1)
    c = np.arange(NC * T).reshape(1, -1)
    z = (1 + r + 2 * c + rng.integers(0, 6, size=(NR * T, NC * T))) \
        .astype(np.float64)
    z[T + 2:T + 5, 2 * T - 2:2 * T + 3] = np.nan
    for tr, tc in (ABSENT, EMPTY):
        z[tr * T:(tr + 1) * T, tc * T:(tc + 1) * T] = np.nan
    tiles = [(tr, tc) for tr in range(NR) for tc in range(NC)
             if (tr, tc) != ABSENT]
    return z, tiles


def _rows(plane, tiles, nodata=NODATA):
    """``plane``'s tiles in both copies as rows, NaN written as
    ``nodata``."""
    return [{"source_id": "s", "band": 0, "col": c0 + tc, "row": tr,
             "dtype": "float64", "nodata": nodata,
             "px": np.where(np.isnan(a := plane[tr * T:(tr + 1) * T,
                                                tc * T:(tc + 1) * T]),
                            nodata, a)}
            for c0 in COPIES for tr, tc in tiles]


def _cut(plane, tiles, nodata=NODATA):
    """The halo pieces of ``plane``'s tiles in both copies."""
    table = pd.DataFrame([{**r, "px": pack(r["px"])}
                          for r in _rows(plane, tiles, nodata)])
    return tile_batch(table, partial(FO.k_halo_pieces, r=1),
                      [f.split()[0] for f in FO._PIECE_DDL.split(",")])


def _scene_rollups(z, tiles, kernel, ddl, cols):
    """``kernel`` through the scene driver's group body on both copies:
    {(col, row): tuple of ``cols``}."""
    got = replay_scenes(_rows(z, tiles), T, 1 << 13, kernel, ddl)
    return {(int(r.col), int(r.row)): tuple(int(getattr(r, c)) for c in cols)
            for r in got.itertuples()}


def _border_doubling(border, hops):
    """plans.iterate.border_doubling in numpy: every non-final row jumps
    to its rep's row (left join: a missing rep keeps rep, adds 0 and
    goes final = 0) until all rows are final."""
    at = {g: i for i, g in enumerate(border["gid"])}
    rep = border["rep"].to_numpy().copy()
    fin = border["final"].to_numpy().copy()
    sums = {c: border[c].to_numpy().copy() for c in hops}
    for _ in range(64):
        if fin.all():
            return dict(zip(border["gid"], zip(rep, *sums.values())))
        j = np.array([at.get(g, -1) for g in rep])
        hit = (fin == 0) & (j >= 0)
        miss = (fin == 0) & (j < 0)
        jj = np.where(hit, j, 0)
        sums = {c: np.where(hit, s + s[jj], s) for c, s in sums.items()}
        rep, fin = np.where(hit, rep[jj], rep), \
            np.where(hit, fin[jj], np.where(miss, 0, fin))
    raise AssertionError("border doubling did not settle")


def _replay(pieces, kernel, hops=None, each=()):
    """contract(...) on pandas: the resolved kind-0 rows."""
    hops = hops or {}
    resolve, _ = FO._contract_tile(T, kernel, hops, each)
    parts = pd.concat([resolve(key, g) for key, g in
                       pieces.groupby(KEY, sort=True)], ignore_index=True)
    assert set(parts["source_id"]) == {"s"}
    border = _border_doubling(parts[parts["kind"] == 1], hops)
    rows = []
    for row_t in parts[parts["kind"] == 0].itertuples(index=False):
        row = row_t._asdict()
        if not row["final"]:
            if row["rep"] not in border:
                continue                       # the inner join drops it
            brep, *bsums = border[row["rep"]]
            row["rep"] = brep
            for c, b in zip(hops, bsums):
                row[c] += row["cnt"] * b
        rows.append(row)
    return pd.DataFrame(rows)


def _paths(z):
    """Per valid cell of the scene: (terminal row, terminal col,
    orthogonal steps, diagonal steps), following the scene's D8
    directions one cell at a time."""
    chosen = FO._d8_chosen(np.pad(z, 1, constant_values=np.nan))
    out = {}
    for i, j in zip(*np.nonzero(~np.isnan(z))):
        x, y, no, nd = i, j, 0, 0
        while chosen[x, y] >= 0:
            dr, dc = FO._NEIGHBORS[chosen[x, y]]
            x, y = x + dr, y + dc
            no, nd = no + (not (dr and dc)), nd + bool(dr and dc)
        out[(i, j)] = (x, y, no, nd)
    return out


def _rollups(z, tiles, cell):
    """Per-tile lists of ``cell(path, c0)`` values over both copies ->
    {(col, row): list}."""
    paths = _paths(z)
    got = {(c0 + tc, tr): [] for c0 in COPIES for tr, tc in tiles}
    for c0 in COPIES:
        for (i, j), path in paths.items():
            got[(c0 + j // T, i // T)].append(cell(path, c0))
    return got


def test_watershed_replay_matches_path_following():
    z, tiles = _scene()
    rows = _replay(_cut(z, tiles), FO.k_d8_tile)
    rep = rows["rep"].to_numpy(np.int64)
    label = (rep >> 32) * 4096 + (rep & 0xFFFFFFFF)
    rows = rows.assign(label=label, ql=label * rows["cnt"])
    got = {(int(k[2]), int(k[3])): (
        int(g["ql"].sum()), g.loc[g["cnt"] > 0, "label"].nunique(),
        int(g["cnt"].sum())) for k, g in rows.groupby(KEY)}
    want = {k: (sum(v), len(set(v)), len(v)) for k, v in _rollups(
        z, tiles, lambda p, c0: p[0] * 4096 + c0 * T + p[1]).items()}
    assert got == want
    assert _scene_rollups(z, tiles, partial(FO.k_watershed_scene, t=T),
                          FO._WSHED_SCHEMA,
                          ("basin_qsum", "n_basins", "n_valid")) == want
    assert all(got[(c0 + EMPTY[1], EMPTY[0])] == (0, 0, 0)
               for c0 in COPIES)
    # chains really cross tiles, and the scene has several basins
    assert (rows["cnt"] > 0).sum() > len(tiles)
    assert len(set(label)) > 3


def test_flow_length_replay_matches_path_following():
    z, tiles = _scene()
    rows = _replay(_cut(z, tiles), FO.k_d8_tile, FO._FLEN_HOPS)
    got = {(int(k[2]), int(k[3])): (int(g["cnt"].sum()),
                                     int(g["no"].sum()), int(g["nd"].sum()))
           for k, g in rows.groupby(KEY)}
    want = {k: (len(v), sum(a for a, _ in v), sum(b for _, b in v))
            for k, v in _rollups(z, tiles, lambda p, c0: p[2:]).items()}
    assert got == want
    assert _scene_rollups(z, tiles, partial(FO.k_flow_length_scene, t=T),
                          FO._FLEN_SCHEMA,
                          ("n_valid", "orth_sum", "diag_sum")) == want
    assert sum(v[2] for v in want.values()) > 0


def test_least_cost_path_replay_matches_scene_walk():
    z, tiles = _scene()
    gr = np.arange(NR * T).reshape(-1, 1) + np.zeros((1, NC * T), int)
    gc = np.arange(NC * T).reshape(1, -1) + np.zeros((NR * T, 1), int)
    seed = (((gr == 3) & (gc == 4)) | ((gr == 12) & (gc == 12))
            | ((gr == 20) & (gc == 17))) & ~np.isnan(z)
    cost = CD._relax(np.where(seed, 0.0, np.inf), z, 1.0, 1.5, None)
    cells = [(0, 0), (10, 29), (7, 9), (16, 20), (23, 1), (12, 12), (9, 31)]
    targets = [(i, c0 * T + j) for c0 in COPIES for i, j in cells]
    pieces = pd.concat([_cut(cost, tiles, np.nan).assign(plane=0),
                        _cut(z, tiles, np.nan).assign(plane=1)],
                       ignore_index=True)
    kernel = partial(CD.k_lcp_tile, targets=lambda sid, band: targets,
                     straight=1.0, diag=1.5)
    rows = _replay(pieces, kernel, {"steps": [1] * 8}, ("q2", "tgr", "tgc"))
    got = {(int(r.tgr), int(r.tgc)): (int(r.steps), int(r.q2))
           for r in rows.itertuples()}
    scene = replay_scenes(
        _rows(z, tiles, np.nan), T, 1 << 13,
        partial(CD.k_lcp_scene, t=T,
                seed_predicate=lambda f, gr, gc: (
                    ((gr == 3) & (gc % 4096 == 4))
                    | ((gr == 12) & (gc % 4096 == 12))
                    | ((gr == 20) & (gc % 4096 == 17))),
                targets=lambda sid, band: targets, straight=1.0, diag=1.5),
        "source_id string, band int, tgr bigint, tgc bigint, "
        "path_len bigint, cost_q2 bigint")
    want = {(int(r.tgr), int(r.tgc)): (int(r.path_len), int(r.cost_q2))
            for r in scene.itertuples()}
    assert len(want) == len(targets)
    assert got == want
    assert max(s for s, _ in want.values()) > 2 * T  # crosses tiles


def test_gid_is_injective_past_column_4096():
    gr = np.array([0, 1, 0, 5])
    gc = np.array([4096, 0, 4095, (1 << 32) - 2])
    keys = FO._gid(gr, gc)
    assert len(set(keys)) == 4
    assert ((keys >> 32) == gr).all() and ((keys & 0xFFFFFFFF) == gc).all()
