"""``focal.scene_tiles``, the scene driver of the eight scene-or-distributed
raster operators: the job budget of every operator's default scene path
on its test fixture, and the group body's own contract without Spark
(the footprint guard, the key columns, one row per present tile)."""
from functools import partial

import numpy as np
import pytest

from conftest import count_jobs, replay_scenes
from geotrellis_contrib_spark import corpus
from geotrellis_contrib_spark.operators import costdistance as CD
from geotrellis_contrib_spark.operators import focal as FO
from geotrellis_contrib_spark.operators import viewshed as VS

T = 64
_seed = lambda v, gr, gc: (gr % 97 == 5) & (gc % 89 == 7)  # noqa: E731
_targets = lambda sid, band: [  # noqa: E731
    (1789, (18 + int(sid.split("-")[1])) * 64 + 253),
    (1538, (18 + int(sid.split("-")[1])) * 64 + 2)]
_observer = lambda sid, band: (  # noqa: E731
    1640 + 3 * band, (18 + int(sid.split("-")[1])) * 64 + 104)
_px = lambda spark: corpus.synth_px_tiles(spark, tile_size=T)  # noqa: E731

# per operator: its default (scene) call on the fixture of its own tests,
# the jobs it runs (the chooser's agg + the scene stage) and its rows
SCENE_PATHS = {
    "flow_accumulation": (lambda s: FO.flow_accumulation(_px(s), T), 5, 96),
    "watershed_labels": (lambda s: FO.watershed_labels(_px(s), T), 5, 96),
    "fill_sinks": (lambda s: FO.fill_sinks(corpus.synth_dem_tiles(s)), 5, 32),
    "stream_network": (lambda s: FO.stream_network(_px(s), T), 5, 96),
    "flow_length": (lambda s: FO.flow_length(_px(s), T), 5, 96),
    "cost_distance": (lambda s: CD.cost_distance(
        corpus.synth_friction_tiles(s), _seed, T), 5, 96),
    "least_cost_path": (lambda s: CD.least_cost_path(
        corpus.synth_friction_tiles(s), _seed, _targets, T), 5, 12),
    "viewshed": (lambda s: VS.viewshed(_px(s), _observer, tile_size=T),
                 5, 96),
}


@pytest.mark.parametrize("op", list(SCENE_PATHS))
def test_scene_path_job_budget(spark, op):
    run, budget, n_rows = SCENE_PATHS[op]
    jobs, rows = count_jobs(spark, lambda: run(spark).collect())
    assert len(rows) == n_rows
    assert jobs == budget


def _rows(tiles, nodata=-9999.0):
    """Two scenes of 4x4 tiles: every tile a ramp, NoData at its corner;
    ``tiles`` lists the (row, col) tiles present in scene ``a``."""
    out = []
    for sid, present in (("a", tiles), ("b", [(0, 0)])):
        for tr, tc in present:
            px = np.arange(16, dtype=np.float64).reshape(4, 4) + tr + tc
            px[0, 0] = nodata
            out.append({"source_id": sid, "band": 1, "col": 10 + tc,
                        "row": 20 + tr, "nodata": nodata, "px": px})
    return out


def k_echo(z, r0, c0, key, *, t):
    """Per present tile: its mosaic corner, its valid-pixel sum and the
    group's footprint, so the test sees what the body handed over."""
    return FO._per_tile(key, r0, c0, t, lambda sl: {
        "r0": r0, "c0": c0, "h": z.shape[0], "w": z.shape[1],
        "n_valid": int((~np.isnan(z[sl])).sum()),
        "total": float(np.nansum(z[sl]))})


_ECHO_DDL = ("source_id string, band int, col bigint, row bigint, "
             "r0 bigint, c0 bigint, h int, w int, n_valid bigint, "
             "total double")


def test_scene_group_cuts_present_tiles_of_the_mosaic():
    present = [(0, 0), (2, 1), (1, 3)]  # a 3x4-tile footprint with gaps
    got = replay_scenes(_rows(present), 4, 16, partial(k_echo, t=4),
                        _ECHO_DDL)
    a = got[got["source_id"] == "a"]
    assert sorted(zip(a["row"] - 20, a["col"] - 10)) == sorted(present)
    assert set(a["r0"]) == {20} and set(a["c0"]) == {10}
    assert set(a["h"]) == {12} and set(a["w"]) == {16}
    for r in a.itertuples():
        ramp = np.arange(16.0).reshape(4, 4) + (r.row - 20) + (r.col - 10)
        assert r.n_valid == 15 and r.total == ramp.sum() - ramp[0, 0]
    b = got[got["source_id"] == "b"]
    assert list(zip(b["h"], b["w"], b["n_valid"])) == [(4, 4, 15)]
    assert set(got["band"]) == {1}


def test_scene_group_refuses_a_footprint_past_max_px():
    rows = _rows([(0, 0), (0, 3)])  # 16 px wide
    replay_scenes(rows, 4, 16, partial(k_echo, t=4), _ECHO_DDL)
    with pytest.raises(ValueError, match="scene a exceeds max_px=15"):
        replay_scenes(rows, 4, 15, partial(k_echo, t=4), _ECHO_DDL)
