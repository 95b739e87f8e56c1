"""The raster tier's per-tile kernels on numpy alone: each ``k_<op>`` runs
through ``pixels.tile_batch`` — the body ``pixels.map_tiles`` runs on every
Arrow batch — over one pandas batch, with no Spark (the pandas replay of a
pandas UDF, SNIPPETS.md [3]). One Spark parity test per operator stays in
test_pixels.py / test_render.py / test_reproject_grid.py."""

from functools import partial

import numpy as np
import pytest

from geotrellis_contrib_spark import geom as GM
from geotrellis_contrib_spark import grid
from geotrellis_contrib_spark.operators import pixels as px
from geotrellis_contrib_spark.operators import render as RD
from tests.conftest import decode_png_rgba, replay_tiles

TS = 64
ND = -9999.0


def _tile(s=0, band=0, col=18, row=24, t=TS, **extra):
    """One tile of the ``corpus.synth_px_tiles`` field: gradient + noise
    with a 16-px NoData hole, keyed at zoom 6, lon/lat extent attached."""
    r = np.arange(t).reshape(-1, 1)
    c = np.arange(t).reshape(1, -1)
    arr = (s * 1000.0 + band * 100.0 + col * 7.0 + row * 3.0 + r * 0.5
           + c * 0.25 + (r * 31 + c * 17) % 13).astype(np.float64)
    h0 = (s * 11) % (t - 16)
    arr[h0:h0 + 16, h0:h0 + 16] = ND
    x0, y0, x1, y1 = (float(v) for v in grid.tile_extent(6, col, row))
    return {"source_id": f"scene-{s}", "source_idx": s, "zoom": 6,
            "col": col, "row": row, "band": band, "nodata": ND, "px": arr,
            "txmin": x0, "tymin": y0, "txmax": x1, "tymax": y1, **extra}


def _arr(rec):
    """The square payload of an output record (a dict or a Series)."""
    a = np.frombuffer(rec["px"], dtype=px.DTYPES[rec["dtype"]])
    n = int(np.sqrt(a.size))
    return a.reshape(n, n)


def test_tile_batch_row_contract():
    """None drops the row, a list fans out, unset output columns copy from
    the input by name, an array px is packed under its own dtype name,
    and an empty batch keeps the declared columns."""
    def k(row):
        if row["col"] == 18:
            return None
        if row["col"] == 19:
            return [{"v": 1}, {"v": 2}]
        return {"v": 3, "px": row["px"].astype(np.float32)}

    rows = [_tile(col=c) for c in (18, 19, 20)]
    out = replay_tiles(rows, k, "col bigint, v int, dtype string, px binary")
    assert list(out.columns) == ["col", "v", "dtype", "px"]
    assert out.col.tolist() == [19, 19, 20] and out.v.tolist() == [1, 2, 3]
    assert out.dtype.tolist() == ["float64", "float64", "float32"]
    assert out.px[0] == px.pack(rows[1]["px"])  # copied payload, byte-identical
    np.testing.assert_array_equal(_arr(out.iloc[2]), rows[2]["px"].astype(np.float32))
    empty = replay_tiles(rows, lambda row: None, "col bigint, v int")
    assert len(empty) == 0 and list(empty.columns) == ["col", "v"]


def test_stack_group_contract():
    """Planes arrive in source_idx order as a float64 stack with its exact
    NoData mask; ``key`` holds the grouping values as scalars and every
    other column as a plane-order array; None drops, a list fans out and
    unset output columns come from ``key``."""
    from tests.conftest import replay_stacks

    seen = {}

    def k(stack, valid, key):
        seen.update(stack=stack, valid=valid, key=key)
        if key["col"] == 19:
            return None
        return [{"v": int(s), "px": stack[i]}
                for i, s in enumerate(key["source_idx"])]

    rows = [_tile(s=s, col=c, t=32) for c in (18, 19) for s in (2, 0, 1)]
    rows[0]["px"] = rows[0]["px"].astype(np.float32)
    out = replay_stacks(rows, ("col",), k,
                        "col bigint, v int, dtype string, px binary")
    assert out.col.tolist() == [18] * 3 and out.v.tolist() == [0, 1, 2]
    assert out.dtype.tolist() == ["float64"] * 3
    np.testing.assert_array_equal(_arr(out.iloc[2]), rows[0]["px"])
    key = seen["key"]
    assert key["col"] == 19 and key["source_idx"].tolist() == [0, 1, 2]
    assert key["source_id"].tolist() == ["scene-0", "scene-1", "scene-2"]
    assert "px" not in key and key["dtype"].tolist() == ["float64"] * 3
    assert seen["stack"].shape == (3, 32, 32) and seen["stack"].dtype == np.float64
    np.testing.assert_array_equal(seen["valid"], seen["stack"] != ND)


def test_k_warp_composes_convert_resample_reproject():
    t = _tile()
    arr, nd = t["px"], t["nodata"]
    ddl = "dtype string, px binary"
    got = replay_tiles([t], partial(px.k_warp, target="uint8"), ddl).iloc[0]
    assert got["dtype"] == "uint8"
    np.testing.assert_array_equal(_arr(got), px.k_convert(arr, nd, "uint8"))
    got = replay_tiles([t], partial(px.k_warp, out_size=16, method="average"),
                       ddl).iloc[0]
    np.testing.assert_array_equal(
        _arr(got), px.RESAMPLE_AGG_KERNELS["average"](arr, 16, 16, nd))
    # reproject_to_mercator is the chain with an identity convert + resample
    src = (t["txmin"], t["tymin"], t["txmax"], t["tymax"])
    x0, y0 = grid.lonlat_to_mercator(src[0], src[1])
    x1, y1 = grid.lonlat_to_mercator(src[2], src[3])
    dst = (float(x0), float(y0), float(x1), float(y1))
    ddl = "dtype string, px binary, mx_min double, my_min double, " \
          "mx_max double, my_max double"
    got = replay_tiles([t], partial(px.k_warp, target="float64", out_size=TS,
                                    method="nearest", mercator=True), ddl).iloc[0]
    np.testing.assert_array_equal(_arr(got), px.k_reproject_nearest(
        arr, src, dst, (TS, TS), grid.mercator_to_lonlat, nd))
    assert (got.mx_min, got.my_min, got.mx_max, got.my_max) == dst
    # the fused warp chain equals its three steps run one after another
    got = replay_tiles([t], partial(px.k_warp, target="uint8", out_size=32,
                                    method="bilinear", mercator=True), ddl).iloc[0]
    step = px.k_resample_bilinear(px.k_convert(arr, nd, "uint8"), 32, 32)
    np.testing.assert_array_equal(_arr(got), px.k_reproject_nearest(
        step, src, dst, (32, 32), grid.mercator_to_lonlat, nd))


def test_k_px_sum_exact_nodata_and_windows():
    t = _tile()
    t["px"][0, 0], t["px"][0, 1] = ND - 0.05, np.nan
    got = replay_tiles([t], px.k_px_sum, "band bigint, px_sum double, px_count bigint")
    valid = (t["px"] != ND) & ~np.isnan(t["px"])
    assert got.px_count[0] == TS * TS - 256 + 1 == valid.sum()  # ND - 0.05 counts
    assert got.px_sum[0] == t["px"][valid].sum()
    # a window carries no nodata column: every non-NaN pixel counts
    win = {"source_id": "w", "band": 0, "h": 2, "w": 3,
           "px": np.array([[1.0, np.nan, ND], [2.0, 3.0, np.nan]])}
    got = replay_tiles([win], px.k_px_sum, "source_id string, px_sum double, px_count bigint")
    assert (got.px_sum[0], got.px_count[0]) == (ND + 6.0, 4)


def test_k_zonal_box_and_polygon_zones():
    """A polygon equal to the box masks the same pixels as the box zone;
    a hole strictly reduces the count; a zone missing every pixel center
    drops the row."""
    rows = [_tile(col=c, row=r) for c in (18, 19) for r in (24, 25)]
    box = (-77.5, 33.0, -71.0, 39.0)
    ring = [(box[0], box[1]), (box[2], box[1]), (box[2], box[3]),
            (box[0], box[3]), (box[0], box[1])]
    hole = [(-75.0, 35.0), (-73.0, 35.0), (-73.0, 36.0), (-75.0, 36.0),
            (-75.0, 35.0)]
    zone = dict(zip(("xmin", "ymin", "xmax", "ymax"), box))
    ddl = "poly_id string, band int, cnt bigint, sum_val double, " \
          "min_val double, max_val double"

    def run(z, extra):
        return replay_tiles([{**r, **extra, "poly_id": "p"} for r in rows],
                            partial(px.k_zonal, zone=z), ddl)

    by_box = run(px._box_zone, zone)
    solid = run(px._polygon_zone, {"wkb": GM.wkb_encode(GM.WKB_POLYGON, [ring])})
    holed = run(px._polygon_zone, {"wkb": GM.wkb_encode(GM.WKB_POLYGON, [ring, hole])})
    assert len(by_box) == 4 and by_box.cnt.sum() > 0
    assert by_box.cnt.tolist() == solid.cnt.tolist()
    assert by_box.sum_val.tolist() == solid.sum_val.tolist()
    assert holed.cnt.sum() < solid.cnt.sum()
    assert len(run(px._box_zone, {"xmin": 0.0, "ymin": 0.0, "xmax": 1.0, "ymax": 1.0})) == 0


def test_k_mask_partitions_valid_pixels():
    """mask and inverse over the union of OVERLAPPING boxes split each
    tile's valid pixels exactly; nodata is written, dtype kept."""
    rows = [_tile(col=c, row=r) for c in (18, 19) for r in (24, 25)]
    boxes = [(-76.5, 33.2, -74.8, 37.9), (-76.0, 35.0, -75.2, 40.1)]
    ddl = "col bigint, row bigint, dtype string, nodata double, px binary"
    m = replay_tiles(rows, partial(px.k_mask, boxes=boxes, inverse=False), ddl)
    i = replay_tiles(rows, partial(px.k_mask, boxes=boxes, inverse=True), ddl)
    m, i = m.to_dict("records"), i.to_dict("records")
    for r, a, b in zip(rows, m, i):
        va, vb = _arr(a) != ND, _arr(b) != ND
        assert a["dtype"] == b["dtype"] == "float64"
        assert not (va & vb).any()
        np.testing.assert_array_equal(va | vb, r["px"] != ND)
    assert 0 < sum((_arr(a) != ND).sum() for a in m) < \
        sum((r["px"] != ND).sum() for r in rows)


def test_k_crop_and_split():
    t = _tile(col=18, row=24)
    arr = t["px"]
    ddl = "source_id string, band int, px_col_min bigint, px_row_min bigint, " \
          "h int, w int, dtype string, px binary"
    win = (18 * TS + 40, 24 * TS + 10, 19 * TS + 30, 25 * TS + 5)
    got = replay_tiles([t], partial(px.k_crop, bounds=win, t=TS), ddl).iloc[0]
    assert (got.px_col_min, got.px_row_min, got.h, got.w) == (18 * TS + 40, 24 * TS + 10, 54, 24)
    np.testing.assert_array_equal(
        np.frombuffer(got.px).reshape(got.h, got.w), arr[10:, 40:])
    subs = replay_tiles([t], partial(px.k_split, k=4, dz=2),
                        "zoom int, col bigint, row bigint, nodata double, px binary")
    assert len(subs) == 16 and set(subs.zoom) == {8}
    for s in subs.itertuples():
        i, j = s.col - 18 * 4, s.row - 24 * 4
        np.testing.assert_array_equal(
            np.frombuffer(s.px).reshape(16, 16),
            arr[j * 16:(j + 1) * 16, i * 16:(i + 1) * 16])


def test_k_reproject_grid_owns_a_window_or_drops():
    t = _tile()
    ddl = "source_id string, band int, px_col_min bigint, px_row_min bigint, " \
          "h int, w int, dtype string, px binary"
    ident = lambda x, y: (np.asarray(x, dtype=np.float64),  # noqa: E731
                          np.asarray(y, dtype=np.float64))

    def run(target):
        return replay_tiles([t], partial(px.k_reproject_grid, target=target,
                                         kern=px.k_reproject_nearest,
                                         to_dst=ident, fwd=ident), ddl)

    far = grid.GridExtent(100.0, 10.0, 110.0, 20.0, 1.0, 1.0)
    assert len(run(far)) == 0
    over = grid.GridExtent(t["txmin"] - 1.0, t["tymin"] - 1.0,
                           t["txmax"] + 1.0, t["tymax"] + 1.0, 0.25, 0.25)
    w = run(over).iloc[0]
    win = np.frombuffer(w.px).reshape(w.h, w.w)
    owned = win[~np.isnan(win)]
    assert owned.size > 0 and set(np.unique(owned)) <= set(np.unique(t["px"]))


def test_k_shrink_keys_parent_quadrant():
    t = _tile(col=19, row=24)
    got = replay_tiles([t], partial(px.k_shrink, method="average"),
                       "source_id string, source_idx int, zoom int, col bigint, "
                       "row bigint, band int, qr int, qc int, dtype string, "
                       "nodata double, px binary").iloc[0]
    assert (got.zoom, got.col, got.row, got.qr, got.qc) == (5, 9, 12, 0, 1)
    np.testing.assert_array_equal(_arr(got), px.k_downsample2(t["px"], ND, "average"))


def test_k_histogram_and_value_counts():
    t = _tile(s=2, band=1)
    v = t["px"][t["px"] != ND]
    got = replay_tiles([t], partial(RD.k_histogram, vmin=0.0, vmax=2400.0, nb=256),
                       "source_id string, band bigint, bucket bigint, cnt bigint")
    want = np.bincount(np.clip(np.floor(v / 2400.0 * 256.0), 0, 255).astype(np.int64),
                       minlength=256)
    assert dict(zip(got.bucket, got.cnt)) == {int(b): int(want[b]) for b in np.nonzero(want)[0]}
    got = replay_tiles([t], RD.k_value_counts, "source_id string, band int, val double, cnt bigint")
    vals, cnts = np.unique(v, return_counts=True)
    assert got.val.tolist() == vals.tolist() and got.cnt.tolist() == cnts.tolist()


def test_k_render_png_nodata_transparent_and_checksum():
    t = _tile(s=1)
    hole = t["px"] == ND
    png = replay_tiles([t], partial(RD.k_render_png, vmin=0.0, vmax=2400.0,
                                    ramp=RD.TERRAIN_RAMP), "col bigint, png binary")
    rgba = decode_png_rgba(png.png[0])
    assert (rgba[..., 3][hole] == 0).all() and (rgba[..., 3][~hole] == 255).all()
    stats = replay_tiles([t], partial(RD.k_render_stats, vmin=0.0, vmax=2400.0,
                                      ramp=RD.TERRAIN_RAMP),
                         "col bigint, rgba_sum bigint, rgba_count bigint").iloc[0]
    packed = (rgba[..., 0] * 16777216 + rgba[..., 1] * 65536
              + rgba[..., 2] * 256 + 255)
    assert stats.rgba_count == (~hole).sum()
    assert stats.rgba_sum == packed[~hole].sum()


def test_k_clip_stretch_and_equalize():
    t = _tile()
    v = t["px"][t["px"] != ND]
    lo, hi = float(np.quantile(v, 0.1)), float(np.quantile(v, 0.9))
    got = replay_tiles([t], partial(RD.k_clip_stretch, table={("scene-0", 0): (lo, hi)}),
                       "col bigint, n_valid bigint, q_stretch_sum bigint").iloc[0]
    s = np.clip((v - lo) / (hi - lo), 0.0, 1.0)
    assert got.n_valid == v.size
    assert got.q_stretch_sum == np.floor(s * 1048576.0 + 0.5).astype(np.int64).sum()
    # equalize: each valid pixel takes its bucket's level, NoData stays
    levels = np.arange(64, dtype=np.float64) * 4.0
    eq = replay_tiles([t], partial(RD.k_equalize, table={("scene-0", 0): levels},
                                   vmin=0.0, vmax=3200.0, nb=64),
                      "dtype string, px binary").iloc[0]
    out = _arr(eq)
    assert (out[t["px"] == ND] == ND).all()
    np.testing.assert_array_equal(
        out[t["px"] != ND], levels[np.clip(np.floor(v / 3200.0 * 64), 0, 63).astype(int)])
    with pytest.raises(ValueError, match="degenerate"):
        RD._logistic_norm(0.5, 0.0)


def test_unknown_resample_method_fails_at_build():
    with pytest.raises(ValueError, match="unknown resample method"):
        px.resample(None, 16, method="bogus")
    with pytest.raises(ValueError, match="unknown resample method"):
        px.warp_chain_to_mercator(None, "float64", 16, method="bogus")
