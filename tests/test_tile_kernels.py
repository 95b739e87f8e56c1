"""The raster tier's per-tile kernels on numpy alone: each ``k_<op>`` runs
through ``pixels.tile_batch`` — the body ``pixels.map_tiles`` runs on every
Arrow batch — over one pandas batch, with no Spark (the pandas replay of a
pandas UDF, SNIPPETS.md [3]). One Spark parity test per operator stays in
test_pixels.py / test_render.py / test_reproject_grid.py, and in each
operator's own module for the kernels of the last section."""

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


# ---------------------------------------------------------------------------
# kernels of the operators outside pixels.py (contour, region, vectorize,
# viewshed, cost_distance, focal, geotiff): each on one pandas batch
# ---------------------------------------------------------------------------

def _nd_tile(col=1, row=2, **extra):
    """A 4x4 float64 tile at (col, row) holding 1..16, with exact nodata
    -9999.0 at [0, 3] and the VALID -9999.05 at [3, 0]."""
    a = np.arange(1.0, 17.0).reshape(4, 4)
    a[0, 3], a[3, 0] = ND, ND - 0.05
    return {"source_id": "s", "band": 0, "col": col, "row": row,
            "nodata": ND, "px": a, **extra}


def _f64(blob) -> np.ndarray:
    return np.frombuffer(blob, dtype=np.float64)


def test_k_contour_fan_roles_and_exact_nodata():
    from geotrellis_contrib_spark.operators import contour as CT

    t = _nd_tile()
    out = replay_tiles([t], CT.k_contour_fan,
                       "col bigint, row bigint, role int, px binary")
    assert list(zip(out.col, out.row, out.role)) == [
        (1, 2, 0), (0, 2, 1), (1, 1, 2), (0, 1, 3)]
    want = np.where(t["px"] == ND, np.nan, t["px"])
    np.testing.assert_array_equal(_f64(out.px[0]).reshape(4, 4), want)
    np.testing.assert_array_equal(_f64(out.px[1]), want[:, 0])
    np.testing.assert_array_equal(_f64(out.px[2]), want[0, :])
    assert _f64(out.px[3]).tolist() == [1.0]
    assert _f64(out.px[1])[3] == ND - 0.05 and np.isnan(_f64(out.px[2])[3])


REGION_DDL = ("source_id string, band bigint, kind int, gr bigint, "
              "gc bigint, gr2 bigint, gc2 bigint, n bigint, pairs bigint, "
              "label bigint")


def test_k_region_scan_labels_pairs_border_and_exact_nodata():
    """Global-id min labels, per-label count / in-tile pairs / bbox, and
    the border mask cells; the -9999.05 pixel is a region of its own, the
    exact-nodata pixel is no mask cell although the predicate holds."""
    from geotrellis_contrib_spark.operators import region as RG

    t = _nd_tile()
    t["px"][[0, 1, 1, 2, 2, 3, 3], [2, 0, 2, 0, 2, 1, 2]] = 0.0
    # mask (v != 0):  X X . N     N = nodata; label 804 = gid 8*100+4
    #                 . X . X     label 907
    #                 . X . X
    #                 V . . X     V = -9999.05 -> label 1104
    pred = lambda v, gr, gc: v != 0  # noqa: E731
    out = replay_tiles([t], partial(RG.k_region_scan, predicate=pred, t=4,
                                    npx=100), REGION_DDL)
    k0 = out[out.kind == 0]
    assert list(zip(k0.label, k0.n, k0.pairs, k0.gr, k0.gr2, k0.gc,
                    k0.gc2)) == [
        (804, 4, 3, 8, 10, 4, 5), (907, 3, 2, 9, 11, 7, 7),
        (1104, 1, 0, 11, 11, 4, 4)]
    k1 = out[out.kind == 1]
    assert list(zip(k1.gr, k1.gc, k1.label)) == [
        (8, 4, 804), (8, 5, 804), (9, 7, 907), (10, 7, 907),
        (11, 4, 1104), (11, 7, 907)]
    assert set(out.source_id) == {"s"} and set(out.band) == {0}
    none = replay_tiles([t], partial(RG.k_region_scan,
                                     predicate=lambda v, gr, gc: v > 1e9,
                                     t=4, npx=100), REGION_DDL)
    assert len(none) == 0


VEC_DDL = ("source_id string, band bigint, kind int, ekind int, er bigint, "
           "ec bigint, dir int, label bigint")


def test_k_vectorize_scan_sides_and_exact_nodata():
    """An interior 2x2 block (one cell the valid -9999.05) emits exactly
    its 8 in-tile sides; a mask on the tile edge adds candidates and
    border cells, and every exposed side is emitted once (4n - 2 pairs)."""
    from geotrellis_contrib_spark.operators import vectorize as VE

    a = np.zeros((4, 4))
    a[1:3, 1:3] = 1.0
    a[2, 2] = ND - 0.05
    a[0, 1] = ND  # would touch the block, but NoData
    row = {"source_id": "s", "band": 0, "col": 0, "row": 0, "nodata": ND,
           "px": a}
    pred = lambda v, gr, gc: v != 0  # noqa: E731
    kern = partial(VE.k_vectorize_scan, predicate=pred, t=4, npx=100)
    out = replay_tiles([row], kern, VEC_DDL)
    assert set(out.kind) == {0} and set(out.label) == {101}
    assert sorted(zip(out.ekind, out.er, out.ec, out.dir)) == sorted([
        (0, 1, 1, 1), (0, 1, 2, 1), (0, 3, 1, -1), (0, 3, 2, -1),
        (1, 1, 1, -1), (1, 2, 1, -1), (1, 1, 3, 1), (1, 2, 3, 1)])
    rng = np.random.default_rng(3)
    m = rng.random((8, 8)) < 0.5
    row = {**row, "px": m.astype(np.float64)}
    out = replay_tiles([row], partial(kern, t=8), VEC_DDL)
    pairs = int((m[:, :-1] & m[:, 1:]).sum() + (m[:-1, :] & m[1:, :]).sum())
    assert int((out.kind != 1).sum()) == 4 * int(m.sum()) - 2 * pairs
    border = m.copy()
    border[1:-1, 1:-1] = False
    assert int((out.kind == 1).sum()) == int(border.sum())


PART_DDL = ("source_id string, band int, col bigint, row bigint, kind int, "
            "px binary")


def test_k_vs_znorm_exact_nodata():
    from geotrellis_contrib_spark.operators import viewshed as VS

    t = _nd_tile()
    out = replay_tiles([t], VS.k_vs_znorm, PART_DDL).iloc[0]
    assert (out.col, out.row, out.kind) == (1, 2, 0)
    np.testing.assert_array_equal(_f64(out.px).reshape(4, 4),
                                  np.where(t["px"] == ND, np.nan, t["px"]))


def test_k_vs_partial_matches_scalar_r3():
    """Per target of T, the max slope of the R3 samples that land in X
    (NoData transparent, -9999.05 a real sample), -inf where none lands;
    a pair with no sample in X gives no row."""
    from geotrellis_contrib_spark.operators import viewshed as VS

    t, ogr, ogc, zb = 4, 1, 1, 3.0
    z = np.arange(16.0).reshape(4, 4) * 0.5
    z[1, 2], z[2, 1] = ND, ND - 0.05
    pair = {"source_id": "s", "band": 0, "xcol": 1, "xrow": 0, "tcol": 2,
            "trow": 0, "ogr": ogr, "ogc": ogc, "nodata": ND, "px": z}
    zbase = {("s", 0): zb}
    out = replay_tiles([pair], partial(VS.k_vs_partial, t=t, zbase=zbase),
                       PART_DDL)
    want = np.full((t, t), -np.inf)
    for i in range(t):
        for j in range(t):
            gr, gc = i, 2 * t + j
            n = max(abs(gr - ogr), abs(gc - ogc))
            for k in range(1, n):
                rr = int(np.floor(ogr + (k * float(gr - ogr)) / n + 0.5))
                cc = int(np.floor(ogc + (k * float(gc - ogc)) / n + 0.5))
                if 0 <= rr < t and t <= cc < 2 * t and z[rr, cc - t] != ND:
                    want[i, j] = max(want[i, j], (z[rr, cc - t] - zb) / k)
    assert (out.col[0], out.row[0], out.kind[0]) == (2, 0, 1)
    np.testing.assert_array_equal(_f64(out.px[0]).reshape(t, t), want)
    assert np.isfinite(want).any()
    far = {**pair, "xcol": 0, "xrow": 3}
    assert len(replay_tiles([far], partial(VS.k_vs_partial, t=t,
                                           zbase=zbase), PART_DDL)) == 0


def test_k_cost_init_and_rollup():
    """Round 0: NoData friction is impassable (NaN, cost inf), the seed
    relaxes to octile costs; a -9999.05 friction is a value, so it fails
    the positivity check. The rollup checksums the reached cells."""
    from geotrellis_contrib_spark.operators import costdistance as CD

    ddl = "source_id string, band int, col bigint, row bigint, " \
          "friction binary, cost binary"
    a = np.ones((4, 4))
    a[1, 1] = ND
    row = {"source_id": "s", "band": 0, "col": 1, "row": 2, "nodata": ND,
           "px": a}
    seed = lambda f, gr, gc: (gr == 8) & (gc == 4)  # noqa: E731
    kern = partial(CD.k_cost_init, seed_predicate=seed, t=4, straight=1.0,
                   diag=1.5, max_cost=None)
    out = replay_tiles([row], kern, ddl).iloc[0]
    fric = _f64(out.friction).reshape(4, 4)
    cost = _f64(out.cost).reshape(4, 4)
    assert np.isnan(fric[1, 1]) and np.isinf(cost[1, 1])
    # the diagonal through the NoData cell is closed: 1 + 1.5 + 1
    assert (cost[0, 0], cost[0, 1], cost[1, 0], cost[2, 2]) == (0, 1, 1, 3.5)
    a[3, 3] = ND - 0.05
    with pytest.raises(ValueError, match="friction must be positive"):
        replay_tiles([row], kern, ddl)
    got = replay_tiles(
        [{"source_id": "s", "band": 0, "col": 1, "row": 2,
          "cost": px.pack(np.array([0.0, 1.0, 1.5, 2.25, np.inf]))}],
        CD.k_cost_rollup, "source_id string, band int, col bigint, "
        "row bigint, cost_qsum bigint, n_reached bigint").iloc[0]
    assert (got.col, got.cost_qsum, got.n_reached) == (1, 0 + 2 + 3 + 5, 4)


def test_k_halo_pieces_cut_and_frame():
    """Nine pieces keyed by the receiving tile, float64, with their
    (h, w); assembled back, the frame holds the tile in its interior with
    the exact NoData rule (-9999.05 stays a value)."""
    from geotrellis_contrib_spark.operators import focal as FO

    names = [f.split()[0] for f in FO._PIECE_DDL.split(",")]
    t = _nd_tile()
    t["px"] = t["px"].astype(np.float32)
    out = replay_tiles([t], partial(FO.k_halo_pieces, r=1), FO._PIECE_DDL)
    assert list(out.columns) == names and len(out) == 9
    got = {(r.dr, r.dc): r for r in out.itertuples(index=False)}
    c = got[(0, 0)]
    assert (c.col, c.row, c.h, c.w, c.nodata) == (1, 2, 4, 4, ND)
    np.testing.assert_array_equal(_f64(c.px).reshape(4, 4),
                                  t["px"].astype(np.float64))
    b = got[(1, 0)]  # the bottom row, for the tile below
    assert (b.col, b.row, b.h, b.w) == (1, 3, 1, 4)
    np.testing.assert_array_equal(_f64(b.px), t["px"][3].astype(np.float64))
    k = got[(-1, -1)]  # the top-left pixel, for the upper-left neighbor
    assert (k.col, k.row, k.h, k.w) == (0, 1, 1, 1)
    frame = FO._assemble_frame(out[(out.col == 1) & (out.row == 2)], 1, 4)
    assert np.isnan(frame[1, 4]) and frame[4, 1] == np.float32(ND - 0.05)
    assert np.isnan(frame[0]).all() and np.isnan(frame[:, 0]).all()


def test_k_acc_and_fill_rollups():
    from geotrellis_contrib_spark.operators import focal as FO

    key = {"source_id": "s", "band": 0, "col": 3, "row": 4}
    acc = replay_tiles(
        [{**key, "chosen": np.array([-2, -1, 0, 3], np.int8).tobytes(),
          "acc": px.pack(np.array([5.0, 1.0, 3.0, 2.0]))},
         {**key, "chosen": np.array([-2] * 4, np.int8).tobytes(),
          "acc": px.pack(np.zeros(4))}], FO.k_acc_rollup, FO._ACC_SCHEMA)
    assert acc[["col", "acc_sum", "acc_max", "n_valid"]].values.tolist() == [
        [3, 3, 2, 3], [3, 0, 0, 0]]
    fill = replay_tiles(
        [{**key, "dem": px.pack(np.array([1.0, np.nan, 2.0, 3.0])),
          "water": px.pack(np.array([1.0, np.inf, 2.5, 3.0]))}],
        partial(FO.k_fill_rollup, q_fill=4.0), FO._FILL_SCHEMA).iloc[0]
    assert (fill.row, fill.n_valid, fill.n_filled, fill.q_fill_sum) == (
        4, 3, 1, 4 + 10 + 12)


def test_k_tile_qsum_exact_nodata():
    from geotrellis_contrib_spark.sources import geotiff as GT

    t = _nd_tile()
    t["px"][1, 1] = np.nan
    out = replay_tiles([t], partial(GT.k_tile_qsum, quant=4.0),
                       "source_id string, band int, col bigint, row bigint, "
                       "px_qsum bigint, px_count bigint").iloc[0]
    valid = ~np.isnan(t["px"]) & (t["px"] != ND)
    assert out.px_count == 14 == valid.sum()  # -9999.05 counts
    assert out.px_qsum == int(np.floor(t["px"][valid] * 4.0 + 0.5).sum())


def test_k_krige_matches_linear_solve():
    """One tile of the kriging surface against a per-pixel
    ``np.linalg.solve`` of the ordinary-kriging system (<= 1 quantum per
    pixel: the kernel applies the driver-side inverse)."""
    from geotrellis_contrib_spark.operators import kriging as KG

    pts = [(3.5, 2.5, 10.0), (9.0, 6.0, 4.0), (1.0, 12.0, 7.5)]
    c0, c1, a, t, k = 0.0, 1.0, 20.0, 4, 3
    inv = KG.kriging_system_inverse(pts, c0, c1, a)
    inv_np = [[float(inv[i][j]) for j in range(k + 1)] for i in range(k + 1)]
    out = replay_tiles(
        [{"col": 1, "row": 2}],
        partial(KG.k_krige, t=t, zoom=6, pts=pts, inv_np=inv_np, c0=c0,
                c1=c1, a=a),
        "zoom int, col bigint, row bigint, ksum bigint, n_px bigint").iloc[0]
    m = np.ones((k + 1, k + 1))
    m[k, k] = 0.0
    for i, (xi, yi, _) in enumerate(pts):
        for j, (xj, yj, _) in enumerate(pts):
            m[i, j] = KG.gamma_spherical(np.hypot(xi - xj, yi - yj), c0, c1, a)
    want = 0
    for r in range(t):
        for c in range(t):
            x, y = 1 * t + c + 0.5, 2 * t + r + 0.5
            b = np.ones(k + 1)
            b[:k] = [KG.gamma_spherical(np.hypot(x - sx, y - sy), c0, c1, a)
                     for sx, sy, _ in pts]
            v = np.linalg.solve(m, b)[:k] @ [z for _, _, z in pts]
            want += int(np.floor(v * 1048576.0 + 0.5))
    assert (out.zoom, out.col, out.row, out.n_px) == (6, 1, 2, t * t)
    assert abs(out.ksum - want) <= t * t
