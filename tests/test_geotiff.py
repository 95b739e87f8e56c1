"""GeoTiff codec + distributed catalog read: spec-golden decode of a
HAND-BUILT byte stream (reader correctness independent of the writer),
roundtrips across dtype x byte-order x compression x layout x interleave,
georeferencing/geokey/nodata/overview metadata, fail-loud guards, and the
parity test that matters — GeoTiff-path tiles are bit-identical to the
parquet-fixture tiles through the engine checksum."""
import os
import struct
import zlib

import numpy as np
import pytest

from conftest import count_jobs
from geotrellis_contrib_spark import corpus
from geotrellis_contrib_spark.sources import geotiff as GT


# ---------------------------------------------------------------------------
# spec golden: a tiny stripped uint8 TIFF assembled by hand (not our writer)
# ---------------------------------------------------------------------------

def _hand_tiff(path: str) -> np.ndarray:
    """2x3 single-band uint8, one strip, uncompressed, little-endian,
    every offset hand-computed per TIFF 6.0."""
    data = bytes([10, 20, 30, 40, 50, 60])  # rows (10,20,30),(40,50,60)
    # header(8) + data(6) -> IFD at 14
    entries = [
        (256, 3, 1, struct.pack("<H", 3) + b"\x00\x00"),   # width 3
        (257, 3, 1, struct.pack("<H", 2) + b"\x00\x00"),   # height 2
        (258, 3, 1, struct.pack("<H", 8) + b"\x00\x00"),   # bits 8
        (259, 3, 1, struct.pack("<H", 1) + b"\x00\x00"),   # no compress
        (262, 3, 1, struct.pack("<H", 1) + b"\x00\x00"),
        (273, 4, 1, struct.pack("<I", 8)),                 # strip offset
        (277, 3, 1, struct.pack("<H", 1) + b"\x00\x00"),
        (278, 4, 1, struct.pack("<I", 2)),                 # rows/strip
        (279, 4, 1, struct.pack("<I", 6)),                 # byte count
    ]
    ifd = struct.pack("<H", len(entries))
    for tag, typ, cnt, val in entries:
        ifd += struct.pack("<HHI", tag, typ, cnt) + val
    ifd += struct.pack("<I", 0)
    with open(path, "wb") as f:
        f.write(b"II" + struct.pack("<H", 42) + struct.pack("<I", 14))
        f.write(data)
        f.write(ifd)
    return np.array([[10, 20, 30], [40, 50, 60]], dtype=np.uint8)


def test_hand_built_spec_golden(tmp_path):
    p = str(tmp_path / "hand.tif")
    want = _hand_tiff(p)
    arr, info = GT.read_geotiff(p)
    assert np.array_equal(arr[0], want)
    assert info["nbands"] == 1 and info["dtype"] == "uint8"
    assert info["epsg"] is None and info["extent"] is None


# ---------------------------------------------------------------------------
# roundtrips
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("dtype", ["uint8", "int16", "int32", "float32",
                                   "float64"])
def test_roundtrip_dtypes(tmp_path, dtype):
    rng = np.random.RandomState(3)
    arr = (rng.rand(2, 100, 70) * 100).astype(dtype)
    p = str(tmp_path / "t.tif")
    GT.write_geotiff(p, arr, (0.0, 0.0, 70.0, 100.0), epsg=3857)
    back, info = GT.read_geotiff(p)
    assert back.dtype == arr.dtype and np.array_equal(back, arr)


@pytest.mark.parametrize("bo", ["<", ">"])
@pytest.mark.parametrize("compress", ["none", "deflate", "lzw"])
@pytest.mark.parametrize("strips", [False, True])
@pytest.mark.parametrize("planar", [1, 2])
def test_roundtrip_layouts(tmp_path, bo, compress, strips, planar):
    rng = np.random.RandomState(5)
    arr = (rng.rand(3, 90, 130) * 1000).astype(np.float32)
    p = str(tmp_path / "t.tif")
    GT.write_geotiff(p, arr, (-10.0, -5.0, 3.0, 4.0), epsg=4326,
                     nodata=float("nan"), compress=compress, byteorder=bo,
                     strips=strips, planar=planar)
    back, info = GT.read_geotiff(p)
    assert np.array_equal(back, arr)
    assert info["byteorder"] == bo
    assert np.isnan(info["nodata"])
    assert info["epsg"] == 4326
    assert info["extent"] == (-10.0, -5.0, 3.0, 4.0)


def test_overviews_resolutions(tmp_path):
    # resolutions parity: base gridExtent + one per overview IFD
    # (GeoTiffRasterSource.scala:61-64)
    arr = np.arange(2 * 128 * 128, dtype=np.float64).reshape(2, 128, 128)
    p = str(tmp_path / "o.tif")
    GT.write_geotiff(p, arr, (0, 0, 128, 128), overviews=3)
    _, info = GT.read_geotiff(p)
    assert [i["width"] for i in info["ifds"]] == [128, 64, 32, 16]
    assert [i["overview"] for i in info["ifds"]] == [False, True, True, True]
    for lv in range(1, 4):
        ov, _ = GT.read_geotiff(p, level=lv)
        step = 2 ** lv
        assert np.array_equal(ov, arr[:, ::step, ::step])


def test_single_band_2d_input(tmp_path):
    arr = np.arange(64 * 64, dtype=np.int16).reshape(64, 64)
    p = str(tmp_path / "s.tif")
    GT.write_geotiff(p, arr, (0, 0, 64, 64))
    back, info = GT.read_geotiff(p)
    assert back.shape == (1, 64, 64) and np.array_equal(back[0], arr)


# ---------------------------------------------------------------------------
# fail-loud guards
# ---------------------------------------------------------------------------

def test_reject_not_a_tiff(tmp_path):
    p = str(tmp_path / "x.tif")
    open(p, "wb").write(b"PK\x03\x04....")
    with pytest.raises(ValueError, match="not a TIFF"):
        GT.read_geotiff_info(p)


def test_reject_bigtiff(tmp_path):
    p = str(tmp_path / "b.tif")
    open(p, "wb").write(b"II" + struct.pack("<H", 43) + b"\x00" * 12)
    with pytest.raises(ValueError, match="BigTIFF"):
        GT.read_geotiff_info(p)


def test_jpeg_tag_without_jpeg_data_fails_loud(tmp_path):
    # compression 7 now parses (the codec exists), but segment bytes
    # that are not a JPEG stream must fail loud at decode, not return
    # garbage pixels
    p = str(tmp_path / "l.tif")
    arr = np.zeros((8, 8), dtype=np.uint8)
    GT.write_geotiff(p, arr, (0, 0, 8, 8), compress="none", tile_size=8)
    raw = bytearray(open(p, "rb").read())
    # patch the Compression SHORT value 1 -> 7 (JPEG) in place
    idx = raw.find(struct.pack("<HHI", 259, 3, 1) + struct.pack("<H", 1))
    assert idx > 0
    raw[idx + 8:idx + 10] = struct.pack("<H", 7)
    open(p, "wb").write(bytes(raw))
    info = GT.read_geotiff_info(p)
    assert info["ifds"][0]["compression"] == 7
    with pytest.raises(ValueError, match="JPEG marker expected"):
        GT.read_geotiff(p)


def test_reject_float_predictor(tmp_path):
    # writer: predictor 2 on floats refuses (floats use predictor 3)
    arr = np.zeros((8, 8), dtype=np.float32)
    with pytest.raises(ValueError, match="integer samples"):
        GT.write_geotiff(str(tmp_path / "f.tif"), arr, (0, 0, 8, 8),
                         compress="lzw", predictor=2, tile_size=8)
    # reader: a patched predictor=3 tag refuses
    p = str(tmp_path / "p3.tif")
    GT.write_geotiff(p, np.zeros((8, 8), dtype=np.int32), (0, 0, 8, 8),
                     compress="lzw", predictor=2, tile_size=8)
    raw = bytearray(open(p, "rb").read())
    idx = raw.find(struct.pack("<HHI", 317, 3, 1) + struct.pack("<H", 2))
    assert idx > 0
    raw[idx + 8:idx + 10] = struct.pack("<H", 3)
    open(p, "wb").write(bytes(raw))
    with pytest.raises(ValueError, match="predictor 3"):
        GT.read_geotiff_info(p)


def test_lzw_codec_known_vector():
    """TIFF 6.0 §13's own worked example: encoding the 9-byte sequence
    7 7 7 8 8 7 7 6 6 emits codes 256(Clear) 7 258 8 8 258 6 6 257(EOI)
    — locks the early-change bit layout, not just the roundtrip."""
    data = bytes([7, 7, 7, 8, 8, 7, 7, 6, 6])
    codes = [256, 7, 258, 8, 8, 258, 6, 6, 257]
    bits = "".join(format(c, "09b") for c in codes)
    bits += "0" * (-len(bits) % 8)
    want = bytes(int(bits[i:i + 8], 2) for i in range(0, len(bits), 8))
    assert GT.lzw_encode(data) == want
    assert GT.lzw_decode(want) == data


def test_lzw_width_bumps_and_reset():
    """Payloads long enough to cross every code-width boundary (9->10->
    11->12) and the 4094-entry table reset roundtrip exactly."""
    rng = np.random.RandomState(11)
    for n in (2000, 20000, 120000):
        data = bytes(rng.randint(0, 7, n).astype(np.uint8))
        assert GT.lzw_decode(GT.lzw_encode(data)) == data
    # incompressible data grows the table fastest per output byte
    data = bytes(rng.randint(0, 256, 60000).astype(np.uint8))
    assert GT.lzw_decode(GT.lzw_encode(data)) == data


@pytest.mark.parametrize("dtype", ["uint8", "uint16", "int16", "int32",
                                   "uint32"])
def test_predictor2_roundtrip_dtypes(tmp_path, dtype):
    rng = np.random.RandomState(13)
    info = np.iinfo(dtype)
    arr = rng.randint(info.min, info.max, (2, 90, 70)).astype(dtype)
    p = str(tmp_path / "p.tif")
    GT.write_geotiff(p, arr, (0, 0, 70, 90), compress="lzw", predictor=2)
    back, inf = GT.read_geotiff(p)
    assert back.dtype == arr.dtype and np.array_equal(back, arr)
    assert inf["ifds"][0]["compression"] == 5
    assert inf["ifds"][0]["predictor"] == 2


def test_lzw_catalog_read_parity(tmp_path, spark):
    """The distributed catalog read decodes the LZW fixture to the SAME
    checksums as the synth_px_tiles parquet path (x4 int32 quantized)."""
    specs = corpus.synth_geotiff_scenes_lzw(str(tmp_path))
    cat = GT.geotiff_tile_catalog(spark, specs)
    jobs_cat, rows = count_jobs(spark, GT.per_tile_checksum(
        GT.read_catalog_tiles(cat), quant=1.0).collect)
    got = {(r.source_id, r.band, r.col, r.row): (r.px_qsum, r.px_count)
           for r in rows}
    tiles = corpus.synth_px_tiles(spark, tile_size=64)
    jobs_px, rows = count_jobs(
        spark, GT.per_tile_checksum(tiles, quant=4.0).collect)
    want = {(r.source_id, r.band, r.col, r.row): (r.px_qsum, r.px_count)
            for r in rows}
    assert (jobs_cat, jobs_px) == (1, 1)  # zero-shuffle: one job each
    assert got == want and len(got) == 96


def test_reject_truncated(tmp_path):
    p = str(tmp_path / "t.tif")
    arr = np.zeros((2, 64, 64), dtype=np.float32)
    GT.write_geotiff(p, arr, (0, 0, 1, 1), compress="none")
    full = open(p, "rb").read()
    open(p, "wb").write(full[:len(full) // 2])
    with pytest.raises(ValueError):
        GT.read_geotiff(p)


def test_writer_rejects_bad_args(tmp_path):
    arr = np.zeros((4, 4), dtype=np.float64)
    with pytest.raises(ValueError, match="compression"):
        GT.write_geotiff(str(tmp_path / "a.tif"), arr, (0, 0, 1, 1),
                         compress="webp")
    with pytest.raises(ValueError, match="uint8"):
        GT.write_geotiff(str(tmp_path / "a.tif"), arr, (0, 0, 1, 1),
                         compress="jpeg")
    u8 = np.zeros((4, 4), dtype=np.uint8)
    with pytest.raises(ValueError, match="predictor"):
        GT.write_geotiff(str(tmp_path / "a.tif"), u8, (0, 0, 1, 1),
                         compress="jpeg", predictor=2)
    with pytest.raises(ValueError, match="planar=2"):
        GT.write_geotiff(str(tmp_path / "a.tif"),
                         np.zeros((2, 4, 4), dtype=np.uint8),
                         (0, 0, 1, 1), compress="jpeg", planar=1)
    with pytest.raises(ValueError, match="predictor"):
        GT.write_geotiff(str(tmp_path / "a.tif"), arr, (0, 0, 1, 1),
                         predictor=4)
    with pytest.raises(ValueError, match="planar"):
        GT.write_geotiff(str(tmp_path / "a.tif"), arr, (0, 0, 1, 1),
                         planar=3)
    with pytest.raises(ValueError, match="dtype"):
        GT.write_geotiff(str(tmp_path / "a.tif"),
                         arr.astype(np.complex128), (0, 0, 1, 1))


def test_catalog_rejects_strips(tmp_path, spark):
    p = str(tmp_path / "s.tif")
    GT.write_geotiff(p, np.zeros((64, 64)), (0, 0, 1, 1), strips=True)
    with pytest.raises(ValueError, match="tiled"):
        GT.geotiff_tile_catalog(spark, [{"path": p, "source_id": "x"}])


# ---------------------------------------------------------------------------
# distributed catalog read
# ---------------------------------------------------------------------------

def test_catalog_parity_with_parquet_fixture(tmp_path, spark):
    """The money test: tiles decoded from real GeoTiff bytes are
    bit-identical to the synth_px_tiles parquet-path fixture, per tile,
    across all three byte-order/compression/interleave variants."""
    specs = corpus.synth_geotiff_scenes(str(tmp_path))
    cat = GT.geotiff_tile_catalog(spark, specs)
    a = GT.per_tile_checksum(GT.read_catalog_tiles(cat)).collect()
    b = GT.per_tile_checksum(
        corpus.synth_px_tiles(spark, tile_size=64)).collect()
    key = lambda r: (r.source_id, r.band, r.col, r.row)  # noqa: E731
    assert {key(r): (r.px_qsum, r.px_count) for r in a} \
        == {key(r): (r.px_qsum, r.px_count) for r in b}
    assert len(a) == 96


def test_catalog_windowed_prune(tmp_path, spark):
    """Window read = a plain filter on catalog (col,row): only the
    surviving byte ranges are fetched, results equal the full read's
    subset."""
    from pyspark.sql import functions as F

    specs = corpus.synth_geotiff_scenes(str(tmp_path))
    cat = GT.geotiff_tile_catalog(spark, specs)
    window = cat.filter((F.col("col") == 19) & (F.col("row") == 25))
    got = GT.per_tile_checksum(GT.read_catalog_tiles(window)).collect()
    full = GT.per_tile_checksum(GT.read_catalog_tiles(cat)).collect()
    key = lambda r: (r.source_id, r.band, r.col, r.row)  # noqa: E731
    want = {key(r): r.px_qsum for r in full if r.col == 19 and r.row == 25}
    assert {key(r): r.px_qsum for r in got} == want and len(got) > 0


def test_catalog_chunky_band_split(tmp_path, spark):
    """planar=1 files: both bands decode from the SAME segment bytes and
    demux correctly."""
    arr = np.stack([np.full((64, 64), 7.0), np.full((64, 64), 9.0)])
    p = str(tmp_path / "c.tif")
    GT.write_geotiff(p, arr, (0, 0, 1, 1), planar=1, nodata=-1.0)
    cat = GT.geotiff_tile_catalog(
        spark, [{"path": p, "source_id": "c", "zoom": 0}])
    rows = GT.per_tile_checksum(GT.read_catalog_tiles(cat)).collect()
    got = {r.band: r.px_qsum for r in rows}
    assert got == {0: 7 * 4 * 4096, 1: 9 * 4 * 4096}


def test_fixture_write_once(tmp_path):
    specs1 = corpus.synth_geotiff_scenes(str(tmp_path))
    mtimes = [os.path.getmtime(s["path"]) for s in specs1]
    specs2 = corpus.synth_geotiff_scenes(str(tmp_path))
    assert [os.path.getmtime(s["path"]) for s in specs2] == mtimes


def test_write_scene_geotiffs_roundtrip(tmp_path, spark):
    """Distributed sink: tile table -> one GeoTiff per (scene, band) ->
    read back through the catalog path -> bit-identical checksums."""
    tiles = corpus.synth_px_tiles(spark, tile_size=64)
    res = GT.write_scene_geotiffs(tiles, str(tmp_path),
                                  tile_size=64, overviews=1).collect()
    assert len(res) == 6 and all(r.n_tiles == 16 for r in res)
    specs = []
    for r in res:
        s = int(r.source_id.split("-")[1])
        info = GT.read_geotiff_info(r.path)
        assert info["epsg"] == 3857 and len(info["ifds"]) == 2
        assert (r.width, r.height) == (256, 256)
        specs.append({"path": r.path,
                      "source_id": f"{r.source_id}|b{r.band}",
                      "zoom": 6, "base_col": 18 + s, "base_row": 24})
    cat = GT.geotiff_tile_catalog(spark, specs)
    a = GT.per_tile_checksum(GT.read_catalog_tiles(cat)).collect()
    b = GT.per_tile_checksum(tiles).collect()
    # sink writes single-band files; band folds into source_id on read
    ka = {(r.source_id, r.col, r.row): (r.px_qsum, r.px_count)
          for r in a}
    kb = {(f"{r.source_id}|b{r.band}", r.col, r.row):
          (r.px_qsum, r.px_count) for r in b}
    assert ka == kb and len(ka) == 96


def test_catalog_read_zero_shuffle_plan(tmp_path, spark):
    specs = corpus.synth_geotiff_scenes(str(tmp_path))
    cat = GT.geotiff_tile_catalog(spark, specs)
    plan = GT.per_tile_checksum(GT.read_catalog_tiles(cat)) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_cog_layout_ifds_first(tmp_path):
    """COG layout: the whole IFD chain (incl. every offset table) sits
    directly after the 8-byte header; pixel data follows — and the bytes
    decode identically to the classic layout."""
    arr = np.arange(2 * 128 * 128, dtype=np.float64).reshape(2, 128, 128)
    pc = str(tmp_path / "cog.tif")
    pl = str(tmp_path / "classic.tif")
    GT.write_geotiff(pc, arr, (0, 0, 128, 128), overviews=2, cog=True)
    GT.write_geotiff(pl, arr, (0, 0, 128, 128), overviews=2)
    bc, ic = GT.read_geotiff(pc)
    bl, il = GT.read_geotiff(pl)
    assert np.array_equal(bc, bl) and np.array_equal(bc, arr)
    # COG: first IFD at offset 8, ALL data offsets beyond the IFD chain
    with open(pc, "rb") as f:
        f.seek(4)
        assert struct.unpack("<I", f.read(4))[0] == 8
    min_data_c = min(min(i["offsets"]) for i in ic["ifds"])
    with open(pl, "rb") as f:
        f.seek(4)
        first_ifd_l = struct.unpack("<I", f.read(4))[0]
    assert min(min(i["offsets"]) for i in il["ifds"]) == 8  # classic: data first
    assert min_data_c > 8 and first_ifd_l > 8
    for i in ic["ifds"]:
        assert all(o >= min_data_c for o in i["offsets"])


# ---------------------------------------------------------------------------
# PackBits (TIFF 6.0 §9)
# ---------------------------------------------------------------------------

def test_packbits_spec_golden():
    """The worked example printed in TIFF 6.0 §9 itself."""
    unpacked = bytes.fromhex("AAAAAA80002AAAAAAAAA80002A22"
                             + "AA" * 10)
    packed = bytes.fromhex("FEAA0280002AFDAA0380002A22F7AA")
    assert GT.packbits_decode(packed) == unpacked
    # our encoder may pack differently (2-runs as replicates) but must
    # roundtrip, and the spec's packing must decode regardless
    assert GT.packbits_decode(
        GT.packbits_encode(unpacked, len(unpacked))) == unpacked


def test_packbits_edges():
    rng = np.random.default_rng(3)
    cases = [
        b"",
        b"\x00" * 1000,                        # long replicate (>128)
        bytes(rng.integers(0, 256, 300, dtype=np.uint8)),  # long literal
        b"ab" * 200,                           # alternating 2-patterns
        bytes(rng.integers(0, 3, 500, dtype=np.uint8)),    # mixed runs
        b"x" * 2 + b"yz" + b"q" * 129,         # 2-run + >128 run
    ]
    for data in cases:
        for rb in (len(data) or 1, 7, 64):
            enc = GT.packbits_encode(data, rb)
            assert GT.packbits_decode(enc) == data, (len(data), rb)
    with pytest.raises(ValueError, match="truncated"):
        GT.packbits_decode(b"\x05ab")          # literal cut short
    with pytest.raises(ValueError, match="truncated"):
        GT.packbits_decode(b"\xfe")            # replicate missing byte


def test_packbits_geotiff_roundtrips(tmp_path):
    """write->read across byte order / interleave / layout / predictor;
    values bit-identical to the uncompressed write."""
    rng = np.random.default_rng(11)
    arr_f = rng.normal(size=(2, 96, 80)).astype(np.float64)
    arr_i = rng.integers(-1000, 1000, (2, 96, 80)).astype(np.int32)
    combos = [
        dict(byteorder="<", planar=2, strips=False, overviews=1),
        dict(byteorder=">", planar=1, strips=False, overviews=0),
        dict(byteorder="<", planar=2, strips=True, overviews=0),
    ]
    for i, kw in enumerate(combos):
        for arr, pred in ((arr_f, 1), (arr_i, 2)):
            p = str(tmp_path / f"pb{i}_{pred}.tif")
            GT.write_geotiff(p, arr, (0, 0, 1, 1), compress="packbits",
                             predictor=pred, nodata=-9999.0, **kw)
            info = GT.read_geotiff_info(p)
            assert info["ifds"][0]["compression"] == 32773
            got, _ = GT.read_geotiff(p)
            np.testing.assert_array_equal(got, arr)
            if kw["overviews"]:
                ov, _ = GT.read_geotiff(p, level=1)
                assert ov.shape == (2, 48, 40)


def test_packbits_catalog_read(tmp_path, spark):
    """The distributed catalog read decodes PackBits tiles bit-identical
    to the uncompressed write of the same array."""
    arr = np.stack([np.full((64, 64), 3.25), np.full((64, 64), -2.5)])
    arr[0, 10:20, :] = 7.75   # runs + breaks
    pu = str(tmp_path / "u.tif")
    pp = str(tmp_path / "p.tif")
    GT.write_geotiff(pu, arr, (0, 0, 1, 1), compress="none", nodata=-1.0)
    GT.write_geotiff(pp, arr, (0, 0, 1, 1), compress="packbits",
                     nodata=-1.0)
    key = lambda r: (r.band, r.col, r.row)  # noqa: E731
    out = {}
    for tag, path in (("u", pu), ("p", pp)):
        cat = GT.geotiff_tile_catalog(
            spark, [{"path": path, "source_id": tag, "zoom": 0}])
        out[tag] = {key(r): r.px_qsum for r in
                    GT.per_tile_checksum(GT.read_catalog_tiles(cat)).collect()}
    assert out["u"] == out["p"] and len(out["p"]) == 2


# ---------------------------------------------------------------------------
# BigTIFF (version 43, 8-byte offsets)
# ---------------------------------------------------------------------------

def test_bigtiff_header_bytes(tmp_path):
    """Wire-level: magic 43, offset-size 8, pad 0, 8-byte first-IFD
    pointer, LONG8 (type 16) segment tables."""
    arr = np.arange(64 * 64, dtype=np.float64).reshape(1, 64, 64)
    p = str(tmp_path / "b.tif")
    GT.write_geotiff(p, arr, (0, 0, 1, 1), bigtiff=True, compress="none")
    raw = open(p, "rb").read()
    assert raw[:2] == b"II"
    assert struct.unpack("<H", raw[2:4])[0] == 43
    assert struct.unpack("<HH", raw[4:8]) == (8, 0)
    (ifd0,) = struct.unpack("<Q", raw[8:16])
    (n,) = struct.unpack("<Q", raw[ifd0:ifd0 + 8])
    types = {}
    for i in range(n):
        e = raw[ifd0 + 8 + 20 * i: ifd0 + 8 + 20 * (i + 1)]
        tag, typ = struct.unpack("<HH", e[:4])
        types[tag] = typ
    assert types[324] == 16 and types[325] == 16  # TileOffsets/Counts LONG8


def test_bigtiff_roundtrips(tmp_path):
    """write->read across byte order / codec / layout / cog / overview;
    parse identical to the classic write of the same array apart from
    the wire format."""
    rng = np.random.default_rng(5)
    arr = rng.integers(-500, 500, (2, 96, 80)).astype(np.int32)
    combos = [
        dict(byteorder="<", compress="deflate", planar=2, overviews=1),
        dict(byteorder=">", compress="lzw", planar=1, predictor=2),
        dict(byteorder="<", compress="packbits", planar=2, strips=True),
        dict(byteorder="<", compress="none", planar=2, cog=True,
             overviews=1),
    ]
    for i, kw in enumerate(combos):
        p = str(tmp_path / f"bt{i}.tif")
        GT.write_geotiff(p, arr, (0, 0, 1, 1), bigtiff=True,
                         nodata=-9999.0, **kw)
        got, info = GT.read_geotiff(p)
        np.testing.assert_array_equal(got, arr)
        assert info["nodata"] == -9999.0 and info["epsg"] == 3857
        if kw.get("overviews"):
            ov, _ = GT.read_geotiff(p, level=1)
            np.testing.assert_array_equal(ov, arr[:, ::2, ::2])
        # classic twin parses to the same logical metadata
        pc = str(tmp_path / f"ct{i}.tif")
        GT.write_geotiff(pc, arr, (0, 0, 1, 1), bigtiff=False,
                         nodata=-9999.0, **kw)
        ic = GT.read_geotiff_info(pc)
        ib = GT.read_geotiff_info(p)
        for k in ("width", "height", "dtype", "nbands", "nodata",
                  "epsg", "extent", "planar"):
            assert ib[k] == ic[k], k
        assert [d["counts"] for d in ib["ifds"]] \
            == [d["counts"] for d in ic["ifds"]]


def test_bigtiff_catalog_and_http(tmp_path, spark):
    """The distributed catalog read + HTTP range transport work on
    BigTIFF unchanged (header parse through the block cache, LONG8
    offsets in the byte-range plan)."""
    from geotrellis_contrib_spark.sources import rangereader as RR

    arr = np.stack([np.full((64, 64), 1.25), np.full((64, 64), -4.5)])
    p = str(tmp_path / "big.tif")
    GT.write_geotiff(p, arr, (0, 0, 1, 1), bigtiff=True, cog=True,
                     nodata=-1.0)
    cat = GT.geotiff_tile_catalog(
        spark, [{"path": p, "source_id": "big", "zoom": 0}])
    rows = GT.per_tile_checksum(GT.read_catalog_tiles(cat)).collect()
    assert {r.band: r.px_qsum for r in rows} \
        == {0: int(1.25 * 4 * 4096), 1: int(-4.5 * 4 * 4096)}
    srv, base = RR.serve_directory(str(tmp_path))
    try:
        srv.request_log.clear()
        remote = GT.read_geotiff_info(f"{base}/big.tif")
        gets = [e for e in srv.request_log if e["method"] == "GET"]
        assert len(gets) == 1 and gets[0]["ranged"]  # BigTIFF COG: 1 GET
        assert remote == GT.read_geotiff_info(p)
    finally:
        srv.shutdown()


# ---------------------------------------------------------------------------
# predictor 3 (TIFF TechNote 3 floating-point byte-plane differencing)
# ---------------------------------------------------------------------------

def test_pred3_wire_golden():
    """Hand-computed wire bytes: row [1.0f, 2.0f] -> big-endian
    0x3F800000 / 0x40000000, MSB-first plane split
    3F 40 | 80 00 | 00 00 | 00 00, then stride-1 byte diff."""
    seg = np.array([[1.0, 2.0]], dtype=np.float32)
    assert GT._fpdiff(seg) == bytes(
        [0x3F, 0x01, 0x40, 0x80, 0, 0, 0, 0])
    back = GT._fpacc(GT._fpdiff(seg), np.dtype(np.float32), 2, 1)
    np.testing.assert_array_equal(back, seg)


def test_pred3_chunky_stride():
    """spp=2 (chunky): the byte diff runs at stride 2 so channels stay
    separate — two constant channels diff to zero tails per plane."""
    seg = np.array([[[1.0, 2.0], [1.0, 2.0], [1.0, 2.0]]],
                   dtype=np.float32)  # (1, 3 px, 2 ch)
    wire = GT._fpdiff(seg)
    # plane 0 = MSBs [3F 40 3F 40 3F 40] -> diff@2 [3F 40 00 00 00 00]
    assert wire[:6] == bytes([0x3F, 0x40, 0, 0, 0, 0])
    back = GT._fpacc(wire, np.dtype(np.float32), 3, 2)
    np.testing.assert_array_equal(back, seg)


def test_pred3_bytes_independent_of_file_order(tmp_path):
    """The fp predictor defines the wire bytes (MSB-first split), so the
    compressed payloads of an LE and a BE write are identical."""
    rng = np.random.default_rng(7)
    arr = (rng.normal(size=(2, 96, 80)) * 100).astype(np.float64)
    pl = str(tmp_path / "le.tif")
    pb = str(tmp_path / "be.tif")
    for p, bo in ((pl, "<"), (pb, ">")):
        GT.write_geotiff(p, arr, (0, 0, 1, 1), byteorder=bo,
                         compress="deflate", predictor=3)
    il, ib = GT.read_geotiff_info(pl), GT.read_geotiff_info(pb)
    with open(pl, "rb") as f:
        f.seek(il["ifds"][0]["offsets"][0])
        seg_l = f.read(il["ifds"][0]["counts"][0])
    with open(pb, "rb") as f:
        f.seek(ib["ifds"][0]["offsets"][0])
        seg_b = f.read(ib["ifds"][0]["counts"][0])
    assert seg_l == seg_b


def test_pred3_roundtrips(tmp_path):
    """write->read across codec / byte order / layout / dtype / bigtiff;
    bit-identical floats back (the predictor is byte-transparent)."""
    rng = np.random.default_rng(11)
    arr64 = (rng.normal(size=(2, 96, 80)) * 1e6).astype(np.float64)
    arr32 = arr64.astype(np.float32)
    combos = [
        (arr64, dict(byteorder="<", compress="lzw", planar=2,
                     overviews=1)),
        (arr32, dict(byteorder=">", compress="deflate", planar=1)),
        (arr64, dict(byteorder="<", compress="packbits", planar=2,
                     strips=True)),
        (arr32, dict(byteorder="<", compress="none", planar=2,
                     cog=True, bigtiff=True)),
    ]
    for i, (arr, kw) in enumerate(combos):
        p = str(tmp_path / f"p3_{i}.tif")
        GT.write_geotiff(p, arr, (0, 0, 1, 1), predictor=3,
                         nodata=-9999.0, **kw)
        got, info = GT.read_geotiff(p)
        np.testing.assert_array_equal(got, arr)
        assert info["ifds"][0]["predictor"] == 3
        if kw.get("overviews"):
            ov, _ = GT.read_geotiff(p, level=1)
            np.testing.assert_array_equal(ov, arr[:, ::2, ::2])


def test_pred3_fail_loud():
    import pytest as _pt

    with _pt.raises(ValueError, match="predictor 3 requires float"):
        GT.write_geotiff("/tmp/x.tif", np.ones((4, 4), dtype=np.int32),
                         (0, 0, 1, 1), predictor=3)
    with _pt.raises(ValueError, match="not a multiple"):
        GT._fpacc(b"\x00" * 7, np.dtype(np.float32), 2, 1)


def test_pred3_catalog_read(tmp_path, spark):
    """Distributed catalog read of the pred3 fixture matches the
    uncompressed write of the same mosaic, tile for tile."""
    a = corpus.synth_scene_mosaic(0, tile_size=64)
    out = {}
    for tag, kw in (("u", dict(compress="none")),
                    ("p", dict(compress="lzw", predictor=3))):
        p = str(tmp_path / f"{tag}.tif")
        GT.write_geotiff(p, a, (0, 0, 1, 1), nodata=-9999.0,
                         tile_size=64, **kw)
        cat = GT.geotiff_tile_catalog(
            spark, [{"path": p, "source_id": "s", "zoom": 0}])
        key = lambda r: (r.band, r.col, r.row)
        out[tag] = {key(r): r.px_qsum for r in
                    GT.per_tile_checksum(GT.read_catalog_tiles(cat)).collect()}
    assert out["u"] == out["p"] and len(out["p"]) == 32


# ---------------------------------------------------------------------------
# ModelTransformation georeferencing (GeoTIFF 1.1 §B.5, tag 34264)
# ---------------------------------------------------------------------------

def test_model_transformation_roundtrip(tmp_path):
    """The 4x4 affine encoding parses to the SAME logical metadata as
    the PixelScale+Tiepoint encoding of the same grid."""
    arr = np.arange(2 * 96 * 80, dtype=np.float64).reshape(2, 96, 80)
    ext = (10.0, -20.0, 30.0, 4.0)
    pa = str(tmp_path / "scale.tif")
    pb = str(tmp_path / "xform.tif")
    GT.write_geotiff(pa, arr, ext, nodata=-1.0)
    GT.write_geotiff(pb, arr, ext, nodata=-1.0, geo_encoding="transform")
    ia, ib = GT.read_geotiff_info(pa), GT.read_geotiff_info(pb)
    assert ib["extent"] == pytest.approx(ia["extent"])
    for k in ("width", "height", "dtype", "nbands", "nodata", "epsg"):
        assert ib[k] == ia[k], k
    got, _ = GT.read_geotiff(pb)
    np.testing.assert_array_equal(got, arr)
    # wire check: tag 34264 present, 33550/33922 absent
    raw = open(pb, "rb").read()
    n = struct.unpack("<H", raw[struct.unpack("<I", raw[4:8])[0]:][:2])[0]
    base = struct.unpack("<I", raw[4:8])[0] + 2
    tags = {struct.unpack("<H", raw[base + 12 * i: base + 12 * i + 2])[0]
            for i in range(n)}
    assert 34264 in tags and 33550 not in tags and 33922 not in tags


def test_model_transformation_rotation_fails_loud(tmp_path):
    """A rotated affine must raise, not silently de-rotate."""
    arr = np.zeros((64, 64))
    p = str(tmp_path / "rot.tif")
    GT.write_geotiff(p, arr, (0, 0, 1, 1), geo_encoding="transform")
    raw = bytearray(open(p, "rb").read())
    # locate the ModelTransformation external payload and poke a shear
    info_off = struct.unpack("<I", raw[4:8])[0]
    n = struct.unpack("<H", raw[info_off:info_off + 2])[0]
    for i in range(n):
        e = raw[info_off + 2 + 12 * i: info_off + 2 + 12 * (i + 1)]
        tag, typ, cnt = struct.unpack("<HHI", e[:8])
        if tag == 34264:
            (off,) = struct.unpack("<I", e[8:12])
            struct.pack_into("<d", raw, off + 8, 0.5)  # t1 (shear) != 0
    open(p, "wb").write(bytes(raw))
    with pytest.raises(ValueError, match="rotated/sheared"):
        GT.read_geotiff_info(p)


# ---------------------------------------------------------------------------
# LZMA (compression 34925, libtiff tif_lzma.c extension)
# ---------------------------------------------------------------------------

def test_lzma_segment_is_xz(tmp_path):
    """Wire-level: each segment is a standalone .xz stream (the container
    libtiff's stream encoder emits) — magic FD 37 7A 58 5A 00."""
    arr = np.arange(64 * 64, dtype=np.int32).reshape(1, 64, 64)
    p = str(tmp_path / "x.tif")
    GT.write_geotiff(p, arr, (0, 0, 1, 1), compress="lzma", nodata=-1.0)
    info = GT.read_geotiff_info(p)
    ifd = info["ifds"][0]
    assert ifd["compression"] == 34925
    with open(p, "rb") as f:
        f.seek(ifd["offsets"][0])
        assert f.read(6) == b"\xfd7zXZ\x00"


def test_lzma_geotiff_roundtrips(tmp_path):
    """write->read across byte order / interleave / layout / predictor /
    overviews; values bit-identical."""
    rng = np.random.default_rng(23)
    arr_f = rng.normal(size=(2, 96, 80)).astype(np.float64)
    arr_i = rng.integers(-1000, 1000, (2, 96, 80)).astype(np.int32)
    combos = [
        dict(byteorder="<", planar=2, strips=False, overviews=1),
        dict(byteorder=">", planar=1, strips=False, overviews=0),
        dict(byteorder="<", planar=2, strips=True, overviews=0),
    ]
    for i, kw in enumerate(combos):
        for arr, pred in ((arr_f, 3), (arr_i, 2)):
            p = str(tmp_path / f"xz{i}_{pred}.tif")
            GT.write_geotiff(p, arr, (0, 0, 1, 1), compress="lzma",
                             predictor=pred, nodata=-9999.0, **kw)
            got, info = GT.read_geotiff(p)
            assert info["ifds"][0]["compression"] == 34925
            np.testing.assert_array_equal(got, arr)
            if kw["overviews"]:
                ov, _ = GT.read_geotiff(p, level=1)
                np.testing.assert_array_equal(ov, arr[:, ::2, ::2])


def test_lzma_catalog_read(tmp_path, spark):
    """Distributed catalog read decodes LZMA tiles bit-identical to the
    uncompressed write of the same array."""
    arr = np.stack([np.full((64, 64), 3.25), np.full((64, 64), -2.5)])
    arr[0, 10:20, :] = 7.75
    pu, px = str(tmp_path / "u.tif"), str(tmp_path / "x.tif")
    GT.write_geotiff(pu, arr, (0, 0, 1, 1), compress="none", nodata=-1.0)
    GT.write_geotiff(px, arr, (0, 0, 1, 1), compress="lzma", nodata=-1.0)
    key = lambda r: (r.band, r.col, r.row)  # noqa: E731
    out = {}
    for tag, path in (("u", pu), ("x", px)):
        cat = GT.geotiff_tile_catalog(
            spark, [{"path": path, "source_id": tag, "zoom": 0}])
        out[tag] = {key(r): r.px_qsum for r in
                    GT.per_tile_checksum(GT.read_catalog_tiles(cat)).collect()}
    assert out["u"] == out["x"] and len(out["x"]) == 2


# ---------------------------------------------------------------------------
# sub-byte samples (TIFF 6.0 §4-5: 1/2/4-bit unsigned, MSB-first,
# byte-aligned rows)
# ---------------------------------------------------------------------------

def test_subbyte_pack_golden():
    """Hand-computed wire bytes: 4-bit row [1,2,3] -> 0x12 0x30 (second
    byte padded); 1-bit row [1,0,1,1,0,0,1,0,1] -> 0xB2 0x80; unpack
    inverts both."""
    seg4 = np.array([[1, 2, 3]], dtype=np.uint8)
    assert GT._pack_subbyte(seg4, 4) == bytes([0x12, 0x30])
    np.testing.assert_array_equal(
        GT._unpack_subbyte(bytes([0x12, 0x30]), 4, 3, 1), seg4)
    seg1 = np.array([[1, 0, 1, 1, 0, 0, 1, 0, 1]], dtype=np.uint8)
    assert GT._pack_subbyte(seg1, 1) == bytes([0xB2, 0x80])
    np.testing.assert_array_equal(
        GT._unpack_subbyte(bytes([0xB2, 0x80]), 1, 9, 1), seg1)
    # 2-bit, two rows: each row independently byte-aligned
    seg2 = np.array([[3, 0, 2], [1, 1, 1]], dtype=np.uint8)
    assert GT._pack_subbyte(seg2, 2) == bytes([0b11001000, 0b01010100])


def test_subbyte_hand_tiff(tmp_path):
    """Spec golden independent of our writer: a hand-assembled 2x3
    1-bit stripped TIFF decodes to the expected mask."""
    data = bytes([0b10100000, 0b01100000])  # rows (1,0,1), (0,1,1)
    entries = [
        (256, 3, 1, struct.pack("<H", 3) + b"\x00\x00"),
        (257, 3, 1, struct.pack("<H", 2) + b"\x00\x00"),
        (258, 3, 1, struct.pack("<H", 1) + b"\x00\x00"),   # bits 1
        (259, 3, 1, struct.pack("<H", 1) + b"\x00\x00"),
        (262, 3, 1, struct.pack("<H", 1) + b"\x00\x00"),
        (273, 4, 1, struct.pack("<I", 8)),
        (277, 3, 1, struct.pack("<H", 1) + b"\x00\x00"),
        (278, 4, 1, struct.pack("<I", 2)),
        (279, 4, 1, struct.pack("<I", 2)),
    ]
    ifd = struct.pack("<H", len(entries))
    for tag, typ, cnt, val in entries:
        ifd += struct.pack("<HHI", tag, typ, cnt) + val
    ifd += struct.pack("<I", 0)
    p = str(tmp_path / "hand1bit.tif")
    with open(p, "wb") as f:  # header(8) + data(2) -> IFD at 10
        f.write(b"II" + struct.pack("<H", 42) + struct.pack("<I", 10))
        f.write(data)
        f.write(ifd)
    got, info = GT.read_geotiff(p)
    assert info["dtype"] == "uint1" and got.dtype == np.uint8
    np.testing.assert_array_equal(
        got[0], np.array([[1, 0, 1], [0, 1, 1]], dtype=np.uint8))


@pytest.mark.parametrize("bits", [1, 2, 4])
def test_subbyte_roundtrips(tmp_path, bits):
    """write->read across compression / byte order / interleave / layout
    / overviews; decoded uint8 bit-identical."""
    rng = np.random.default_rng(31)
    arr = rng.integers(0, 1 << bits, (2, 96, 80)).astype(np.uint8)
    combos = [
        dict(byteorder="<", compress="deflate", planar=2, overviews=1),
        dict(byteorder=">", compress="lzw", planar=1, overviews=0),
        dict(byteorder="<", compress="packbits", planar=2, strips=True,
             overviews=0),
        dict(byteorder="<", compress="lzma", planar=2, overviews=0,
             cog=True),
    ]
    for i, kw in enumerate(combos):
        p = str(tmp_path / f"sb{bits}_{i}.tif")
        GT.write_geotiff(p, arr, (0, 0, 1, 1), bits=bits, nodata=0.0, **kw)
        got, info = GT.read_geotiff(p)
        assert info["dtype"] == f"uint{bits}" and got.dtype == np.uint8
        np.testing.assert_array_equal(got, arr)
        if kw.get("overviews"):
            ov, _ = GT.read_geotiff(p, level=1)
            np.testing.assert_array_equal(ov, arr[:, ::2, ::2])


def test_subbyte_fail_louds(tmp_path):
    arr = np.zeros((1, 16, 16), dtype=np.uint8)
    p = str(tmp_path / "f.tif")
    with pytest.raises(ValueError, match="uint8"):
        GT.write_geotiff(p, arr.astype(np.uint16), (0, 0, 1, 1), bits=1,
                         nodata=0.0)
    with pytest.raises(ValueError, match="range"):
        GT.write_geotiff(p, arr + 4, (0, 0, 1, 1), bits=2, nodata=0.0)
    with pytest.raises(ValueError, match="predictor 1"):
        GT.write_geotiff(p, arr, (0, 0, 1, 1), bits=1, predictor=2,
                         nodata=0.0)
    with pytest.raises(ValueError, match="nodata"):
        GT.write_geotiff(p, arr, (0, 0, 1, 1), bits=1, nodata=5.0)
    with pytest.raises(ValueError, match="bits=3"):
        GT.write_geotiff(p, arr, (0, 0, 1, 1), bits=3, nodata=0.0)


def test_subbyte_catalog_read(tmp_path, spark):
    """Catalog read of a 4-bit file: engine tiles decode to uint8 with
    the same checksum as the 8-bit write of the same values."""
    rng = np.random.default_rng(37)
    arr = rng.integers(0, 16, (2, 64, 64)).astype(np.uint8)
    p8, p4 = str(tmp_path / "w8.tif"), str(tmp_path / "w4.tif")
    GT.write_geotiff(p8, arr, (0, 0, 1, 1), compress="none", nodata=0.0)
    GT.write_geotiff(p4, arr, (0, 0, 1, 1), compress="deflate", bits=4,
                     nodata=0.0)
    key = lambda r: (r.band, r.col, r.row)  # noqa: E731
    out = {}
    for tag, path in (("w8", p8), ("w4", p4)):
        cat = GT.geotiff_tile_catalog(
            spark, [{"path": path, "source_id": tag, "zoom": 0}])
        rows = GT.read_catalog_tiles(cat).collect()
        assert all(r.dtype == "uint8" for r in rows)
        df = GT.per_tile_checksum(
            GT.read_catalog_tiles(cat), quant=1.0)
        out[tag] = {key(r): r.px_qsum for r in df.collect()}
    assert out["w8"] == out["w4"] and len(out["w4"]) == 2
