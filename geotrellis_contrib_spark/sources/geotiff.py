"""GeoTiff source: a from-scratch TIFF 6.0 + GeoTIFF 1.1 codec (public
format specs, stdlib ``struct``/``zlib`` only) plus the distributed
windowed-read path the reference builds on.

Reference parity: ``GeoTiffRasterSource.scala:46`` opens a tiff through a
streaming ``RangeReader`` (never the whole file), exposes
``gridExtent``/``crs``/``resolutions`` (base + overview IFDs,
``GeoTiffRasterSource.scala:60-64``) and reads windows as cropped segment
fetches. The Spark-first re-expression:

  1. ``read_geotiff_info`` parses ONLY the header + IFD chain (a few KB of
     seeks — the RangeReader analog), yielding per-segment (offset, size)
     tables, grid transform, CRS and nodata;
  2. ``geotiff_tile_catalog`` turns that driver-side parse into a tile
     CATALOG DataFrame — one row per (band, tile) with its absolute byte
     range — so window/extent pruning happens in the PLAN (a filter on
     catalog columns Catalyst can push), not in Python;
  3. ``read_catalog_tiles`` fetches only the surviving byte ranges inside
     ``mapInPandas`` (per-task: group by path, one open, seek+read each
     segment) and emits the engine's canonical pixel-tile rows, so every
     downstream operator (mosaic/focal/warp/checksum) runs unchanged on
     real GeoTiff bytes.

At cluster scale the catalog rows carry object-store keys and the
seek+read becomes a ranged GET; shuffle volume is zero (the read is a
narrow map over the pruned catalog).

Scope (fail-loud beyond it): classic TIFF and BigTIFF (version 43,
8-byte offsets, LONG8 segment tables — read AND write, the >4 GiB
archive format), both byte orders,
tiled and stripped layouts, compression none/deflate (8 and legacy
32946)/LZW (5 — TIFF 6.0 §13 with the standard early-change code widths,
both codec directions so roundtrips stay self-contained)/PackBits (32773,
TIFF 6.0 §9 byte RLE, both directions)/LZMA (34925, the libtiff
tif_lzma.c extension — per-segment .xz streams via stdlib ``lzma``,
both directions)/baseline JPEG (7, "new-style": from-scratch T.81
grayscale codec in jpegcodec.py, abbreviated streams with the
JPEGTables tag (347) or self-contained segments, restart markers;
8-bit band-separate planes only — progressive/YCbCr fail loud),
predictor 1,
2 (horizontal differencing, integer samples — the GDAL write default for
LZW) and 3 (TIFF TechNote 3 floating-point byte-plane differencing —
the libtiff/GDAL default for compressed floats),
planar 1 (chunky) and 2 (separate), sample formats uint8/16/32,
int16/32, float32/64 plus sub-byte unsigned 1/2/4-bit (bilevel masks
and 2-/4-bit grayscale, TIFF 6.0 §4-5: MSB-first, byte-aligned rows;
decoded to uint8 engine tiles), overview IFDs (NewSubfileType=1),
ModelPixelScale+ModelTiepoint AND axis-aligned north-up
ModelTransformation georeferencing (rotation/shear fails loud),
GTModelType geographic/projected with an EPSG code, GDAL_NODATA."""

from __future__ import annotations

import lzma as _lzma
import os
import struct
import zlib
from typing import Iterator

import numpy as np

from geotrellis_contrib_spark.sources.jpegcodec import (
    STD_QUANT_CHROMA, STD_QUANT_LUMA, jpeg_decode_color,
    jpeg_decode_gray, jpeg_encode_color, jpeg_encode_gray,
    jpeg_tables_stream)

# TIFF field types -> (struct letter, byte size); 16/17/18 are the
# BigTIFF 8-byte types (LONG8 / SLONG8 / IFD8)
_FIELD = {1: ("B", 1), 2: ("c", 1), 3: ("H", 2), 4: ("I", 4),
          5: ("II", 8), 7: ("B", 1), 12: ("d", 8),
          16: ("Q", 8), 17: ("q", 8), 18: ("Q", 8)}

_TAG = {"NewSubfileType": 254, "ImageWidth": 256, "ImageLength": 257,
        "BitsPerSample": 258, "Compression": 259, "Photometric": 262,
        "StripOffsets": 273, "SamplesPerPixel": 277, "RowsPerStrip": 278,
        "StripByteCounts": 279, "PlanarConfig": 284, "Predictor": 317,
        "TileWidth": 322, "TileLength": 323, "TileOffsets": 324,
        "TileByteCounts": 325, "SampleFormat": 339,
        "JPEGTables": 347, "YCbCrSubSampling": 530,
        "ModelPixelScale": 33550, "ModelTiepoint": 33922,
        "ModelTransformation": 34264,
        "GeoKeyDirectory": 34735, "GeoDoubleParams": 34736,
        "GeoAsciiParams": 34737, "GdalNodata": 42113}

# (bits, sample_format) <-> engine dtype string
_DT_TO_TIFF = {"uint8": (8, 1), "uint16": (16, 1), "uint32": (32, 1),
               "int16": (16, 2), "int32": (32, 2),
               "float32": (32, 3), "float64": (64, 3)}
_TIFF_TO_DT = {v: k for k, v in _DT_TO_TIFF.items()}

# sub-byte UNSIGNED samples (TIFF 6.0 §4 bilevel / §5 grayscale 2- and
# 4-bit): wire dtype strings used in header info + tile catalogs; the
# engine-side pixel dtype is always uint8 (decode widens, encode packs).
# MSB-first within each byte, rows padded to a byte boundary per spec.
_SUBBYTE_BITS = {"uint1": 1, "uint2": 2, "uint4": 4}
_TIFF_TO_DT.update({(1, 1): "uint1", (2, 1): "uint2", (4, 1): "uint4"})


def _engine_dtype(wire_dtype: str) -> str:
    """Engine pixel dtype for a wire dtype (sub-byte widens to uint8)."""
    return "uint8" if wire_dtype in _SUBBYTE_BITS else wire_dtype


def _pack_subbyte(seg: np.ndarray, bits: int) -> bytes:
    """Pack a (rows, w) or (rows, w, spp) uint8 block of values < 2^bits
    into the TIFF sub-byte wire layout: samples MSB-first at ``bits``
    per sample, each ROW padded to a whole byte (TIFF 6.0 §4/§5 row
    alignment). Byte-order independent by construction."""
    if seg.ndim == 3:
        seg = seg.reshape(seg.shape[0], -1)      # chunky: interleave spp
    rows, n = seg.shape
    b8 = np.unpackbits(seg.astype(np.uint8)[:, :, None], axis=2)
    flat = b8[:, :, 8 - bits:].reshape(rows, n * bits)
    return np.packbits(flat, axis=1).tobytes()   # packbits pads each row


def _unpack_subbyte(raw: bytes, bits: int, tw: int,
                    spp: int) -> np.ndarray:
    """Inverse of :func:`_pack_subbyte`: sub-byte wire rows -> uint8
    samples, (rows, tw) or (rows, tw, spp)."""
    row_bytes = (tw * spp * bits + 7) // 8
    buf = np.frombuffer(raw, dtype=np.uint8)
    if row_bytes == 0 or len(buf) % row_bytes:
        raise ValueError(f"sub-byte segment of {len(buf)} bytes is not "
                         f"a multiple of the {row_bytes}-byte row")
    rows = len(buf) // row_bytes
    bit_rows = np.unpackbits(buf.reshape(rows, row_bytes), axis=1)
    vals = bit_rows[:, :tw * spp * bits].reshape(rows, tw * spp, bits)
    weights = (1 << np.arange(bits - 1, -1, -1)).astype(np.uint16)
    out = (vals.astype(np.uint16) * weights).sum(axis=2).astype(np.uint8)
    return out.reshape(rows, tw, spp) if spp > 1 else out.reshape(rows, tw)


# ---------------------------------------------------------------------------
# TIFF LZW codec (TIFF 6.0 §13): MSB-first bit packing, ClearCode=256,
# EOI=257, first table code 258, EARLY-CHANGE code widths (the encoder
# widens when the next free code reaches 2^width - 1, one code earlier
# than classic LZW — the libtiff/GDAL convention), Clear emitted when the
# table reaches 4094 entries. Pure-Python per-byte loops: correct and
# spec-first; tiles are 32 KB so the fixture cost is small, and a real
# deployment swaps a compiled codec behind the same two functions.
# ---------------------------------------------------------------------------

_LZW_CLEAR, _LZW_EOI = 256, 257


def lzw_encode(data: bytes) -> bytes:
    out = bytearray()
    bitbuf, nbits = 0, 0

    def put(code: int, width: int) -> None:
        nonlocal bitbuf, nbits
        bitbuf = (bitbuf << width) | code
        nbits += width
        while nbits >= 8:
            nbits -= 8
            out.append((bitbuf >> nbits) & 0xFF)

    table = {bytes([i]): i for i in range(256)}
    next_code, width = 258, 9
    put(_LZW_CLEAR, width)
    w = b""
    for ch in data:
        wk = w + bytes([ch])
        if wk in table:
            w = wk
            continue
        put(table[w], width)
        table[wk] = next_code
        next_code += 1
        if next_code == 511:
            width = 10
        elif next_code == 1023:
            width = 11
        elif next_code == 2047:
            width = 12
        w = wk[-1:]
        if next_code == 4094:  # leave room, reset (the libtiff rule)
            put(table[w], width)
            put(_LZW_CLEAR, width)
            table = {bytes([i]): i for i in range(256)}
            next_code, width = 258, 9
            w = b""
    if w:
        put(table[w], width)
    put(_LZW_EOI, width)
    if nbits:
        out.append((bitbuf << (8 - nbits)) & 0xFF)
    return bytes(out)


def lzw_decode(data: bytes) -> bytes:
    out = bytearray()
    bitpos, total = 0, len(data) * 8
    width = 9

    def get() -> int:
        nonlocal bitpos
        if bitpos + width > total:
            return _LZW_EOI  # truncated streams end cleanly (spec pads)
        b0 = bitpos // 8
        nbytes = (bitpos % 8 + width + 7) // 8
        v = int.from_bytes(data[b0:b0 + nbytes], "big")
        rshift = nbytes * 8 - (bitpos % 8) - width
        bitpos += width
        return (v >> rshift) & ((1 << width) - 1)

    table: list[bytes] = []
    old = -1
    while True:
        code = get()
        if code == _LZW_EOI:
            break
        if code == _LZW_CLEAR:
            table = [bytes([i]) for i in range(256)] + [b"", b""]
            width = 9
            code = get()
            if code == _LZW_EOI:
                break
            if code > 255:
                raise ValueError("LZW: non-literal code after Clear")
            out += table[code]
            old = code
            continue
        if not table:
            raise ValueError("LZW: code before initial Clear")
        if code < len(table):
            entry = table[code]
        elif code == len(table):
            entry = table[old] + table[old][:1]
        else:
            raise ValueError(f"LZW: code {code} beyond table "
                             f"{len(table)}")
        out += entry
        table.append(table[old] + entry[:1])
        # early change: the decoder lags the encoder by exactly one add
        # (its first code after Clear adds nothing), so it widens one
        # entry earlier — after adding code 509/1021/2045, matching the
        # encoder's bump after adding code 510/1022/2046
        if len(table) == (1 << width) - 2 and width < 12:
            width += 1
        old = code
    return bytes(out)


# ---------------------------------------------------------------------------
# PackBits (TIFF 6.0 §9, compression 32773): the byte-oriented Apple RLE.
# n in 0..127 -> copy n+1 literal bytes; n in -127..-1 -> repeat the next
# byte 1-n times; -128 is a no-op. The spec's worked example is the codec
# golden in tests. The encoder restarts at row boundaries per the spec's
# "each row must be packed separately" rule (decoding is boundary-blind:
# the concatenated runs reproduce the segment bytes either way).
# ---------------------------------------------------------------------------


def packbits_encode(data: bytes, row_bytes: int) -> bytes:
    out = bytearray()
    for r0 in range(0, len(data), row_bytes):
        row = data[r0:r0 + row_bytes]
        i, n = 0, len(row)
        while i < n:
            # measure the run at i
            j = i + 1
            while j < n and row[j] == row[i] and j - i < 128:
                j += 1
            if j - i >= 2:          # replicate run
                out.append(257 - (j - i))  # two's complement of 1-(j-i)
                out.append(row[i])
                i = j
                continue
            # literal run: until the next >=3 replicate or 128 bytes
            lit0 = i
            while i < n and i - lit0 < 128:
                j = i + 1
                while j < n and row[j] == row[i]:
                    j += 1
                if j - i >= 3:
                    break
                i = min(j, lit0 + 128)  # a 2-run may not overflow 128
            out.append(i - lit0 - 1)
            out += row[lit0:i]
    return bytes(out)


def packbits_decode(data: bytes) -> bytes:
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        b = data[i]
        i += 1
        if b == 128:        # -128: no-op
            continue
        if b < 128:         # literal: b+1 bytes
            if i + b + 1 > n:
                raise ValueError("PackBits: truncated literal run")
            out += data[i:i + b + 1]
            i += b + 1
        else:               # replicate: 257-b copies of next byte
            if i >= n:
                raise ValueError("PackBits: truncated replicate run")
            out += bytes([data[i]]) * (257 - b)
            i += 1
    return bytes(out)


# predictor 2 (horizontal differencing): per-row per-sample-channel
# deltas with unsigned wraparound — integer samples only (floats use
# predictor 3 below)
_PRED_UNSIGNED = {"uint8": np.uint8, "uint16": np.uint16,
                  "uint32": np.uint32, "int16": np.uint16,
                  "int32": np.uint32}

# predictor 3 (TIFF TechNote 3 floating-point horizontal differencing,
# the libtiff/GDAL default for compressed float rasters): per ROW the
# samples' bytes are split into byte planes MSB-FIRST (plane 0 = most
# significant byte of every sample, in pixel-interleaved sample order),
# then the whole row buffer is byte-differenced at samples-per-pixel
# stride with uint8 wraparound. The split is defined on the value's
# big-endian representation REGARDLESS of the file's II/MM byte order
# (the predictor output fully determines the wire bytes), which is why
# _fpdiff/_fpacc never consult the file byteorder.
_PRED3_FLOATS = ("float32", "float64")


def _fpdiff(seg: np.ndarray) -> bytes:
    """Writer side of predictor 3: ``seg`` is (rows, w) or
    (rows, w, spp) float32/float64; returns the wire bytes."""
    if str(seg.dtype) not in _PRED3_FLOATS:
        raise ValueError(f"predictor 3 requires float samples, "
                         f"got {seg.dtype}")
    spp = seg.shape[2] if seg.ndim == 3 else 1
    rows = seg.shape[0]
    flat = seg.reshape(rows, -1)
    n = flat.shape[1]  # samples per row (w * spp, interleaved)
    bps = seg.dtype.itemsize
    be = np.ascontiguousarray(flat.astype(flat.dtype.newbyteorder(">")))
    planes = np.ascontiguousarray(
        be.view(np.uint8).reshape(rows, n, bps).transpose(0, 2, 1)
    ).reshape(rows, bps * n)
    d = planes.copy()
    d[:, spp:] = planes[:, spp:] - planes[:, :-spp]
    return d.tobytes()


def _fpacc(raw: bytes, out_dtype: np.dtype, tw: int,
           spp: int) -> np.ndarray:
    """Reader side of predictor 3: byte cumsum at ``spp`` stride, then
    un-split the MSB-first byte planes back into native-endian floats.
    Returns (rows, tw) or (rows, tw, spp)."""
    bps = np.dtype(out_dtype).itemsize
    rowbytes = tw * spp * bps
    if rowbytes == 0 or len(raw) % rowbytes:
        raise ValueError(f"predictor-3 segment size {len(raw)} is not a "
                         f"multiple of the row size {rowbytes}")
    rows = len(raw) // rowbytes
    buf = np.frombuffer(raw, dtype=np.uint8).reshape(
        rows, rowbytes // spp, spp)
    buf = (np.cumsum(buf.astype(np.uint64), axis=1) & 0xFF) \
        .astype(np.uint8).reshape(rows, rowbytes)
    n = tw * spp
    be = np.ascontiguousarray(
        buf.reshape(rows, bps, n).transpose(0, 2, 1))
    arr = be.reshape(rows, n * bps).view(
        np.dtype(out_dtype).newbyteorder(">")).astype(out_dtype)
    return arr.reshape(rows, tw, spp) if spp > 1 else arr.reshape(rows, tw)


def _hdiff(seg: np.ndarray) -> np.ndarray:
    """Writer side: difference along the row axis (axis 1 of
    (rows, w) or (rows, w, spp)), wraparound via same-size unsigned
    bit-reinterpretation (views, never value casts)."""
    dt = seg.dtype
    ut = _PRED_UNSIGNED.get(str(dt))
    if ut is None:
        raise ValueError(f"predictor 2 requires integer samples, "
                         f"got {dt}")
    u = np.ascontiguousarray(seg).view(ut)
    d = u.copy()
    d[:, 1:] = u[:, 1:] - u[:, :-1]
    return d.view(dt)


def _hcum(seg: np.ndarray, out_dtype) -> np.ndarray:
    """Reader side: cumulative sum along the row axis with wraparound,
    bit-reinterpreted back to the sample dtype."""
    dt = np.dtype(out_dtype)
    ut = _PRED_UNSIGNED.get(str(dt))
    if ut is None:
        raise ValueError(f"predictor 2 requires integer samples, "
                         f"got {dt}")
    bits = np.dtype(ut).itemsize * 8
    u = np.ascontiguousarray(seg).view(ut)
    c = np.cumsum(u.astype(np.uint64), axis=1) & ((1 << bits) - 1)
    return c.astype(ut).view(dt)


# ---------------------------------------------------------------------------
# writer
# ---------------------------------------------------------------------------

class _IFD:
    """One IFD under construction: entries with deferred external data.
    ``big`` switches to the BigTIFF wire format: 8-byte entry count,
    20-byte entries (8-byte count + 8-byte inline value/offset), 8-byte
    next-IFD pointer."""

    def __init__(self, bo: str, big: bool = False):
        self.bo = bo
        self.big = big
        self.entries: list[tuple[int, int, int, bytes]] = []

    def add(self, tag: int, typ: int, values) -> None:
        letter, size = _FIELD[typ]
        if typ in (2, 7):  # ASCII / UNDEFINED: values is raw bytes
            payload = values
            count = len(values)
        else:
            vals = list(values) if hasattr(values, "__iter__") else [values]
            count = len(vals)
            payload = b"".join(struct.pack(self.bo + letter, v)
                               for v in vals)
        self.entries.append((tag, typ, count, payload))

    def size(self) -> int:
        if self.big:
            return 8 + 20 * len(self.entries) + 8
        return 2 + 12 * len(self.entries) + 4

    def external_size(self) -> int:
        cap = 8 if self.big else 4
        return sum(len(p) for _, _, _, p in self.entries if len(p) > cap)

    def serialize(self, my_offset: int, next_ifd: int) -> bytes:
        """Serialize entries (sorted by tag, as TIFF requires) with
        external payloads placed immediately after the IFD block."""
        cap = 8 if self.big else 4
        cnt_fmt = "Q" if self.big else "H"
        off_fmt = "Q" if self.big else "I"
        ext_cursor = my_offset + self.size()
        head = struct.pack(self.bo + cnt_fmt, len(self.entries))
        body, ext = b"", b""
        for tag, typ, count, payload in sorted(self.entries):
            if len(payload) <= cap:
                val = payload + b"\x00" * (cap - len(payload))
            else:
                val = struct.pack(self.bo + off_fmt, ext_cursor)
                ext_cursor += len(payload)
                ext += payload
            body += struct.pack(self.bo + "HH" + off_fmt,
                                tag, typ, count) + val
        return head + body + struct.pack(self.bo + off_fmt, next_ifd) + ext


def _geokeys(epsg: int) -> list[int]:
    """Minimal GeoKey directory: model type + CRS code (GeoTIFF 1.1)."""
    geographic = epsg == 4326 or (4000 <= epsg < 5000)
    keys = [(1024, 0, 1, 2 if geographic else 1),  # GTModelType
            (1025, 0, 1, 1)]                       # GTRasterType PixelIsArea
    keys.append((2048 if geographic else 3072, 0, 1, epsg))
    out = [1, 1, 0, len(keys)]
    for k in keys:
        out.extend(k)
    return out


def _level_segments(band_arrs: np.ndarray, tile: int, strips: bool,
                    compress: str, nodata: float, np_bo: str,
                    planar: int, predictor: int = 1,
                    sub_bits: int = 0, jpeg_quant=None,
                    jpeg_inline: bool = False, jpeg_restart: int = 0,
                    jpeg_color: bool = False, jpeg_quant_chroma=None,
                    jpeg_sub: tuple = (2, 2)):
    """Segment byte payloads for one resolution level, TIFF segment order
    (plane-major for planar=2, pixel-interleaved for planar=1). Edge
    tiles pad with nodata per spec. ``sub_bits`` in (1, 2, 4) packs
    uint8 samples into the sub-byte wire layout. JPEG encodes each
    segment as one grayscale baseline stream (abbreviated unless
    ``jpeg_inline``) — byte-order independent by construction."""
    nb, h, w = band_arrs.shape
    wire = band_arrs.dtype.newbyteorder(np_bo)

    def wire_bytes(seg: np.ndarray) -> bytes:
        if compress == "jpeg":
            if jpeg_color:  # chunky YCbCr: seg is (rows, w, 3) RGB
                return jpeg_encode_color(
                    np.ascontiguousarray(seg), jpeg_quant,
                    jpeg_quant_chroma, subsampling=jpeg_sub,
                    inline_tables=jpeg_inline,
                    restart_interval=jpeg_restart)
            return jpeg_encode_gray(np.ascontiguousarray(seg), jpeg_quant,
                                    inline_tables=jpeg_inline,
                                    restart_interval=jpeg_restart)
        if sub_bits:  # byte-order independent, predictor-1 only
            return _pack_subbyte(seg, sub_bits)
        if predictor == 3:  # byte order fixed by the fp predictor itself
            return _fpdiff(seg)
        if predictor == 2:
            seg = _hdiff(seg)
        return np.ascontiguousarray(seg.astype(wire)).tobytes()

    segs = []
    if strips:
        rps = tile
        n_w, n_h = 1, (h + rps - 1) // rps
        for b in (range(nb) if planar == 2 else [None]):
            for r0 in range(0, h, rps):
                if planar == 2:
                    seg = band_arrs[b, r0:r0 + rps, :]
                else:  # chunky: (rows, w, bands)
                    seg = band_arrs[:, r0:r0 + rps, :].transpose(1, 2, 0)
                segs.append(wire_bytes(seg))
    else:
        n_w, n_h = (w + tile - 1) // tile, (h + tile - 1) // tile
        for b in (range(nb) if planar == 2 else [None]):
            for tr in range(n_h):
                for tc in range(n_w):
                    part = band_arrs[:, tr * tile:(tr + 1) * tile,
                                     tc * tile:(tc + 1) * tile]
                    if planar == 2:
                        seg = np.full((tile, tile), nodata,
                                      dtype=band_arrs.dtype)
                        seg[:part.shape[1], :part.shape[2]] = part[b]
                    else:
                        seg = np.full((tile, tile, nb), nodata,
                                      dtype=band_arrs.dtype)
                        seg[:part.shape[1], :part.shape[2], :] \
                            = part.transpose(1, 2, 0)
                    segs.append(wire_bytes(seg))
    if compress == "deflate":
        segs = [zlib.compress(s) for s in segs]
    elif compress == "lzw":
        segs = [lzw_encode(s) for s in segs]
    elif compress == "packbits":
        spp = nb if planar == 1 else 1
        row_w = (w if strips else tile) * spp
        rb = ((row_w * sub_bits + 7) // 8 if sub_bits
              else row_w * band_arrs.dtype.itemsize)
        segs = [packbits_encode(s, rb) for s in segs]
    elif compress == "lzma":
        # libtiff's tif_lzma.c compresses each segment with liblzma's
        # stream encoder (the .xz container, LZMA2 filter); stdlib
        # lzma.FORMAT_XZ emits the same container. CHECK_CRC32 keeps
        # the stream self-verifying; decoders ignore the check choice.
        segs = [_lzma.compress(s, format=_lzma.FORMAT_XZ,
                               check=_lzma.CHECK_CRC32, preset=6)
                for s in segs]
    return segs, n_w, n_h


def _tiff_header(bo: str, big: bool, first_ifd: int) -> bytes:
    order = b"II" if bo == "<" else b"MM"
    if big:  # BigTIFF: magic 43, offset size 8, pad 0, 8-byte IFD ptr
        return order + struct.pack(bo + "HHH", 43, 8, 0) \
            + struct.pack(bo + "Q", first_ifd)
    return order + struct.pack(bo + "H", 42) + struct.pack(bo + "I",
                                                           first_ifd)


def write_geotiff(path: str, bands: np.ndarray, extent, epsg: int = 3857,
                  nodata: float = -9999.0, tile_size: int = 64,
                  compress: str = "deflate", byteorder: str = "<",
                  strips: bool = False, overviews: int = 0,
                  planar: int = 2, cog: bool = False,
                  predictor: int = 1, bigtiff: bool = False,
                  geo_encoding: str = "pixelscale",
                  bits: int | None = None,
                  jpeg_quant=None, jpeg_tables_tag: bool = True,
                  jpeg_restart: int = 0,
                  photometric: str = "minisblack",
                  jpeg_quant_chroma=None,
                  jpeg_subsampling: tuple = (2, 2)) -> None:
    """Write a (multiband) GeoTiff: ``bands`` is (nbands, H, W) or (H, W);
    ``extent`` = (xmin, ymin, xmax, ymax) in the CRS of ``epsg``.
    ``overviews`` appends that many 2x-decimated overview IFDs
    (NewSubfileType=1), the layout ``GeoTiffRasterSource.resolutions``
    reads back. planar=2 (band-separate) for multiband, matching the
    segment model the catalog reader prunes per band. ``cog=True``
    writes the cloud-optimized layout — the full IFD chain directly
    after the header, pixel data last — so one small ranged GET fetches
    every offset table (the access pattern GeoTiffRasterSource's
    streaming RangeReader is built for)."""
    if bands.ndim == 2:
        bands = bands[None, :, :]
    nb, h, w = bands.shape
    dtype = str(bands.dtype)
    if dtype not in _DT_TO_TIFF:
        raise ValueError(f"unsupported dtype {dtype}")
    if compress not in ("none", "deflate", "lzw", "packbits", "lzma",
                        "jpeg"):
        raise ValueError(f"unsupported compression {compress!r}")
    if photometric not in ("minisblack", "ycbcr"):
        raise ValueError(f"unsupported photometric {photometric!r}")
    if photometric == "ycbcr" and compress != "jpeg":
        raise ValueError("photometric='ycbcr' is the JPEG color "
                         "surface (compress='jpeg')")
    jpeg_color = False
    if compress == "jpeg":
        # baseline JPEG (TIFF compression 7): 8-bit grayscale planes
        # (band-separate, one component per segment) or interleaved
        # YCbCr color (photometric='ycbcr', chunky 3-band — the
        # libtiff/GDAL wire format for real RGB aerial archives)
        if dtype != "uint8":
            raise ValueError(f"JPEG baseline requires uint8 samples, "
                             f"got {dtype}")
        if predictor != 1:
            raise ValueError("JPEG segments take no TIFF predictor "
                             "(the DCT is the decorrelator)")
        if bits is not None and bits != 8:
            raise ValueError("JPEG requires full 8-bit samples")
        if photometric == "ycbcr":
            if nb != 3 or planar != 1:
                raise ValueError("YCbCr JPEG requires 3 bands, "
                                 "planar=1 (interleaved)")
            if tuple(jpeg_subsampling) not in ((1, 1), (2, 2)):
                raise ValueError("YCbCr subsampling must be (1,1) "
                                 "or (2,2)")
            if jpeg_quant_chroma is None:
                jpeg_quant_chroma = STD_QUANT_CHROMA
            jpeg_quant_chroma = np.asarray(jpeg_quant_chroma,
                                           dtype=np.int64).reshape(8, 8)
            jpeg_color = True
        elif planar != 2:
            raise ValueError("grayscale JPEG requires planar=2 "
                             "(band-separate segments; for interleaved "
                             "color use photometric='ycbcr')")
        if jpeg_quant is None:
            jpeg_quant = STD_QUANT_LUMA
        jpeg_quant = np.asarray(jpeg_quant, dtype=np.int64).reshape(8, 8)
    sub_bits = 0
    if bits is not None and bits != 8 * bands.dtype.itemsize:
        if bits not in (1, 2, 4):
            raise ValueError(f"bits={bits} unsupported (1/2/4 sub-byte "
                             "or the dtype's native width)")
        if dtype != "uint8":
            raise ValueError(f"sub-byte bits={bits} requires uint8 "
                             f"samples, got {dtype}")
        if predictor != 1:
            raise ValueError("predictors are byte-oriented (TIFF 6.0 "
                             "§14); sub-byte samples require predictor 1")
        vmax = int(bands.max()) if bands.size else 0
        if vmax >= (1 << bits) or (bands.size and int(bands.min()) < 0):
            raise ValueError(f"sample values exceed {bits}-bit range "
                             f"(max {vmax})")
        if not (0 <= float(nodata) < (1 << bits)):
            raise ValueError(f"nodata {nodata} not representable in "
                             f"{bits} bits")
        sub_bits = bits
    if byteorder not in ("<", ">"):
        raise ValueError("byteorder must be '<' or '>'")
    if planar not in (1, 2):
        raise ValueError("planar must be 1 (chunky) or 2 (separate)")
    if predictor not in (1, 2, 3):
        raise ValueError("predictor must be 1, 2 (int horizontal diff) "
                         "or 3 (float horizontal diff)")
    if predictor == 2 and str(bands.dtype) not in _PRED_UNSIGNED:
        raise ValueError(f"predictor 2 requires integer samples, "
                         f"got {bands.dtype} (floats use predictor 3)")
    if predictor == 3 and str(bands.dtype) not in _PRED3_FLOATS:
        raise ValueError(f"predictor 3 requires float samples, "
                         f"got {bands.dtype} (integers use predictor 2)")
    bo = byteorder
    bits, sfmt = _DT_TO_TIFF[dtype]
    if sub_bits:
        bits = sub_bits
    xmin, ymin, xmax, ymax = (float(v) for v in extent)

    levels = [bands]
    for _ in range(overviews):
        levels.append(levels[-1][:, ::2, ::2])

    jpeg_blob = None
    if compress == "jpeg" and jpeg_tables_tag:
        jpeg_blob = jpeg_tables_stream(
            jpeg_quant, jpeg_quant_chroma if jpeg_color else None)
    level_segs = [
        _level_segments(arrs, tile_size, strips, compress, nodata, bo,
                        planar, predictor, sub_bits, jpeg_quant,
                        jpeg_inline=jpeg_blob is None,
                        jpeg_restart=jpeg_restart,
                        jpeg_color=jpeg_color,
                        jpeg_quant_chroma=jpeg_quant_chroma,
                        jpeg_sub=tuple(jpeg_subsampling))
        for arrs in levels]
    hdr_len = 16 if bigtiff else 8
    if cog:
        # two-pass layout: IFD sizes depend only on entry counts, so
        # measure with zero offsets, place the IFD chain right after the
        # header, then assign data offsets past it
        probe = _assemble_ifds(
            levels, level_segs, [[0] * len(s[0]) for s in level_segs],
            bo, nb, bits, sfmt, compress, planar, strips, tile_size,
            xmin, ymax, (xmax - xmin) / w, (ymax - ymin) / h, epsg,
            nodata, predictor, bigtiff, geo_encoding, jpeg_blob,
            jpeg_color, tuple(jpeg_subsampling))
        data_base = hdr_len + sum(i.size() + i.external_size()
                                  for i in probe)
    else:
        data_base = hdr_len
    cursor = data_base
    data_chunks: list[bytes] = []
    level_offs = []
    for segs, n_w, n_h in level_segs:
        offs = []
        for s in segs:
            offs.append(cursor)
            data_chunks.append(s)
            cursor += len(s)
        level_offs.append(offs)

    ifds = _assemble_ifds(
        levels, level_segs, level_offs, bo, nb, bits, sfmt, compress,
        planar, strips, tile_size, xmin, ymax, (xmax - xmin) / w,
        (ymax - ymin) / h, epsg, nodata, predictor, bigtiff, geo_encoding,
        jpeg_blob, jpeg_color, tuple(jpeg_subsampling))

    if cog:
        ifd_offsets = []
        pos = hdr_len
        for ifd in ifds:
            ifd_offsets.append(pos)
            pos += ifd.size() + ifd.external_size()
        blobs = [ifd.serialize(ifd_offsets[i],
                               ifd_offsets[i + 1]
                               if i + 1 < len(ifds) else 0)
                 for i, ifd in enumerate(ifds)]
        header = _tiff_header(bo, bigtiff, hdr_len)
        with open(path, "wb") as f:
            f.write(header)
            for b in blobs:
                f.write(b)
            for c in data_chunks:
                f.write(c)
        return

    # classic layout: segment data first, IFD chain at the end
    ifd_offsets = []
    for ifd in ifds:
        ifd_offsets.append(cursor)
        cursor += ifd.size() + ifd.external_size()
    blobs = [ifd.serialize(ifd_offsets[i],
                           ifd_offsets[i + 1] if i + 1 < len(ifds) else 0)
             for i, ifd in enumerate(ifds)]
    header = _tiff_header(bo, bigtiff, ifd_offsets[0])
    with open(path, "wb") as f:
        f.write(header)
        for c in data_chunks:
            f.write(c)
        for b in blobs:
            f.write(b)


def _assemble_ifds(levels, level_segs, level_offs, bo, nb, bits, sfmt,
                   compress, planar, strips, tile_size, xmin, ymax,
                   sx, sy, epsg, nodata, predictor=1, big=False,
                   geo_encoding="pixelscale", jpeg_blob=None,
                   jpeg_color=False, ycbcr_sub=(2, 2)):
    """Build the IFD chain for every resolution level with the given
    segment offsets (sizes are offset-independent, which is what lets
    the COG layout measure with zeros first). ``big`` writes BigTIFF
    IFDs with LONG8 segment offset/count tables (offsets past 4 GiB)."""
    otyp = 16 if big else 4
    ifds = []
    for lv, (arrs, (segs, n_w, n_h), offs) in enumerate(
            zip(levels, level_segs, level_offs)):
        _, lh, lw = arrs.shape
        cnts = [len(s) for s in segs]
        ifd = _IFD(bo, big)
        if lv > 0:
            ifd.add(_TAG["NewSubfileType"], 4, 1)  # reduced-resolution
        ifd.add(_TAG["ImageWidth"], 4, lw)
        ifd.add(_TAG["ImageLength"], 4, lh)
        ifd.add(_TAG["BitsPerSample"], 3, [bits] * nb)
        ifd.add(_TAG["Compression"], 3,
                {"none": 1, "deflate": 8, "lzw": 5, "jpeg": 7,
                 "packbits": 32773, "lzma": 34925}[compress])
        if predictor in (2, 3):
            ifd.add(_TAG["Predictor"], 3, predictor)
        if jpeg_blob is not None:
            # TIFF TechNote 2: shared abbreviated table stream; every
            # JPEG-compressed IFD carries the tag (libtiff convention)
            ifd.add(_TAG["JPEGTables"], 7, jpeg_blob)
        ifd.add(_TAG["Photometric"], 3, 6 if jpeg_color else 1)
        if jpeg_color:
            ifd.add(_TAG["YCbCrSubSampling"], 3, list(ycbcr_sub))
        ifd.add(_TAG["SamplesPerPixel"], 3, nb)
        ifd.add(_TAG["SampleFormat"], 3, [sfmt] * nb)
        if nb > 1:
            ifd.add(_TAG["PlanarConfig"], 3, planar)
        if strips:
            ifd.add(_TAG["RowsPerStrip"], 4, tile_size)
            ifd.add(_TAG["StripOffsets"], otyp, offs)
            ifd.add(_TAG["StripByteCounts"], otyp, cnts)
        else:
            ifd.add(_TAG["TileWidth"], 3, tile_size)
            ifd.add(_TAG["TileLength"], 3, tile_size)
            ifd.add(_TAG["TileOffsets"], otyp, offs)
            ifd.add(_TAG["TileByteCounts"], otyp, cnts)
        if lv == 0:
            if geo_encoding == "transform":
                # same north-up affine, as the 4x4 ModelTransformation
                # (GeoTIFF 1.1 §B.5) instead of PixelScale+Tiepoint
                ifd.add(_TAG["ModelTransformation"], 12,
                        [sx, 0.0, 0.0, xmin,
                         0.0, -sy, 0.0, ymax,
                         0.0, 0.0, 0.0, 0.0,
                         0.0, 0.0, 0.0, 1.0])
            else:
                ifd.add(_TAG["ModelPixelScale"], 12, [sx, sy, 0.0])
                ifd.add(_TAG["ModelTiepoint"], 12,
                        [0.0, 0.0, 0.0, xmin, ymax, 0.0])
            ifd.add(_TAG["GeoKeyDirectory"], 3, _geokeys(epsg))
            ifd.add(_TAG["GdalNodata"], 2,
                    repr(float(nodata)).encode() + b"\x00")
        ifds.append(ifd)
    return ifds


# ---------------------------------------------------------------------------
# reader (header/IFD parse — the RangeReader analog: seeks only)
# ---------------------------------------------------------------------------

def _read_entry_values(f, bo, typ, count, raw_inline, big=False):
    letter, size = _FIELD[typ]
    total = size * count
    cap = 8 if big else 4
    if total <= cap:
        buf = raw_inline[:total]
    else:
        (off,) = struct.unpack(bo + ("Q" if big else "I"), raw_inline)
        pos = f.tell()
        f.seek(off)
        buf = f.read(total)
        f.seek(pos)
    if typ in (2, 7):  # ASCII / UNDEFINED: raw bytes
        return buf
    if typ == 5:  # RATIONAL
        vals = struct.unpack(bo + "II" * count, buf)
        return [vals[2 * i] / vals[2 * i + 1] for i in range(count)]
    return list(struct.unpack(bo + letter * count, buf))


def read_geotiff_info(path: str) -> dict:
    """Parse header + IFD chain via seeks (no pixel bytes touched).
    ``path`` may be a local path or an http(s):// URI — remote parses
    go through the block-cached RangeReader (rangereader.py), so a COG
    header costs ONE ranged GET (GeoTiffRasterSource.scala:45-46 /
    SubsceneReadingIT.scala:36-38 parity).
    Returns {byteorder, width, height, dtype, nbands, nodata, epsg,
    extent, planar, ifds: [{width, height, tile_w, tile_h, strips,
    compression, offsets, counts, n_w, n_h, overview}]}."""
    from geotrellis_contrib_spark.sources.rangereader import \
        open_header_stream

    with open_header_stream(path) as f:
        magic = f.read(4)
        if magic[:2] == b"II":
            bo = "<"
        elif magic[:2] == b"MM":
            bo = ">"
        else:
            raise ValueError(f"not a TIFF: magic {magic[:2]!r}")
        (version,) = struct.unpack(bo + "H", magic[2:4])
        if version == 43:  # BigTIFF: 8-byte offsets throughout
            big = True
            osz, pad = struct.unpack(bo + "HH", f.read(4))
            if osz != 8 or pad != 0:
                raise ValueError(f"BigTIFF offset size {osz}/pad {pad} "
                                 "(must be 8/0)")
            (ifd_off,) = struct.unpack(bo + "Q", f.read(8))
        elif version == 42:
            big = False
            (ifd_off,) = struct.unpack(bo + "I", f.read(4))
        else:
            raise ValueError(f"bad TIFF version {version}")
        ent_sz, cnt_sz = (20, 8) if big else (12, 2)

        ifds = []
        top: dict = {}
        while ifd_off:
            f.seek(ifd_off)
            raw = f.read(cnt_sz)
            if len(raw) < cnt_sz:
                raise ValueError("truncated IFD")
            (n,) = struct.unpack(bo + ("Q" if big else "H"), raw)
            tags = {}
            for _ in range(n):
                ent = f.read(ent_sz)
                if len(ent) < ent_sz:
                    raise ValueError("truncated IFD entry")
                tag, typ, count = struct.unpack(
                    bo + ("HHQ" if big else "HHI"), ent[:ent_sz - 8 if big
                                                        else 8])
                if typ not in _FIELD:
                    continue
                tags[tag] = _read_entry_values(
                    f, bo, typ, count, ent[ent_sz - 8 if big else 8:], big)
            (ifd_off,) = struct.unpack(bo + ("Q" if big else "I"),
                                       f.read(8 if big else 4))

            comp = tags.get(_TAG["Compression"], [1])[0]
            if comp not in (1, 5, 7, 8, 32946, 32773, 34925):
                raise ValueError(
                    f"unsupported compression {comp} "
                    "(none/lzw/jpeg/deflate/packbits/lzma only)")
            predictor = tags.get(_TAG["Predictor"], [1])[0]
            jpeg_tables = None
            if comp == 7:
                if predictor != 1:
                    raise ValueError("JPEG segments take no TIFF "
                                     f"predictor (got {predictor})")
                jt = tags.get(_TAG["JPEGTables"])
                jpeg_tables = bytes(jt) if jt else None
                photo = tags.get(_TAG["Photometric"], [1])[0]
                spp_j = tags.get(_TAG["SamplesPerPixel"], [1])[0]
                pl_j = tags.get(_TAG["PlanarConfig"], [1])[0]
                if photo == 6:
                    if spp_j != 3 or pl_j != 1:
                        raise ValueError(
                            "YCbCr JPEG requires 3 interleaved "
                            f"samples (got spp={spp_j}, "
                            f"planar={pl_j})")
                elif photo not in (0, 1):
                    raise ValueError(f"unsupported photometric {photo} "
                                     "with JPEG (grayscale or YCbCr)")
            if predictor not in (1, 2, 3):
                raise ValueError(f"unsupported predictor {predictor} "
                                 "(none/int-horizontal/float-"
                                 "horizontal only)")
            nb = tags.get(_TAG["SamplesPerPixel"], [1])[0]
            planar = tags.get(_TAG["PlanarConfig"], [1])[0]
            if planar not in (1, 2):
                raise ValueError(f"bad PlanarConfig {planar}")
            bits = tags.get(_TAG["BitsPerSample"], [1])
            sfmt = tags.get(_TAG["SampleFormat"], [1] * nb)
            if len(set(bits)) != 1 or len(set(sfmt)) != 1:
                raise ValueError("mixed per-band sample types unsupported")
            key = (bits[0], sfmt[0])
            if key not in _TIFF_TO_DT:
                raise ValueError(f"unsupported sample type {key}")
            if comp == 7 and _TIFF_TO_DT[key] != "uint8":
                raise ValueError(f"JPEG compression with "
                                 f"{_TIFF_TO_DT[key]} samples "
                                 "unsupported (8-bit baseline only)")
            if _TIFF_TO_DT[key] in _SUBBYTE_BITS and predictor != 1:
                raise ValueError(f"predictor {predictor} with sub-byte "
                                 "samples unsupported (TIFF predictors "
                                 "are byte-oriented)")
            if predictor == 2 and _TIFF_TO_DT[key] not in _PRED_UNSIGNED:
                raise ValueError(
                    f"predictor 2 with non-integer samples "
                    f"{_TIFF_TO_DT[key]} unsupported")
            if predictor == 3 and _TIFF_TO_DT[key] not in _PRED3_FLOATS:
                raise ValueError(
                    f"predictor 3 with non-float samples "
                    f"{_TIFF_TO_DT[key]} unsupported")
            w = tags[_TAG["ImageWidth"]][0]
            h = tags[_TAG["ImageLength"]][0]
            if _TAG["TileOffsets"] in tags:
                tw = tags[_TAG["TileWidth"]][0]
                th = tags[_TAG["TileLength"]][0]
                offs = tags[_TAG["TileOffsets"]]
                cnts = tags[_TAG["TileByteCounts"]]
                n_w, n_h = (w + tw - 1) // tw, (h + th - 1) // th
                stripped = False
            elif _TAG["StripOffsets"] in tags:
                tw, th = w, tags.get(_TAG["RowsPerStrip"], [h])[0]
                offs = tags[_TAG["StripOffsets"]]
                cnts = tags.get(_TAG["StripByteCounts"])
                if cnts is None:
                    raise ValueError("StripByteCounts missing")
                n_w, n_h = 1, (h + th - 1) // th
                stripped = True
            else:
                raise ValueError("neither tiled nor stripped layout")
            exp = n_w * n_h * (nb if planar == 2 else 1)
            if len(offs) != exp or len(cnts) != exp:
                raise ValueError(f"segment table length {len(offs)} != "
                                 f"expected {exp}")
            ifds.append({"width": w, "height": h, "tile_w": tw,
                         "tile_h": th, "strips": stripped,
                         "compression": comp, "predictor": predictor,
                         "jpeg_tables": jpeg_tables,
                         "offsets": offs,
                         "counts": cnts, "n_w": n_w, "n_h": n_h,
                         "overview": bool(
                             tags.get(_TAG["NewSubfileType"], [0])[0] & 1)})
            if not ifds[0]["overview"] and len(ifds) == 1:
                top = {"nbands": nb, "planar": planar,
                       "dtype": _TIFF_TO_DT[key]}
                nod = tags.get(_TAG["GdalNodata"])
                top["nodata"] = (float(nod.split(b"\x00")[0]) if nod
                                 else None)
                gk = tags.get(_TAG["GeoKeyDirectory"])
                epsg = None
                if gk:
                    nk = gk[3]
                    for i in range(nk):
                        kid, loc, cnt, val = gk[4 + 4 * i:8 + 4 * i]
                        if kid in (2048, 3072) and loc == 0:
                            epsg = val
                top["epsg"] = epsg
                scale = tags.get(_TAG["ModelPixelScale"])
                tie = tags.get(_TAG["ModelTiepoint"])
                xform = tags.get(_TAG["ModelTransformation"])
                if scale and tie:
                    sx, sy = scale[0], scale[1]
                    i0, j0, _, gx, gy = tie[0], tie[1], tie[2], tie[3], tie[4]
                    xmin = gx - i0 * sx
                    ymax = gy + j0 * sy
                    top["extent"] = (xmin, ymax - h * sy, xmin + w * sx, ymax)
                elif xform:
                    # ModelTransformation (GeoTIFF 1.1 §B.5, tag 34264):
                    # 4x4 row-major affine, x = t0*i + t1*j + t3,
                    # y = t4*i + t5*j + t7 at pixel-corner anchors. The
                    # tile-grid catalog model needs an axis-aligned
                    # north-up grid — rotation/shear terms fail loud
                    # rather than silently de-rotating.
                    if len(xform) != 16:
                        raise ValueError(
                            f"ModelTransformation needs 16 doubles, "
                            f"got {len(xform)}")
                    t0, t1, _, t3 = xform[0:4]
                    t4, t5, _, t7 = xform[4:8]
                    if t1 != 0.0 or t4 != 0.0:
                        raise ValueError(
                            "rotated/sheared ModelTransformation is "
                            "unsupported (axis-aligned north-up grids "
                            f"only; got shear terms {t1}, {t4})")
                    if t0 <= 0.0 or t5 >= 0.0:
                        raise ValueError(
                            "ModelTransformation must be north-up "
                            f"(sx > 0 > sy; got {t0}, {t5})")
                    top["extent"] = (t3, t7 + h * t5, t3 + w * t0, t7)
                else:
                    top["extent"] = None

    if not top:
        raise ValueError("no full-resolution IFD found")
    top.update({"byteorder": bo, "width": ifds[0]["width"],
                "height": ifds[0]["height"], "ifds": ifds})
    return top


def _np_dtype(info_dtype: str, bo: str) -> np.dtype:
    return np.dtype(_engine_dtype(info_dtype)).newbyteorder(bo)


def _decode_segment(raw: bytes, compression: int, dtype: np.dtype,
                    th: int, tw: int, spp: int,
                    predictor: int = 1, sub_bits: int = 0,
                    jpeg_tables: bytes | None = None) -> np.ndarray:
    if compression == 7:
        if spp == 3:  # YCbCr color segment -> (th, tw, 3) RGB
            return jpeg_decode_color(raw, jpeg_tables)
        if spp > 1:
            raise ValueError(f"JPEG segments carry 1 (grayscale) or 3 "
                             f"(YCbCr) samples, got {spp}")
        return jpeg_decode_gray(raw, jpeg_tables)
    if compression in (8, 32946):
        raw = zlib.decompress(raw)
    elif compression == 5:
        raw = lzw_decode(raw)
    elif compression == 32773:
        raw = packbits_decode(raw)
    elif compression == 34925:
        # FORMAT_AUTO accepts both the .xz container (libtiff's stream
        # encoder) and the legacy .lzma "alone" container
        raw = _lzma.decompress(raw, format=_lzma.FORMAT_AUTO)
    if sub_bits:
        return _unpack_subbyte(raw, sub_bits, tw, spp)
    if predictor == 3:
        # fp predictor bytes are byte-order-independent (MSB-first
        # plane split) — decode straight to native-endian floats
        return _fpacc(raw, np.dtype(dtype).newbyteorder("="), tw, spp)
    arr = np.frombuffer(raw, dtype=dtype)
    arr = arr.reshape(-1, tw, spp) if spp > 1 else arr.reshape(-1, tw)
    if predictor == 2:
        # undo horizontal differencing on NATIVE-order sample values
        # (bit-identical byte swap first, then wraparound cumsum)
        base = np.dtype(dtype).newbyteorder("=")
        arr = _hcum(arr.astype(base), base)
    return arr


def read_geotiff(path: str, level: int = 0) -> tuple[np.ndarray, dict]:
    """Decode a whole level to (nbands, H, W) native-endian; crops edge-tile
    padding. ``level`` 0 is full resolution, >0 the overview IFDs."""
    info = read_geotiff_info(path)
    ifd = info["ifds"][level]
    nb, planar = info["nbands"], info["planar"]
    dtype = _np_dtype(info["dtype"], info["byteorder"])
    sub_bits = _SUBBYTE_BITS.get(info["dtype"], 0)
    h, w = ifd["height"], ifd["width"]
    tw, th, n_w, n_h = ifd["tile_w"], ifd["tile_h"], ifd["n_w"], ifd["n_h"]
    out = np.empty((nb, h, w), dtype=np.dtype(_engine_dtype(info["dtype"])))
    with open(path, "rb") as f:
        per_plane = n_w * n_h
        for si, (off, cnt) in enumerate(zip(ifd["offsets"], ifd["counts"])):
            f.seek(off)
            raw = f.read(cnt)
            if len(raw) != cnt:
                raise ValueError("truncated segment")
            if planar == 2:
                b, ti = si // per_plane, si % per_plane
            else:
                b, ti = 0, si
            tr, tc = ti // n_w, ti % n_w
            seg = _decode_segment(raw, ifd["compression"], dtype, th, tw,
                                  nb if planar == 1 else 1,
                                  ifd["predictor"], sub_bits,
                                  ifd.get("jpeg_tables"))
            rows = min(th, h - tr * th)
            cols = min(tw, w - tc * tw)
            if planar == 1 and nb > 1:
                for bb in range(nb):
                    out[bb, tr * th:tr * th + rows, tc * tw:tc * tw + cols] \
                        = seg[:rows, :cols, bb]
            else:
                out[b, tr * th:tr * th + rows, tc * tw:tc * tw + cols] \
                    = seg[:rows, :cols]
    return out, info


# ---------------------------------------------------------------------------
# distributed catalog read (the windowed-read scale path)
# ---------------------------------------------------------------------------

CATALOG_SCHEMA = ("path string, source_id string, source_idx int, zoom int, "
                  "band int, col bigint, row bigint, offset bigint, "
                  "nbytes bigint, tile_size int, compression int, "
                  "byteorder string, dtype string, nodata double, "
                  "planar int, nbands int, predictor int, "
                  "jpeg_tables binary")


def geotiff_tile_catalog(spark, specs: list[dict], level: int = 0):
    """Driver-side header parse -> tile catalog DataFrame. Each spec:
    {path, source_id, source_idx, zoom, base_col, base_row}; the file's
    tile (0,0) lands at layout key (base_col, base_row). ``level``
    selects the IFD: 0 = full resolution, >0 the overview chain — the
    AutoHigherResolution read path (GeoTiffRasterSource.resolutions)
    cataloged directly against overview DATA instead of re-reading the
    base. Tiled square-tile IFDs only; window pruning = a plain filter
    on (col, row) that Catalyst pushes below the Python read."""
    rows = []
    for spec in specs:
        info = read_geotiff_info(spec["path"])
        if not 0 <= int(level) < len(info["ifds"]):
            raise ValueError(
                f"{spec['path']} has {len(info['ifds'])} IFDs; "
                f"level={level} out of range")
        ifd = info["ifds"][int(level)]
        if ifd["strips"]:
            raise ValueError("catalog read requires a tiled GeoTiff")
        if ifd["tile_w"] != ifd["tile_h"]:
            raise ValueError("non-square tiles unsupported in catalog")
        nb, planar = info["nbands"], info["planar"]
        per_plane = ifd["n_w"] * ifd["n_h"]
        nodata = info["nodata"]
        if nodata is None:
            nodata = float("nan")
        for si, (off, cnt) in enumerate(zip(ifd["offsets"], ifd["counts"])):
            if planar == 2:
                bands = [si // per_plane]
                ti = si % per_plane
            else:
                bands = list(range(nb))
                ti = si
            tr, tc = ti // ifd["n_w"], ti % ifd["n_w"]
            for b in bands:
                rows.append((spec["path"], spec["source_id"],
                             int(spec.get("source_idx", 0)),
                             int(spec.get("zoom", 0)), int(b),
                             int(spec.get("base_col", 0)) + tc,
                             int(spec.get("base_row", 0)) + tr,
                             int(off), int(cnt), int(ifd["tile_w"]),
                             int(ifd["compression"]), info["byteorder"],
                             info["dtype"], float(nodata), int(planar),
                             int(nb), int(ifd["predictor"]),
                             ifd.get("jpeg_tables")))
    # Partition the catalog for the DECODE stage, not the byte count:
    # the per-segment LZW/PackBits/JPEG decoders are pure-Python CPU
    # work, so cap parallelism at the session default rather than a
    # constant 8 (r7; was 3-6 partitions for the gate fixtures — the
    # decode ran on a fraction of the cores). >= 8 segments per task
    # keeps the per-path ranged-read coalescing effective.
    par = spark.sparkContext.defaultParallelism
    n_part = max(1, min(par, len(rows) // 8))
    # parallelize with the TARGET slice count instead of
    # createDataFrame(...).coalesce(n): the default path pickles the
    # rows into defaultParallelism slices and coalesce then funnels
    # every parent slice's Python-worker round-trip through the few
    # surviving tasks — measured 3.8 s for an 8-row catalog at
    # local[32] vs ~0.1 s this way.
    rdd = spark.sparkContext.parallelize(rows, n_part)
    return spark.createDataFrame(rdd, CATALOG_SCHEMA)


def read_catalog_tiles(catalog):
    """Fetch the catalog rows' byte ranges and decode to the engine's
    pixel-tile schema (corpus.synth_px_tiles layout). Narrow map — zero
    shuffle. ``path`` may be local or http(s):// (the reference's
    RangeReader URI dispatch); per task each path opens ONE reader,
    the surviving byte ranges are sorted + coalesced (fetch_ranges)
    so adjacent tiles cost one ranged read and chunky multi-band
    duplicates fetch once."""
    import pandas as pd

    from geotrellis_contrib_spark.operators.pixels import pack
    from geotrellis_contrib_spark.sources.rangereader import (
        fetch_ranges, open_range_reader)

    def fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for path, grp in pdf.groupby("path", sort=False):
                rr = open_range_reader(path)
                try:
                    blobs = fetch_ranges(
                        rr, zip(grp["offset"], grp["nbytes"]))
                finally:
                    rr.close()
                for t in grp.itertuples(index=False):
                    raw = blobs[(int(t.offset), int(t.nbytes))]
                    dtype = _np_dtype(t.dtype, t.byteorder)
                    seg = _decode_segment(
                        raw, int(t.compression), dtype,
                        int(t.tile_size), int(t.tile_size),
                        int(t.nbands) if t.planar == 1 else 1,
                        int(t.predictor),
                        _SUBBYTE_BITS.get(t.dtype, 0),
                        bytes(t.jpeg_tables)
                        if t.jpeg_tables is not None else None)
                    if t.planar == 1 and t.nbands > 1:
                        arr = seg[:, :, int(t.band)]
                    else:
                        arr = seg
                    eng_dt = _engine_dtype(t.dtype)
                    arr = np.ascontiguousarray(
                        arr.astype(np.dtype(eng_dt)))
                    out.append({"source_id": t.source_id,
                                "source_idx": int(t.source_idx),
                                "zoom": int(t.zoom),
                                "col": int(t.col), "row": int(t.row),
                                "band": int(t.band), "dtype": eng_dt,
                                "nodata": float(t.nodata),
                                "px": pack(arr)})
            yield pd.DataFrame(
                out, columns=["source_id", "source_idx", "zoom", "col",
                              "row", "band", "dtype", "nodata", "px"])

    return catalog.mapInPandas(
        fetch, "source_id string, source_idx int, zoom int, col bigint, "
               "row bigint, band int, dtype string, nodata double, "
               "px binary")


def k_tile_qsum(row: dict, quant: float) -> dict:
    """One tile's NoData-aware quantize-first checksum and valid count."""
    from geotrellis_contrib_spark.operators.pixels import qsum, valid_px

    arr = row["px"].astype(np.float64)
    valid = valid_px(arr, row["nodata"])
    return {"px_qsum": qsum(arr, valid, quant), "px_count": int(valid.sum())}


def per_tile_checksum(tiles, quant: float = 4.0):
    """Per-tile NoData-aware quantized checksum (default quant*value=4v
    is exact int64 on the quarter-multiple fixtures; pass 2^20 for
    quotient-valued tiles) — ZERO shuffle: one output row per input
    tile, so tile placement (col,row) and every decoded byte sit under
    the value gate."""
    from functools import partial

    from geotrellis_contrib_spark.operators.pixels import map_tiles

    return map_tiles(
        tiles, partial(k_tile_qsum, quant=float(quant)),
        "source_id string, band int, col bigint, row bigint, "
        "px_qsum bigint, px_count bigint")


def write_scene_geotiffs(tiles, out_dir: str, tile_size: int = 64,
                         epsg: int = 3857, compress: str = "deflate",
                         overviews: int = 0):
    """Distributed GeoTiff SINK: one tiled GeoTiff per (source_id, band)
    assembled from the engine tile table — the write-side mirror of the
    catalog read path. ONE ``groupBy(source_id, band).applyInPandas``;
    each task assembles its scene mosaic (missing tiles -> nodata pads),
    derives the web-mercator extent from the (zoom, col, row) footprint,
    and writes <source_id>_b<band>.tif atomically (tmp + rename).
    Returns a DataFrame (source_id, band, path, width, height, n_tiles)
    — an action on it performs the writes.

    At cluster scale each scene is one output object (the parallel unit,
    like the viewshed); for larger-than-memory scenes shard by windowed
    sub-grids first."""
    import os
    import tempfile

    import pandas as pd

    from geotrellis_contrib_spark.operators.pixels import DTYPES

    t = int(tile_size)

    def write_group(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        source_id, band = key[0], int(key[1])
        cols = pdf["col"].to_numpy()
        rows = pdf["row"].to_numpy()
        zoom = int(pdf["zoom"].iloc[0])
        nodata = float(pdf["nodata"].iloc[0])
        dtype = str(pdf["dtype"].iloc[0])
        c0, r0 = int(cols.min()), int(rows.min())
        nc, nr = int(cols.max()) - c0 + 1, int(rows.max()) - r0 + 1
        arr = np.full((nr * t, nc * t), nodata, dtype=np.dtype(dtype))
        for row_t in pdf.itertuples(index=False):
            a = np.frombuffer(row_t.px, dtype=DTYPES[row_t.dtype]) \
                  .reshape(t, t)
            arr[(int(row_t.row) - r0) * t:(int(row_t.row) - r0 + 1) * t,
                (int(row_t.col) - c0) * t:(int(row_t.col) - c0 + 1) * t] \
                = a
        web = 20037508.342789244
        tsz = 2.0 * web / float(1 << zoom)
        xmin = -web + c0 * tsz
        ymax = web - r0 * tsz
        extent = (xmin, ymax - nr * tsz, xmin + nc * tsz, ymax)
        path = os.path.join(out_dir, f"{source_id}_b{band}.tif")
        fd, tmp = tempfile.mkstemp(dir=out_dir, suffix=".part")
        os.close(fd)
        write_geotiff(tmp, arr, extent, epsg=epsg, nodata=nodata,
                      tile_size=t, compress=compress, overviews=overviews)
        os.replace(tmp, path)
        return pd.DataFrame([{
            "source_id": source_id, "band": band, "path": path,
            "width": nc * t, "height": nr * t, "n_tiles": len(pdf)}])

    return tiles.groupBy("source_id", "band").applyInPandas(
        write_group, "source_id string, band int, path string, "
                     "width bigint, height bigint, n_tiles bigint")
