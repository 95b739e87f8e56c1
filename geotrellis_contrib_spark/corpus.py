"""Deterministic synthetic interleaved text+media corpus (BASELINE input_hint):

    doc_id: string,
    spans:  array<struct<kind:string, text:string, media_ref:string, offset:int>>

Generated entirely JVM-side from ``spark.range`` (seedless integer arithmetic
— byte-stable across runs, partitionings, and cluster sizes; no external
data). This is the 10^12-document corpus stand-in: the generator is O(rows)
narrow work, so any scale fits by changing ``n_docs``.

Span layout per doc (interleaved, offsets strictly increasing):
  span 0:        text  (words from a tiny deterministic vocabulary)
  span 1:        geo   (text = "lon,lat", the anchor; ~2% of docs have none —
                        the Option[Point] analog)
  spans 2..k:    media (media_ref = media://<doc>/<i>) alternating with text

The per-row invariant every operator must preserve: span-sequence equality
(kind, text, media_ref, order) — spans are carried OPAQUE through the engine
and side tables join back by doc_id only (SURVEY.md §7 hard-part #3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

VOCAB = ("scan", "filter", "join", "merge", "tile", "pixel", "raster", "vector",
         "cell", "zoom", "batch", "shuffle", "anchor", "span", "media", "doc")

# anchors: 30% hot cluster (same shape as derive.ANCHORS_SQL), 2% missing
HOT_FRAC_MOD = 10  # doc_id % 10 < 3 -> hot
NULL_MOD = 50      # doc_id % 50 == 7 -> no geo span


def _word(i):
    return F.element_at(F.array(*[F.lit(w) for w in VOCAB]),
                        ((i % len(VOCAB)) + 1).cast("int"))


def synth_docs(spark: SparkSession, n_docs: int, media_per_doc: int = 2,
               partitions: int | None = None) -> DataFrame:
    """Interleaved corpus of ``n_docs`` rows; lazy single narrow stage."""
    rng = spark.range(0, n_docs, 1, partitions) if partitions else spark.range(n_docs)
    d = F.col("id")

    u = ((d * 9973 + 12345) % 100000).cast("double") / 100000.0
    v = ((d * 7919 + 54321) % 100000).cast("double") / 100000.0
    lon = F.when(d % HOT_FRAC_MOD < 3, -74.25 + u * 0.5).otherwise(-180.0 + u * 360.0)
    lat = F.when(d % HOT_FRAC_MOD < 3, 40.45 + v * 0.5).otherwise(-60.0 + v * 120.0)

    text0 = F.concat_ws(" ", _word(d), _word(d + 3), _word(d * 7 + 1), _word(d * 11 + 5))
    geo_span = F.struct(
        F.lit("geo").alias("kind"),
        F.concat(lon.cast("string"), F.lit(","), lat.cast("string")).alias("text"),
        F.lit("").alias("media_ref"),
        F.lit(100).cast("int").alias("offset"),
    )
    text_span = F.struct(F.lit("text").alias("kind"), text0.alias("text"),
                         F.lit("").alias("media_ref"), F.lit(0).cast("int").alias("offset"))

    media_spans = [
        F.struct(
            F.lit("media").alias("kind"), F.lit("").alias("text"),
            F.concat(F.lit("media://"), d.cast("string"), F.lit("/"), F.lit(str(i))).alias("media_ref"),
            F.lit(200 + 100 * i).cast("int").alias("offset"),
        )
        for i in range(media_per_doc)
    ]
    spans_with_geo = F.array(text_span, geo_span, *media_spans)
    spans_no_geo = F.array(text_span, *media_spans)
    spans = F.when(d % NULL_MOD == 7, spans_no_geo).otherwise(spans_with_geo)

    return rng.select(
        F.concat(F.lit("doc-"), F.lpad(d.cast("string"), 12, "0")).alias("doc_id"),
        spans.alias("spans"),
    )


def _spans_of_kind(docs: DataFrame, kind: str) -> DataFrame:
    """(doc_id, span_idx, span) for every span of ``kind``.

    Only ``spans.kind`` is exploded; the matching span is then fetched by
    position. Exploding the struct array itself lets Catalyst infer
    ``size(spans) > 0`` (InferFiltersFromGenerate) and push that filter
    below the projection that builds ``spans``, which then builds every
    doc's array twice. Over an extracted field no filter is inferred."""
    return (docs.select("doc_id", "spans",
                        F.posexplode("spans.kind").alias("span_idx", "kind"))
                .filter(F.col("kind") == kind)
                .select("doc_id", "span_idx",
                        F.element_at("spans", F.col("span_idx") + 1).alias("span")))


def extract_anchors(docs: DataFrame) -> DataFrame:
    """Geo side-table: (doc_id, span_idx, lon, lat). ``spans`` is read, never
    rewritten, and evaluated once per doc (see ``_spans_of_kind``). Docs
    without a geo span simply have no row here (NULL-geometry semantics at
    the join).

    The geo text is split once and lon/lat leave through a one-row
    ``inline``: as generator outputs they cannot have a downstream
    ``lon/lat IS NOT NULL`` guard (``pip_join_boxes``) pushed beneath
    them, which would parse every text a second time inside the filter."""
    geo = _spans_of_kind(docs, "geo").select(
        "doc_id", "span_idx", F.split("span.text", ",").alias("parts"))
    coords = F.struct(F.element_at("parts", 1).cast("double").alias("lon"),
                      F.element_at("parts", 2).cast("double").alias("lat"))
    return geo.select("doc_id", "span_idx", F.inline(F.array(coords)))


def extract_media(docs: DataFrame) -> DataFrame:
    """Media side-table: (doc_id, span_idx, media_ref)."""
    return _spans_of_kind(docs, "media").select(
        "doc_id", "span_idx", F.col("span.media_ref").alias("media_ref"))


# The reference's canonical point fixture: 26 Pennsylvania stations,
# transcribed from /root/reference/slick/src/test/scala/geotrellis/slick/
# Data.scala:26-57 (geom = Point(lng, lat) — the reference parses fixed
# columns and builds Point(lng, lat), so x=longitude-like, y=latitude).
PA_CITIES = [
    ("Allentown,PA", 75.43, 40.65), ("Altoona,PA", 78.32, 40.30),
    ("Beaver Falls,PA", 80.33, 40.75), ("Blairsville,PA", 79.09, 40.27),
    ("Bradford,PA", 78.63, 41.80), ("Dubois,PA", 78.90, 41.18),
    ("Erie,PA", 80.18, 42.08), ("Franklin,PA", 79.87, 41.38),
    ("Harrisburg,PA", 76.85, 40.22), ("Harrisburg,PA", 77.42, 40.37),
    ("Johnstown,PA", 78.83, 40.32), ("Lancaster,PA", 76.30, 40.13),
    ("Latrobe,PA", 79.40, 40.28), ("Middletown,PA", 76.77, 40.20),
    ("Muir,PA", 76.57, 40.43), ("Nth Philadel,PA", 75.02, 40.08),
    ("Philadelphia,PA", 75.25, 39.88), ("Philipsburg,PA", 78.13, 41.47),
    ("Pittsburgh,PA", 79.93, 40.35), ("Pittsburgh,PA", 80.22, 40.50),
    ("Reading,PA", 75.97, 40.38), ("Site R,PA", 77.43, 39.73),
    ("State Colleg,PA", 77.83, 40.85), ("Wilkes-Barre,PA", 75.73, 41.33),
    ("Williamsport,PA", 76.92, 41.25), ("Willow Grove,PA", 75.15, 40.20),
]


def pa_cities_df(spark: SparkSession):
    return spark.createDataFrame(
        [(i + 1, n, x, y) for i, (n, x, y) in enumerate(PA_CITIES)],
        "id int, name string, x double, y double")


def synth_px_tiles(spark: SparkSession, zoom: int = 6, n_tiles: int = 4,
                   tile_size: int = 64, n_sources: int = 3,
                   base_col: int = 18, base_row: int = 24,
                   dtype: str = "float64", nodata: float = -9999.0,
                   partitions: int = 8) -> DataFrame:
    """Deterministic pixel-tile fixture (FIXTURES.md §6 analog of the
    reference's aspect-tiled.tif, blob stripped per .MISSING_LARGE_BLOBS):
    an n_tiles x n_tiles block of tile_size-px tiles per source, pixel value
    f(source, col, row, band, r, c) = gradient + arithmetic noise; each
    source is shifted by one tile and punches a deterministic NoData block
    (so mosaic merge has real work). Single band 0 + band 1."""
    # Generated ON EXECUTORS (r7, guide §5 driver rule): the field is a
    # closed form of the tile indices, so shipping ~3 MB of packed blobs
    # from the driver as a LocalRelation — re-serialized into every plan
    # that scans the fixture — is pure overhead (measured 0.78 s vs
    # 0.40 s per warm noop scan at local[32]). spark.range carries only
    # the tile ordinal; the blob is built in the task. Rows are
    # bit-identical to the driver-built version (exceptAll == 0 both
    # ways). A handful of partitions keeps the pixel pipelines parallel
    # without a 32-worker fan-out tax (real tile tables arrive
    # pre-partitioned).
    import pandas as pd

    n_tiles_i, t, n_src = int(n_tiles), int(tile_size), int(n_sources)
    per_source = n_tiles_i * n_tiles_i * 2
    n_rows = n_src * per_source

    def gen(batches):
        import numpy as np

        from geotrellis_contrib_spark.operators.pixels import pack

        r = np.arange(t).reshape(-1, 1)
        c = np.arange(t).reshape(1, -1)
        noise = (r * 31 + c * 17) % 13
        for pdf in batches:
            out = []
            for i in pdf["id"]:
                i = int(i)
                s = i // per_source
                rem = i % per_source
                tc = rem // (n_tiles_i * 2)
                tr = (rem // 2) % n_tiles_i
                band = i % 2
                col, row = base_col + tc + s, base_row + tr  # sources shift east
                val = (s * 1000.0 + band * 100.0 + col * 7.0 + row * 3.0
                       + r * 0.5 + c * 0.25 + noise)
                arr = val.astype(np.float64)
                # deterministic nodata hole per source
                h0 = (s * 11) % (t - 16)
                arr[h0:h0 + 16, h0:h0 + 16] = nodata
                out.append((f"scene-{s}", s, zoom, col, row, band,
                            dtype, nodata, pack(arr)))
            yield pd.DataFrame(out, columns=[
                "source_id", "source_idx", "zoom", "col", "row", "band",
                "dtype", "nodata", "px"])

    return spark.range(0, n_rows, 1, partitions).mapInPandas(
        gen, "source_id string, source_idx int, zoom int, col bigint, row bigint, "
             "band int, dtype string, nodata double, px binary")


# Canonical synthetic NTv2 grid (FIXTURES.md-style): covers the pixel-tile
# footprint with margin; shift field is a CLOSED FORM of the node indices
# with f32-exact values (multiples of 1/64 scaled to integers), so the
# reproject_nadgrid SQL oracle recomputes node values arithmetically
# without reading the binary. Shifts are amplified to ~0.07-0.21 degrees
# (a real NAD27 shift is ~arcseconds) so the value gate BITES — the
# mechanism under test is the grid machinery, not NAD27's magnitudes.
NADGRID_SPEC = {"s_lat_deg": 20.0, "n_lat_deg": 43.0,
                "e_long_deg": 38.0, "w_long_deg": 80.0, "inc_deg": 0.5}


def synth_nadgrid_field(nrows: int, ncols: int):
    """(lat_shift, lon_shift) arc-second f32 arrays — the closed form the
    reproject_nadgrid oracle mirrors term-for-term."""
    import numpy as np

    i = np.arange(nrows).reshape(-1, 1)
    j = np.arange(ncols).reshape(1, -1)
    lat_shift = (((i * 13 + j * 7) % 32) * 16 + 256).astype(np.float32)
    lon_shift = (((i * 5 + j * 11) % 32) * 16 + 320).astype(np.float32)
    return lat_shift, lon_shift


def synth_nadgrid(path: str) -> str:
    """Write the canonical synthetic NTv2 .gsb fixture; returns ``path``."""
    from geotrellis_contrib_spark import gridshift as GS

    sp = NADGRID_SPEC
    nrows = round((sp["n_lat_deg"] - sp["s_lat_deg"]) / sp["inc_deg"]) + 1
    ncols = round((sp["w_long_deg"] - sp["e_long_deg"]) / sp["inc_deg"]) + 1
    lat_shift, lon_shift = synth_nadgrid_field(nrows, ncols)
    GS.write_ntv2(path, sp["s_lat_deg"] * 3600.0, sp["n_lat_deg"] * 3600.0,
                  sp["e_long_deg"] * 3600.0, sp["w_long_deg"] * 3600.0,
                  sp["inc_deg"] * 3600.0, sp["inc_deg"] * 3600.0,
                  lat_shift, lon_shift)
    return path


def span_signature(docs: DataFrame) -> DataFrame:
    """Canonical per-doc span-sequence signature for invariant checks:
    concat of (kind, text, media_ref) in order. Two tables with equal
    signatures per doc_id have span-sequence equality."""
    sig = F.sha2(F.concat_ws(
        "\x1f",
        F.transform("spans", lambda s: F.concat_ws("\x1e", s["kind"], s["text"], s["media_ref"])),
    ), 256)
    return docs.select("doc_id", sig.alias("span_sig"))


def assert_span_invariant(before: DataFrame, after: DataFrame) -> None:
    """Raise if any doc's span sequence changed between two doc tables
    (the BASELINE per-row invariant). Distributed anti-join, no collect."""
    a = span_signature(before).alias("a")
    b = span_signature(after).alias("b")
    bad = (a.join(b, "doc_id", "full")
           .filter((F.col("a.span_sig") != F.col("b.span_sig"))
                   | F.col("a.span_sig").isNull() | F.col("b.span_sig").isNull()))
    n = bad.limit(1).count()
    if n:
        raise AssertionError("span-sequence invariant violated")


def synth_scene_mosaic(s: int, tile_size: int = 64, n_tiles: int = 4,
                       base_col: int = 18, base_row: int = 24,
                       nodata: float = -9999.0):
    """The synth_px_tiles closed-form field assembled as ONE
    (2, n_tiles*T, n_tiles*T) mosaic for scene ``s`` — the array a real
    GeoTiff of that scene holds (same values, same per-tile NoData
    holes)."""
    import numpy as np

    T = tile_size
    out = np.empty((2, n_tiles * T, n_tiles * T), dtype=np.float64)
    r = np.arange(T).reshape(-1, 1)
    c = np.arange(T).reshape(1, -1)
    h0 = (s * 11) % (T - 16)
    for band in range(2):
        for tc in range(n_tiles):
            for tr in range(n_tiles):
                col, row = base_col + tc + s, base_row + tr
                val = (s * 1000.0 + band * 100.0 + col * 7.0 + row * 3.0
                       + r * 0.5 + c * 0.25 + ((r * 31 + c * 17) % 13))
                a = val.astype(np.float64)
                a[h0:h0 + 16, h0:h0 + 16] = nodata
                out[band, tr * T:(tr + 1) * T, tc * T:(tc + 1) * T] = a
    return out


def synth_geotiff_scenes(root: str, tile_size: int = 64,
                         variants: list[dict] | None = None,
                         suffix: str = "") -> list[dict]:
    """Write the three-scene fixture as REAL GeoTiffs (write-once,
    atomic): scene-0 LE+deflate+planar2+1 overview, scene-1 BE+deflate+
    planar2, scene-2 LE+uncompressed+planar1 (chunky) — one byte
    order / compression / interleave combination per file so the gate
    exercises every decode path. Returns catalog specs for
    geotiff_tile_catalog. ``variants``/``suffix`` let siblings reuse the
    same float64 mosaic under other write options (same oracle)."""
    import os
    import tempfile

    from geotrellis_contrib_spark.sources import geotiff as GT

    os.makedirs(root, exist_ok=True)
    if variants is None:
        variants = [{"byteorder": "<", "compress": "deflate", "planar": 2,
                     "overviews": 1},
                    {"byteorder": ">", "compress": "deflate", "planar": 2,
                     "overviews": 0},
                    {"byteorder": "<", "compress": "none", "planar": 1,
                     "overviews": 0}]
    specs = []
    for s, var in enumerate(variants):
        path = os.path.join(root, f"scene-{s}{suffix}.tif")
        if not os.path.exists(path):
            arr = synth_scene_mosaic(s, tile_size=tile_size)
            # zoom-6 web-mercator tile extent of the 4x4 block (meters)
            web = 20037508.342789244
            tsz = 2.0 * web / 64.0
            xmin = -web + (18 + s) * tsz
            ymax = web - 24 * tsz
            xmax, ymin = xmin + 4 * tsz, ymax - 4 * tsz
            fd, tmp = tempfile.mkstemp(dir=root, suffix=".part")
            os.close(fd)
            GT.write_geotiff(tmp, arr, (xmin, ymin, xmax, ymax),
                             epsg=3857, nodata=-9999.0,
                             tile_size=tile_size, **var)
            os.replace(tmp, path)
        specs.append({"path": path, "source_id": f"scene-{s}",
                      "source_idx": s, "zoom": 6, "base_col": 18 + s,
                      "base_row": 24})
    return specs


def synth_geotiff_scenes_lzw(root: str, tile_size: int = 64) -> list[dict]:
    """LZW sibling of synth_geotiff_scenes (r5 verdict task 2): the same
    three-scene fixture QUANTIZED to int32 (4*val is exact — quarter
    multiples; NoData -9999.0 -> -39996), written with the LZW decode
    paths a real archive hits: scene-0 LE+lzw+predictor2(horizontal
    diff, the GDAL write default)+planar2+1 overview, scene-1
    BE+lzw+predictor2+planar1 (chunky), scene-2 LE+lzw+predictor1.
    Values under the gate equal geotiff_read's px_qsum exactly (the
    int32 sample IS 4*val), so the oracle is shared."""
    variants = [{"byteorder": "<", "compress": "lzw", "planar": 2,
                 "predictor": 2, "overviews": 1},
                {"byteorder": ">", "compress": "lzw", "planar": 1,
                 "predictor": 2, "overviews": 0},
                {"byteorder": "<", "compress": "lzw", "planar": 2,
                 "predictor": 1, "overviews": 0}]
    return _synth_quant_scenes(root, variants, "lzw", tile_size)


def synth_geotiff_scenes_packbits(root: str,
                                  tile_size: int = 64) -> list[dict]:
    """PackBits sibling (TIFF 6.0 §9 byte RLE — the other classic
    real-archive compression): same int32 4*val quantized fixture,
    scene-0 LE+planar2+predictor2+overview, scene-1 BE+chunky,
    scene-2 LE+predictor1 (the catalog reader requires tiled layout, so
    the stripped PackBits path is covered by the codec roundtrip
    pytests instead). Shares geotiff_read's closed-form oracle at
    quant=1 like the LZW gate."""
    variants = [{"byteorder": "<", "compress": "packbits", "planar": 2,
                 "predictor": 2, "overviews": 1},
                {"byteorder": ">", "compress": "packbits", "planar": 1,
                 "predictor": 1, "overviews": 0},
                {"byteorder": "<", "compress": "packbits", "planar": 2,
                 "predictor": 1, "overviews": 0}]
    return _synth_quant_scenes(root, variants, "pb", tile_size)


def synth_geotiff_scenes_pred3(root: str,
                               tile_size: int = 64) -> list[dict]:
    """Floating-point-predictor sibling (TIFF TechNote 3, Predictor=3 —
    the libtiff/GDAL default for compressed float rasters): the SAME
    float64 three-scene mosaic as synth_geotiff_scenes, written with the
    byte-plane-split + stride-diff predictor under every codec it
    composes with: scene-0 LE+lzw+planar2+overview, scene-1
    BE+deflate+chunky, scene-2 LE+packbits+planar2. Values (and thus
    geotiff_read's closed-form oracle) are unchanged — the predictor
    must be byte-transparent."""
    variants = [{"byteorder": "<", "compress": "lzw", "planar": 2,
                 "predictor": 3, "overviews": 1},
                {"byteorder": ">", "compress": "deflate", "planar": 1,
                 "predictor": 3, "overviews": 0},
                {"byteorder": "<", "compress": "packbits", "planar": 2,
                 "predictor": 3, "overviews": 0}]
    return synth_geotiff_scenes(root, tile_size, variants, "-p3")


def synth_geotiff_scenes_bigtiff(root: str,
                                 tile_size: int = 64) -> list[dict]:
    """BigTIFF sibling (TIFF version 43, 8-byte offsets — the >4 GiB
    archive format real mosaics ship as): same int32 4*val quantized
    fixture, every file written with the BigTIFF wire format so the
    LONG8 IFD/segment-table parse sits under the value gate across the
    codec matrix: scene-0 LE+deflate+planar2+overview, scene-1
    BE+lzw+predictor2+chunky, scene-2 LE+uncompressed+COG layout.
    Shares geotiff_read's closed-form oracle at quant=1."""
    variants = [{"byteorder": "<", "compress": "deflate", "planar": 2,
                 "overviews": 1, "bigtiff": True},
                {"byteorder": ">", "compress": "lzw", "planar": 1,
                 "predictor": 2, "overviews": 0, "bigtiff": True},
                {"byteorder": "<", "compress": "none", "planar": 2,
                 "overviews": 0, "cog": True, "bigtiff": True}]
    return _synth_quant_scenes(root, variants, "bt", tile_size)


def synth_geotiff_scenes_lzma(root: str,
                              tile_size: int = 64) -> list[dict]:
    """LZMA sibling (compression 34925, the libtiff tif_lzma.c extension
    — per-segment .xz streams): same int32 4*val quantized fixture,
    scene-0 LE+planar2+predictor2+overview, scene-1 BE+chunky,
    scene-2 LE+COG layout. Shares geotiff_read's closed-form oracle at
    quant=1 like the LZW/PackBits gates."""
    variants = [{"byteorder": "<", "compress": "lzma", "planar": 2,
                 "predictor": 2, "overviews": 1},
                {"byteorder": ">", "compress": "lzma", "planar": 1,
                 "predictor": 1, "overviews": 0},
                {"byteorder": "<", "compress": "lzma", "planar": 2,
                 "predictor": 1, "overviews": 0, "cog": True}]
    return _synth_quant_scenes(root, variants, "xz", tile_size)


def synth_geotiff_scenes_subbyte(root: str,
                                 tile_size: int = 64) -> list[dict]:
    """Sub-byte sibling (TIFF 6.0 §4-5 bilevel / 2- and 4-bit grayscale
    — the real-world MASK band formats): the closed-form field reduced
    per scene to ``pmod(4*val, 2^bits - 1) + 1`` with NoData -> 0, so
    every data pixel is a nonzero ``bits``-wide sample and the shared
    checksum shape still pins every decoded bit and tile placement.
    Scene-0 4-bit LE+deflate+planar2+overview, scene-1 2-bit
    BE+lzw+chunky, scene-2 1-bit LE+packbits+planar2 (the bilevel mask
    case: every data pixel is exactly 1 — the footprint mask itself is
    under the gate)."""
    import os
    import tempfile

    import numpy as np

    from geotrellis_contrib_spark.sources import geotiff as GT

    variants = [{"byteorder": "<", "compress": "deflate", "planar": 2,
                 "overviews": 1, "bits": 4},
                {"byteorder": ">", "compress": "lzw", "planar": 1,
                 "overviews": 0, "bits": 2},
                {"byteorder": "<", "compress": "packbits", "planar": 2,
                 "overviews": 0, "bits": 1}]
    os.makedirs(root, exist_ok=True)
    specs = []
    for s, var in enumerate(variants):
        path = os.path.join(root, f"scene-{s}-sb.tif")
        if not os.path.exists(path):
            arr = synth_scene_mosaic(s, tile_size=tile_size)
            q4 = np.round(arr * 4.0).astype(np.int64)
            m = (1 << var["bits"]) - 1
            w = np.where(arr == -9999.0, 0, (q4 % m) + 1).astype(np.uint8)
            web = 20037508.342789244
            tsz = 2.0 * web / 64.0
            xmin = -web + (18 + s) * tsz
            ymax = web - 24 * tsz
            xmax, ymin = xmin + 4 * tsz, ymax - 4 * tsz
            fd, tmp = tempfile.mkstemp(dir=root, suffix=".part")
            os.close(fd)
            GT.write_geotiff(tmp, w, (xmin, ymin, xmax, ymax),
                             epsg=3857, nodata=0.0,
                             tile_size=tile_size, **var)
            os.replace(tmp, path)
        specs.append({"path": path, "source_id": f"scene-{s}",
                      "source_idx": s, "zoom": 6, "base_col": 18 + s,
                      "base_row": 24})
    return specs


def synth_vector_tiles(spark: SparkSession, tile_size: int = 64
                       ) -> DataFrame:
    """Vectorize-gate fixture (synth_px_tiles layout: 3 scenes x 2 bands
    x 4x4 tiles of 64): per (scene s, band b), three nested-rectangle
    figures in scene-local pixels — for k in 0..2, with
    A = 12 + 82*k + 2*s + b, B = A + 70, W = 8 + 2*k:

      * a square FRAME [A,B) x [A,B) minus its hole [A+W,B-W)^2
        (polygon with one hole ring), and
      * a SOLID square [A+W+10, B-W-10)^2 inside that hole
        (hole-nested polygon, 10-px gap).

    Every figure spans a 64-px tile boundary (82k + 12 straddles 64k +
    ~small), so ring assembly must stitch across tiles. Pixels are 1.0
    inside a figure, 0.0 outside; nodata -9999 (absent). All corners
    are closed-form in (s, b, k) — the SQL oracle rebuilds the exact
    WKT strings."""
    import numpy as np

    from geotrellis_contrib_spark.operators.pixels import pack

    T = tile_size
    rows = []
    lr = np.arange(4 * T).reshape(-1, 1)
    lc = np.arange(4 * T).reshape(1, -1)
    for s in range(3):
        for band in range(2):
            m = np.zeros((4 * T, 4 * T), dtype=bool)
            for k in range(3):
                a = 12 + 82 * k + 2 * s + band
                b = a + 70
                w = 8 + 2 * k
                outer = (lr >= a) & (lr < b) & (lc >= a) & (lc < b)
                hole = (lr >= a + w) & (lr < b - w) \
                    & (lc >= a + w) & (lc < b - w)
                solid = (lr >= a + w + 10) & (lr < b - w - 10) \
                    & (lc >= a + w + 10) & (lc < b - w - 10)
                m |= (outer & ~hole) | solid
            field = m.astype(np.float64)
            for tc in range(4):
                for tr in range(4):
                    arr = field[tr * T:(tr + 1) * T, tc * T:(tc + 1) * T]
                    rows.append((f"scene-{s}", s, 6, 18 + tc + s,
                                 24 + tr, band, "float64", -9999.0,
                                 pack(np.ascontiguousarray(arr))))
    return spark.createDataFrame(
        rows, "source_id string, source_idx int, zoom int, col bigint, "
              "row bigint, band int, dtype string, nodata double, "
              "px binary").coalesce(8)


def synth_geotiff_scenes_jpeg(root: str,
                              tile_size: int = 64) -> list[dict]:
    """Baseline-JPEG sibling (TIFF compression 7 — the lossy wire format
    real aerial/satellite archives ship): the closed-form field sampled
    at aligned 8x8-BLOCK CORNERS and broadcast across each block, then
    byte-reduced to ``(round(4*val) % 255) + 1`` with NoData -> 0. A
    block-constant image under a unit quant table decodes BIT-EXACTLY
    (only the DC coefficient survives — see jpegcodec.py), so the shared
    per-tile checksum still pins every decoded byte and tile placement
    through the full Huffman/DCT pipeline. Scene-0 LE+planar2+overview
    with the JPEGTables tag, scene-1 BE with self-contained segment
    streams (no tag), scene-2 LE+COG with restart markers every 4 MCUs."""
    import os
    import tempfile

    import numpy as np

    from geotrellis_contrib_spark.sources import geotiff as GT

    variants = [{"byteorder": "<", "overviews": 1},
                {"byteorder": ">", "jpeg_tables_tag": False},
                {"byteorder": "<", "cog": True, "jpeg_restart": 4}]
    os.makedirs(root, exist_ok=True)
    specs = []
    q1 = np.ones((8, 8), dtype=np.int64)
    for s, var in enumerate(variants):
        path = os.path.join(root, f"scene-{s}-jpg.tif")
        if not os.path.exists(path):
            arr = synth_scene_mosaic(s, tile_size=tile_size)
            corner = arr[:, ::8, ::8]
            q4 = np.round(corner * 4.0).astype(np.int64)
            wc = np.where(corner == -9999.0, 0,
                          (q4 % 255) + 1).astype(np.uint8)
            img = np.repeat(np.repeat(wc, 8, axis=1), 8, axis=2)
            web = 20037508.342789244
            tsz = 2.0 * web / 64.0
            xmin = -web + (18 + s) * tsz
            ymax = web - 24 * tsz
            xmax, ymin = xmin + 4 * tsz, ymax - 4 * tsz
            fd, tmp = tempfile.mkstemp(dir=root, suffix=".part")
            os.close(fd)
            GT.write_geotiff(tmp, img, (xmin, ymin, xmax, ymax),
                             epsg=3857, nodata=0.0, tile_size=tile_size,
                             compress="jpeg", planar=2, jpeg_quant=q1,
                             **var)
            os.replace(tmp, path)
        specs.append({"path": path, "source_id": f"scene-{s}",
                      "source_idx": s, "zoom": 6, "base_col": 18 + s,
                      "base_row": 24})
    return specs


def synth_geotiff_scenes_jpeg_ycbcr(root: str,
                                    tile_size: int = 64) -> list[dict]:
    """Interleaved-YCbCr JPEG sibling (PhotometricInterpretation=6,
    chunky 3-band — the libtiff/GDAL wire format for real RGB aerial
    archives): band-0's closed-form field at aligned 8x8-block corners,
    byte-reduced like the grayscale JPEG fixture and replicated across
    R=G=B. Grayscale-in-RGB makes the color pipeline EXACT end to end:
    Y == v and Cb == Cr == 128 precisely, chroma stays constant under
    any subsampling, and constant blocks survive the DCT bit-for-bit.
    Scene-0 4:4:4 + JPEGTables, scene-1 4:2:0 + COG + restart markers."""
    import os
    import tempfile

    import numpy as np

    from geotrellis_contrib_spark.sources import geotiff as GT

    variants = [{"jpeg_subsampling": (1, 1)},
                {"jpeg_subsampling": (2, 2), "cog": True,
                 "jpeg_restart": 3}]
    os.makedirs(root, exist_ok=True)
    specs = []
    q1 = np.ones((8, 8), dtype=np.int64)
    for s, var in enumerate(variants):
        path = os.path.join(root, f"scene-{s}-jcc.tif")
        if not os.path.exists(path):
            arr = synth_scene_mosaic(s, tile_size=tile_size)[0]  # band 0
            corner = arr[::8, ::8]
            q4 = np.round(corner * 4.0).astype(np.int64)
            wc = np.where(corner == -9999.0, 0,
                          (q4 % 255) + 1).astype(np.uint8)
            img = np.repeat(np.repeat(wc, 8, axis=0), 8, axis=1)
            rgb = np.stack([img, img, img], axis=0)
            web = 20037508.342789244
            tsz = 2.0 * web / 64.0
            xmin = -web + (18 + s) * tsz
            ymax = web - 24 * tsz
            xmax, ymin = xmin + 4 * tsz, ymax - 4 * tsz
            fd, tmp = tempfile.mkstemp(dir=root, suffix=".part")
            os.close(fd)
            GT.write_geotiff(tmp, rgb, (xmin, ymin, xmax, ymax),
                             epsg=3857, nodata=0.0, tile_size=tile_size,
                             compress="jpeg", photometric="ycbcr",
                             planar=1, jpeg_quant=q1,
                             jpeg_quant_chroma=q1, **var)
            os.replace(tmp, path)
        specs.append({"path": path, "source_id": f"scene-{s}",
                      "source_idx": s, "zoom": 6, "base_col": 18 + s,
                      "base_row": 24})
    return specs


def _synth_quant_scenes(root: str, variants: list[dict], suffix: str,
                        tile_size: int) -> list[dict]:
    import os
    import tempfile

    from geotrellis_contrib_spark.sources import geotiff as GT

    os.makedirs(root, exist_ok=True)
    specs = []
    for s, var in enumerate(variants):
        path = os.path.join(root, f"scene-{s}-{suffix}.tif")
        if not os.path.exists(path):
            import numpy as np

            arr = synth_scene_mosaic(s, tile_size=tile_size)
            q = np.round(arr * 4.0).astype(np.int32)  # exact quarters
            web = 20037508.342789244
            tsz = 2.0 * web / 64.0
            xmin = -web + (18 + s) * tsz
            ymax = web - 24 * tsz
            xmax, ymin = xmin + 4 * tsz, ymax - 4 * tsz
            fd, tmp = tempfile.mkstemp(dir=root, suffix=".part")
            os.close(fd)
            GT.write_geotiff(tmp, q, (xmin, ymin, xmax, ymax),
                             epsg=3857, nodata=-39996.0,
                             tile_size=tile_size, **var)
            os.replace(tmp, path)
        specs.append({"path": path, "source_id": f"scene-{s}",
                      "source_idx": s, "zoom": 6, "base_col": 18 + s,
                      "base_row": 24})
    return specs


def synth_friction_tiles(spark: SparkSession, tile_size: int = 64,
                         uniform: float = 1.0) -> DataFrame:
    """Uniform-friction sibling of synth_px_tiles (same 3-scene x 2-band
    x 4x4-tile layout, NO NoData holes): the cost_distance gate fixture,
    where the shortest-path metric has the octile closed form the SQL
    oracle recomputes."""
    # Generated ON EXECUTORS (r7) — see synth_px_tiles; rows identical
    # to the driver-built version.
    import pandas as pd

    t = int(tile_size)

    def gen(batches):
        import numpy as np

        from geotrellis_contrib_spark.operators.pixels import pack

        blob = pack(np.full((t, t), float(uniform)))
        for pdf in batches:
            out = []
            for i in pdf["id"]:
                i = int(i)
                s = i // 32
                tc = (i % 32) // 8
                tr = (i % 8) // 2
                band = i % 2
                out.append((f"scene-{s}", s, 6, 18 + tc + s, 24 + tr,
                            band, "float64", -9999.0, blob))
            yield pd.DataFrame(out, columns=[
                "source_id", "source_idx", "zoom", "col", "row", "band",
                "dtype", "nodata", "px"])

    return spark.range(0, 96, 1, 8).mapInPandas(
        gen, "source_id string, source_idx int, zoom int, col bigint, "
             "row bigint, band int, dtype string, nodata double, "
             "px binary")


# Designed-basin DEM fixture for the fill_sinks gates: a strictly tilted
# plane dem0 = (rg + 2*cg)/4 (no pits of its own) with two rectangular
# depressions punched per source (depth varies by source) and one NoData
# hole. The tilt makes the fill level CLOSED-FORM: every escape path
# from a basin must cross the basin's 1-px outer ring, whose minimum sits
# at the ring's top-left corner (base increases in both r and c), and
# from that corner the single row rmin-1 drains monotonically to the
# scene edge without crossing the hole or climbing (verified by the
# constants below) — so W = max(dem, L) inside a basin with
# L = (rmin-1 + 2*(cmin-1))/4, and W = dem everywhere else. Both basins
# STRADDLE tile seams, so the distributed halo-rounds path has real
# cross-tile work. All values quarter-grid => exact checksums.
DEM_BASINS = [(40, 70, 50, 90, 12.0, 3.0),      # rmin rmax cmin cmax d0 ds
              (150, 180, 130, 200, 25.0, 5.0)]
DEM_HOLE = (200, 215, 20, 35)                    # rmin rmax cmin cmax


def synth_dem_tiles(spark: SparkSession, zoom: int = 6, n_tiles: int = 4,
                    tile_size: int = 64, n_sources: int = 2,
                    base_col: int = 30, base_row: int = 40,
                    nodata: float = -9999.0,
                    partitions: int = 8) -> DataFrame:
    """Basin DEM fixture (see DEM_BASINS): n_tiles x n_tiles block per
    source on the SAME grid, single band 0."""
    # Generated ON EXECUTORS (r7) — see synth_px_tiles; rows identical
    # to the driver-built version.
    import pandas as pd

    t, n_tiles_i = int(tile_size), int(n_tiles)
    per_source = n_tiles_i * n_tiles_i
    n_rows = int(n_sources) * per_source

    def gen(batches):
        import numpy as np

        from geotrellis_contrib_spark.operators.pixels import pack

        for pdf in batches:
            out = []
            for i in pdf["id"]:
                i = int(i)
                s = i // per_source
                tc = (i % per_source) // n_tiles_i
                tr = i % n_tiles_i
                col, row = base_col + tc, base_row + tr
                rg = (np.arange(t) + tr * t).reshape(-1, 1)
                cg = (np.arange(t) + tc * t).reshape(1, -1)
                dem = (rg + 2.0 * cg) * 0.25
                for rmin, rmax, cmin, cmax, d0, ds in DEM_BASINS:
                    inb = ((rg >= rmin) & (rg <= rmax)
                           & (cg >= cmin) & (cg <= cmax))
                    dem = np.where(inb, dem - (d0 + ds * s), dem)
                hr0, hr1, hc0, hc1 = DEM_HOLE
                hole = ((rg >= hr0) & (rg <= hr1)
                        & (cg >= hc0) & (cg <= hc1))
                dem = np.where(hole, nodata, dem)
                out.append((f"dem-{s}", s, zoom, col, row, 0,
                            "float64", nodata, pack(dem)))
            yield pd.DataFrame(out, columns=[
                "source_id", "source_idx", "zoom", "col", "row", "band",
                "dtype", "nodata", "px"])

    return spark.range(0, n_rows, 1, partitions).mapInPandas(
        gen, "source_id string, source_idx int, zoom int, col bigint, "
             "row bigint, band int, dtype string, nodata double, "
             "px binary")


def synth_stream_edges() -> list[tuple[int, int]]:
    """Deterministic dendritic stream-LINK fixture (the NHDPlus-style
    vector flow table: one (child, parent) row per link, child flows
    INTO parent) with known Strahler structure covering every rule:

    - perfect-binary junction skeleton 1..15 with junction 6 PRUNED to
      a leaf (so junction 3 sees children of UNEQUAL order 1 vs 2 —
      the max-without-increment rule) and equal-order junctions
      elsewhere (the +1 tie rule);
    - a chain of (j % 3) + 1 unary nodes (ids 1000*j + i) between each
      junction j and its parent j//2 — order is CONSTANT along chains
      (the contraction the distributed path exploits);
    - side-leaf tributaries (ids 2_000_000 + chain id) on the chains
      of junctions {2, 3, 4, 5, 7} — every such junction's order is
      >= 2 BY CONSTRUCTION, so the order-1 leaf joins a higher-order
      chain cell and must NOT increment it.

    Expected orders are hand-derivable: root 1 -> 3, junction 2 -> 3,
    junctions 3, 4, 5, 7 -> 2, everything else 1."""
    pruned = {6}

    def anc_pruned(j: int) -> bool:
        j //= 2
        while j:
            if j in pruned:
                return True
            j //= 2
        return False

    exists = [j for j in range(1, 16) if not anc_pruned(j)]
    side_ok = {2, 3, 4, 5, 7}
    edges = []
    for j in exists:
        if j == 1:
            continue
        chain = [1000 * j + i for i in range(1, (j % 3) + 2)]
        prev = j
        for v in chain:
            edges.append((prev, v))
            prev = v
        edges.append((prev, j // 2))
        if j in side_ok:
            for v in chain:
                edges.append((2_000_000 + v, v))
    return edges


def synth_core_edges() -> list[tuple[int, int]]:
    """Deterministic graph with KNOWN k-core structure: a 6-clique
    (coreness 5), an 8-ring (coreness 2) bridged to the clique, a
    4-path with leaf fans (coreness 1) hanging off the ring, and two
    triangles sharing a vertex (coreness 2) as a separate component.
    Bridges don't lift coreness — the peeling removes them at their
    weaker side's level."""
    edges = []
    for a in range(6):
        for b in range(a + 1, 6):
            edges.append((a, b))                      # clique K6
    ring = list(range(10, 18))
    for i, v in enumerate(ring):
        edges.append((v, ring[(i + 1) % len(ring)]))  # 8-ring
    edges.append((0, 10))                             # bridge
    edges.append((10, 20))                            # ring -> path
    edges += [(20, 21), (21, 22), (22, 23)]           # path
    edges += [(21, 30), (21, 31), (22, 32)]           # leaf fans
    edges += [(40, 41), (41, 42), (40, 42),           # triangle A
              (42, 43), (43, 44), (42, 44)]           # triangle B
    return edges
