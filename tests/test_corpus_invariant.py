"""Interleaved-corpus generator + span-sequence invariant (BASELINE input_hint:
per-row invariant vs the reference — (kind, text, media_ref, order) equality)."""

import pytest
from pyspark.errors import PySparkException
from pyspark.sql import functions as F

from geotrellis_contrib_spark import corpus


@pytest.fixture(scope="module")
def docs(spark):
    return corpus.synth_docs(spark, 2000, partitions=8).cache()


def test_schema_matches_input_hint(docs):
    assert docs.schema.simpleString() == (
        "struct<doc_id:string,spans:array<struct<"
        "kind:string,text:string,media_ref:string,offset:int>>>"
    )


def test_deterministic_across_partitionings(spark, docs):
    other = corpus.synth_docs(spark, 2000, partitions=3)
    a = docs.orderBy("doc_id").collect()
    b = other.orderBy("doc_id").collect()
    assert a == b  # byte-stable regardless of parallelism


def test_span_layout(docs):
    row = docs.filter(F.col("doc_id") == "doc-000000000000").first()
    kinds = [s["kind"] for s in row["spans"]]
    assert kinds == ["text", "geo", "media", "media"]
    offsets = [s["offset"] for s in row["spans"]]
    assert offsets == sorted(offsets)  # strictly increasing interleave
    # ~2% docs miss the geo span (doc_id % 50 == 7)
    no_geo = docs.filter(F.col("doc_id") == "doc-000000000007").first()
    assert [s["kind"] for s in no_geo["spans"]] == ["text", "media", "media"]


def test_extract_anchors_and_media(docs):
    anchors = corpus.extract_anchors(docs)
    n = anchors.count()
    assert n == 2000 - 2000 // 50  # one anchor per doc except the 2% without
    assert anchors.filter(F.col("lon").isNull() | F.col("lat").isNull()).count() == 0
    hot = anchors.filter((F.col("lon") >= -74.25) & (F.col("lon") < -73.75)
                         & (F.col("lat") >= 40.45) & (F.col("lat") < 40.95)).count()
    assert abs(hot / n - 0.3) < 0.03  # the deliberate skew
    media = corpus.extract_media(docs)
    assert media.count() == 2000 * 2
    assert media.filter(F.col("media_ref").startswith("media://")).count() == 2000 * 2


def test_span_invariant_through_pipeline(spark, docs):
    """Run the full flagship pipeline (extract -> spatial join -> tiles ->
    rasterize) plus a shuffle of the doc table itself; the doc table's spans
    must be untouched."""
    from geotrellis_contrib_spark.operators import spatial_join as sj
    from geotrellis_contrib_spark.operators import tiling

    anchors = corpus.extract_anchors(docs)
    boxes = spark.createDataFrame(
        [("hot", -74.25, 40.45, -73.75, 40.95), ("side", -10.0, -10.0, 10.0, 10.0)],
        "poly_id string, xmin double, ymin double, xmax double, ymax double")
    hits = sj.pip_join_boxes(anchors, boxes, zoom=6)
    tiles = tiling.assign_tiles(hits, [10, 12])
    assert tiles.count() > 0

    # docs round-trip through a repartition+shuffle and a parquet write
    shuffled = docs.repartition(5, "doc_id").sortWithinPartitions("doc_id")
    corpus.assert_span_invariant(docs, shuffled)

    import tempfile
    with tempfile.TemporaryDirectory() as d:
        shuffled.write.mode("overwrite").parquet(f"{d}/docs")
        back = spark.read.parquet(f"{d}/docs")
        corpus.assert_span_invariant(docs, back)

    # and the invariant check itself catches violations
    mutated = docs.withColumn(
        "spans",
        F.when(F.col("doc_id") == "doc-000000000003",
               F.slice("spans", 1, 2)).otherwise(F.col("spans")))
    with pytest.raises(AssertionError):
        corpus.assert_span_invariant(docs, mutated)


# --- single-pass extraction vs the posexplode-the-struct formulation ---------

SPAN_DOCS_SCHEMA = ("doc_id string, "
                    "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>")


def _span(kind, text="", media_ref="", offset=0):
    return (kind, text, media_ref, offset)


# each row is one edge case of the span layout; every one parses under ANSI
EDGE_DOCS = [
    ("two-geo", [_span("text", "a b"), _span("geo", "1.5,2.5", offset=1),
                 _span("media", media_ref="m://0", offset=2),
                 _span("geo", "-3,4e1", offset=3)]),
    ("no-geo", [_span("text", "a"), _span("media", media_ref="m://1", offset=1)]),
    ("empty", []),
    ("null-spans", None),
    ("null-element", [None, _span("geo", "5,6", offset=1),
                      _span("media", media_ref=None, offset=2)]),
    ("null-text", [_span("geo", None)]),
    ("three-fields", [_span("geo", "1,2,3")]),
]
# ANSI raises on these (no second field; a non-numeric field)
RAISING_TEXTS = ["7.5", "abc,1"]


def _reference_anchors(docs):
    """Reference formulation: posexplode the whole span struct."""
    s = docs.select("doc_id", F.posexplode("spans").alias("span_idx", "span"))
    parts = F.split(F.col("span.text"), ",")
    return s.filter(F.col("span.kind") == "geo").select(
        "doc_id", "span_idx",
        F.element_at(parts, 1).cast("double").alias("lon"),
        F.element_at(parts, 2).cast("double").alias("lat"))


def _reference_media(docs):
    s = docs.select("doc_id", F.posexplode("spans").alias("span_idx", "span"))
    return s.filter(F.col("span.kind") == "media") \
            .select("doc_id", "span_idx", F.col("span.media_ref").alias("media_ref"))


@pytest.fixture()
def ansi(spark, request):
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", request.param)
    yield request.param
    spark.conf.set("spark.sql.ansi.enabled", prev)


def _rows(df):
    return sorted(df.collect(), key=lambda r: (r["doc_id"], r["span_idx"]))


@pytest.mark.parametrize("ansi", ["true", "false"], indirect=True)
def test_extract_matches_reference_on_edge_cases(spark, ansi):
    want = {("two-geo", 1): (1.5, 2.5), ("two-geo", 3): (-3.0, 40.0),
            ("null-element", 1): (5.0, 6.0), ("null-text", 0): (None, None),
            ("three-fields", 0): (1.0, 2.0)}
    rows = list(EDGE_DOCS)
    if ansi == "false":  # without ANSI the unparsable fields become NULL
        rows += [("bad-" + t, [_span("geo", t)]) for t in RAISING_TEXTS]
        want.update({("bad-7.5", 0): (7.5, None), ("bad-abc,1", 0): (None, 1.0)})
    docs = spark.createDataFrame(rows, SPAN_DOCS_SCHEMA)
    for new, ref in ((corpus.extract_anchors, _reference_anchors),
                     (corpus.extract_media, _reference_media)):
        assert new(docs).schema == ref(docs).schema
        assert _rows(new(docs)) == _rows(ref(docs))
    got = {(r["doc_id"], r["span_idx"]): (r["lon"], r["lat"])
           for r in corpus.extract_anchors(docs).collect()}
    assert got == want


@pytest.mark.parametrize("ansi", ["true"], indirect=True)
@pytest.mark.parametrize("text", RAISING_TEXTS)
def test_extract_anchors_raises_like_reference(spark, ansi, text):
    docs = spark.createDataFrame([("bad", [_span("text", "x"), _span("geo", text, offset=1)])],
                                 SPAN_DOCS_SCHEMA)
    conditions = []
    for fn in (_reference_anchors, corpus.extract_anchors):
        with pytest.raises(PySparkException) as err:
            fn(docs).collect()
        conditions.append((type(err.value), err.value.getCondition()))
    assert conditions[0] == conditions[1], conditions


def test_anchor_coordinates_are_the_corpus_arithmetic(docs):
    """Every anchor's lon/lat equals synth_docs' closed form bit for bit
    (the double -> string -> double round trip through the span text is
    exact)."""
    got = {int(r["doc_id"][4:]): (r["span_idx"], r["lon"], r["lat"])
           for r in corpus.extract_anchors(docs).collect()}
    want = {}
    for d in range(2000):
        if d % corpus.NULL_MOD == 7:
            continue
        u = ((d * 9973 + 12345) % 100000) / 100000.0
        v = ((d * 7919 + 54321) % 100000) / 100000.0
        hot = d % corpus.HOT_FRAC_MOD < 3
        lon = u * 0.5 + -74.25 if hot else u * 360.0 + -180.0
        lat = v * 0.5 + 40.45 if hot else v * 120.0 + -60.0
        want[d] = (1, lon, lat)
    assert got == want
