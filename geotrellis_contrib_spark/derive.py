"""Deterministic spatial/side-table derivations over the shared testdata.

The driver's correctness gate runs each engine query in Spark and its oracle
in DuckDB over the SAME parquet tables (region nation customer supplier part
orders lineitem events documents embeddings). The spatial corpus — anchor
points, media refs, polygons, query points, raster tiles, read windows — is
DERIVED from those tables with pure integer/float64 arithmetic, written once
here in the common SQL dialect both engines parse identically (CASE, %, CAST,
CONCAT, LN/TAN/COS/PI, FLOOR, LEAST/GREATEST). No randomness, no engine
built-in hash functions (their implementations differ), no external data.

Spark side: :func:`register_views` materializes each derivation as a temp
view; engine operators (DataFrame API) read from those views.
Oracle side: the same strings become CTEs via :func:`cte`.

Distribution notes (scale design):
  - anchors: 30% of docs land in one ~0.5-degree hot cluster (a "city") —
    deliberately skewed so hot-cell salting is exercised; 2% have NULL
    geometry (the Option[Point] analog,
    /root/reference/slick/src/test/.../PostgisSpec.scala:201-235).
  - media: 1..3 media_refs per doc (interleaved-corpus stand-in).
  - polygons: 25 nation-derived boxes spread world-wide + 5 region-derived
    boxes stacked on the hot cluster (guaranteed skewed join fan-in).
"""

from __future__ import annotations

from geotrellis_contrib_spark.sources import tables

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

# --- anchor points (one per document) --------------------------------------
# u, v: two decorrelated uniforms in [0,1) from doc_id via integer arithmetic.
ANCHORS_SQL = """
SELECT
  doc_id,
  CASE WHEN doc_id % 50 = 7 THEN NULL
       WHEN doc_id % 10 < 3
         THEN -74.25 + (CAST((doc_id * 9973 + 12345) % 100000 AS DOUBLE) / 100000.0) * 0.5
       ELSE -180.0 + (CAST((doc_id * 9973 + 12345) % 100000 AS DOUBLE) / 100000.0) * 360.0
  END AS lon,
  CASE WHEN doc_id % 50 = 7 THEN NULL
       WHEN doc_id % 10 < 3
         THEN 40.45 + (CAST((doc_id * 7919 + 54321) % 100000 AS DOUBLE) / 100000.0) * 0.5
       ELSE -60.0 + (CAST((doc_id * 7919 + 54321) % 100000 AS DOUBLE) / 100000.0) * 120.0
  END AS lat,
  4326 AS srid
FROM documents
"""

# --- media spans (1..3 media_refs per doc, each with a footprint point) ----
MEDIA_SQL = """
SELECT
  d.doc_id,
  m.m AS media_idx,
  CONCAT('media://', CAST(d.doc_id AS STRING), '/', CAST(m.m AS STRING)) AS media_ref,
  -170.0 + (CAST((d.doc_id * 6151 + m.m * 769 + 31) % 100000 AS DOUBLE) / 100000.0) * 340.0 AS lon,
  -55.0 + (CAST((d.doc_id * 4423 + m.m * 557 + 17) % 100000 AS DOUBLE) / 100000.0) * 110.0 AS lat
FROM documents d
CROSS JOIN (VALUES (0), (1), (2)) AS m(m)
WHERE m.m <= d.doc_id % 3
"""

# --- polygons: 25 world-spread nation boxes + 5 hot-cluster region boxes ---
POLYGONS_SQL = """
SELECT
  CONCAT('poly-n', CAST(n_nationkey AS STRING)) AS poly_id,
  -178.0 + CAST((n_nationkey * 67 + 13) % 340 AS DOUBLE) AS cx,
  -58.0 + CAST((n_nationkey * 43 + 7) % 112 AS DOUBLE) AS cy,
  1.0 + CAST(n_nationkey % 5 AS DOUBLE) * 2.0 AS half
FROM nation
UNION ALL
SELECT
  CONCAT('poly-r', CAST(r_regionkey AS STRING)) AS poly_id,
  -74.1 + CAST(r_regionkey AS DOUBLE) * 0.06 AS cx,
  40.6 + CAST(r_regionkey AS DOUBLE) * 0.05 AS cy,
  0.1 + CAST(r_regionkey % 3 AS DOUBLE) * 0.08 AS half
FROM region
"""

POLYGON_BOXES_SQL = f"""
SELECT poly_id, cx - half AS xmin, cy - half AS ymin, cx + half AS xmax, cy + half AS ymax
FROM ({POLYGONS_SQL.strip()}) polys
"""

# --- kNN query points (inside the hot cluster so neighbors exist) ----------
QUERY_POINTS_SQL = """
SELECT
  s_suppkey AS query_id,
  -74.2 + (CAST((s_suppkey * 29 + 3) % 100 AS DOUBLE) / 100.0) * 0.6 AS qlon,
  40.45 + (CAST((s_suppkey * 37 + 11) % 100 AS DOUBLE) / 100.0) * 0.5 AS qlat
FROM supplier
"""

# --- raster tiles (zoom-6 synthetic scenes; 3 overlapping sources) ---------
# value is exact-decimal (quantity is integral in the testdata) so SUM/MIN/MAX
# are bit-stable across engines. 7% of cells are NoData (NULL) to exercise
# first-non-NoData mosaic merge semantics (MosaicRasterSource.scala:121-131).
TILES_SQL = """
SELECT
  CONCAT('scene-', CAST(l_suppkey % 3 AS STRING)) AS source_id,
  CAST(l_suppkey % 3 AS INT) AS source_idx,
  6 AS zoom,
  CAST(l_orderkey % 64 AS BIGINT) AS col,
  CAST(l_partkey % 64 AS BIGINT) AS row,
  CAST(l_linenumber % 2 AS INT) AS band,
  CASE WHEN (l_orderkey * 7 + l_partkey * 3 + l_linenumber) % 100 < 7 THEN NULL
       ELSE l_quantity END AS val
FROM lineitem
"""

# --- duplicated corpus (dedup fixtures) -------------------------------------
# 40% of docs take the canonical text of doc (doc_id % 97) -> exact-dup
# groups; 20% take it with a suffix token -> near-dups; rest keep their own.
DUP_DOCS_SQL = """
SELECT
  d.doc_id,
  CASE WHEN d.doc_id % 5 < 2 THEN c.text
       WHEN d.doc_id % 5 = 2 THEN CONCAT(c.text, ' trailing near dup marker')
       ELSE d.text END AS text,
  d.lang
FROM documents d JOIN documents c ON c.doc_id = d.doc_id % 97
"""

# --- read-window requests (batched multi-window read fixture) --------------
WINDOWS_SQL = """
SELECT
  p_partkey AS win_id,
  -178.0 + CAST((p_partkey * 53 + 5) % 340 AS DOUBLE) AS xmin,
  -58.0 + CAST((p_partkey * 61 + 9) % 110 AS DOUBLE) AS ymin,
  -178.0 + CAST((p_partkey * 53 + 5) % 340 AS DOUBLE)
    + 2.0 + CAST(p_size % 10 AS DOUBLE) AS xmax,
  -58.0 + CAST((p_partkey * 61 + 9) % 110 AS DOUBLE)
    + 2.0 + CAST(p_size % 7 AS DOUBLE) AS ymax
FROM part
"""

DERIVED = {
    "anchors": ANCHORS_SQL,
    "media": MEDIA_SQL,
    "polygon_boxes": POLYGON_BOXES_SQL,
    "query_points": QUERY_POINTS_SQL,
    "tiles": TILES_SQL,
    "windows": WINDOWS_SQL,
    "dup_docs": DUP_DOCS_SQL,
}


def cte(*names: str) -> str:
    """WITH-clause prefix for oracle SQL using the named derived tables."""
    parts = [f"{n} AS ({DERIVED[n].strip()})" for n in names]
    return "WITH " + ",\n".join(parts)


def load_base_views(spark, sf_dir: str) -> None:
    """Register the shared parquet tables as temp views (Catalyst prunes
    columns/partitions from these scans; no caching — scans are streamed)."""
    for t in TABLES:
        tables.read_parquet(spark, f"{sf_dir}/{t}.parquet").createOrReplaceTempView(t)


_REGISTERED: dict[str, tuple] = {}  # applicationId -> (sf_dir, names)


def register_views(spark, sf_dir: str, names=tuple(DERIVED)) -> None:
    """Register base + derived temp views on the Spark side. Derived views
    are lazy logical plans (zero materialization cost until queried).
    Memoized on the CURRENT (sf_dir, names) per session — temp views are
    session-global, so switching sf_dir re-registers (and invalidates the
    memo), while repeated same-dir calls (one per driver query) are free."""
    app = spark.sparkContext.applicationId
    state = (sf_dir, tuple(names))
    if _REGISTERED.get(app) == state:
        return
    load_base_views(spark, sf_dir)
    for n in names:
        spark.sql(DERIVED[n]).createOrReplaceTempView(n)
    _REGISTERED[app] = state
