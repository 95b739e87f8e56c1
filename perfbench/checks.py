"""Output checks, run in DuckDB outside every timed region.

A result matches when its row count and its order-free hash agree with the
reference: the multiset sum of DuckDB ``hash()`` over the name-sorted columns
cast to VARCHAR, the same value form ``jobs/verify_sf.py`` compares."""

from __future__ import annotations

import duckdb

from geotrellis_contrib_spark import derive
from geotrellis_contrib_spark.functions import cells as C

from perfbench.paths import DATA_DIR

TILE_ZOOM = 12   # the zoom the pipeline assigns tiles at


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads = 2")
    for t in derive.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{DATA_DIR}/{t}.parquet')")
    return con


def _fingerprint(con, relation: str, cols: list[str]) -> tuple[int, int]:
    args = ", ".join(f'CAST("{c}" AS VARCHAR)' for c in cols)
    n, h = con.execute(f"SELECT COUNT(*), COALESCE(SUM(CAST(hash({args}) AS HUGEINT)), 0) "
                       f"FROM {relation}").fetchone()
    return int(n), int(h)


def reference(con, reference_sql: str) -> tuple[list[str], tuple[int, int]]:
    """The name-sorted columns of ``reference_sql`` and its fingerprint."""
    con.execute(f"CREATE OR REPLACE TEMP TABLE ref AS ({reference_sql})")
    cols = sorted(r[0] for r in con.execute("DESCRIBE ref").fetchall())
    return cols, _fingerprint(con, "ref", cols)


def fingerprint(con, engine_parquet: str, cols: list[str]) -> tuple[int, int]:
    """The fingerprint of the engine's parquet output over ``cols``."""
    return _fingerprint(con, f"(SELECT * FROM read_parquet('{engine_parquet}/*.parquet'))", cols)


def matches(con, engine_parquet: str, reference_sql: str) -> bool:
    """True when the engine's parquet output equals ``reference_sql``."""
    cols, ref = reference(con, reference_sql)
    return fingerprint(con, engine_parquet, cols) == ref


def tile_counts_sql(offset: int, n_docs: int, with_cell: bool = False) -> str:
    """DuckDB replay of the pipeline: the corpus anchor arithmetic for doc ids
    [offset, offset + n_docs), the half-open box test, the TILE_ZOOM tile
    math, then per-tile counts (``with_cell`` adds the checkpoint stage key)."""
    zoom = TILE_ZOOM
    u = "(CAST((id * 9973 + 12345) % 100000 AS DOUBLE) / 100000.0)"
    v = "(CAST((id * 7919 + 54321) % 100000 AS DOUBLE) / 100000.0)"
    col, row = C.sql_tile_col("lon", zoom), C.sql_tile_row("lat", zoom)
    cell = (f",\n       CAST({zoom} AS BIGINT) * 288230376151711744 + col * 536870912 + row AS cell"
            if with_cell else "")
    return f"""
{derive.cte('polygon_boxes')},
a AS (
  SELECT CASE WHEN id % 10 < 3 THEN -74.25 + {u} * 0.5 ELSE -180.0 + {u} * 360.0 END AS lon,
         CASE WHEN id % 10 < 3 THEN 40.45 + {v} * 0.5 ELSE -60.0 + {v} * 120.0 END AS lat
  FROM range({offset}, {offset + n_docs}) t(id)
  WHERE id % 50 <> 7),
t AS (
  SELECT p.poly_id, {col} AS col, {row} AS row
  FROM a JOIN polygon_boxes p
    ON a.lon >= p.xmin AND a.lon < p.xmax AND a.lat >= p.ymin AND a.lat < p.ymax)
SELECT poly_id, CAST({zoom} AS INT) AS zoom, col, row,
       CAST(COUNT(*) AS BIGINT) AS n_docs{cell}
FROM t GROUP BY poly_id, col, row
"""


def watermark_rows(con, metadata_dir: str, job_id: str) -> list[int]:
    """Bucket ids of the committed watermark rows of ``job_id``, one per row."""
    return [r[0] for r in con.execute(
        f"SELECT bucket FROM read_parquet('{metadata_dir}/watermarks/*.parquet') "
        f"WHERE job_id = ? ORDER BY bucket", [job_id]).fetchall()]
