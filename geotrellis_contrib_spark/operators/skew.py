"""Skew handling: per-cell histogram sampling -> adaptive salting.

BASELINE.json north_star: "Skew is handled by per-cell histogram sampling
feeding adaptive salting and repartitionByRange on (s2_cell, doc_id)".

Urban hot cells concentrate documents (the synthetic corpus deliberately puts
30% of anchors in one city cluster). Three layers of defense, outermost
first:

  1. AQE skew-join splitting (`spark.sql.adaptive.skewJoin.enabled`) — on by
     default in the engine session; handles sort-merge joins at runtime.
  2. Explicit conjugate salting (this module) for broadcast/hash joins AQE
     can't split: the fact side appends ``salt = doc_id % k(cell)``; the
     dimension side explodes to all k(cell) salt replicas; both sides pack
     (cell, salt) into ONE long key (keeping the LongHashedRelation fast
     path; BENCH.md).
  3. ``repartition_spatial`` — range partitioning on (cell, doc_id) so
     downstream writes/sorts see balanced, locality-preserving partitions.

Salt factors are planned from a SAMPLED histogram (O(sample) driver memory,
never a full groupBy at 10^12 rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MAX_SALT = 256  # per-cell salt factor bound; keeps packed key in int64

# Salted keys strip the zoom bits (bits 58+) before packing: every engine
# join runs at ONE zoom, so (col,row) alone identifies the cell, and
# (col<<29|row)*256+salt stays in int64 for zoom <= 26 (29+z+8 <= 63).
_ROWCOL_MASK = (1 << 58) - 1


def cell_histogram(df: DataFrame, cell_col: str = "cell",
                   sample_frac: float = 0.01, seed: int = 42) -> DataFrame:
    """Approximate per-cell row counts from a Bernoulli sample (scaled up).
    One narrow sample + one small shuffle over the sampled rows only."""
    return (df.sample(fraction=sample_frac, seed=seed)
            .groupBy(cell_col)
            .agg((F.count("*") / sample_frac).cast("long").alias("est_rows")))


def plan_salts(hist: DataFrame, rows_per_task: int = 2_000_000,
               max_salt: int = MAX_SALT) -> dict[int, int]:
    """Salt factor per hot cell: ceil(est_rows / rows_per_task), clamped.
    Only cells needing salt > 1 are returned (the map stays tiny — it's
    broadcast as a literal expression)."""
    hot = (hist.filter(F.col("est_rows") > rows_per_task)
           .select("cell", F.least(
               F.ceil(F.col("est_rows") / rows_per_task), F.lit(max_salt))
               .cast("int").alias("salt")))
    return {r["cell"]: r["salt"] for r in hot.collect()}


def _salt_map_expr(salts: dict[int, int]):
    """cell -> salt factor as a literal MapType expression (no join needed)."""
    if not salts:
        return F.lit(1)
    pairs = []
    for c, s in salts.items():
        pairs.extend([F.lit(int(c)).cast("long"), F.lit(int(s))])
    m = F.create_map(*pairs)
    return F.coalesce(m[F.col("cell")], F.lit(1))


def salted_key_fact(df: DataFrame, row_key: str, salts: dict[int, int],
                    cell_col: str = "cell") -> DataFrame:
    """Fact side: packed (cell, salt) key with salt = row_key % k(cell).
    Deterministic engine arithmetic (never Spark-internal hashing), so
    results are reproducible across runs and cluster sizes."""
    k = _salt_map_expr(salts)
    salt = F.pmod(F.abs(F.col(row_key).cast("long")), k.cast("long"))
    base = F.col(cell_col).bitwiseAND(F.lit(_ROWCOL_MASK))
    return df.withColumn("salted_key", base * MAX_SALT + salt)


def salted_key_dim(df: DataFrame, salts: dict[int, int],
                   cell_col: str = "cell") -> DataFrame:
    """Dimension side: explode each row to every salt replica of its cell.
    Fan-out = salt factor, only on hot cells (tiny side)."""
    k = _salt_map_expr(salts)
    base = F.col(cell_col).bitwiseAND(F.lit(_ROWCOL_MASK))
    return (df.withColumn("_salt", F.explode(F.sequence(F.lit(0), k - 1)))
            .withColumn("salted_key", base * MAX_SALT + F.col("_salt"))
            .drop("_salt"))


def salted_join(fact: DataFrame, dim: DataFrame, salts: dict[int, int],
                row_key: str, how: str = "inner",
                broadcast_dim: bool = True) -> DataFrame:
    """Equi-join on the salted packed key. Semantically identical to joining
    on ``cell`` (every fact row meets every dim row of its cell exactly
    once), but hot cells fan across k tasks."""
    f = salted_key_fact(fact, row_key, salts)
    d = salted_key_dim(dim, salts).drop("cell")
    if broadcast_dim:
        d = F.broadcast(d)
    else:
        # caller asserts the dim is too big to broadcast (the large-large
        # case salting exists for): pin the shuffled-hash strategy so AQE
        # doesn't demote to broadcast on small test inputs — the salt fan
        # then demonstrably spreads hot cells across tasks
        d = d.hint("shuffle_hash")
    return f.join(d, "salted_key", how).drop("salted_key")


def repartition_spatial(df: DataFrame, n_partitions: int,
                        cell_col: str = "cell", id_col: str = "doc_id") -> DataFrame:
    """Range repartition on (cell, id) + in-partition sort: balanced output
    files with spatial locality (the north_star repartitionByRange), the
    right pre-write layout for the tile/doc tables."""
    return (df.repartitionByRange(n_partitions, F.col(cell_col), F.col(id_col))
            .sortWithinPartitions(cell_col, id_col))


def quadtree_assign(pts: DataFrame, cap: int = 16, zmin: int = 4,
                    zmax: int = 10, lon_col: str = "lon",
                    lat_col: str = "lat",
                    id_col: str = "doc_id") -> DataFrame:
    """ADAPTIVE QUADTREE partitioning — the classic density-adaptive
    spatial index (split every cell holding more than ``cap`` points
    until it fits or ``zmax`` is reached): each point is assigned the
    SHALLOWEST web-mercator zoom whose cell holds <= ``cap`` points
    (cell counts are monotone non-increasing with depth, so "first
    qualifying level" IS the quadtree-leaf rule), or ``zmax`` when
    even the deepest cell is still hot (the hot-cell residue the
    salting layers above absorb). Returns (id, zoom, cell, n_in_cell).

    Plan shape — the iteration is DISSOLVED into one declarative plan:
    points explode to their (bounded, zmax-zmin+1) level keys, counts
    are ONE map-side-combined shuffle on (zoom, cell), the join back
    rides the same key, and the per-point level choice is a struct-min
    aggregate. No loop, no driver round-trips, no collect — Catalyst
    sees the whole thing."""
    from geotrellis_contrib_spark.functions import cells as C

    zooms = list(range(int(zmin), int(zmax) + 1))
    base = pts.select(F.col(id_col).alias("id"),
                      F.col(lon_col).alias("lon"),
                      F.col(lat_col).alias("lat"))
    lv = base.withColumn("zoom", F.explode(F.array(
        *[F.lit(z) for z in zooms])))
    keyed = lv.select(
        "id", "zoom",
        C.cell_id(F.col("zoom"), C.tile_col(F.col("lon"), F.col("zoom")),
                  C.tile_row(F.col("lat"), F.col("zoom"))).alias("cell"))
    cnt = keyed.groupBy("zoom", "cell").agg(
        F.count(F.lit(1)).alias("n_in_cell"))
    scored = (keyed.join(cnt, ["zoom", "cell"])
              .withColumn("lvl", F.when(
                  F.col("n_in_cell") <= int(cap),
                  F.col("zoom")).otherwise(F.lit(int(zmax)))))
    # tie-break (lvl, zmax - zoom): when NO level qualifies every row
    # ties at lvl = zmax, and the deepest row must win so the returned
    # cell is the zmax cell, not the shallowest one
    best = scored.groupBy("id").agg(
        F.min(F.struct(F.col("lvl"),
                       (F.lit(int(zmax)) - F.col("zoom")).alias("inv"),
                       F.col("cell"),
                       F.col("n_in_cell"))).alias("t"))
    return best.select(
        "id", F.col("t.lvl").cast("int").alias("zoom"),
        F.col("t.cell").alias("cell"),
        F.col("t.n_in_cell").alias("n_in_cell"))
