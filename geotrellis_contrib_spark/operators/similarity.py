"""Embedding similarity search over an ``array<float>`` column.

  - brute-force cosine top-k (the correctness baseline): cross join of a
    small query set against the corpus, dot/norm computed with JVM
    expressions (NO Python; Arrow never engaged);
  - random-hyperplane LSH bucketing (the scale path): L independent tables
    of P deterministic arithmetic hyperplanes -> sign bits -> bucket key;
    near-dup candidate pairs come from equi-joins on (table, bucket) and a
    union across tables instead of all pairs (multi-table banding: recall
    1-(1-p^P)^L instead of a single table's p^P);
  - IVF posting lists with a FIXED centroid budget K (the broadcast stays
    constant-size no matter the corpus size — at 10^12 vectors the index
    build is still one scan against a K-row broadcast).

Float discipline: elements are cast to float64 BEFORE multiplication and
accumulated by an ordered left fold — the exact op sequence DuckDB's
list_dot_product/list_cosine_similarity use, so oracles match bitwise
(verified in tests).

Expression-build discipline (round-3 fix): the unrolled 64-term folds used
to be assembled Column-by-Column through the py4j bridge — thousands of
driver IPC round-trips per query (~6.5s quiet, 15-20x worse when the driver
host is contended; this was the whole embed-tier blowup in BENCH_r02). They
are now rendered as ONE SQL string handed to a single ``F.expr`` call: the
JVM parses the text in milliseconds and the resulting expression tree — and
therefore every result bit — is identical (left-associated ``+`` chain ==
ordered left fold).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from geotrellis_contrib_spark.util import ensure_min_parallelism

_PLANE_MOD = 10007
# multi-table defaults: 4 tables x 12 planes = 4096 buckets per table --
# high-cardinality keys (no quadratic bucket blocks) with recall
# 1-(1-p^12)^4 for collision prob p = 1 - theta/pi
N_TABLES = 4
PLANES_PER_TABLE = 12


def plane_weights(plane: int, dims: int) -> list[float]:
    """Deterministic VERY SPARSE random-projection hyperplane (Achlioptas
    2001; Li/Hastie/Church 2006): w_i in {-1, 0, +1} with density
    1/8 (= 1/sqrt(64)) from the engine-owned arithmetic stream
    m = (plane*2971 + i*6011 + 13) % 10007; w = +1 if m%16==0, -1 if
    m%16==1, else 0. Sign-LSH quality is preserved at ~1/8 the per-row
    compute of a dense plane — the sum is 8 adds, not 64 fused
    multiply-adds, which keeps 48-plane multi-table bucketing inside
    whole-stage codegen limits AND is the 10^12-vector hot-path cost model.
    Pure arithmetic — reproducible in SQL for the oracle; skipping the
    zero terms / negating for -1 is bit-identical to DuckDB's full
    LIST_DOT_PRODUCT fold over the same list (x*0.0 adds are IEEE no-ops,
    x*-1.0 is exact negation)."""
    ws = []
    for i in range(dims):
        m = (plane * 2971 + i * 6011 + 13) % _PLANE_MOD
        r = m % 16
        ws.append(1.0 if r == 0 else (-1.0 if r == 1 else 0.0))
    return ws


# --------------------------------------------------------------------------
# SQL-text expression builders (single F.expr call; left-fold order)
# --------------------------------------------------------------------------

def _elem(col: str, i: int) -> str:
    return f"CAST(element_at({col}, {i}) AS DOUBLE)"


def _dlit(x: float) -> str:
    """Shortest round-trip double literal (repr round-trips in Java too)."""
    return f"CAST('{x!r}' AS DOUBLE)"


def sql_dot(a: str, b: str, dims: int) -> str:
    """Left-associated dot-product chain over column NAMES (bit-matches
    DuckDB list_dot_product's ordered fold)."""
    return " + ".join(f"{_elem(a, i)} * {_elem(b, i)}" for i in range(1, dims + 1))


def sql_norm2(a: str, dims: int) -> str:
    return " + ".join(f"{_elem(a, i)} * {_elem(a, i)}" for i in range(1, dims + 1))


def sql_dot_weights(a: str, ws: list[float]) -> str:
    """dot(a, literal weight vector). Terms with weight 0.0 are skipped and
    weight ±1.0 renders as ±element — bit-identical to the full ordered
    fold (x + v*0.0 == x; v*-1.0 == -v; v*1.0 == v, all exact in IEEE),
    so the DuckDB oracle can keep using LIST_DOT_PRODUCT over the complete
    64-element list. General weights still render as explicit products."""
    terms = []
    for i, w in enumerate(ws):
        if w == 0.0:
            continue
        if w == 1.0:
            terms.append(_elem(a, i + 1))
        elif w == -1.0:
            terms.append(f"(- {_elem(a, i + 1)})")
        else:
            terms.append(f"{_elem(a, i + 1)} * {_dlit(w)}")
    if not terms:
        return "CAST(0.0 AS DOUBLE)"
    return " + ".join(terms)


def dot_col(a: str, b: str, dims: int) -> Column:
    return F.expr(sql_dot(a, b, dims))


def norm_col(a: str, dims: int) -> Column:
    """sqrt(|a|^2) as one parsed expression."""
    return F.expr(f"SQRT({sql_norm2(a, dims)})")


def cosine_cols(a: str, b: str, dims: int) -> Column:
    """cos = dot / (sqrt(|a|^2) * sqrt(|b|^2)) — the list_cosine_similarity
    op order, for bitwise oracle parity. ``a``/``b`` are column names."""
    return F.expr(f"({sql_dot(a, b, dims)}) / "
                  f"(SQRT({sql_norm2(a, dims)}) * SQRT({sql_norm2(b, dims)}))")


def cosine_topk(corpus: DataFrame, queries: DataFrame, k: int,
                dims: int | None = None,
                id_col="vec_id", vec_col="embedding",
                qid_col="query_id", qvec_col="qvec") -> DataFrame:
    """Exact top-k cosine neighbors per query (brute force baseline).

    Queries are broadcast (small side); the corpus is scanned once — at
    cluster scale this is one pass over the fact table per query batch,
    the right baseline to measure LSH variants against. Norms are
    precomputed once per VECTOR (not per pair).
    Output: (query_id, vec_id, rank, cos)."""
    q = queries.select(F.col(qid_col).alias("query_id"), F.col(qvec_col).alias("qvec")) \
               .withColumn("qn", norm_col("qvec", dims))
    v = corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec")) \
              .withColumn("vn", norm_col("vec", dims))
    # the cross join fans out |queries|x per corpus row: spread a
    # small-on-disk corpus scan across cores (no-op at real scale)
    v = ensure_min_parallelism(v)
    cand = v.crossJoin(F.broadcast(q)).filter(F.col("vec_id") != F.col("query_id"))
    cand = cand.withColumn(
        "cos", dot_col("qvec", "vec", dims) / (F.col("qn") * F.col("vn")))
    # project the arrays AWAY before the rank window: the top-k shuffle then
    # moves (query_id, vec_id, cos) scalars, not 64-float embeddings
    cand = cand.select("query_id", "vec_id", "cos")
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    return (cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "vec_id", F.col("rank").cast("int").alias("rank"), "cos"))


def lsh_tables(corpus: DataFrame, dims: int,
               n_tables: int = N_TABLES, n_planes: int = PLANES_PER_TABLE,
               id_col="vec_id", vec_col="embedding") -> DataFrame:
    """Multi-table LSH: L independent tables of P planes each (table t uses
    planes t*P .. t*P+P-1). Output: (vec_id, table_id, bucket) — one row per
    (vector, table); the downstream join key packs to the single long
    ``table_id * 2^P + bucket``, so bucket cardinality is L * 2^P (4096 per
    table at the defaults — no quadratic blocks at scale).

    Codegen discipline: the L*P plane dots are projected as individual
    columns BELOW the explode — a Generate is a barrier CollapseProject
    never crosses, so each 64-term dot compiles as its own small method
    (one 3072-term expression inside the explode array would blow the 64KB
    generated-method limit and silently fall back to interpreted eval —
    measured 13s vs ~1s on 2000 rows)."""
    dots = corpus.select(
        F.col(id_col).alias("vec_id"),
        *[F.expr(sql_dot_weights(vec_col, plane_weights(t * n_planes + p, dims)))
          .alias(f"_d_{t}_{p}")
          for t in range(n_tables) for p in range(n_planes)])
    entries = ", ".join(
        "named_struct('table_id', CAST({t} AS INT), 'bucket', {bucket})".format(
            t=t,
            bucket=" + ".join(
                f"(CASE WHEN _d_{t}_{p} >= 0 THEN CAST({1 << p} AS BIGINT) "
                f"ELSE CAST(0 AS BIGINT) END)"
                for p in range(n_planes)))
        for t in range(n_tables))
    tb = F.explode(F.expr(f"array({entries})")).alias("tb")
    return (dots.select("vec_id", tb)
            .select("vec_id", F.col("tb.table_id").alias("table_id"),
                    F.col("tb.bucket").alias("bucket")))


def lsh_near_pairs(corpus: DataFrame, dims: int, min_cos: float = 0.8,
                   n_tables: int = N_TABLES, n_planes: int = PLANES_PER_TABLE,
                   id_col="vec_id", vec_col="embedding") -> DataFrame:
    """Near-duplicate embedding pairs: candidates = union over the L tables
    of the (table_id, bucket) equi-join, dedup to distinct (a, b), then one
    exact cosine refine. Output: (vec_a, vec_b, cos).

    Scale shape: the bucket self-join moves SCALARS only (ids + the packed
    long key); embeddings are joined back per-id for the refine — arrays
    never ride through the candidate shuffle."""
    b = lsh_tables(corpus, dims, n_tables, n_planes, id_col, vec_col) \
        .select("vec_id",
                (F.col("table_id").cast("long") * (1 << n_planes)
                 + F.col("bucket")).alias("tkey"))
    left = b.select(F.col("vec_id").alias("vec_a"), "tkey")
    right = b.select(F.col("vec_id").alias("vec_b"), "tkey")
    pairs = (left.join(right, "tkey")
             .filter(F.col("vec_a") < F.col("vec_b"))
             .select("vec_a", "vec_b").distinct())
    v = corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec")) \
              .withColumn("nrm", norm_col("vec", dims))
    va = v.select(F.col("vec_id").alias("vec_a"), F.col("vec").alias("va"),
                  F.col("nrm").alias("na"))
    vb = v.select(F.col("vec_id").alias("vec_b"), F.col("vec").alias("vb"),
                  F.col("nrm").alias("nb"))
    ref = pairs.join(va, "vec_a").join(vb, "vec_b").withColumn(
        "cos", dot_col("va", "vb", dims) / (F.col("na") * F.col("nb")))
    return ref.filter(F.col("cos") >= min_cos).select("vec_a", "vec_b", "cos")


def select_centroids(corpus: DataFrame, k: int,
                     id_col="vec_id", vec_col="embedding") -> DataFrame:
    """Fixed-budget centroid selection: the K corpus vectors with the
    smallest deterministic id-hash (Knuth multiplicative, mod 2^31) —
    one TakeOrdered pass, output size K regardless of corpus size, so the
    downstream broadcast stays constant at 10^12 vectors.
    Output: (centroid_id, cvec).

    Overflow discipline: the id is masked into 2^31 BEFORE the Knuth
    multiply, so the product stays < 2^31 * 2654435761 < 2^63 for ANY
    long id — the unmasked form silently wrapped in Spark (and errors
    under ANSI mode / DuckDB) for ids beyond ~3.5e9; the oracle SQL
    mirrors the masked arithmetic exactly."""
    h = F.pmod(F.pmod(F.col(id_col).cast("long"), F.lit(2147483648))
               * F.lit(2654435761), F.lit(2147483648))
    return (corpus.select(F.col(id_col).alias("centroid_id"),
                          F.col(vec_col).alias("cvec"), h.alias("_h"))
            .orderBy("_h", "centroid_id").limit(k).drop("_h"))


def _centroid_literals(centroids: DataFrame, cid_col="centroid_id",
                       cvec_col="cvec") -> list[tuple[int, list[float], float]]:
    """Driver-side collect of the FIXED-budget centroid table (K rows by
    construction — select_centroids — so the collect is constant-size at
    any corpus scale, like the skew salt-map). Norms are computed with
    the same left-associated ordered fold as sql_norm2 (0.0 + v1*v1 + ...
    is bit-identical — IEEE 0.0 + x == x), so literal-inlined cosines
    equal the column-side ones bit-for-bit."""
    import math

    rows = centroids.select(F.col(cid_col).alias("_id"),
                            F.col(cvec_col).alias("_v")).collect()
    out = []
    for r in rows:
        vec = [float(x) for x in r["_v"]]
        out.append((int(r["_id"]), vec,
                    math.sqrt(sum(x * x for x in vec))))
    return out


def _centroid_matrix(cents):
    """(cids_sorted_asc, C (K,dims) float64, cn (K,)) with CENTROID IDS
    ASCENDING, so np.argmax / a stable descending argsort break cosine
    ties toward the smallest centroid_id — the engine's ordering."""
    cents = sorted(cents, key=lambda t: t[0])
    cids = np.array([c[0] for c in cents], dtype=np.int64)
    C = np.array([c[1] for c in cents], dtype=np.float64)
    cn = np.array([c[2] for c in cents], dtype=np.float64)
    return cids, C, cn


def _cos_matrix(vec_series, C, cn):
    """Cosines of a batch of vectors against every centroid, as the SAME
    ordered left fold the JVM sql_dot/sql_norm2 text runs: accumulate
    dim-by-dim in index order (each += is one IEEE double multiply-add
    column), so every cosine is BIT-IDENTICAL to the Column form — the
    oracle-exactness contract survives the Arrow path."""
    V = np.stack([np.asarray(v, dtype=np.float64) for v in vec_series])
    dots = np.zeros((V.shape[0], C.shape[0]))
    nrm2 = np.zeros(V.shape[0])
    for i in range(V.shape[1]):
        dots += V[:, i:i + 1] * C[:, i][None, :]
        nrm2 += V[:, i] * V[:, i]
    vn = np.sqrt(nrm2)
    return dots / (vn[:, None] * cn[None, :]), vn


def ivf_assign(corpus: DataFrame, centroids: DataFrame,
               dims: int | None = None,
               id_col="vec_id", vec_col="embedding",
               cid_col="centroid_id", cvec_col="cvec") -> DataFrame:
    """IVF coarse quantization: assign every vector to its nearest centroid
    by cosine (deterministic tie-break on centroid_id). Output:
    (vec_id, centroid_id, cos).

    At 10^12 scale this is the index-build pass, and it is a PURE MAP:
    the fixed-K centroid table (see :func:`select_centroids`) is
    collected once and closed over an Arrow-batched mapInPandas, so every
    corpus vector computes its K cosines and argmax in-batch — no K-way
    pair fan-out, no groupBy shuffle, no broadcast build side, and no
    K*dims-term codegen class (janino chokes compiling those). One scan
    in, one row out per vector; the output range-partitioned by
    centroid_id becomes the posting-list table."""
    import pandas as pd

    cids, C, cn = _centroid_matrix(_centroid_literals(centroids, cid_col,
                                                      cvec_col))
    v = corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec"))
    v = ensure_min_parallelism(v)

    def run(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cos, _ = _cos_matrix(pdf["vec"].to_numpy(), C, cn)
            best = np.argmax(cos, axis=1)  # first max = smallest cid
            yield pd.DataFrame({
                "vec_id": pdf["vec_id"].to_numpy(),
                "centroid_id": cids[best],
                "cos": cos[np.arange(len(pdf)), best]})

    return v.mapInPandas(run, "vec_id long, centroid_id long, cos double")


def ivf_topk(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
             k: int, nprobe: int = 4, dims: int | None = None,
             id_col="vec_id", vec_col="embedding",
             qid_col="query_id", qvec_col="qvec") -> DataFrame:
    """IVF approximate top-k: probe the ``nprobe`` centroid buckets nearest
    each query, exact-rank only vectors in those buckets — the scale path
    that replaces the brute-force corpus scan with posting-list reads.
    Output: (query_id, vec_id, rank, cos); deterministic, oracle-checkable.
    """
    import pandas as pd

    cids, C, cn = _centroid_matrix(_centroid_literals(centroids))
    # corpus side: nearest centroid per row with the vector KEPT on the
    # row — the in-batch argmax makes assignment a pure map, so the old
    # K-way fan-out + groupBy + assign-join-corpus shuffles disappear
    v = corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec"))
    v = ensure_min_parallelism(v)

    def assign_run(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cos, vn = _cos_matrix(pdf["vec"].to_numpy(), C, cn)
            best = np.argmax(cos, axis=1)  # first max = smallest cid
            yield pd.DataFrame({
                "vec_id": pdf["vec_id"].to_numpy(),
                "vec": pdf["vec"].to_numpy(), "vn": vn,
                "centroid_id": cids[best]})

    assigned = v.mapInPandas(
        assign_run, "vec_id long, vec array<float>, vn double, "
                    "centroid_id long")
    # query side: top-nprobe centroids per query, also map-side — a
    # stable descending argsort of the cosine row is the old
    # (ccos desc, centroid_id asc) row_number window without its shuffle
    # (columns sit in ascending-cid order, so stability = the tie-break)
    q = queries.select(F.col(qid_col).alias("query_id"),
                       F.col(qvec_col).alias("qvec"))

    def probe_run(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cos, qn = _cos_matrix(pdf["qvec"].to_numpy(), C, cn)
            order = np.argsort(-cos, axis=1, kind="stable")[:, :int(nprobe)]
            n = order.shape[1]
            yield pd.DataFrame({
                "query_id": np.repeat(pdf["query_id"].to_numpy(), n),
                "centroid_id": cids[order].ravel(),
                "qvec": np.repeat(pdf["qvec"].to_numpy(), n),
                "qn": np.repeat(qn, n)})

    probes = q.mapInPandas(
        probe_run, "query_id long, centroid_id long, qvec array<float>, "
                   "qn double")
    cand = assigned.join(F.broadcast(probes), "centroid_id") \
                   .filter(F.col("vec_id") != F.col("query_id"))
    cand = cand.withColumn(
        "rcos", dot_col("qvec", "vec", dims) / (F.col("qn") * F.col("vn")))
    # drop the embedding arrays before the re-rank shuffle (scalars only)
    cand = cand.select("query_id", "vec_id", "rcos")
    w = Window.partitionBy("query_id").orderBy(F.col("rcos").desc(), F.col("vec_id").asc())
    return (cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "vec_id",
                    F.col("rank").cast("int").alias("rank"),
                    F.col("rcos").alias("cos")))


def sql_plane_weights_list(plane: int, dims: int) -> str:
    """DuckDB list literal twin of plane_weights (sparse {-1,0,+1} values
    rendered exactly)."""
    terms = ", ".join(repr(w) for w in plane_weights(plane, dims))
    return f"[{terms}]"


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the COMPRESSION scale path of the ANN
# family (brute-force = exact baseline, LSH = bucketed pairs, IVF =
# posting-list probe, PQ = 100TB-store compression: M small codes per
# vector instead of dims floats; Jegou/Douze/Schmid 2011)
# ---------------------------------------------------------------------------

PQ_M = 8          # subspaces (dims must divide evenly)
PQ_K = 16         # codewords per subspace -> 4-bit codes
PQ_Q = 16777216.0  # 2^24 per-subspace ADC quantization grid


def _pq_codebook(corpus: DataFrame, dims: int, k: int = PQ_K,
                 id_col="vec_id", vec_col="embedding"):
    """Shared PQ codebook: the K corpus vectors with the smallest Knuth
    id-hash (select_centroids — constant-size at any corpus scale),
    ordered by id ASC so codeword index j is deterministic; subspace m's
    codebook is the dims/M-wide slice of those K vectors. Returns
    (ids_asc, C (K, dims) float64)."""
    cents = _centroid_literals(select_centroids(corpus, k, id_col,
                                                vec_col))
    cids, C, _ = _centroid_matrix(cents)
    return cids, C


def _pq_subdists(V: np.ndarray, C: np.ndarray, m: int, sub: int):
    """Squared L2 between every row of V and every codeword on subspace
    m, accumulated DIM-BY-DIM in index order from 0.0 — bit-identical
    to the SQL left fold (0.0 + t == t in IEEE)."""
    acc = np.zeros((V.shape[0], C.shape[0]))
    for i in range(m * sub, (m + 1) * sub):
        d = V[:, i:i + 1] - C[:, i][None, :]
        acc += d * d
    return acc


def pq_encode(corpus: DataFrame, dims: int, m: int = PQ_M,
              k: int = PQ_K, id_col="vec_id",
              vec_col="embedding") -> DataFrame:
    """PQ encoder: each vector becomes M 4-bit codes (nearest codeword
    per subspace, ties to the smallest codeword index) packed into ONE
    BIGINT — sum(code_m << 4m). ONE narrow Arrow map closed over the
    constant-K codebook: zero shuffle at any corpus size; the packed
    code column is what a 100TB store persists (dims*4 bytes -> M/2).
    Output: (vec_id, pq_code)."""
    if dims % m:
        raise ValueError(f"dims={dims} not divisible by M={m}")
    if k > 16:
        raise ValueError("PQ codes are packed 4 bits each; k <= 16")
    sub = dims // m
    _, C = _pq_codebook(corpus, dims, k, id_col, vec_col)

    def run(batches):
        import pandas as pd
        for pdf in batches:
            V = np.stack([np.asarray(v, dtype=np.float64)
                          for v in pdf[vec_col]])
            packed = np.zeros(len(pdf), dtype=np.int64)
            for mm in range(m):
                acc = _pq_subdists(V, C, mm, sub)
                codes = np.argmin(acc, axis=1)  # first min = smallest j
                packed |= codes.astype(np.int64) << (4 * mm)
            yield pd.DataFrame({"vec_id": pdf[id_col].to_numpy(),
                                "pq_code": packed})

    return corpus.mapInPandas(run, "vec_id long, pq_code long")


def pq_topk(corpus: DataFrame, queries: DataFrame, dims: int,
            k: int = 10, m: int = PQ_M, kcode: int = PQ_K,
            id_col="vec_id", vec_col="embedding") -> DataFrame:
    """Asymmetric-distance (ADC) PQ search: approximate squared L2 from
    query q to vector x = sum_m dtab_m[code_m(x)] with dtab the exact
    per-subspace distances from q to each codeword. Each per-subspace
    distance quantizes to the 2^24 grid BEFORE the sum, so the ADC
    reduction is an order-free INTEGER sum (the bm25 discipline). Plan:
    encoded corpus (zero-shuffle Arrow map) broadcast-joined with the
    constant-small query set, ONE Arrow map scores rows (per-query
    dtabs cached per batch), one rank shuffle moves scalars only.
    Output: (query_id, vec_id, adc_q, rank)."""
    sub = dims // m
    _, C = _pq_codebook(corpus, dims, kcode, id_col, vec_col)
    enc = pq_encode(corpus, dims, m, kcode, id_col, vec_col)
    q = queries.select("query_id", "qvec")
    rows = enc.crossJoin(F.broadcast(q)) \
              .filter(F.col("vec_id") != F.col("query_id"))

    def score_run(batches):
        import pandas as pd

        dtabs: dict[int, np.ndarray] = {}
        for pdf in batches:
            qids = pdf["query_id"].to_numpy()
            codes = pdf["pq_code"].to_numpy()
            adc = np.zeros(len(pdf), dtype=np.int64)
            for qid in np.unique(qids):
                dt = dtabs.get(int(qid))
                if dt is None:
                    qv = np.asarray(
                        pdf["qvec"][pdf["query_id"] == qid].iloc[0],
                        dtype=np.float64)[None, :]
                    dt = np.zeros((m, C.shape[0]), dtype=np.int64)
                    for mm in range(m):
                        d2 = _pq_subdists(qv, C, mm, sub)[0]
                        dt[mm] = np.floor(d2 * PQ_Q + 0.5).astype(
                            np.int64)
                    dtabs[int(qid)] = dt
                sel = qids == qid
                cc = codes[sel]
                tot = np.zeros(int(sel.sum()), dtype=np.int64)
                for mm in range(m):
                    tot += dt[mm][(cc >> (4 * mm)) & 15]
                adc[sel] = tot
            yield pd.DataFrame({"query_id": qids, "vec_id":
                                pdf["vec_id"].to_numpy(),
                                "adc_q": adc})

    scored = rows.mapInPandas(
        score_run, "query_id long, vec_id long, adc_q long")
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_q").asc(), F.col("vec_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "vec_id", "adc_q",
                    F.col("rank").cast("long").alias("rank")))


def kmeans_lloyd_state(corpus: DataFrame, centroids,
                       q: float = float(1 << 30),
                       id_col="vec_id", vec_col="embedding") -> DataFrame:
    """One Lloyd half-step (MacQueen 1967 / Lloyd 1982, spherical
    variant — cosine assignment is the embedding-space convention):
    assign every vector to its nearest centroid (pure Arrow map, same
    in-batch argmax + smallest-cid tie rule as :func:`ivf_assign`),
    then emit the quantized UPDATE STATE — per (centroid, dim) integer
    sums floor(v·q + 0.5) plus counts. The state is the sufficient
    statistic for the centroid update AND order-free (the gram_matrix
    quantize-first rule), so partials from any partitioning merge
    exactly. Per batch the output is ≤ K·d rows — constant-size, no
    vector ever shuffles. `centroids` is a DataFrame (centroid_id,
    cvec) or a pre-collected literal list."""
    import pandas as pd

    cents = (centroids if isinstance(centroids, list)
             else _centroid_literals(centroids))
    cids, C, cn = _centroid_matrix(cents)
    dims = C.shape[1]
    v = corpus.select(F.col(id_col).alias("vec_id"),
                      F.col(vec_col).alias("vec"))
    v = ensure_min_parallelism(v)

    def run(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cos, _ = _cos_matrix(pdf["vec"].to_numpy(), C, cn)
            best = np.argmax(cos, axis=1)  # first max = smallest cid
            V = np.stack([np.asarray(x, dtype=np.float64)
                          for x in pdf["vec"].to_numpy()])
            terms = np.floor(V * q + 0.5).astype(np.int64)
            out_cid, out_i, out_q, out_n = [], [], [], []
            for b in np.unique(best):
                m = best == b
                out_cid.append(np.full(dims, cids[b], dtype=np.int64))
                out_i.append(np.arange(dims, dtype=np.int32))
                out_q.append(terms[m].sum(axis=0))
                out_n.append(np.full(dims, int(m.sum()), dtype=np.int64))
            yield pd.DataFrame({
                "centroid_id": np.concatenate(out_cid),
                "i": np.concatenate(out_i),
                "q_sum": np.concatenate(out_q),
                "n_vecs": np.concatenate(out_n)})

    parts = v.mapInPandas(
        run, "centroid_id long, i int, q_sum bigint, n_vecs bigint")
    return parts.groupBy("centroid_id", "i").agg(
        F.sum("q_sum").alias("q_sum"), F.sum("n_vecs").alias("n_vecs"))


def kmeans_lloyd(corpus: DataFrame, k: int = 8, iters: int = 2,
                 q: float = float(1 << 30),
                 id_col="vec_id", vec_col="embedding") -> DataFrame:
    """Distributed spherical k-means, `iters` Lloyd iterations from the
    deterministic Knuth-hash seeds (:func:`select_centroids`). Each
    iteration is ONE corpus scan: assignment is an in-batch argmax
    against the broadcast-collected K-row centroid table, the update
    is the constant-size quantized state (≤ K·d rows — that collect IS
    the broadcast refresh, the canonical k-means shape at any corpus
    size). Centroid update c'[i] = (q_sum / q) / n — two IEEE
    divisions, bit-reproducible from the integer state, so the SQL
    oracle replays the whole iteration chain exactly. Empty clusters
    fail loud (re-seeding would be a policy choice; silence would
    corrupt the oracle contract). Returns the final update state."""
    cents = _centroid_literals(select_centroids(corpus, k,
                                                id_col, vec_col))
    for _ in range(iters - 1):
        rows = kmeans_lloyd_state(corpus, cents, q,
                                  id_col, vec_col).collect()
        if len({r["centroid_id"] for r in rows}) < len(cents):
            raise ValueError(
                f"kmeans_lloyd: empty cluster (got "
                f"{len({r['centroid_id'] for r in rows})} of "
                f"{len(cents)}); re-seed or lower k")
        acc: dict = {}
        for r in rows:
            acc.setdefault(r["centroid_id"], {})[r["i"]] = \
                (r["q_sum"], r["n_vecs"])
        import math
        cents = []
        for cid, by_i in acc.items():
            vec = [(by_i[i][0] / q) / by_i[i][1]
                   for i in range(len(by_i))]
            cents.append((int(cid), vec,
                          math.sqrt(sum(x * x for x in vec))))
    return kmeans_lloyd_state(corpus, cents, q, id_col, vec_col)


def embed_outlier(corpus: DataFrame, dims: int = 64,
                  q: float = float(1 << 30), q_cos: float = 1048576.0,
                  id_col: str = "vec_id", vec_col: str = "embedding",
                  label_col: str = "label") -> DataFrame:
    """EMBEDDING OUTLIER SCORING — cosine of every vector to its
    GROUP CENTROID (the embedding-space quality filter: training
    pipelines drop or down-weight documents far from their cluster/
    domain centroid). Centroids come from the kmeans_lloyd integer
    state discipline: per (label, dim) quantized sums + counts
    (constant <= labels x dims rows, mapInPandas partials, ONE
    map-side-combined rollup), collected once and broadcast back as
    array literals; c[i] = (q_sum / q) / n is two IEEE divisions from
    integer state, so both sides build byte-identical centroids. The
    cosine is the cosine_cols chain (list_cosine_similarity op order)
    — same SQL text both engines — quantized once at the end.
    Output: (vec_id, label, cos_q)."""
    spark = corpus.sparkSession
    v = corpus.select(F.col(id_col).alias("vec_id"),
                      F.col(label_col).cast("long").alias("label"),
                      F.col(vec_col).alias("vec"))
    v = ensure_min_parallelism(v)

    def parts(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack([np.asarray(x, dtype=np.float64)
                          for x in pdf["vec"].to_numpy()])
            terms = np.floor(V * q + 0.5).astype(np.int64)
            labs = pdf["label"].to_numpy()
            out_l, out_i, out_q, out_n = [], [], [], []
            for lb in np.unique(labs):
                m = labs == lb
                out_l.append(np.full(dims, lb, dtype=np.int64))
                out_i.append(np.arange(dims, dtype=np.int32))
                out_q.append(terms[m].sum(axis=0))
                out_n.append(np.full(dims, int(m.sum()), dtype=np.int64))
            yield pd.DataFrame({"label": np.concatenate(out_l),
                                "i": np.concatenate(out_i),
                                "q_sum": np.concatenate(out_q),
                                "n": np.concatenate(out_n)})

    state = (v.mapInPandas(parts,
                           "label long, i int, q_sum bigint, n bigint")
             .groupBy("label", "i")
             .agg(F.sum("q_sum").alias("q_sum"), F.sum("n").alias("n"))
             .collect())
    cent: dict[int, list[float]] = {}
    for r in state:
        cent.setdefault(int(r.label), [0.0] * dims)
        cent[int(r.label)][int(r.i)] = (int(r.q_sum) / q) / int(r.n)
    cdf = spark.createDataFrame(
        [(lb, cs) for lb, cs in sorted(cent.items())],
        "label long, cvec array<double>")
    return (corpus.select(F.col(id_col).alias("vec_id"),
                          F.col(label_col).cast("long").alias("label"),
                          F.col(vec_col).alias("embedding"))
            .join(F.broadcast(cdf), "label")
            .select("vec_id", "label",
                    F.floor(cosine_cols("embedding", "cvec", dims)
                            * F.lit(q_cos) + F.lit(0.5))
                    .cast("long").alias("cos_q")))
