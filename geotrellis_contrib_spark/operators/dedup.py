"""Deduplication operators for large-scale training-data pipelines.

All JVM-side DataFrame compositions (no Python in the hot path):

  - exact dedup            hash-groupBy on md5(text)
  - n-gram Jaccard         word-shingle explode -> pair join -> set algebra
  - MinHash signatures     k independent affine hashes over shingle hashes
  - MinHash + LSH          banding -> bucket join -> candidate pairs
  - SimHash                bitwise majority over token hashes (64-bit)

Hashing is engine-owned arithmetic (polynomial char hash mod 1e9+7, affine
minhash (a*h+b) mod p) — never Spark-internal hash functions — so results are
reproducible across engines/versions and DuckDB oracles can recompute them.

Scale notes: every operator is explode -> shuffle-on-key -> aggregate;
shingle/bucket keys distribute uniformly (hash-like), so no planned skew.
MinHash-LSH is the scale path: candidate pairs come from equi-joins on
(band_idx, band_key) buckets instead of the all-pairs shingle join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geotrellis_contrib_spark.functions.text import FP_BASE, FP_MOD

# deterministic affine minhash parameters (a_i odd-ish primes, b_i offsets)
MINHASH_A = [2971, 6011, 9103, 12907, 17761, 21529, 26227, 31123]
MINHASH_B = [1409, 2003, 3319, 4421, 5527, 6637, 7741, 8849]
N_HASHES = len(MINHASH_A)
# 48 bits keeps every bit value and their per-doc sum safely inside a
# positive int64 under ANSI arithmetic (bit 63 would wrap/overflow)
SIMHASH_BITS = 48


def _char_hash(col) -> F.Column:
    """Polynomial char hash (left fold, mod FP_MOD) — JVM aggregate()."""
    return F.aggregate(F.split(col, ""), F.lit(0).cast("long"),
                       lambda acc, ch: (acc * FP_BASE + F.ascii(ch)) % FP_MOD)


SHINGLE_COMBINE = 8191


def shingle_hashes(df: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    """Distinct word n-gram shingle HASHES per doc: (doc_id, sh:long).

    Per-token polynomial char hash (ONE higher-order fold per token row —
    HOF lambdas are interpreted, so they must run once per token, never
    once per (token x shingle); a nested transform() re-evaluates the whole
    hash array per element and goes O(tokens^2)), then arithmetic n-gram
    composition via window lead(): sh = fold(h_i -> acc*8191 + h_i mod p).
    One shuffle on doc_id; the downstream set-join key is a single long
    (LongHashedRelation fast path). Docs with < n tokens yield no shingles
    (full n-grams only)."""
    from pyspark.sql import Window

    toks = df.select("doc_id", F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "tok"))
    toks = toks.withColumn("h", F.aggregate(
        F.split(F.col("tok"), ""), F.lit(0).cast("long"),
        lambda acc, ch: (acc * FP_BASE + F.ascii(ch)) % FP_MOD))
    w = Window.partitionBy("doc_id").orderBy("pos")
    acc = F.col("h")
    for j in range(1, n):
        acc = (acc * SHINGLE_COMBINE + F.lead("h", j).over(w)) % FP_MOD
    return (toks.withColumn("sh", acc)
            .filter(F.col("sh").isNotNull())
            .select("doc_id", "sh").distinct())


def winnow_fingerprints(df: DataFrame, text_col: str = "text",
                        n: int = 3, window: int = 4) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken 2003 —
    the MOSS local fingerprinting algorithm; the document-fingerprint
    tier of the dedup family alongside minhash/simhash): POSITIONAL
    word n-gram hashes (same char-fold + lead() composition as
    :func:`shingle_hashes`, positions kept), then every window of
    ``window`` consecutive hashes selects its MINIMUM — rightmost
    position on ties, the MOSS rule — and selections dedupe.

    Guarantee (the reason winnowing beats "every k-th hash" sampling):
    any substring match of at least ``window + n - 1`` tokens shares at
    least one fingerprint, at expected density 2/(window+1).

    Plan shape: everything runs in ONE doc_id-partitioned window pass
    (positional hash, n-gram lead composition, struct-min winnow) — a
    single shuffle on doc_id, then the distinct. The rightmost-tie
    argmin is a lexicographic struct-min over (hash, -pos): pure JVM,
    no Python. Output: (doc_id, fp, fp_pos) distinct fingerprints."""
    from pyspark.sql import Window

    toks = df.select("doc_id", F.posexplode(
        F.split(F.col(text_col), " ")).alias("pos", "tok"))
    toks = toks.withColumn("h", F.aggregate(
        F.split(F.col("tok"), ""), F.lit(0).cast("long"),
        lambda acc, ch: (acc * FP_BASE + F.ascii(ch)) % FP_MOD))
    w = Window.partitionBy("doc_id").orderBy("pos")
    acc = F.col("h")
    for j in range(1, n):
        acc = (acc * SHINGLE_COMBINE + F.lead("h", j).over(w)) % FP_MOD
    sh = (toks.withColumn("sh", acc)
              .filter(F.col("sh").isNotNull())
              .select("doc_id", "pos", "sh"))
    # shingle ordinal (pos is the TOKEN index; shingles are dense in it,
    # so pos order == shingle order and rowsBetween counts shingles)
    wf = w.rowsBetween(0, window - 1)
    sel = F.min(F.struct(F.col("sh").alias("s"),
                         (-F.col("pos")).alias("np"))).over(wf)
    full = F.lead("pos", window - 1).over(w).isNotNull()
    return (sh.withColumn("_sel", sel).withColumn("_full", full)
              .filter(F.col("_full"))
              .select("doc_id", F.col("_sel.s").alias("fp"),
                      (-F.col("_sel.np")).alias("fp_pos"))
              .distinct())


def exact_dedup(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup: group by md5(text); survivor = min doc_id per group.
    Output: (text_hash, survivor_doc_id, n_dups)."""
    return (df.withColumn("text_hash", F.md5(F.col(text_col).cast("binary")))
            .groupBy("text_hash")
            .agg(F.min("doc_id").alias("survivor_doc_id"),
                 F.count("*").alias("n_dups")))


def jaccard_pairs(df: DataFrame, text_col: str = "text", n: int = 3,
                  threshold: float = 0.6,
                  max_df: int | None = 1000) -> DataFrame:
    """All doc pairs with shingle-set Jaccard >= threshold.

    inter/union via the hashed-shingle equi-join (single-long shuffle key,
    uniform distribution); the threshold filter is integer cross-multiplied
    so no float compare. Output: (doc_a, doc_b, inter, size_a, size_b,
    jaccard) over the hashed shingle sets.

    ``max_df`` caps shingle DOCUMENT FREQUENCY before the pair join: a
    boilerplate shingle shared by D docs contributes D^2 join rows, so one
    hot shingle at 10^6 docs is 10^12 rows — the standard stop-shingle
    filter bounds every shingle's fan-out to max_df^2. Dropped shingles
    leave the set universe entirely (sizes shrink consistently), the
    MinHash-era convention; LSH remains the preferred path at scale.
    The cap is ON BY DEFAULT (1000): a naive caller on a boilerplate-heavy
    corpus must opt OUT (``max_df=None``) of the D^2 blow-up guard, not
    opt in (r5 verdict task 6)."""
    sh = shingle_hashes(df, text_col, n)
    if max_df is not None:
        keep = sh.groupBy("sh").agg(F.count("*").alias("_df")) \
                 .filter(F.col("_df") <= max_df).select("sh")
        sh = sh.join(keep, "sh", "left_semi")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "sh")
    b = sh.select(F.col("doc_id").alias("doc_b"), "sh")
    inter = (a.join(b, "sh")
             .filter(F.col("doc_a") < F.col("doc_b"))
             .groupBy("doc_a", "doc_b").agg(F.count("*").alias("inter")))
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("size_b"))
    num, den = int(threshold * 1000), 1000
    out = (inter.join(sa, "doc_a").join(sb, "doc_b")
           .filter(F.col("inter") * den >= num * (F.col("size_a") + F.col("size_b") - F.col("inter")))
           .withColumn("jaccard", F.col("inter") / (F.col("size_a") + F.col("size_b") - F.col("inter"))))
    return out.select("doc_a", "doc_b", "inter", "size_a", "size_b", "jaccard")


def minhash_signatures(df: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    """Per-doc MinHash signature: h_i = min over hashed shingles of
    (a_i * sh + b_i) mod p. Output: doc_id, mh0..mh{k-1}.
    One narrow shingle-hash stage + one groupBy (map-side partial min)."""
    sh = shingle_hashes(df, text_col, n)
    aggs = [F.min((F.lit(MINHASH_A[i]) * F.col("sh") + F.lit(MINHASH_B[i])) % FP_MOD)
            .alias(f"mh{i}") for i in range(N_HASHES)]
    return sh.groupBy("doc_id").agg(*aggs)


def lsh_candidate_pairs(sigs: DataFrame, rows_per_band: int = 2) -> DataFrame:
    """MinHash-LSH banding: docs sharing any band bucket become a candidate
    pair; estimated similarity = matching signature components / k.
    Output: (doc_a, doc_b, est_sim). The bucket join IS the scale story:
    candidates ~ true near-dups, not all pairs."""
    n_bands = N_HASHES // rows_per_band
    bands = F.array(*[
        F.struct(
            F.lit(bi).alias("band_idx"),
            F.concat_ws("_", *[F.col(f"mh{bi * rows_per_band + r}").cast("string")
                               for r in range(rows_per_band)]).alias("band_key"),
        ) for bi in range(n_bands)
    ])
    exploded = sigs.select("doc_id", *[f"mh{i}" for i in range(N_HASHES)],
                           F.explode(bands).alias("band")) \
                   .select("doc_id", *[f"mh{i}" for i in range(N_HASHES)],
                           F.col("band.band_idx").alias("band_idx"),
                           F.col("band.band_key").alias("band_key"))
    a = exploded.select(F.col("doc_id").alias("doc_a"), "band_idx", "band_key",
                        *[F.col(f"mh{i}").alias(f"a{i}") for i in range(N_HASHES)])
    b = exploded.select(F.col("doc_id").alias("doc_b"), "band_idx", "band_key",
                        *[F.col(f"mh{i}").alias(f"b{i}") for i in range(N_HASHES)])
    pairs = (a.join(b, ["band_idx", "band_key"])
             .filter(F.col("doc_a") < F.col("doc_b"))
             .select("doc_a", "doc_b",
                     *[F.col(f"a{i}") for i in range(N_HASHES)],
                     *[F.col(f"b{i}") for i in range(N_HASHES)])
             .distinct())
    matches = sum([F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
                   for i in range(N_HASHES)], F.lit(0))
    return pairs.select("doc_a", "doc_b",
                        (matches.cast("double") / N_HASHES).alias("est_sim"))


def simhash(df: DataFrame, text_col: str = "text") -> DataFrame:
    """48-bit SimHash over word tokens: bit j set iff sum over tokens of
    sign((H(token) >> j) & 1) > 0. explode tokens x explode bit index,
    integer arithmetic all the way. Output: (doc_id, simhash)."""
    toks = df.select("doc_id", F.explode(F.array_distinct(F.split(F.col(text_col), " "))).alias("tok"))
    toks = toks.withColumn("h", _char_hash(F.col("tok")))
    # spread the 30-bit char hash to 64 bits with two affine variants
    two31 = F.lit(2147483648)  # 2^31
    h64 = ((F.col("h") * F.lit(2654435761)) % two31) \
        + F.shiftleft(((F.col("h") * 40503 + 9973) % two31), 31)
    toks = toks.withColumn("h64", h64)
    bits = toks.withColumn("j", F.explode(F.sequence(F.lit(0), F.lit(SIMHASH_BITS - 1))))
    contrib = F.when(F.expr("(h64 >> j) & 1") == 1, F.lit(1)).otherwise(F.lit(-1))
    bitsum = bits.groupBy("doc_id", "j").agg(F.sum(contrib).alias("s"))
    bitval = F.expr("CASE WHEN s > 0 THEN shiftleft(CAST(1 AS BIGINT), CAST(j AS INT)) "
                    "ELSE CAST(0 AS BIGINT) END")
    return bitsum.groupBy("doc_id").agg(F.sum(bitval).alias("simhash"))


def simhash_near_pairs(sims: DataFrame, max_hamming: int = 7,
                       band_bits: int = 6) -> DataFrame:
    """Near-dup pairs by SimHash: candidates share one of the
    SIMHASH_BITS/band_bits bit-bands, then the exact popcount(xor) filter.
    Output: (doc_a, doc_b, hamming).

    RECALL GUARANTEE (pigeonhole): a pair at hamming distance h differs in
    at most h bands, so it shares an unchanged band — and is guaranteed to
    surface — iff n_bands > h. The constructor ENFORCES n_bands >
    max_hamming (r1 shipped 3x16-bit bands with max_hamming=8, silently
    missing pairs that differed in all 3 bands).

    RADIUS vs KEY-CARDINALITY TRADEOFF (the 100TB constraint): pigeonhole
    banding with radius h needs > h bands, so wide radii force narrow
    keys — 8 bands x 6 bits covers h <= 7 but gives only 64 key values per
    band, an n^2/64-per-band candidate generator at corpus scale. The SCALE
    MODE is the narrow radius: band_bits=12, max_hamming=3 (4 bands, 4096
    key values each — random fingerprints spread n rows over 4096 buckets,
    so per-bucket blocks stay ~n/4096 and candidates ~n^2/4096 per band,
    64x fewer). True near-dups sit at h <= 3 for 48-bit SimHash in
    practice; the wide-radius mode remains available for small corpora
    (Manku et al. WWW'07 make the same block-count/key-width tradeoff)."""
    n_bands = SIMHASH_BITS // band_bits
    if n_bands <= max_hamming:
        raise ValueError(
            f"recall hole: {n_bands} bands of {band_bits} bits cannot "
            f"guarantee hamming <= {max_hamming} (need n_bands > max_hamming)")
    mask = (1 << band_bits) - 1
    bands = F.array(*[F.struct(
        F.lit(bi).alias("band_idx"),
        F.shiftright(F.col("simhash"), bi * band_bits).bitwiseAND(F.lit(mask)).alias("band_key"))
        for bi in range(n_bands)])
    e = sims.select("doc_id", "simhash", F.explode(bands).alias("b")) \
            .select("doc_id", "simhash", F.col("b.band_idx").alias("band_idx"),
                    F.col("b.band_key").alias("band_key"))
    a = e.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sim_a"),
                 "band_idx", "band_key")
    b = e.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sim_b"),
                 "band_idx", "band_key")
    pairs = (a.join(b, ["band_idx", "band_key"])
             .filter(F.col("doc_a") < F.col("doc_b"))
             .select("doc_a", "doc_b", "sim_a", "sim_b").distinct())
    ham = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (pairs.withColumn("hamming", ham)
            .filter(F.col("hamming") <= max_hamming)
            .select("doc_a", "doc_b", "hamming"))


def edit_distance_pairs(df: DataFrame, text_col: str = "title",
                        id_col: str = "doc_id",
                        max_bucket: int | None = None) -> DataFrame:
    """Edit-distance-1 near-duplicate pairs via SymSpell deletion
    blocking (Garbe's public symmetric-delete scheme): two strings
    within Levenshtein distance 1 ALWAYS share a member of
    {s} ∪ {s minus one character} — a substitution meets at the
    common-position delete, an insert/delete meets at the shorter
    string itself, equality at s — so the candidate join is an
    EQUI-join on the variant key (the LSH discipline: bucketed, never
    all-pairs), then the exact `levenshtein() <= 1` refine (built-in,
    JVM-side, identical unit-cost DP in DuckDB).

    Explode factor is len+1 per row (bounded by the title width —
    callers block on short keys, not documents). ``max_bucket`` drops
    variant buckets with more members (hot-key fan-out cap, the
    `max_df` stop-shingle discipline); capped buckets LOSE the pairs
    they alone would witness — opt-in, documented recall tradeoff.
    Output: (doc_a, doc_b, dist) with doc_a < doc_b, distinct."""
    t = F.col(text_col)
    # delete-variant k for k in 0..len-1, plus the identity (k = -1)
    var = (df.select(F.col(id_col).alias("_id"), t.alias("_t"))
           .withColumn("_k", F.explode(F.sequence(
               F.lit(-1), F.length("_t") - F.lit(1))))
           .withColumn("_v", F.when(F.col("_k") < 0, F.col("_t"))
                       .otherwise(F.concat(
                           F.expr("substring(_t, 1, _k)"),
                           F.expr("substring(_t, _k + 2)"))))
           .select("_id", "_t", "_v").distinct())
    if max_bucket is not None:
        cnt = var.groupBy("_v").count().filter(
            F.col("count") <= max_bucket).drop("count")
        var = var.join(cnt, "_v")
    a = var.select(F.col("_id").alias("doc_a"), F.col("_t").alias("_ta"),
                   "_v")
    b = var.select(F.col("_id").alias("doc_b"), F.col("_t").alias("_tb"),
                   "_v")
    cand = (a.join(b, "_v").filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b", "_ta", "_tb").distinct())
    return (cand.withColumn("dist", F.levenshtein("_ta", "_tb"))
            .filter(F.col("dist") <= 1)
            .select("doc_a", "doc_b", F.col("dist").cast("int").alias("dist")))


def span_dedup(df: DataFrame, text_col: str = "text", window: int = 8,
               min_count: int = 2, q: float = 1048576.0) -> DataFrame:
    """EXACT-SUBSTRING duplication coverage (the Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better"
    ExactSubstr signal, token-windowed: a span duplicated ANYWHERE in
    the corpus marks every token it covers): per doc

        n_tokens    total tokens
        n_dup_spans this doc's ``window``-token spans occurring
                    >= ``min_count`` times CORPUS-WIDE (same-doc
                    repeats count — a self-plagiarized span is still
                    duplicated)
        dup_tokens  tokens covered by >= 1 duplicated span — the 1D
                    interval UNION, exact in integers
        dup_q       floor(dup_tokens / n_tokens * q + 0.5)

    Spans are compared as full strings (md5 over the space-joined
    window — Spark and DuckDB agree on md5 hex), built with window-1
    lead() taps over the ONE doc-partitioned window the shingle family
    already uses. The interval union needs NO second structure: spans
    sorted by position, prev_end = MAX(pos+W) over the preceding rows,
    contribution = (pos+W) - GREATEST(pos, prev_end) — all integers.
    Scale shape: one doc-keyed window pass + ONE map-side-combined
    count shuffle on the span hash + a broadcast-or-shuffle semi-join
    back; the union window rides the original doc partitioning."""
    from pyspark.sql import Window

    w = int(window)
    toks = df.select(
        "doc_id",
        F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "tok"))
    wd = Window.partitionBy("doc_id").orderBy("pos")
    parts = [F.col("tok")] + [F.lead("tok", j).over(wd)
                              for j in range(1, w)]
    spans = (toks
             .withColumn("last", F.lead("tok", w - 1).over(wd))
             .withColumn("sp", F.md5(F.concat_ws(" ", *parts)))
             .filter(F.col("last").isNotNull())
             .select("doc_id", "pos", "sp"))
    dup = (spans.groupBy("sp").agg(F.count(F.lit(1)).alias("c"))
           .filter(F.col("c") >= int(min_count)).select("sp"))
    ds = spans.join(dup, "sp").select("doc_id", "pos")
    wu = Window.partitionBy("doc_id").orderBy("pos") \
        .rowsBetween(Window.unboundedPreceding, -1)
    cov = (ds.withColumn("pe", F.max(F.col("pos") + F.lit(w)).over(wu))
           .select("doc_id",
                   ((F.col("pos") + F.lit(w))
                    - F.greatest(F.col("pos"),
                                 F.coalesce(F.col("pe"), F.col("pos"))))
                   .alias("contrib"))
           .groupBy("doc_id")
           .agg(F.count(F.lit(1)).alias("n_dup_spans"),
                F.sum("contrib").alias("dup_tokens")))
    nt = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_tokens"))
    return (nt.join(cov, "doc_id", "left")
            .select("doc_id", "n_tokens",
                    F.coalesce("n_dup_spans", F.lit(0)).cast("long")
                    .alias("n_dup_spans"),
                    F.coalesce("dup_tokens", F.lit(0)).cast("long")
                    .alias("dup_tokens"),
                    F.floor(F.coalesce("dup_tokens", F.lit(0))
                            / F.col("n_tokens") * F.lit(q) + F.lit(0.5))
                    .cast("long").alias("dup_q")))


def decontaminate(df: DataFrame, eval_pred, text_col: str = "text",
                  window: int = 8) -> DataFrame:
    """TRAIN/TEST DECONTAMINATION (the GPT-3/PaLM-style n-gram overlap
    sweep: a training document sharing any ``window``-token span with
    an evaluation document leaks the benchmark and must be flagged):
    ``eval_pred`` is a Column predicate selecting the EVAL side; every
    remaining (train) doc gets

        n_spans         its window-token spans
        n_contaminated  spans occurring in ANY eval doc
        contaminated    n_contaminated >= 1

    Span matching is md5 over the space-joined window (the span_dedup
    contract — the oracle groups raw strings, certifying the hash).
    Scale shape: the eval span set is DISTINCT and usually tiny
    relative to the corpus (benchmarks are small) — one doc-keyed
    window pass per side, the distinct eval spans build once, and the
    membership check is a LEFT semi-style join keyed on the hash; at
    web scale the eval side broadcasts."""
    from pyspark.sql import Window

    w = int(window)

    def spans_of(d):
        toks = d.select(
            "doc_id",
            F.posexplode(F.split(F.col(text_col), " "))
            .alias("pos", "tok"))
        wd = Window.partitionBy("doc_id").orderBy("pos")
        parts = [F.col("tok")] + [F.lead("tok", j).over(wd)
                                  for j in range(1, w)]
        return (toks
                .withColumn("last", F.lead("tok", w - 1).over(wd))
                .withColumn("sp", F.md5(F.concat_ws(" ", *parts)))
                .filter(F.col("last").isNotNull())
                .select("doc_id", "sp"))

    ev = df.filter(eval_pred)
    tr = df.filter(~eval_pred)
    ev_spans = spans_of(ev).select("sp").distinct()
    ts = spans_of(tr)
    hits = (ts.join(ev_spans.withColumn("_hit", F.lit(1)), "sp", "left")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_spans"),
                 F.sum(F.coalesce("_hit", F.lit(0)))
                 .alias("n_contaminated")))
    return (tr.select("doc_id").join(hits, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_spans", F.lit(0)).cast("long")
                    .alias("n_spans"),
                    F.coalesce("n_contaminated", F.lit(0)).cast("long")
                    .alias("n_contaminated"),
                    (F.coalesce("n_contaminated", F.lit(0)) >= 1)
                    .cast("int").alias("contaminated")))
