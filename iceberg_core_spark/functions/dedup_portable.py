"""Engine-portable MinHash-LSH — the SAME banding algorithm as
``dedup.minhash_lsh_pairs`` — 3-token shingles, min-hash signatures,
banded candidate join, exact-Jaccard verify — but built on md5 instead
of xxhash64, so
the ENTIRE pipeline (signatures → bands → candidate join → exact
verify) evaluates identically in DuckDB and is fully value-hash
oracle-checked. The production twin keeps xxhash64 (JVM-native,
faster); this variant exists to prove the algorithm itself
cross-engine — upgrading the hash-family op from the driver's
rows-only check to a full hash match.

Scale shape is identical to the production twin: signatures are pure
expressions over the token array (map-side), the one shuffle carries
skinny (band_idx, band_hash, doc_id) triples, candidates dedupe before
the exact-Jaccard verify re-joins token arrays by id. The Spark
signature and band expressions are SQL text (``_sig_spark_sql`` /
``_band_spark_sql``) written beside the DuckDB template they mirror
(``_sig_sql`` / ``_band_sql``): one ``selectExpr`` parse per frame
instead of ~2,000 py4j Column calls, and the two engines' hash
families read side by side.

Parameters are fixed module constants so the Spark plan and the
generated oracle SQL are built from the same numbers.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iceberg_core_spark.functions.dedup import (
    _spread_verify,
    fround,
    fround_sql,
    jaccard,
    shingles,
)
from iceberg_core_spark.session import load_table

N_HASHES = 16
N_BANDS = 4          # 4 rows per band
ROWS_PER_BAND = N_HASHES // N_BANDS
THRESHOLD = 0.5


def _sig_spark_sql(i: int) -> str:
    """One min-hash per seed: min over the shingle array ``__t`` of the
    first 8 md5 hex chars of (token || seed), as int64 — the Spark SQL
    twin of :func:`_sig_sql`."""
    return (
        "array_min(transform(__t, x -> "
        f"CAST(conv(substring(md5(concat(x, 's{i}')), 1, 8), 16, 10)"
        " AS BIGINT)))"
    )


def _band_spark_sql(b: int) -> str:
    """md5 over the band's comma-joined signatures — the Spark SQL
    twin of :func:`_band_sql`."""
    parts = ", ".join(
        f"CAST(sig{b * ROWS_PER_BAND + r} AS STRING)"
        for r in range(ROWS_PER_BAND)
    )
    return f"md5(concat_ws(',', {parts}))"


def _sig_sql(i: int) -> str:
    return (
        "list_aggregate(list_transform(t, x -> "
        f"('0x' || substr(md5(x || 's{i}'), 1, 8))::BIGINT), 'min')"
    )


def _band_sql(b: int) -> str:
    parts = " || ',' || ".join(
        f"CAST(sig{b * ROWS_PER_BAND + r} AS VARCHAR)"
        for r in range(ROWS_PER_BAND)
    )
    return f"md5({parts})"


_SIGS_SPARK_SQL = [f"{_sig_spark_sql(i)} AS sig{i}" for i in range(N_HASHES)]
_BANDS_SPARK_SQL = "inline(array({}))".format(", ".join(
    f"named_struct('band_idx', {b}, 'band_hash', {_band_spark_sql(b)})"
    for b in range(N_BANDS)))


def _band_triples(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, band_idx, band_hash) triples of the portable MinHash — the
    only thing a candidate join ever shuffles. Signatures are one
    ``selectExpr`` and the bands one ``inline``, both parsed from SQL
    text. Callers spread() the input first (the signature map is the
    pipeline's CPU hot spot)."""
    ident = f"`{id_col}`"
    return (
        df.select(F.col(id_col), shingles(F.col(text_col)).alias("__t"))
        .selectExpr(ident, *_SIGS_SPARK_SQL)
        .selectExpr(ident, _BANDS_SPARK_SQL)
    )


def minhash_portable_pairs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    threshold: float = THRESHOLD,
) -> DataFrame:
    """(doc_a, doc_b, jacc): pairs sharing at least one LSH band whose
    exact shingle Jaccard clears ``threshold``. The signature map
    (N_HASHES md5 per token) spread()s first — a single-file scan
    would serialize the hot spot on one core (no-op at real scale)."""
    from iceberg_core_spark.session import spread

    df = spread(df)
    bands = _band_triples(df, text_col, id_col)
    a = bands.select(F.col(id_col).alias("doc_a"), "band_idx", "band_hash")
    b = bands.select(F.col(id_col).alias("doc_b"), "band_idx", "band_hash")
    cand = _spread_verify(
        a.join(b, ["band_idx", "band_hash"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b").distinct()
    )
    toks = df.select(F.col(id_col),
                     shingles(F.col(text_col)).alias("t"))
    jc = fround(jaccard(F.col("ta"), F.col("tb")), 4)
    return (
        cand.join(toks.select(F.col(id_col).alias("doc_a"),
                              F.col("t").alias("ta")), "doc_a")
        .join(toks.select(F.col(id_col).alias("doc_b"),
                          F.col("t").alias("tb")), "doc_b")
        .select("doc_a", "doc_b", jc.alias("jacc"))
        .filter(F.col("jacc") >= threshold)
    )


def dedup_minhash_portable(spark: SparkSession, sf: str) -> DataFrame:
    """Registry query: the fully oracle-checked MinHash-LSH."""
    return minhash_portable_pairs(load_table(spark, sf, "documents"))


_JACC_RAW = (
    "len(list_intersect(ta, tb))"
    " / (len(ta) + len(tb) - len(list_intersect(ta, tb)))"
)

# Shared CTE bodies: _SIG_CTE_BODY (words → toks → sig → bands) feeds
# the pair query, the clusters query, AND dedup_incremental's
# batch-vs-corpus candidate join — all built from this one text, so
# the oracle pipelines can never drift apart.
_SIG_CTE_BODY = f"""words AS (
  SELECT doc_id, string_split_regex(lower(text), '[ \\t\\n\\x0B\\f\\r]+') AS w
  FROM documents
), toks AS (
  -- 3-token shingles, mirroring dedup.shingles: sequence over
  -- greatest(len-2, 1) with clamped slices for short docs
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(w) - 2, 1) + 1),
           i -> array_to_string(w[i:i+2], ' '))) AS t
  FROM words
), sig AS (
  SELECT doc_id, t,
         {', '.join(f'{_sig_sql(i)} AS sig{i}' for i in range(N_HASHES))}
  FROM toks
), bands AS (
  {' UNION ALL '.join(
      f"SELECT doc_id, {b} AS band_idx, {_band_sql(b)} AS band_hash FROM sig"
      for b in range(N_BANDS))}
)"""

_PAIRS_CTE_BODY = f"""{_SIG_CTE_BODY}, cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
), pairs AS (
  SELECT doc_a, doc_b, ta.t AS ta, tb.t AS tb
  FROM cand
  JOIN toks ta ON ta.doc_id = doc_a
  JOIN toks tb ON tb.doc_id = doc_b
)"""

DEDUP_MINHASH_PORTABLE_SQL = f"""
WITH {_PAIRS_CTE_BODY}
SELECT doc_a, doc_b, {fround_sql(_JACC_RAW, 4)} AS jacc
FROM pairs
WHERE {fround_sql(_JACC_RAW, 4)} >= {THRESHOLD}
"""


def dedup_clusters_portable(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end portable dedup: MinHash-LSH candidate pairs (md5
    hash family, fully SQL-expressible) → connected components →
    canonical per-document verdict. This is the production
    ``dedup_clusters_minhash`` pipeline (shingle → band join → verify
    → cluster) with the hash family swapped so the ENTIRE 100 TB
    clustering path — including the iterative min-label propagation —
    is value-hash checked against DuckDB's recursive transitive
    closure. Scale shape identical to the xxhash64 twin."""
    from iceberg_core_spark.functions import dedup as D

    docs = load_table(spark, sf, "documents")
    pairs = minhash_portable_pairs(docs)
    return D.dedup_cluster_assign(docs, pairs)


DEDUP_CLUSTERS_PORTABLE_SQL = f"""
WITH RECURSIVE {_PAIRS_CTE_BODY}, jpairs AS (
  SELECT doc_a, doc_b
  FROM pairs
  WHERE {fround_sql(_JACC_RAW, 4)} >= {THRESHOLD}
), edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM jpairs
  UNION ALL
  SELECT doc_b, doc_a FROM jpairs
), reach(id, label) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.id
), cc AS (
  SELECT id AS doc_id, MIN(label) AS canon_id FROM reach GROUP BY id
)
SELECT doc_id, canon_id, doc_id = canon_id AS keep,
       COUNT(*) OVER (PARTITION BY canon_id) AS cluster_size
FROM cc
"""


# ---------------------------------------------------------------------------
# portable SimHash — same upgrade for the second hash family
# ---------------------------------------------------------------------------

SIM_BITS = 32
SIM_CHUNKS = 4
SIM_CHUNK_BITS = SIM_BITS // SIM_CHUNKS
SIM_MAX_HAMMING = SIM_CHUNKS - 1  # pigeonhole-guaranteed recall


def _tok_hash(t):
    """Portable 32-bit token hash: first 8 md5 hex chars as int64 —
    non-negative, so no sign subtleties in any bit expression."""
    return F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long")


def simhash_portable(text_col) -> F.Column:
    """32-bit SimHash over distinct tokens with md5-derived hashes —
    the engine-portable twin of ``dedup.simhash64`` (same per-bit
    vote construction, xxhash64 → md5, 64 → 32 bits)."""
    toks = F.array_distinct(F.split(F.lower(text_col), r"[ \t\n\x0B\f\r]+"))
    hashes = F.transform(toks, _tok_hash)

    def vote_fn(mask: int):
        def merge(acc, h):
            return acc + F.when(
                h.bitwiseAND(F.lit(mask)) != 0, 1).otherwise(-1)
        return merge

    out = F.lit(0).cast("long")
    for bit in range(SIM_BITS):
        mask = 1 << bit
        vote = F.aggregate(hashes, F.lit(0), vote_fn(mask))
        out = out + F.when(vote > 0, F.lit(mask).cast("long")).otherwise(
            F.lit(0).cast("long"))
    return out


def simhash_portable_pairs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    max_hamming: int = SIM_MAX_HAMMING,
) -> DataFrame:
    """(doc_a, doc_b, hamming): pairs within ``max_hamming`` bits,
    candidates blocked on chunk equality (4 chunks of 8 bits →
    guaranteed recall for hamming <= 3), same shape as the
    production twin — only (chunk_idx, chunk, id) ever shuffles.
    The bit-vote map (32 md5-derived votes per token) spread()s first
    so a single-file scan can't serialize it on one core."""
    from iceberg_core_spark.session import spread

    chunk_mask = (1 << SIM_CHUNK_BITS) - 1
    sh = spread(df).select(F.col(id_col).alias("id"),
                           simhash_portable(F.col(text_col)).alias("sh"))
    chunks = sh.select(
        "id", "sh",
        F.explode(F.array(*[
            F.struct(
                F.lit(c).alias("chunk_idx"),
                F.shiftrightunsigned("sh", c * SIM_CHUNK_BITS)
                .bitwiseAND(F.lit(chunk_mask)).alias("chunk"),
            )
            for c in range(SIM_CHUNKS)
        ])).alias("ck"),
    ).select("id", "sh", "ck.chunk_idx", "ck.chunk")
    l = chunks.select(F.col("id").alias("doc_a"),
                      F.col("sh").alias("sh_a"), "chunk_idx", "chunk")
    r = chunks.select(F.col("id").alias("doc_b"),
                      F.col("sh").alias("sh_b"), "chunk_idx", "chunk")
    cand = (
        l.join(r, ["chunk_idx", "chunk"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sh_a", "sh_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return cand.select(
        "doc_a", "doc_b", hamming.cast("long").alias("hamming")
    ).filter(F.col("hamming") <= max_hamming)


def dedup_simhash_portable(spark: SparkSession, sf: str) -> DataFrame:
    """Registry query: the fully oracle-checked SimHash."""
    return simhash_portable_pairs(load_table(spark, sf, "documents"))


def _vote_sql(bit: int) -> str:
    return (
        "list_aggregate(list_transform(t, x -> CASE WHEN "
        f"(('0x' || substr(md5(x), 1, 8))::BIGINT >> {bit}) & 1 = 1 "
        "THEN 1 ELSE -1 END), 'sum')"
    )


DEDUP_SIMHASH_PORTABLE_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         list_distinct(string_split_regex(lower(text), '[ \\t\\n\\x0B\\f\\r]+')) AS t
  FROM documents
), votes AS (
  SELECT doc_id,
         {', '.join(f'{_vote_sql(b)} AS v{b}' for b in range(SIM_BITS))}
  FROM toks
), fp AS (
  SELECT doc_id,
         {' + '.join(f'CASE WHEN v{b} > 0 THEN {1 << b}::BIGINT '
                     f'ELSE 0::BIGINT END' for b in range(SIM_BITS))}
           AS sh
  FROM votes
), chunks AS (
  {' UNION ALL '.join(
      f"SELECT doc_id, sh, {c} AS chunk_idx, "
      f"(sh >> {c * SIM_CHUNK_BITS}) & {(1 << SIM_CHUNK_BITS) - 1} "
      f"AS chunk FROM fp"
      for c in range(SIM_CHUNKS))}
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  a.sh AS sh_a, b.sh AS sh_b
  FROM chunks a JOIN chunks b
    ON a.chunk_idx = b.chunk_idx AND a.chunk = b.chunk
   AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(sh_a, sh_b)) AS BIGINT) AS hamming
FROM cand
WHERE bit_count(xor(sh_a, sh_b)) <= {SIM_MAX_HAMMING}
"""


# ---------------------------------------------------------------------------
# portable hyperplane-LSH embedding dedup — the third hash family
# ---------------------------------------------------------------------------
#
# The production twin (dedup.embedding_dup_pairs_lsh) projects onto
# seeded Gaussian hyperplanes in float arithmetic; a sign bit computed
# from a float dot product can flip between engines when the projection
# lands within rounding error of zero, so it is registered rows-only.
# This variant removes FP from the bucketing entirely:
#   - coordinates quantize to integers: q_i = floor(x_i * 1e6) as
#     BIGINT (the float64 multiply and floor are IEEE-exact and
#     identical in Spark and DuckDB — both widen the same float32);
#   - hyperplanes are Rademacher (+1/-1) vectors whose signs come from
#     Python hashlib.md5 at module import and are embedded as LITERAL
#     arrays in both the Column expression and the SQL text — no
#     in-engine RNG, no seed drift;
#   - the projection is an exact BIGINT dot product; sign >= 0 is the
#     bucket bit. Bucketing is therefore bit-identical cross-engine,
#     and the exact-cosine verify reuses the fround'd expression the
#     all-pairs oracle already proved portable.
# Scale shape matches the production twin: only (bucket, id) crosses
# the candidate shuffle; vectors re-join by id for the verify.

EMB_DIM = 64
EMB_PLANES = 8
EMB_QUANT = 1_000_000
EMB_THRESHOLD = 0.4


def _rademacher(p: int, dim: int = EMB_DIM) -> list[int]:
    """Deterministic +-1 plane entries from md5 — computed in plain
    Python, so both engines consume them as literals."""
    import hashlib

    return [
        1 if hashlib.md5(f"plane{p}dim{i}".encode()).digest()[0] % 2 == 0
        else -1
        for i in range(dim)
    ]


_PLANES = [_rademacher(p) for p in range(EMB_PLANES)]


def _portable_bucket(v) -> F.Column:
    """BIGINT LSH bucket: bit p set iff the exact integer projection of
    the quantized vector onto Rademacher plane p is >= 0."""
    q = F.transform(v, lambda x: F.floor(x * F.lit(float(EMB_QUANT)))
                    .cast("long"))
    out = F.lit(0).cast("long")
    for p, signs in enumerate(_PLANES):
        sgn = F.array(*[F.lit(s).cast("long") for s in signs])
        dot = F.aggregate(
            F.zip_with(q, sgn, lambda x, y: x * y),
            F.lit(0).cast("long"), lambda acc, x: acc + x,
        )
        out = out + F.when(dot >= 0, F.lit(1 << p).cast("long")).otherwise(
            F.lit(0).cast("long"))
    return out


def embedding_portable_pairs(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id",
    threshold: float = EMB_THRESHOLD,
) -> DataFrame:
    """(id_a, id_b, sim): pairs sharing an LSH bucket up to 1 flipped
    bit whose exact cosine clears ``threshold`` — deterministic, so
    fully value-hash checkable against the same bucketing in SQL."""
    from iceberg_core_spark.session import spread

    vecs = spread(df).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    bucketed = vecs.select("id", _portable_bucket(F.col("v")).alias("b"))
    left = bucketed.select("id", F.col("b").alias("bk"))
    probes = [F.col("b")] + [
        F.col("b").bitwiseXOR(F.lit(1 << i).cast("long"))
        for i in range(EMB_PLANES)
    ]
    right = bucketed.select("id", F.explode(F.array(*probes)).alias("bk"))
    cand = _spread_verify(
        left.alias("l")
        .join(right.alias("r"), "bk")
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"]),
        cols=("id_a", "id_b"),
    )
    from iceberg_core_spark.functions.dedup import cosine

    pairs = (
        cand.join(vecs.select(F.col("id").alias("id_a"),
                              F.col("v").alias("va")), "id_a")
        .join(vecs.select(F.col("id").alias("id_b"),
                          F.col("v").alias("vb")), "id_b")
    )
    sim = fround(cosine(F.col("va"), F.col("vb")), 4)
    return pairs.select("id_a", "id_b", sim.alias("sim")).filter(
        F.col("sim") >= threshold
    )


def dedup_embedding_lsh_portable(spark: SparkSession, sf: str) -> DataFrame:
    """Registry query: the fully oracle-checked hyperplane-LSH."""
    return embedding_portable_pairs(load_table(spark, sf, "embeddings"))


def _plane_dot_sql(p: int) -> str:
    arr = "[" + ", ".join(str(s) for s in _PLANES[p]) + "]"
    return (
        f"list_aggregate(list_transform(range(1, {EMB_DIM} + 1), "
        f"i -> q[i] * ({arr}::BIGINT[])[i]), 'sum')"
    )


def _cos_sql(a: str, b: str) -> str:
    """DuckDB cosine over two DOUBLE[] expressions — the same shape
    the all-pairs dedup_embedding oracle proved portable."""
    return (
        f"list_dot_product({a}, {b})"
        f" / (sqrt(list_dot_product({a}, {a}))"
        f" * sqrt(list_dot_product({b}, {b})))"
    )

DEDUP_EMBEDDING_LSH_PORTABLE_SQL = f"""
WITH v AS (
  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS dv,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> CAST(floor(x * {EMB_QUANT}) AS BIGINT)) AS q
  FROM embeddings
), bucketed AS (
  SELECT id, dv,
         {' + '.join(f'CASE WHEN {_plane_dot_sql(p)} >= 0 '
                     f'THEN {1 << p}::BIGINT ELSE 0::BIGINT END'
                     for p in range(EMB_PLANES))} AS b
  FROM v
), probes AS (
  SELECT id, unnest([b, {', '.join(f'xor(b, {1 << i}::BIGINT)'
                                   for i in range(EMB_PLANES))}]) AS bk
  FROM bucketed
), cand AS (
  SELECT DISTINCT l.id AS id_a, r.id AS id_b
  FROM (SELECT id, b AS bk FROM bucketed) l
  JOIN probes r ON l.bk = r.bk AND l.id < r.id
), pairs AS (
  SELECT id_a, id_b, a.dv AS av, b.dv AS bv
  FROM cand
  JOIN bucketed a ON a.id = id_a
  JOIN bucketed b ON b.id = id_b
)
SELECT id_a, id_b, {fround_sql(_cos_sql('av', 'bv'), 4)} AS sim
FROM pairs
WHERE {fround_sql(_cos_sql('av', 'bv'), 4)} >= {EMB_THRESHOLD}
"""


SIM_K = 10


def sim_search_lsh_portable(spark: SparkSession, sf: str) -> DataFrame:
    """ANN top-k over the portable LSH buckets: scan only rows whose
    bucket is within 1 bit of the query's (vec_id=0), exact-cosine
    rerank with (sim desc, vec_id) deterministic order. The query's
    bucket is computed with the SAME integer arithmetic in plain
    Python (floor-quantize → Rademacher dot → sign), so all three
    implementations — Column expression, Python, SQL — agree bit-for-
    bit and the approximate search is value-hash checkable."""
    import math

    from iceberg_core_spark.functions.dedup import cosine

    df = load_table(spark, sf, "embeddings")
    qv = [float(x) for x in
          df.filter(F.col("vec_id") == 0).select("embedding").head()[0]]
    q = [math.floor(x * EMB_QUANT) for x in qv]
    qb = 0
    for p, signs in enumerate(_PLANES):
        if sum(qi * s for qi, s in zip(q, signs)) >= 0:
            qb |= 1 << p
    vecs = df.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"))
    bucketed = vecs.withColumn("b", _portable_bucket(F.col("v")))
    probe = F.bit_count(
        F.col("b").bitwiseXOR(F.lit(qb).cast("long"))) <= 1
    qarr = F.array(*[F.lit(x) for x in qv])
    sim = fround(cosine(F.col("v"), qarr), 4)
    return (
        bucketed.filter(probe)
        .select("vec_id", sim.alias("sim"))
        .orderBy(F.col("sim").desc(), "vec_id")
        .limit(SIM_K)
    )


SIM_SEARCH_LSH_PORTABLE_SQL = f"""
WITH v AS (
  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS dv,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> CAST(floor(x * {EMB_QUANT}) AS BIGINT)) AS q
  FROM embeddings
), bucketed AS (
  SELECT id, dv,
         {' + '.join(f'CASE WHEN {_plane_dot_sql(p)} >= 0 '
                     f'THEN {1 << p}::BIGINT ELSE 0::BIGINT END'
                     for p in range(EMB_PLANES))} AS b
  FROM v
), qrow AS (
  SELECT dv AS qv, b AS qb FROM bucketed WHERE id = 0
), scored AS (
  SELECT id AS vec_id,
         {fround_sql(_cos_sql('dv', 'qv'), 4)} AS sim
  FROM bucketed, qrow
  WHERE bit_count(xor(b, qb)) <= 1
)
SELECT vec_id, sim FROM scored
ORDER BY sim DESC, vec_id
LIMIT {SIM_K}
"""


# ---------------------------------------------------------------------------
# portable approximate distinct count — KMV sketch
# ---------------------------------------------------------------------------

KMV_K = 256
_KMV_SPACE = float(1 << 60)  # hash range: 15 hex chars = 60 bits


def agg_approx_distinct_portable(spark: SparkSession, sf: str) -> DataFrame:
    """Approximate distinct users per event_type via a K-minimum-values
    sketch (Bar-Yossef et al.): hash each user to 60 uniform bits
    (md5), keep the K smallest distinct hashes per group, estimate
    (K-1) * 2^60 / h_K. Every step — md5, BIGINT compare, the one
    double division + floor — is IEEE-deterministic cross-engine, so
    unlike HLL++ (engine-private sketch encoding, rows-only twin
    agg_approx_distinct) this estimate value-hash matches DuckDB.

    Production uses the HLL twin (constant memory, mergeable
    map-side); the KMV path shuffles distinct (group, hash) pairs and
    sorts per group — it exists to verify approximate counting
    cross-engine, and doubles as the exactness fallback (n < K groups
    return exact counts)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf, "events")
    h = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10
    ).cast("long")
    d = ev.select("event_type", h.alias("h")).distinct()
    w = Window.partitionBy("event_type").orderBy("h")
    ranked = d.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= KMV_K)
    agg = ranked.groupBy("event_type").agg(
        F.max("h").alias("hk"), F.count(F.lit(1)).alias("n"))
    est = F.when(F.col("n") < KMV_K, F.col("n").cast("double")).otherwise(
        F.floor(
            F.lit(float(KMV_K - 1)) * F.lit(_KMV_SPACE)
            / F.col("hk").cast("double")
        ).cast("double"))
    return agg.select(
        "event_type", est.cast("long").alias("approx_users"))


AGG_APPROX_DISTINCT_PORTABLE_SQL = f"""
WITH h AS (
  SELECT DISTINCT event_type,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
  FROM events
), ranked AS (
  SELECT event_type, h,
         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
  FROM h
), agg AS (
  SELECT event_type, max(h) AS hk, count(*) AS n
  FROM ranked WHERE rn <= {KMV_K} GROUP BY event_type
)
SELECT event_type,
       CAST(CASE WHEN n < {KMV_K} THEN CAST(n AS DOUBLE)
            ELSE floor({float(KMV_K - 1)} * {_KMV_SPACE}
                       / CAST(hk AS DOUBLE)) END AS BIGINT) AS approx_users
FROM agg
"""


# ---------------------------------------------------------------------------
# portable IVF — the last approximate family verified cross-engine
# ---------------------------------------------------------------------------

IVF_CELLS = 16
IVF_PROBES = 4


def sim_search_ivf_portable(spark: SparkSession, sf: str) -> DataFrame:
    """IVF search with a deterministic coarse quantizer: the centroid
    set is the first ``IVF_CELLS`` vectors by vec_id (seed centroids —
    production uses the sample-fit k-means in similarity.IvfIndex;
    this twin pins the IVF *mechanics*: cell assignment, multi-cell
    probe, candidate rerank). Every vector joins the broadcast
    centroid set, takes its best cell by (fround'd cosine desc,
    centroid id) — deterministic even at similarity ties — the query
    (vec_id=0) probes its ``IVF_PROBES`` best cells, and candidates in
    probed cells rerank by exact cosine. The identical window/rank
    construction evaluates in DuckDB, so the whole inverted-file path
    is value-hash checked. Scale shape matches production IVF: the
    corpus streams once against a broadcast centroid table; only
    probed cells pay the rerank."""
    from pyspark.sql import Window

    from iceberg_core_spark.functions.dedup import cosine

    df = load_table(spark, sf, "embeddings")
    vecs = df.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"))
    cents = vecs.filter(F.col("vec_id") < IVF_CELLS).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv"))
    scored = vecs.crossJoin(F.broadcast(cents)).select(
        "vec_id", "v", "cid",
        fround(cosine(F.col("v"), F.col("cv")), 4).alias("csim"))
    w = Window.partitionBy("vec_id").orderBy(
        F.col("csim").desc(), F.col("cid"))
    ranked = scored.withColumn("rn", F.row_number().over(w))
    cells = ranked.filter(F.col("rn") == 1).select("vec_id", "v", "cid")
    probes = (
        ranked.filter((F.col("vec_id") == 0) & (F.col("rn") <= IVF_PROBES))
        .select(F.col("cid").alias("pcid"))
    )
    qv = [float(x) for x in
          df.filter(F.col("vec_id") == 0).select("embedding").head()[0]]
    qarr = F.array(*[F.lit(x) for x in qv])
    sim = fround(cosine(F.col("v"), qarr), 4)
    return (
        cells.join(F.broadcast(probes), F.col("cid") == F.col("pcid"))
        .select("vec_id", sim.alias("sim"))
        .orderBy(F.col("sim").desc(), "vec_id")
        .limit(SIM_K)
    )


SIM_SEARCH_IVF_PORTABLE_SQL = f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), cents AS (
  SELECT vec_id AS cid, v AS cv FROM v WHERE vec_id < {IVF_CELLS}
), ranked AS (
  SELECT vec_id, v, cid,
         row_number() OVER (
           PARTITION BY vec_id
           ORDER BY {fround_sql(_cos_sql('v', 'cv'), 4)} DESC, cid) AS rn
  FROM v CROSS JOIN cents
), cells AS (
  SELECT vec_id, v, cid FROM ranked WHERE rn = 1
), probes AS (
  SELECT cid AS pcid FROM ranked
  WHERE vec_id = 0 AND rn <= {IVF_PROBES}
), qrow AS (
  SELECT v AS qv FROM v WHERE vec_id = 0
), scored AS (
  SELECT c.vec_id,
         {fround_sql(_cos_sql('c.v', 'qv'), 4)} AS sim
  FROM cells c JOIN probes ON c.cid = pcid CROSS JOIN qrow
)
SELECT vec_id, sim FROM scored
ORDER BY sim DESC, vec_id
LIMIT {SIM_K}
"""


QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, tuple[QueryFn, str | None]] = {
    "dedup_minhash_portable": (dedup_minhash_portable,
                               DEDUP_MINHASH_PORTABLE_SQL),
    "dedup_simhash_portable": (dedup_simhash_portable,
                               DEDUP_SIMHASH_PORTABLE_SQL),
    "dedup_clusters_portable": (dedup_clusters_portable,
                                DEDUP_CLUSTERS_PORTABLE_SQL),
    "dedup_embedding_lsh_portable": (dedup_embedding_lsh_portable,
                                     DEDUP_EMBEDDING_LSH_PORTABLE_SQL),
    "sim_search_lsh_portable": (sim_search_lsh_portable,
                                SIM_SEARCH_LSH_PORTABLE_SQL),
    "agg_approx_distinct_portable": (agg_approx_distinct_portable,
                                     AGG_APPROX_DISTINCT_PORTABLE_SQL),
    "sim_search_ivf_portable": (sim_search_ivf_portable,
                                SIM_SEARCH_IVF_PORTABLE_SQL),
}
