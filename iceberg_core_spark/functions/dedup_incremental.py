"""Incremental deduplication — judge an INCOMING BATCH against an
EXISTING CORPUS without ever comparing the corpus to itself. This is
the continuous-ingest shape of dedup a training-data pipeline runs
every day: the corpus is already deduplicated (100 TB, append-only);
each new crawl/delivery batch must be checked against it before
admission. Re-running corpus-wide dedup per batch would be O(corpus)
per day; this path is O(batch + collisions).

Two tiers, one verdict per batch document:

- ``exact_dup``  — the batch doc's normalized-content fingerprint
  (md5 over lowercased, whitespace-collapsed text — the same
  ``text.fingerprint`` the corpus-wide path uses) already exists in
  the corpus. ``match_id`` is the smallest matching corpus id.
- ``near_dup``   — not exact, but a MinHash-LSH band collision with a
  corpus doc verifies at shingle-Jaccard >= threshold. ``match_id``
  is the best match (highest Jaccard, smallest id on ties),
  ``jacc`` its rounded score.
- ``unique``     — neither.

Scale design (the asymmetry is the point):
- The exact tier shuffles only skinny (fp, id) pairs; in production
  the corpus fingerprint index is computed once and stored as a table
  (``fp -> min id``), so each batch pays one hash-join against an
  index, not a corpus scan.
- The near tier joins BATCH band triples against CORPUS band triples
  on (band_idx, band_hash) — never corpus x corpus, never batch x
  batch — so candidate volume scales with the batch and the collision
  rate, not with the corpus pair count. Only (band_idx, band_hash,
  id) triples shuffle; shingle arrays re-join by id for the verify
  (``_spread_verify`` width-repartitions the skinny candidate list
  first). The corpus band index, like the fingerprint index, is
  precomputable and incremental (append band triples as docs are
  admitted).
- Batch-internal duplicates are out of scope by design — run the
  corpus-wide pass (``dedup_exact`` / ``dedup_minhash``) over the
  batch alone for that; admission order decides which copy enters.

The whole pipeline is built on the engine-portable md5 hash family
(``dedup_portable``), so it is fully value-hash oracle-checked — the
same signature/band/verify text feeds the Spark plan and the DuckDB
SQL. Reference analog: none (the reference dedupes only via
content-hash filenames, block.go:109-115 — the exact tier generalizes
exactly that idea to a queryable index).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from iceberg_core_spark.functions import text as T
from iceberg_core_spark.functions.dedup import (
    _spread_verify,
    fround,
    fround_sql,
    jaccard,
    shingles,
)
from iceberg_core_spark.functions.dedup_portable import (
    _JACC_RAW,
    _SIG_CTE_BODY,
    _band_triples,
    THRESHOLD,
)
from iceberg_core_spark.functions.index_store import (
    SnapshotSyncedStore,
    _push_batch_keys_multi,
)
from iceberg_core_spark.session import load_table, spread


def _corpus_fp(corpus: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(fp, __cid) fingerprint pairs of a corpus frame — the raw rows
    an AdmissionIndex persists (min-id aggregation happens at judge
    time so index appends never rewrite). spread() parallelizes the
    normalize+md5 map over a single-file scan."""
    return spread(corpus).select(
        T.fingerprint(F.col(text_col)).alias("fp"),
        F.col(id_col).alias("__cid"),
    )


def _corpus_shingles(corpus: DataFrame, text_col: str,
                     id_col: str) -> DataFrame:
    """(__cid, tb) shingle sets of a corpus frame (verify side);
    spread() parallelizes the tokenize map over a single-file scan."""
    return spread(corpus).select(F.col(id_col).alias("__cid"),
                                 shingles(F.col(text_col)).alias("tb"))


def _judge(
    batch: DataFrame,
    cfp_rows: DataFrame,
    cbands: DataFrame,
    ctoks: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float,
    key_pushdown: int = 0,
) -> DataFrame:
    """Shared verdict pipeline over corpus-SIDE frames — fed either by
    on-the-fly derivation (:func:`dedup_batch`) or by persisted index
    tables (:class:`AdmissionIndex`), so the two paths cannot drift.
    ``cfp_rows``: (fp, __cid); ``cbands``: (__cid, band_idx,
    band_hash); ``ctoks``: (__cid, tb).

    ``key_pushdown`` > 0 enables the scan-pruning fast path (the
    FuzzyIndex pattern): the batch's distinct fingerprints and band
    hashes — bounded by the knob, count-guarded — become ``isin``
    filters on the corpus frames. A necessary condition of each
    equi-join, so verdicts are unchanged; against the PERSISTED
    key-clustered index the filters push into the parquet scans and
    per-batch I/O tracks the batch, not the corpus."""
    # exact tier: one hash-join on fp against the fp -> min id rollup
    bfp = batch.select(
        F.col(id_col), T.fingerprint(F.col(text_col)).alias("fp")
    )
    # near tier: batch bands x corpus bands only
    bb = _band_triples(spread(batch), text_col, id_col).withColumnRenamed(
        id_col, "__bid")
    if key_pushdown:
        # the localized batch frames also stop the band map (N_HASHES
        # md5 per token — the pipeline's CPU hot spot) from computing
        # once for the key collect and again for the candidate join.
        # Both families ride one fused count job + one fused collect
        # job (r16, guide §6 driver round-trips)
        (bfp, cfp_rows), (bb, cbands) = _push_batch_keys_multi(
            [(bfp, "fp", cfp_rows), (bb, "band_hash", cbands)],
            key_pushdown)

    cfp = cfp_rows.groupBy("fp").agg(F.min("__cid").alias("exact_match"))
    exact = bfp.join(cfp, "fp", "left").select(id_col, "exact_match")

    cand = _spread_verify(
        bb.join(cbands, ["band_idx", "band_hash"])
        .select("__bid", "__cid").distinct(),
        cols=("__bid", "__cid"),
    )
    btoks = batch.select(F.col(id_col).alias("__bid"),
                         shingles(F.col(text_col)).alias("ta"))
    jc = fround(jaccard(F.col("ta"), F.col("tb")), 4)
    verified = (
        cand.join(btoks, "__bid")
        .join(ctoks, "__cid")
        .select("__bid", "__cid", jc.alias("__jacc"))
        .filter(F.col("__jacc") >= threshold)
    )
    w = Window.partitionBy("__bid").orderBy(
        F.col("__jacc").desc(), F.col("__cid"))
    best = (
        verified.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("__bid", "__cid", "__jacc")
    )

    is_exact = F.col("exact_match").isNotNull()
    return (
        batch.select(id_col)
        .join(exact, id_col, "left")
        .join(best, F.col(id_col) == F.col("__bid"), "left")
        .select(
            F.col(id_col),
            F.when(is_exact, F.lit("exact_dup"))
            .when(F.col("__cid").isNotNull(), F.lit("near_dup"))
            .otherwise(F.lit("unique")).alias("verdict"),
            F.when(is_exact, F.col("exact_match"))
            .otherwise(F.col("__cid")).alias("match_id"),
            F.when(is_exact, F.lit(None).cast("double"))
            .otherwise(F.col("__jacc")).alias("jacc"),
        )
    )


def dedup_batch(
    corpus: DataFrame,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = THRESHOLD,
) -> DataFrame:
    """Per-batch-document admission verdict against ``corpus``:
    (id, verdict exact_dup|near_dup|unique, match_id, jacc). Derives
    the corpus-side fingerprint/band/shingle frames on the fly — one
    corpus (id, text) pass per call; :class:`AdmissionIndex` is the
    persisted variant that amortizes it."""
    return _judge(
        batch,
        _corpus_fp(corpus, text_col, id_col),
        _band_triples(spread(corpus), text_col, id_col).withColumnRenamed(
            id_col, "__cid"),
        _corpus_shingles(corpus, text_col, id_col),
        text_col, id_col, threshold,
    )


class AdmissionIndex(SnapshotSyncedStore):
    """Persisted admission index — the production variant of
    :func:`dedup_batch` for corpora too large to re-scan per batch.
    Three parquet tables under ``root`` hold the corpus-side frames
    the judge pipeline needs: ``fp`` (fingerprint, id), ``bands``
    (id, band_idx, band_hash), ``shingles`` (id, shingle set).

    Persistence, incremental sync from an append-only
    :class:`IceTable`, generation-flip compaction, and the rebuild
    recovery paths are the shared snapshot-synced-store discipline —
    see :class:`~iceberg_core_spark.functions.index_store.
    SnapshotSyncedStore` (extracted r10; behavior unchanged).

    :meth:`judge` runs the SAME ``_judge`` pipeline as
    :func:`dedup_batch`, reading the persisted frames instead of
    deriving them — per-batch cost drops the corpus text pass and the
    shingle/signature recompute; what remains is the fp hash-join,
    the asymmetric band join, and candidate-targeted shingle reads.
    """

    _KIND_COLS = {
        "fp": ["fp", "__cid"],
        "bands": ["__cid", "band_idx", "band_hash"],
        "shingles": ["__cid", "tb"],
    }
    _COUNT_KIND = "fp"

    def _cluster_for_write(self, kind: str, frame, parts: int):
        # compaction clusters the probe-keyed kinds by their join
        # key so the pushed-down In filters skip files/row groups
        # by min-max stats and dictionary pages
        if kind == "fp":
            return frame.repartitionByRange(
                parts, "fp").sortWithinPartitions("fp")
        if kind == "bands":
            return frame.repartitionByRange(
                parts, "band_hash").sortWithinPartitions("band_hash")
        return super()._cluster_for_write(kind, frame, parts)

    def _frames(self, rows: DataFrame) -> dict[str, DataFrame]:
        rows = rows.select(self.id_col, self.text_col)
        return {
            "fp": _corpus_fp(rows, self.text_col, self.id_col),
            "bands": _band_triples(
                spread(rows), self.text_col, self.id_col
            ).withColumnRenamed(self.id_col, "__cid"),
            "shingles": _corpus_shingles(rows, self.text_col,
                                         self.id_col),
        }

    def judge(self, batch: DataFrame,
              threshold: float = THRESHOLD) -> DataFrame:
        """Admission verdicts for ``batch`` against the indexed corpus
        — same output contract as :func:`dedup_batch`."""
        self._ensure_readable()
        pushdown = self._pushdown_limit("fp", "bands")
        return _judge(
            batch,
            self._read("fp"),
            self._read("bands"),
            self._read("shingles"),
            self.text_col, self.id_col, threshold,
            key_pushdown=pushdown,
        )


def dedup_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """Registry query: documents split by id into a 90% corpus
    (doc_id % 10 != 0) and a 10% incoming batch (doc_id % 10 == 0);
    every batch doc gets its admission verdict."""
    docs = load_table(spark, sf, "documents")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    return dedup_batch(corpus, batch)


_IDX_CACHE: dict[str, str] = {}


def _admission_index_root(spark: SparkSession, sf: str) -> str:
    """Build (once per corpus) the PRODUCTION admission path: the 90%
    corpus committed to an append-only IceTable in two commits, and a
    persisted AdmissionIndex synced from it — so the driver row proves
    the incremental sync (create + append increments), not just the
    on-the-fly derivation."""
    from iceberg_core_spark.functions.index_store import (
        split_corpus_index_root,
    )

    return split_corpus_index_root(
        spark,
        lambda: load_table(spark, sf, "documents").select(
            "doc_id", "text"),
        _IDX_CACHE, sf, "ice_admidx_",
        lambda root: AdmissionIndex(spark, root))


def admission_index(spark: SparkSession, sf: str) -> DataFrame:
    """Registry query: same corpus/batch split and same verdict
    contract as :func:`dedup_incremental`, but judged through the
    PERSISTED :class:`AdmissionIndex` (built once per corpus from an
    append-only IceTable) — the 100 TB path where per-batch cost
    drops the corpus text pass. Byte-identity with ``dedup_batch`` is
    asserted in tests/test_llm_oracle.py; the oracle is the
    dedup_incremental SQL verbatim."""
    base = _admission_index_root(spark, sf)
    idx = AdmissionIndex(spark, os.path.join(base, "idx"))
    docs = load_table(spark, sf, "documents")
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    return idx.judge(batch)


_FP_SQL = (
    "md5(trim(regexp_replace(lower(text),"
    " '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')))"
)

DEDUP_INCREMENTAL_SQL = f"""
WITH {_SIG_CTE_BODY}, cfp AS (
  SELECT {_FP_SQL} AS fp, MIN(doc_id) AS exact_match
  FROM documents WHERE doc_id % 10 <> 0 GROUP BY 1
), bfp AS (
  SELECT doc_id, {_FP_SQL} AS fp
  FROM documents WHERE doc_id % 10 = 0
), exact AS (
  SELECT b.doc_id, c.exact_match
  FROM bfp b LEFT JOIN cfp c USING (fp)
), cand AS (
  SELECT DISTINCT bb.doc_id AS bid, cb.doc_id AS cid
  FROM bands bb JOIN bands cb
    ON bb.band_idx = cb.band_idx AND bb.band_hash = cb.band_hash
  WHERE bb.doc_id % 10 = 0 AND cb.doc_id % 10 <> 0
), vpairs AS (
  SELECT bid, cid, ta.t AS ta, tb.t AS tb
  FROM cand
  JOIN toks ta ON ta.doc_id = bid
  JOIN toks tb ON tb.doc_id = cid
), verified AS (
  SELECT bid, cid, {fround_sql(_JACC_RAW, 4)} AS jacc
  FROM vpairs
  WHERE {fround_sql(_JACC_RAW, 4)} >= {THRESHOLD}
), best AS (
  SELECT bid, cid, jacc,
         ROW_NUMBER() OVER (PARTITION BY bid
                            ORDER BY jacc DESC, cid) AS rn
  FROM verified
)
SELECT b.doc_id,
       CASE WHEN e.exact_match IS NOT NULL THEN 'exact_dup'
            WHEN bst.cid IS NOT NULL THEN 'near_dup'
            ELSE 'unique' END AS verdict,
       COALESCE(e.exact_match, bst.cid) AS match_id,
       CASE WHEN e.exact_match IS NOT NULL THEN CAST(NULL AS DOUBLE)
            ELSE bst.jacc END AS jacc
FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) b
LEFT JOIN exact e ON e.doc_id = b.doc_id
LEFT JOIN best bst ON bst.bid = b.doc_id AND bst.rn = 1
"""


QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, tuple[QueryFn, str | None]] = {
    "dedup_incremental": (dedup_incremental, DEDUP_INCREMENTAL_SQL),
    # the persisted-index production path, same verdict contract and
    # the SAME oracle text — the two feeds share _judge, so a drift
    # between them is structurally impossible and the driver row
    # proves the sync→judge pipeline end-to-end
    "admission_index": (admission_index, DEDUP_INCREMENTAL_SQL),
}
