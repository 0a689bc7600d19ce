"""Incremental fuzzy admission (functions/fuzzy_index.py): verdicts
must equal a from-scratch fuzzy_join rollup (brute-force property
test), the persisted FuzzyIndex must agree byte-for-byte with the
on-the-fly fuzzy_batch across incremental syncs and compaction, and
the staged registry query must match its independent brute-force
DuckDB oracle."""

import os
import random

import pytest
from pyspark.sql import functions as F

from iceberg_core_spark.functions.fuzzy_index import (
    STAGED_QUERIES,
    FuzzyIndex,
    fuzzy_batch,
)
from tests.oracle import compare, duck_connection

SF_DIR = "/root/testdata/sf0.001"


def _lev(a: str, b: str) -> int:
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _brute_verdicts(crows, brows, d):
    """The model: best corpus match per batch doc (min dist, min id).
    NULL-text batch docs never match but STILL get their 'unique' row
    (one row per batch doc — the admission path must neither silently
    admit nor lose them)."""
    out = {}
    for i, a in brows:
        if a is None:
            out[i] = ("unique", None, None)
            continue
        best = None
        for j, b in crows:
            if b is None:
                continue
            dist = _lev(a, b)
            if dist <= d and (best is None or (dist, j) < best):
                best = (dist, j)
        out[i] = (("fuzzy_dup", best[1], best[0]) if best
                  else ("unique", None, None))
    return out


def _mutator(rng, alpha):
    def mutate(s, edits):
        s = list(s)
        for _ in range(edits):
            op = rng.choice("ids")
            p = rng.randrange(len(s) + (op == "i"))
            if op == "i":
                s.insert(p, rng.choice(alpha))
            elif op == "d" and s:
                s.pop(min(p, len(s) - 1))
            else:
                s[min(p, len(s) - 1)] = rng.choice(alpha)
        return "".join(s)
    return mutate


def _seeded_corpora():
    """Corpus + batch mixing every regime: guaranteed probes, planted
    cross-mutations, repetitive short-CLASS strings, tiny strings,
    NULLs, and batch-only new vocabulary."""
    rng = random.Random(20260815)
    alpha = "abcd"
    mutate = _mutator(rng, alpha)
    cbase = ["".join(rng.choice(alpha)
                     for _ in range(rng.randint(10, 16)))
             for _ in range(20)]
    crows = list(enumerate(cbase + ["a" * 12, "ab", "", "aaa", None]))
    bstrings = [mutate(s, rng.randint(0, 2)) for s in cbase[:12]]
    bstrings += ["zzzzzzzzzzzzzz",          # new vocabulary, no match
                 "a" * 11, "ba", "b", "", None]
    brows = list(enumerate(bstrings))
    return crows, brows


def _collect_verdicts(df):
    return {r["doc_id"]: (r["verdict"], r["match_id"], r["dist"])
            for r in df.collect()}


def test_fuzzy_batch_matches_brute_force(spark):
    crows, brows = _seeded_corpora()
    cdf = spark.createDataFrame(crows, "doc_id long, text string")
    bdf = spark.createDataFrame(brows, "doc_id long, text string")
    for d in (1, 2):
        got = _collect_verdicts(fuzzy_batch(cdf, bdf, "doc_id", "text", d))
        want = _brute_verdicts(crows, brows, d)
        assert got == want, f"d={d}"


def test_fuzzy_batch_same_id_both_sides_is_kept(spark):
    """corpus id 7 and batch id 7 are DIFFERENT entities — the match
    must not be suppressed (unlike the self-match)."""
    cdf = spark.createDataFrame([(7, "hello world")],
                                "doc_id long, text string")
    bdf = spark.createDataFrame([(7, "hello world")],
                                "doc_id long, text string")
    got = _collect_verdicts(fuzzy_batch(cdf, bdf, "doc_id", "text", 2))
    assert got == {7: ("fuzzy_dup", 7, 0)}


def _committed_index(spark, tmp_path, crows, n_commits=3):
    """Corpus committed in ``n_commits`` IceTable commits, FuzzyIndex
    synced after EACH commit — the incremental path, not one bulk
    create."""
    from iceberg_core_spark.table import IceTable

    cdf = spark.createDataFrame(crows, "doc_id long, text string")
    splits = [cdf.filter(F.col("doc_id") % n_commits == i)
              for i in range(n_commits)]
    t = IceTable.create(spark, str(tmp_path / "corpus"), splits[0],
                        partition_col=None, key_col="doc_id")
    idx = FuzzyIndex(spark, str(tmp_path / "idx"))
    assert idx.sync(t) == 1
    for s in splits[1:]:
        t.append(s)
        assert idx.sync(t) == 1
    return t, idx


def test_fuzzy_index_judge_equals_fuzzy_batch(spark, tmp_path):
    """The persisted index (built over THREE incremental syncs) must
    produce exactly fuzzy_batch's verdicts — increments are
    self-contained per-document frames (segment pieces are pure
    functions of the string), so concatenating three syncs must equal
    the from-scratch derivation, exercised end-to-end."""
    crows, brows = _seeded_corpora()
    _t, idx = _committed_index(spark, tmp_path, crows)
    cdf = spark.createDataFrame(crows, "doc_id long, text string")
    bdf = spark.createDataFrame(brows, "doc_id long, text string")
    want = _collect_verdicts(fuzzy_batch(cdf, bdf, "doc_id", "text",
                                         idx.max_dist))
    got = _collect_verdicts(idx.judge(bdf))
    assert got == want


def test_fuzzy_index_compact_preserves_judge(spark, tmp_path):
    crows, brows = _seeded_corpora()
    _t, idx = _committed_index(spark, tmp_path, crows)
    bdf = spark.createDataFrame(brows, "doc_id long, text string")
    before = _collect_verdicts(idx.judge(bdf))
    gen0 = idx.generation()
    assert idx.compact() == gen0 + 1
    # consolidated: the three per-snapshot sync dirs folded into one
    segs_dir = idx._kind_dir("segs")
    assert [d for d in os.listdir(segs_dir)
            if d.startswith("snap=")] == [f"snap={idx.synced_snapshot()}"]
    assert _collect_verdicts(idx.judge(bdf)) == before
    # idempotent: nothing left to compact
    assert idx.compact() == gen0 + 1


def test_fuzzy_index_new_docs_change_verdicts_after_sync(spark,
                                                         tmp_path):
    """A doc admitted in a later append must be visible to the next
    judge — and only after sync."""
    from iceberg_core_spark.table import IceTable

    c0 = [(1, "the quick brown fox jumps over")]
    t = IceTable.create(
        spark, str(tmp_path / "corpus"),
        spark.createDataFrame(c0, "doc_id long, text string"),
        partition_col=None, key_col="doc_id")
    idx = FuzzyIndex(spark, str(tmp_path / "idx"))
    idx.sync(t)
    bdf = spark.createDataFrame([(100, "an entirely different text")],
                                "doc_id long, text string")
    assert _collect_verdicts(idx.judge(bdf)) == {
        100: ("unique", None, None)}
    t.append(spark.createDataFrame(
        [(2, "an entirely different texts")],
        "doc_id long, text string"))
    # not yet synced: verdict unchanged
    assert _collect_verdicts(idx.judge(bdf)) == {
        100: ("unique", None, None)}
    assert idx.sync(t) == 1
    assert _collect_verdicts(idx.judge(bdf)) == {
        100: ("fuzzy_dup", 2, 1)}


def test_fuzzy_index_piece_pushdown(spark, tmp_path):
    """The judge's batch-piece In filter must reach the persisted
    segs parquet scan (PushedFilters), and toggling the pushdown off
    must not change a single verdict — it is a necessary condition of
    the equi-join, a plan change only."""
    crows, brows = _seeded_corpora()
    _t, deflt = _committed_index(spark, tmp_path, crows)
    deflt.compact()  # range-clustered by __piece from here on
    bdf = spark.createDataFrame(brows, "doc_id long, text string")
    # this store is KB-sized, so the default auto-gate (GB threshold)
    # keeps the pushdown off — the In-literal planning overhead would
    # cost more than the scan it saves
    assert "In(__piece" not in deflt.judge(bdf)._jdf.queryExecution() \
        .executedPlan().toString()
    idx = FuzzyIndex(spark, str(tmp_path / "idx"),
                     pushdown_min_store_bytes=0)
    plan = idx.judge(bdf)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "In(__piece" in plan, plan[:2000]
    off = FuzzyIndex(spark, str(tmp_path / "idx"), pushdown_max_keys=0)
    assert "In(__piece" not in off.judge(bdf)._jdf.queryExecution() \
        .executedPlan().toString()
    assert (_collect_verdicts(off.judge(bdf))
            == _collect_verdicts(idx.judge(bdf)))


def test_push_batch_keys_over_bound_is_a_cheap_no_op(spark):
    """An over-bound batch must leave BOTH frames untouched (same
    objects — the bound check is a truncated count, not a row
    collect that gets discarded; measured at 10x the knob the old
    collect added ~14 s/judge on a GiB store)."""
    from iceberg_core_spark.functions.index_store import (
        _push_batch_keys,
    )

    b = spark.range(0, 10).selectExpr("id as k")
    c = spark.range(0, 100).selectExpr("id as k")
    b_over, c_over = _push_batch_keys(b, "k", c, max_rows=5)
    assert b_over is b and c_over is c
    b_under, c_under = _push_batch_keys(b, "k", c, max_rows=50)
    assert b_under is not b  # localized
    assert c_under.count() == 10  # filtered to the batch keys


def test_push_batch_keys_multi_matches_per_frame_semantics(spark):
    """The fused two-job variant must preserve _push_batch_keys'
    per-entry contract exactly: under-bound entries localize and
    filter their corpus frame, an over-bound entry keeps its original
    frames while its under-bound sibling still localizes, an empty
    entry collapses its corpus side to empty, and mixed schemas
    (long/string vs long/int/string) coexist in the shared union."""
    from iceberg_core_spark.functions.index_store import (
        _push_batch_keys_multi,
    )

    b1 = spark.range(0, 10).selectExpr("id as doc_id",
                                       "concat('fp', id) as fp")
    c1 = spark.range(0, 100).selectExpr("concat('fp', id) as fp",
                                        "id as __cid")
    b2 = spark.range(0, 10).selectExpr(
        "id as __bid", "cast(id % 4 as int) as band_idx",
        "concat('h', id % 7) as band_hash")
    c2 = spark.range(0, 100).selectExpr(
        "id as __cid", "cast(id % 4 as int) as band_idx",
        "concat('h', id) as band_hash")

    # both under bound: localized + filtered
    (l1, f1), (l2, f2) = _push_batch_keys_multi(
        [(b1, "fp", c1), (b2, "band_hash", c2)], max_rows=50)
    assert l1 is not b1 and l2 is not b2
    assert sorted(r.fp for r in l1.collect()) \
        == sorted(r.fp for r in b1.collect())
    assert l2.schema == b2.schema
    assert f1.count() == 10  # fp0..fp9
    assert f2.count() == 7   # h0..h6
    # one over bound: that entry untouched, the sibling still pushes
    (o1, oc1), (l2b, f2b) = _push_batch_keys_multi(
        [(c1.selectExpr("fp", "__cid as doc_id"), "fp", c1),
         (b2, "band_hash", c2)], max_rows=50)
    assert oc1 is c1
    assert l2b is not b2 and f2b.count() == 7
    # empty entry: corpus side collapses to empty
    (le, fe), = _push_batch_keys_multi(
        [(b1.filter("doc_id < 0"), "fp", c1)], max_rows=50)
    assert le.count() == 0 and fe.count() == 0
    # non-json-exact column type: per-frame fallback, same semantics
    bd = spark.range(0, 5).selectExpr("id as k",
                                      "cast(id as double) as v")
    (ld, fd), = _push_batch_keys_multi(
        [(bd, "k", c1.selectExpr("__cid as k"))], max_rows=50)
    assert ld is not bd and fd.count() == 5


def test_reader_cache_keys_on_application_id(spark, tmp_path):
    """The reader memo must key on the SparkContext applicationId —
    NOT id(session), which CPython recycles after GC, resurrecting a
    dead session's DataFrame for an identical (root, kind, gen,
    watermark) key (r15 ADVICE). Entries under any OTHER application
    id are provably dead (one live context per JVM) and must be swept
    on the next insert so the module-level map cannot grow without
    bound across session restarts."""
    from iceberg_core_spark.functions.index_store import _READER_CACHE

    crows, _brows = _seeded_corpora()
    _t, idx = _committed_index(spark, tmp_path, crows, n_commits=1)
    _READER_CACHE.clear()
    dead = ("app-dead-0000", id(spark), str(tmp_path / "idx"), "segs",
            0, 1)
    _READER_CACHE[dead] = spark.range(1)  # a prior session's relic
    df1 = idx._read("segs")
    app = spark.sparkContext.applicationId
    assert all(k[0] == app for k in _READER_CACHE), (
        "dead-application entries must be swept on insert")
    # and the memo hits: same watermark/generation -> same frame
    before = dict(_READER_CACHE)
    idx._read("segs")
    assert dict(_READER_CACHE) == before
    assert df1.count() > 0


def test_reader_cache_separates_sibling_sessions(spark, tmp_path):
    """``newSession()`` siblings share the SparkContext (same
    applicationId) but not session-scoped SQL confs: a sibling with a
    different ``spark.sql.session.timeZone`` must get a reader frame
    bound to ITSELF, not the frame the first session cached for the
    same (root, kind, generation, watermark)."""
    from iceberg_core_spark.functions.index_store import _READER_CACHE

    crows, _brows = _seeded_corpora()
    _t, idx = _committed_index(spark, tmp_path, crows, n_commits=1)
    _READER_CACHE.clear()
    sib = spark.newSession()
    sib.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
    assert sib.sparkContext.applicationId == \
        spark.sparkContext.applicationId
    idx_sib = FuzzyIndex(sib, str(tmp_path / "idx"))
    df = idx._read("segs")
    df_sib = idx_sib._read("segs")
    assert df.sparkSession is spark
    assert df_sib.sparkSession is sib
    assert df_sib.sparkSession.conf.get(
        "spark.sql.session.timeZone") == "Asia/Tokyo"
    assert len(_READER_CACHE) == 2  # one entry per session
    # each session still hits its own memo
    before = dict(_READER_CACHE)
    idx._read("segs")
    idx_sib._read("segs")
    assert dict(_READER_CACHE) == before
    assert df_sib.count() == df.count() > 0


def test_fuzzy_index_rejects_param_mismatch(spark, tmp_path):
    """Reopening an index with different segment geometry must raise,
    not silently judge against unjoinable persisted pieces."""
    from iceberg_core_spark.table import IceTable

    rows = [(i, f"document number {i} padded out") for i in range(4)]
    cdf = spark.createDataFrame(rows, "doc_id long, text string")
    t = IceTable.create(spark, str(tmp_path / "corpus"), cdf,
                        partition_col=None, key_col="doc_id")
    idx = FuzzyIndex(spark, str(tmp_path / "idx"), max_dist=2)
    idx.sync(t)
    bdf = spark.createDataFrame([(9, "document number 1 padded out")],
                                "doc_id long, text string")
    reopened = FuzzyIndex(spark, str(tmp_path / "idx"), max_dist=1)
    with pytest.raises(ValueError, match="was built with params"):
        reopened.judge(bdf)
    with pytest.raises(ValueError, match="was built with params"):
        reopened.sync(t)
    # the original params still work, and rebuild() restamps new ones
    assert _collect_verdicts(
        FuzzyIndex(spark, str(tmp_path / "idx"), max_dist=2).judge(bdf)
    )[9][0] == "fuzzy_dup"
    reopened.rebuild(t)
    assert _collect_verdicts(reopened.judge(bdf)) == {
        9: ("fuzzy_dup", 1, 0)}


def test_fuzzy_index_unstamped_store_self_heals_on_sync(spark,
                                                        tmp_path):
    """A store whose meta predates parameter stamping must fail READ
    paths with instructions, but sync() — which has the table — must
    self-heal by rebuilding under the current params."""
    import json

    from iceberg_core_spark.table import IceTable

    rows = [(i, f"document number {i} padded out") for i in range(4)]
    cdf = spark.createDataFrame(rows, "doc_id long, text string")
    t = IceTable.create(spark, str(tmp_path / "corpus"), cdf,
                        partition_col=None, key_col="doc_id")
    idx = FuzzyIndex(spark, str(tmp_path / "idx"))
    idx.sync(t)
    # simulate the pre-stamping layout
    meta_path = tmp_path / "idx" / "_meta.json"
    meta = json.loads(meta_path.read_text())
    del meta["params"]
    meta_path.write_text(json.dumps(meta))

    bdf = spark.createDataFrame([(9, "document number 1 padded out")],
                                "doc_id long, text string")
    with pytest.raises(ValueError, match="predates parameter"):
        idx.judge(bdf)
    with pytest.raises(ValueError, match="predates parameter"):
        idx.compact()
    assert idx.sync(t) == 1  # rebuild, restamped
    assert _collect_verdicts(idx.judge(bdf)) == {
        9: ("fuzzy_dup", 1, 0)}


def test_fuzzy_index_rejects_non_append(spark, tmp_path):
    from iceberg_core_spark.table import IceTable

    rows = [(i, f"document number {i} padded out") for i in range(6)]
    cdf = spark.createDataFrame(rows, "doc_id long, text string")
    t = IceTable.create(spark, str(tmp_path / "corpus"), cdf,
                        partition_col=None, key_col="doc_id")
    idx = FuzzyIndex(spark, str(tmp_path / "idx"))
    idx.sync(t)
    t.upsert(spark.createDataFrame([(1, "edited text")],
                                   "doc_id long, text string"),
             key_cols=["doc_id"])
    with pytest.raises(ValueError, match="append-only"):
        idx.sync(t)


def test_judge_on_never_synced_store_raises_descriptively(
        spark, tmp_path):
    """r10 ADVICE: judging a store that has never synced must raise a
    'never been synced' error (not Spark's raw PATH_NOT_FOUND) and
    must NOT write _meta.json from the read path — both index
    families share the guard via SnapshotSyncedStore._ensure_readable."""
    from iceberg_core_spark.functions.dedup_incremental import (
        AdmissionIndex,
    )

    bdf = spark.createDataFrame([(9, "document number 1 padded out")],
                                "doc_id long, text string")
    for idx in (FuzzyIndex(spark, str(tmp_path / "fidx")),
                AdmissionIndex(spark, str(tmp_path / "aidx"))):
        with pytest.raises(ValueError, match="never been synced"):
            idx.judge(bdf)
        assert not os.path.exists(idx._meta_path())  # read-only path


def test_sync_rebuild_returns_chain_coverage(spark, tmp_path):
    """r10 ADVICE: recovery syncs report how many chain snapshots the
    rebuild actually covered, not a constant 1 — pinned here on a
    TWO-snapshot chain through the unstamped self-heal path."""
    import json

    from iceberg_core_spark.table import IceTable

    rows = [(i, f"document number {i} padded out") for i in range(4)]
    cdf = spark.createDataFrame(rows, "doc_id long, text string")
    t = IceTable.create(spark, str(tmp_path / "corpus"),
                        cdf.filter("doc_id < 2"),
                        partition_col=None, key_col="doc_id")
    t.append(cdf.filter("doc_id >= 2"))
    idx = FuzzyIndex(spark, str(tmp_path / "idx"))
    assert idx.sync(t) == 2
    meta_path = tmp_path / "idx" / "_meta.json"
    meta = json.loads(meta_path.read_text())
    del meta["params"]
    meta_path.write_text(json.dumps(meta))
    assert idx.sync(t) == 2  # rebuild covered the 2-snapshot chain
    assert idx.sync(t) == 0  # incremental (and stamped) again


def _doc_file(spark, src, rows, name):
    import shutil

    df = spark.createDataFrame(rows, "doc_id long, text string")
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(src, "_stage"))
    part = [f for f in os.listdir(os.path.join(src, "_stage"))
            if f.endswith(".parquet")][0]
    shutil.move(os.path.join(src, "_stage", part),
                os.path.join(src, name))


@pytest.mark.parametrize("use_index", [False, True],
                         ids=["scan", "index"])
def test_stream_fuzzy_admit_compounds(spark, tmp_path, use_index):
    """method='fuzzy' streaming admission end to end, both judge
    paths: batch 1 creates the table; batch 2's one-edit variant of
    an existing doc is rejected (quarantined with its edit distance)
    while its genuinely different doc lands; batch 3's near-variant
    OF A BATCH-2 ADMISSION is rejected — fuzzy admission compounds
    exactly like the MinHash family."""
    from iceberg_core_spark.streaming.ingest import stream_admit_to_table
    from iceberg_core_spark.table import IceTable

    src = str(tmp_path / "incoming")
    os.makedirs(src)
    table_root = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    quarantine = str(tmp_path / "quarantine")
    index_root = str(tmp_path / "index") if use_index else None

    base = "the quick brown fox jumps over the lazy dog"
    other = "parquet footer statistics prune row groups"
    fresh = "stream processing with event time windows"

    batches = [
        [(1, base), (2, other)],
        [(10, base.replace("jumps", "jumped")),  # 2 edits → reject
         (11, fresh),                            # unique → admit
         (12, None)],                            # NULL text: never
                                                 # matches → admit
                                                 # (one verdict row per
                                                 # batch doc — not
                                                 # silently dropped)
        [(20, fresh + "s")],                     # 1 edit off a BATCH-2
                                                 # admission → reject
    ]

    def drain(n):
        _doc_file(spark, src, batches[n], f"b{n}.parquet")
        q = stream_admit_to_table(
            spark, src, table_root,
            spark.createDataFrame([], "doc_id long, text string").schema,
            partition_col=None, key_col="doc_id",
            quarantine_root=quarantine, index_root=index_root,
            method="fuzzy", max_dist=2,
            trigger={"availableNow": True}, checkpoint_dir=ckpt,
        )
        assert q.awaitTermination(180)

    for n in range(len(batches)):
        drain(n)

    t = IceTable(spark, table_root)
    assert sorted(r.doc_id for r in t.scan().collect()) == [1, 2, 11, 12]

    q2 = {r.doc_id: (r.verdict, r.match_id, r.dist)
          for r in spark.read.parquet(
              os.path.join(quarantine, "batch=1")).collect()}
    assert q2 == {10: ("fuzzy_dup", 1, 2)}
    q3 = {r.doc_id: (r.verdict, r.match_id, r.dist)
          for r in spark.read.parquet(
              os.path.join(quarantine, "batch=2")).collect()}
    assert q3 == {20: ("fuzzy_dup", 11, 1)}  # compounding
    # every batch stamped (replay guard applies unchanged)
    snaps = t.manifest.snapshots(load_files=False)
    assert [s.source_batch_id for s in snaps] == [0, 1, 2]


def test_stream_admit_param_validation(spark, tmp_path):
    from iceberg_core_spark.streaming.ingest import stream_admit_to_table

    schema = spark.createDataFrame([], "doc_id long, text string").schema
    with pytest.raises(ValueError, match="max_dist applies"):
        stream_admit_to_table(
            spark, str(tmp_path / "s"), str(tmp_path / "t"), schema,
            partition_col=None, key_col="doc_id", max_dist=2)
    with pytest.raises(ValueError, match="threshold applies"):
        stream_admit_to_table(
            spark, str(tmp_path / "s"), str(tmp_path / "t"), schema,
            partition_col=None, key_col="doc_id", method="fuzzy",
            threshold=0.8)
    with pytest.raises(ValueError, match="unknown admission method"):
        stream_admit_to_table(
            spark, str(tmp_path / "s"), str(tmp_path / "t"), schema,
            partition_col=None, key_col="doc_id", method="cosine")


def test_fuzzy_admission_plan_no_cross_product(spark):
    fn, _sql = STAGED_QUERIES["corpus_fuzzy_admission"]
    plan = fn(spark, SF_DIR)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_fuzzy_admission_oracle_match(spark):
    fn, sql = STAGED_QUERIES["corpus_fuzzy_admission"]
    con = duck_connection(SF_DIR)
    compare(fn(spark, SF_DIR), con, sql, "corpus_fuzzy_admission")


def test_fresh_index_sync_over_truncated_chain_rebuilds(spark, tmp_path):
    """r13 review: a FRESH store (watermark None) syncing a table whose
    early snapshots were expired must take the rebuild recovery — the
    incremental walk's first unsynced snapshot has a dead parent_id,
    and handing it to scan_incremental raised FileNotFoundError
    instead of recovering. Same situation for a meta-healed store."""
    from iceberg_core_spark.functions.dedup_incremental import (
        AdmissionIndex,
    )
    from iceberg_core_spark.table import IceTable

    rows = [(i, f"document number {i} padded out") for i in range(6)]
    cdf = spark.createDataFrame(rows, "doc_id long, text string")
    t = IceTable.create(spark, str(tmp_path / "corpus"),
                        cdf.filter("doc_id < 2"), key_col="doc_id")
    t.append(cdf.filter("doc_id >= 2 AND doc_id < 4"))
    t.append(cdf.filter("doc_id >= 4"))
    expired = t.expire_snapshots(keep_last=2)
    assert expired  # the create is gone; oldest live parent is dead
    idx = AdmissionIndex(spark, str(tmp_path / "idx"))
    covered = idx.sync(t)  # must rebuild, not FileNotFoundError
    assert covered == 2  # the two live row-bearing snapshots
    # the rebuilt index judges against the FULL current contents
    batch = spark.createDataFrame(
        [(0, "document number 0 padded out"),
         (99, "a genuinely new document body")],
        "doc_id long, text string")
    verdicts = {r.doc_id: r.verdict for r in idx.judge(batch).collect()}
    assert verdicts[0] != "unique"   # duplicate of an expired-commit row
    assert verdicts[99] == "unique"
    # and sync is incremental again afterwards
    t.append(spark.createDataFrame(
        [(7, "document number 7 padded out")],
        "doc_id long, text string"))
    assert idx.sync(t) == 1
