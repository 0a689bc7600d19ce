"""BM25 lexical search: hand-computed scores on a constructed corpus,
the cross-engine oracle on driver testdata, and the scale-shape gates
(filtered explode, broadcast stats)."""

import math

import pytest
from pyspark.sql import functions as F

from iceberg_core_spark.functions.search import (
    QUERIES,
    bm25_search,
    bm25_search_exploded,
)
from tests.oracle import compare, duck_connection

SF_DIR = "/root/testdata/sf0.001"


def test_bm25_matches_hand_computation(spark):
    docs = spark.createDataFrame(
        [(1, "spark join join shuffle"),
         (2, "spark table scan"),
         (3, "filter window hash sort merge part"),
         (4, "join")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in bm25_search(
        docs, [(1, "join")], k=10).collect()}
    # df(join)=2, N=4 -> idf = ln(1 + 2.5/2.5) = ln 2
    # avgdl = (4+3+6+1)/4 = 3.5
    idf = math.log(2.0)

    def s(tf, dl):
        return idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / 3.5))

    assert set(out) == {1, 4}
    assert out[1]["score"] == pytest.approx(
        round(s(2, 4), 9), abs=1e-9)
    assert out[4]["score"] == pytest.approx(
        round(s(1, 1), 9), abs=1e-9)
    # the short doc with one hit outranks tf=2 in a long doc? check
    # ordering is by actual score either way
    ranked = sorted(out.values(), key=lambda r: r["rank"])
    assert [r["score"] for r in ranked] \
        == sorted((r["score"] for r in ranked), reverse=True)


def test_bm25_multi_query_and_tiebreak(spark):
    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "alpha beta"), (3, "gamma")],
        "doc_id long, text string")
    out = bm25_search(docs, [(7, "alpha beta"), (8, "gamma")],
                      k=2).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    # docs 1 and 2 tie exactly: doc_id breaks the tie, rank stable
    q7 = sorted(by_q[7], key=lambda r: r["rank"])
    assert [r["doc_id"] for r in q7] == [1, 2]
    assert q7[0]["score"] == q7[1]["score"]
    assert q7[0]["n_terms_hit"] == 2
    assert [r["doc_id"] for r in by_q[8]] == [3]


def test_bm25_plan_single_pass_shape(spark):
    """Term frequencies are literal per-term COLUMNS: the plan's only
    Generates are the |queries|-wide struct melt and the one-element
    ``explode(array(struct(t, ...)))`` CSE barrier over the token
    array (printed once per reader of the persisted tf frame) — never
    a token explode. Nothing below the persist shuffles, there is no
    shuffle join (the sole join is the 1-row stats broadcast), and the
    corpus scans at most twice regardless of the query count (stats +
    scoring — per-query union legs would scan once per query)."""
    docs = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "a x")], "doc_id long, text string")
    plan = bm25_search(docs, [(1, "a b"), (2, "x"), (3, "c d")], k=3) \
        ._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    gens = [ln.split("Generate ", 1)[1] for ln in lines if "Generate " in ln]
    melts = [g for g in gens if g.startswith("explode(array(struct(query_id")]
    wrappers = [g for g in gens if g.startswith("explode(array(struct(t, ")]
    assert len(melts) == 1                 # the struct melt
    assert wrappers and len(melts) + len(wrappers) == len(gens)
    # the barrier explodes a ONE-element array wrapping the token array,
    # so it emits exactly one row per document
    assert all(g.count("struct(") == 1 for g in wrappers)

    def depth(ln):
        return ln.index("+-") if "+-" in ln else -1

    # no Exchange anywhere in a persisted subtree (the map-side barrier
    # must stay row-local)
    for i, ln in enumerate(lines):
        if "InMemoryRelation" not in ln:
            continue
        d = depth(ln)
        for sub in lines[i + 1:]:
            if depth(sub) <= d:
                break
            assert "Exchange" not in sub, sub
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert plan.count("Scan ExistingRDD") <= 2


def test_bm25_pre_topk_before_rank_window(spark):
    """The per-partition pre-top-k stage exists and sits BELOW the
    global rank window: the rank<=k filter plans as a native
    WindowGroupLimit whose PARTIAL pass feeds the Window's exchange
    (r15: it replaced the Arrow local_group_topk hop — same bound, no
    Python), so the shuffle carries at most k rows per (query, input
    partition), never every hit. There must be no Python node in the
    plan at all. Output must be IDENTICAL across partitionings
    (per-partition top-k is a superset of the global top-k)."""
    rows = [(i, "hit " * (i % 5 + 1) + "pad") for i in range(1, 41)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = bm25_search(docs.repartition(8), [(1, "hit")], k=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    w = plan.index("Window")
    m = plan.rindex("WindowGroupLimit")
    assert m > w, "partial WindowGroupLimit must be UNDER the window " \
                  "(plans print top-down: the child prints later)"
    assert "MapInPandas" not in plan and "EvalPython" not in plan
    one = bm25_search(docs.coalesce(1), [(1, "hit")], k=3).collect()
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, one))
    # ties at equal score resolve by doc_id across the partition split:
    # docs 5,10,...,40 all share tf/dl; the top-3 must be the smallest
    # doc_ids of the best (tf, dl) class regardless of partitioning
    assert [r["doc_id"] for r in sorted(one, key=lambda r: r["rank"])] \
        == sorted(r["doc_id"] for r in one)


def test_bm25_vocab_cap_names_the_alternative(spark):
    docs = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    big = " ".join(f"t{i}" for i in range(65))
    with pytest.raises(ValueError, match="bm25_search_exploded"):
        bm25_search(docs, [(1, big)])


def test_bm25_input_validation_and_duplicate_qids(spark):
    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "beta")], "doc_id long, text string")
    with pytest.raises(ValueError, match="non-empty"):
        bm25_search(docs, [])
    with pytest.raises(ValueError, match="no tokens"):
        bm25_search(docs, [(1, "   ")])
    # a qid listed twice scores the UNION of its terms
    dup = {r["doc_id"]: r for r in bm25_search(
        docs, [(7, "alpha"), (7, "beta")], k=5).collect()}
    one = {r["doc_id"]: r for r in bm25_search(
        docs, [(7, "alpha beta")], k=5).collect()}
    assert {d: (r["score"], r["n_terms_hit"]) for d, r in dup.items()} \
        == {d: (r["score"], r["n_terms_hit"]) for d, r in one.items()}


def test_bm25_sql_escapes_quotes():
    from iceberg_core_spark.functions.search import _bm25_sql

    sql = _bm25_sql([(1, "don't stop")])
    assert "x = 'don''t'" in sql


def test_bm25_exploded_agrees_with_column_path(spark):
    """Same corpus, same sub-64-term queries: the explode-based path
    must reproduce the per-term-column path's ranking exactly and its
    scores to the 1e-9 decimal quantization."""
    rows = [(i, "hit " * (i % 5 + 1) + "pad word" + str(i % 7))
            for i in range(1, 31)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    qs = [(1, "hit word3"), (2, "pad"), (3, "missingterm")]
    col_rows = bm25_search(docs, qs, k=5).collect()
    exp_rows = bm25_search_exploded(docs, qs, k=5).collect()
    col = {(r["query_id"], r["doc_id"]): r for r in col_rows}
    exp = {(r["query_id"], r["doc_id"]): r for r in exp_rows}
    assert set(col) == set(exp)
    for key, c in col.items():
        e = exp[key]
        assert e["rank"] == c["rank"] \
            and e["n_terms_hit"] == c["n_terms_hit"]
        assert e["score"] == pytest.approx(c["score"], abs=2e-9)


def test_bm25_exploded_takes_document_scale_vocab(spark):
    """71 distinct terms: the column path refuses, the exploded path
    scores — and OOV terms neither crash nor contribute."""
    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "beta gamma")],
        "doc_id long, text string")
    big = "alpha " + " ".join(f"zz{i}" for i in range(70))
    with pytest.raises(ValueError, match="bm25_search_exploded"):
        bm25_search(docs, [(5, big)])
    out = bm25_search_exploded(docs, [(5, big)], k=10).collect()
    assert [(r["doc_id"], r["n_terms_hit"]) for r in out] == [(1, 1)]


def test_bm25_exploded_frame_variant_identical(spark):
    """The DataFrame term-set input (the zero-driver scale path) must
    be byte-identical to the list input for the same term sets —
    including duplicate and NULL term rows, which the frame variant
    dedupes/drops to match _merge_query_terms' semantics."""
    from iceberg_core_spark.functions.search import (
        bm25_search_exploded_frame,
    )

    rows = [(i, "hit " * (i % 4 + 1) + "pad w" + str(i % 3))
            for i in range(1, 21)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    qs = [(1, "hit pad"), (2, "w1 hit")]
    qterms = spark.createDataFrame(
        [(1, "hit"), (1, "pad"), (1, "pad"), (1, None),
         (2, "w1"), (2, "hit")],
        "query_id long, term string")
    a = sorted(map(tuple, bm25_search_exploded(docs, qs, k=4).collect()))
    b = sorted(map(tuple,
                   bm25_search_exploded_frame(docs, qterms,
                                              k=4).collect()))
    assert a == b


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_search_oracle_match(spark, name):
    fn, sql = QUERIES[name]
    con = duck_connection(SF_DIR)
    compare(fn(spark, SF_DIR), con, sql, name)
