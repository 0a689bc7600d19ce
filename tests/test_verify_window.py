"""The rotation audit's byte-unchanged machinery (scripts/
verify_window.py): round-commit resolution must anchor to real
round-artifact commits, and the module-diff check must say True for
modules untouched since a round and False for modules that changed —
the two answers the age-3 deferral tier rides on."""

import importlib.util
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _vw():
    spec = importlib.util.spec_from_file_location(
        "verify_window", os.path.join(REPO, "scripts", "verify_window.py"))
    mod = importlib.util.module_from_spec(spec)
    sys.modules.setdefault("verify_window", mod)
    spec.loader.exec_module(mod)
    return mod


def test_round_commits_resolve_and_are_distinct():
    vw = _vw()
    commits = {r: vw._round_commit(r) for r in (6, 7, 8)}
    for r, c in commits.items():
        assert c and len(c) == 40, f"round {r} commit unresolved"
    assert len(set(commits.values())) == 3
    # memoized: second call returns the identical object without a
    # second git scan (cache populated)
    assert 6 in vw._ROUND_COMMITS
    assert vw._round_commit(6) == commits[6]
    # a round that never happened resolves to None, also cached
    assert vw._round_commit(999) is None


def test_round_commit_matches_subject_only_oldest_first():
    """r9 ADVICE regression: the anchor must come from commit SUBJECT
    lines only (a body line starting 'round N:' — changelog paste,
    revert description — must not shadow it) and, among subject
    matches, the OLDEST wins (the driver's artifact commit precedes
    any later same-subject impostor). Oracle: an independent
    subject-only scan of git log, reversed."""
    import re
    import subprocess

    vw = _vw()
    out = subprocess.run(["git", "log", "--format=%H%x09%s"],
                         cwd=REPO, capture_output=True, text=True,
                         check=True).stdout
    oldest: dict[int, str] = {}
    for line in out.splitlines():  # newest-first: later lines overwrite
        sha, _, subject = line.partition("\t")
        m = re.match(r"round (\d+):", subject)
        if m:
            oldest[int(m.group(1))] = sha
    assert oldest, "no round-artifact commits in history?"
    for rnd, sha in oldest.items():
        assert vw._round_commit(rnd) == sha
    # and the subject-only property: bodies that MENTION a round title
    # contribute nothing (every memoized value must be a subject match)
    for rnd, sha in vw._ROUND_COMMITS.items():
        if sha is not None:
            subj = subprocess.run(
                ["git", "log", "-1", "--format=%s", sha],
                cwd=REPO, capture_output=True, text=True).stdout
            assert subj.startswith(f"round {rnd}:")


def test_module_unchanged_check_true_and_false():
    import subprocess

    import pytest

    vw = _vw()
    # tpch.py is byte-unchanged since round 11 as of r14 (the basis of
    # its 17 deferred rows); if a LATER round legitimately edits it,
    # skip rather than freeze that fact — the False case below stays
    # valid forever. (The original True case, relational.py since r6,
    # ended when the r14 join_asof NULL-payload augmentation edited it.)
    from iceberg_core_spark.operators.tpch import QUERIES as TPCH

    fn = TPCH["tpch_q1"][0]
    rel_path = os.path.join("iceberg_core_spark", "operators",
                            "tpch.py")
    c11 = vw._round_commit(11)
    if c11 is None:
        pytest.skip("round-11 artifact commit unresolvable "
                    "(shallow clone?)")
    # INDEPENDENT byte-level oracle (git show + file read), not the
    # git-diff call the implementation itself makes
    blob = subprocess.run(["git", "show", f"{c11}:{rel_path}"],
                          cwd=REPO, capture_output=True).stdout
    with open(os.path.join(REPO, rel_path), "rb") as f:
        still_same = f.read() == blob
    if not still_same:
        pytest.skip("tpch.py edited after r11 — pick a new "
                    "byte-unchanged module for the True case")
    assert vw._module_unchanged_since(fn, 11) is True
    # ... while search.py changed after round 8 (the r9 pre-top-k):
    # a row from r8 could NOT ride the extended tier
    from iceberg_core_spark.functions.search import QUERIES as SEARCH

    fn2 = SEARCH["corpus_bm25"][0]
    assert vw._module_unchanged_since(fn2, 8) is False


def test_assume_green_window_is_readonly_whatif(capsys):
    """--assume-green-window seeds hypothetical green rows for the
    CURRENT window only (age 1 next round — never the git check) and
    must not write first-seen stamps even for the default round."""
    import json

    vw = _vw()
    seen_path = os.path.join(REPO, "scripts",
                             ".registry_first_seen.json")
    before = open(seen_path).read() if os.path.exists(seen_path) else None
    # Round-close invariant, pinned to the NEWEST artifact round: that
    # is the round whose driver rows the committed window was built
    # for, so it must audit green at round close AND round open alike.
    # (Asserting on the DEFAULT round — newest + 1, the upcoming
    # window — is legitimately red the moment a round's artifact
    # lands and before the next rotation is committed; r11 VERDICT
    # "What's wrong". Explicit-round audits are read-only what-ifs.)
    import glob
    import re
    artifact_rounds = [
        int(re.search(r"r(\d+)", os.path.basename(f)).group(1))
        for f in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))
    ]
    assert artifact_rounds, "no CORRECTNESS artifacts in the repo?"
    closed = max(artifact_rounds)
    assert vw.audit_ages(closed) == 0  # committed window audits green
    capsys.readouterr()
    # default-round runs: rc depends on whether the NEXT rotation is
    # committed yet, so no rc == 0 here — the pinned properties are
    # (a) the what-if can only RELAX the plain audit (assumed green
    # rows must never create violations) and (b) neither run writes
    # first-seen stamps
    rc_plain = vw.audit_ages(None)
    plain_out = capsys.readouterr().out
    rc_sim = vw.audit_ages(None, assume_green_window=True)
    sim_out = capsys.readouterr().out
    after = open(seen_path).read() if os.path.exists(seen_path) else None
    assert before == after  # read-only in assume mode
    assert rc_sim <= rc_plain
    assert sim_out.count("AGE-VIOLATION") <= \
        plain_out.count("AGE-VIOLATION")
    # and the json file (if present) still parses
    if after is not None:
        json.loads(after)


def test_module_check_unanswerable_is_none():
    vw = _vw()
    # a builtin has no source file — the audit must treat the check
    # as unanswerable (None → hard error path), never as unchanged
    assert vw._module_unchanged_since(len, 6) is None


def test_helper_closure_function_granular():
    """r13 VERDICT #3: the deferral tier must diff the query fn's
    REACHABLE helpers, not just its defining module — and at function
    granularity, so one query's helper doesn't force its 23 module
    siblings. The proof case is the r13 asof.py fix: join_asof must
    reach operators/asof.py; scan_parquet (same module) must not."""
    vw = _vw()
    from iceberg_core_spark.operators.relational import QUERIES as REL

    asof_files = vw._helper_closure_files(REL["join_asof"][0])
    scan_files = vw._helper_closure_files(REL["scan_parquet"][0])
    asof_rel = os.path.join("iceberg_core_spark", "operators", "asof.py")
    rel_rel = os.path.join("iceberg_core_spark", "operators",
                           "relational.py")
    assert asof_rel in asof_files
    assert rel_rel in asof_files  # defining module always included
    assert asof_rel not in scan_files
    assert rel_rel in scan_files


def test_helpers_unchanged_reports_changed_helper(monkeypatch):
    """Synthetic helper-change case (r13 VERDICT #3 'Done' criterion):
    when a reachable helper file diffs against the round commit, the
    deferral check must answer False and NAME the helper — regardless
    of the defining module being byte-frozen."""
    vw = _vw()
    from iceberg_core_spark.operators.relational import QUERIES as REL

    fn = REL["join_asof"][0]
    asof_rel = os.path.join("iceberg_core_spark", "operators", "asof.py")
    rnd = 6
    if vw._round_commit(rnd) is None:
        import pytest
        pytest.skip("round-6 artifact commit unresolvable")
    monkeypatch.setattr(
        vw, "_file_unchanged", lambda rel, commit: rel != asof_rel)
    ok, changed = vw._helpers_unchanged_since(fn, rnd)
    assert ok is False
    assert changed == [asof_rel]
    # and with every file reported unchanged, the row may ride
    monkeypatch.setattr(vw, "_file_unchanged", lambda rel, commit: True)
    ok, changed = vw._helpers_unchanged_since(fn, rnd)
    assert ok is True and changed == []


def test_helper_closure_fallback_is_conservative():
    """Analysis failures must fall back toward OVER-forcing: a fn with
    no findable top-level def gets the defining module's whole-module
    closure; a non-package fn yields None (unanswerable -> hard error
    path in the audit, never a free ride)."""
    vw = _vw()
    import iceberg_core_spark.operators.relational as rel_mod

    lam = eval("lambda spark, sf: None", vars(rel_mod))
    lam.__module__ = "iceberg_core_spark.operators.relational"
    assert vw._fn_direct_helpers(lam) is None
    files = vw._helper_closure_files(lam)
    asof_rel = os.path.join("iceberg_core_spark", "operators", "asof.py")
    assert asof_rel in files  # whole-module closure: asof.py included
    assert vw._helper_closure_files(len) is None


def test_every_registered_query_is_fn_granular_analyzable():
    """Every registry fn must be a plain top-level def the helper-
    closure analysis can resolve: a lambda/partial would silently fall
    back to the defining module's WHOLE-module closure, over-forcing
    dozens of sibling rows into future windows (sound but
    budget-hostile). Catch that at registration time, not at a round
    close."""
    vw = _vw()
    from iceberg_core_spark.registry import all_queries

    unanalyzable = [
        name for name, (fn, _sql) in all_queries().items()
        if vw._fn_direct_helpers(fn) is None
    ]
    assert unanalyzable == [], (
        f"registry fns the closure analysis cannot resolve "
        f"(write them as top-level defs): {unanalyzable}")


def test_plain_import_root_bindings_union_not_last_wins():
    """r14 ADVICE: two plain `import pkg.a.b` / `import pkg.c.d`
    statements both bind the ROOT name; a last-wins binding table let
    attribute-chain references resolve to only the LAST module, so a
    query fn written in that style under-reported helpers — the exact
    unsoundness the closure audit exists to kill. Bindings must union."""
    import ast

    vw = _vw()
    src = (
        "import iceberg_core_spark.operators.asof\n"
        "import iceberg_core_spark.operators.bucketed\n"
        "def q(spark, sf):\n"
        "    iceberg_core_spark.operators.asof.x(spark)\n"
        "    return iceberg_core_spark.operators.bucketed.y(sf)\n"
    )
    modname = "iceberg_core_spark._synthetic_rootbind"
    vw._AST_CACHE[modname] = ast.parse(src)
    try:
        fn = lambda spark, sf: None  # noqa: E731 — carrier for attrs
        fn.__module__ = modname
        fn.__name__ = "q"
        helpers = vw._fn_direct_helpers(fn)
        assert "iceberg_core_spark.operators.asof" in helpers
        assert "iceberg_core_spark.operators.bucketed" in helpers
    finally:
        del vw._AST_CACHE[modname]


def test_rows_only_rows_pull_their_portable_twin_into_the_window():
    """r14 VERDICT #5: a rows-only (oracle-less) approximate row in the
    window must bring its hash-checked md5-portable twin along — the
    twin is what vouches for the approximate path's values. The audit
    flags a synthetic unpaired case and stays quiet on a paired one."""
    vw = _vw()
    fn = lambda spark, sf: None  # noqa: E731
    queries = {
        "approx_thing": (fn, None),
        "approx_thing_portable": (fn, "SELECT 1 AS x"),
        "checked_thing": (fn, "SELECT 2 AS y"),
    }
    vw.ROWS_ONLY_TWINS.setdefault("approx_thing", "approx_thing_portable")
    try:
        # unpaired: rows-only in window, twin left out -> flagged
        errs = vw.twin_pairing_errors(queries, {"approx_thing"})
        assert len(errs) == 1 and "approx_thing_portable" in errs[0]
        # paired -> clean; rows-only OUT of the window -> clean too
        assert vw.twin_pairing_errors(
            queries, {"approx_thing", "approx_thing_portable"}) == []
        assert vw.twin_pairing_errors(queries, {"checked_thing"}) == []
        # a rows-only query with NO registered twin is itself an error,
        # window or not
        q2 = {"lonely_approx": (fn, None)}
        errs = vw.twin_pairing_errors(q2, set())
        assert len(errs) == 1 and "no registered portable twin" in errs[0]
    finally:
        vw.ROWS_ONLY_TWINS.pop("approx_thing", None)


def test_registry_window_obeys_twin_pairing():
    """The live registry must satisfy the pairing invariant: every
    rows-only entry has a twin mapping, and the current 50-slot window
    never strands a rows-only row whose twin neither sits in the
    window nor vouches from an in-date row of its own (the r16 vouch
    rule lives in audit_ages, so run the full audit read-only — it
    also re-checks every age bound against the committed artifacts).

    The audit round is the one the registry DECLARES its window for
    (registry.WINDOW_ROUND), not one derived from whichever artifacts
    sit in the working tree: landing round R's CORRECTNESS artifact
    before the round-R+1 rotation must not flip this test red. The
    declared round may trail the newest artifact by at most that one
    step, so a window that is never rotated still fails here."""
    vw = _vw()
    import glob
    import os
    import re

    from iceberg_core_spark.registry import WINDOW_ROUND

    rounds = [int(re.search(r"r(\d+)", os.path.basename(f)).group(1))
              for f in glob.glob(os.path.join(vw.REPO,
                                              "CORRECTNESS_r*.json"))]
    assert WINDOW_ROUND >= max(rounds), (
        f"registry window declared for r{WINDOW_ROUND} but r{max(rounds)} "
        "artifacts exist: rotate the window and bump WINDOW_ROUND")
    # explicit round argument => read-only what-if (no first-seen
    # stamping side effect inside a test run)
    assert vw.audit_ages(WINDOW_ROUND) == 0
