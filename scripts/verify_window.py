#!/usr/bin/env python
"""Pre-driver window validation: run the first N registry entries the
way the driver does — Spark query vs DuckDB oracle, value-hash strict —
at the driver's scale factor (sf0.01 by default).

Run:  PYTHONPATH=. python scripts/verify_window.py [N] [sf_dir]
      PYTHONPATH=. python scripts/verify_window.py --ages [round]

Exits non-zero if any query fails, so it can gate a round's final
commit. The stricter-than-driver compare (exact values, not hashes)
comes from tests/oracle.py.

``--ages R`` makes the rotation discipline MECHANICAL instead of a
registry-comment recount: it reads every CORRECTNESS_r*.json artifact,
computes each registered query's latest-driver-row age as of round R
(default: newest artifact round + 1 — the upcoming window), and fails
if the current first-50 window would let any row exceed its age bound
or leave a registered query without a row. Run it after reordering
the registry, before the round's final commit. The registry declares
the round its window was built for (``registry.WINDOW_ROUND``, bumped
with every rotation); ``--ages <WINDOW_ROUND>`` is the committed-window
audit the test suite runs, independent of which artifacts have landed.

``--ages R --assume-green-window`` additionally pretends every query
in the CURRENT window got a green row in round R-1 — the what-if
every round-close runs to budget the NEXT round's forced set (the
r10 verdict's "simulate --ages 12 before closing") without
hand-writing a hypothetical artifact file. Always read-only.

Age bound (r8 judge ruling, VERDICT.md r8 "What's missing" item 1):
the base bound is age 2; a row may ride ONE extra round (age 3,
period-4 rotation, capacity 200) ONLY if the module defining its
query fn is byte-unchanged — checked against git, diffing the
module file between the row's round-artifact commit (the commit
titled "round N: ...") and HEAD — since its last green row. A
changed module re-windows immediately. Cross-module dependencies
are not walked mechanically; keep leaning conservative when a row's
helpers (session.py, text.py, oracle helpers) changed.
"""

import glob
import inspect
import json
import os
import re
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MAX_AGE = 2          # base bound: re-window by age 2 ...
MAX_AGE_UNCHANGED = 3  # ... unless the module is byte-unchanged
WINDOW = 50


_ROUND_COMMITS: dict[int, str | None] = {}
_LOG_SCANNED = False


def _round_commit(rnd: int) -> str | None:
    """The driver's round-N artifact commit (SUBJECT line starts with
    "round N:") — the code state the round-N driver rows were produced
    against. Matches the subject ONLY, parsed from one
    ``git log --format=%H%x09%s`` scan: ``--grep`` line-anchoring
    matches anywhere in the MESSAGE, so a later commit whose body
    quotes "round N: ..." (changelog paste, revert description) would
    shadow the real anchor and make a changed module look
    byte-unchanged (r9 ADVICE). The OLDEST subject match wins — the
    driver writes its artifact commit once at round close, so any
    later same-subject commit is the impostor. Memoized: one git-log
    scan for every round."""
    global _LOG_SCANNED
    if rnd in _ROUND_COMMITS:
        return _ROUND_COMMITS[rnd]
    if not _LOG_SCANNED:
        try:
            out = subprocess.run(
                ["git", "log", "--format=%H%x09%s"],
                cwd=REPO, capture_output=True, text=True, check=True,
            ).stdout
        except (subprocess.CalledProcessError, FileNotFoundError):
            out = ""
        # git log prints newest-first; walk the whole history so the
        # LAST (oldest) match for each round ends up in the memo
        for line in out.splitlines():
            sha, _, subject = line.partition("\t")
            m = re.match(r"round (\d+):", subject)
            if m:
                _ROUND_COMMITS[int(m.group(1))] = sha
        _LOG_SCANNED = True
    return _ROUND_COMMITS.setdefault(rnd, None)


def _module_unchanged_since(fn, rnd: int) -> bool | None:
    """True/False if git can answer whether ``fn``'s defining module is
    byte-identical between round ``rnd``'s artifact commit and HEAD
    (including the working tree); None if it can't (no commit found,
    fn not file-backed)."""
    commit = _round_commit(rnd)
    if commit is None:
        return None
    try:
        path = inspect.getfile(fn)
    except TypeError:
        return None
    rel = os.path.relpath(path, REPO)
    if rel.startswith(".."):
        return None
    return _file_unchanged(rel, commit)


def _file_unchanged(rel: str, commit: str) -> bool:
    key = (rel, commit)
    if key not in _FILE_DIFF_CACHE:
        res = subprocess.run(
            ["git", "diff", "--quiet", commit, "--", rel],
            cwd=REPO, capture_output=True)
        _FILE_DIFF_CACHE[key] = res.returncode == 0
    return _FILE_DIFF_CACHE[key]


_FILE_DIFF_CACHE: dict[tuple[str, str], bool] = {}

# ---------------------------------------------------------------------------
# Rows-only / portable-twin pairing (r14 VERDICT #5): every rows-only
# approximate query is vouched for by a fully hash-checked md5-portable
# twin that shares its helpers. The r13 window paired them manually;
# r14 let sim_search_ivf ride alone. The invariant is now mechanical:
# a rows-only row occupying a window slot PULLS its twin in with it
# (same helpers — the twin re-run is ~free).
# ---------------------------------------------------------------------------

ROWS_ONLY_TWINS = {
    "dedup_minhash_lsh": "dedup_minhash_portable",
    "dedup_simhash": "dedup_simhash_portable",
    "dedup_embedding_lsh": "dedup_embedding_lsh_portable",
    "dedup_clusters_minhash": "dedup_clusters_portable",
    "sim_search_lsh": "sim_search_lsh_portable",
    "sim_search_ivf": "sim_search_ivf_portable",
    "agg_approx_distinct": "agg_approx_distinct_portable",
}


def twin_pairing_errors(queries, window: set[str],
                        twin_vouches=None) -> list[str]:
    """Pairing violations for a window: a rows-only (oracle-less) query
    in the window without its hash-checked twin alongside, or a
    rows-only registry entry with no twin mapping at all.

    ``twin_vouches`` (r16): optional predicate ``twin_name -> bool``.
    When it returns True, an out-of-window twin still satisfies the
    pairing — the audit passes it when the twin's own green row would
    itself pass the age audit out-of-window (age <= MAX_AGE
    unconditionally, or the byte-unchanged deferral tier), i.e. the
    twin's hash-checked evidence is exactly as fresh as the audit
    demands of any first-class query. Added when the r16 forced set
    hit the 50-slot capacity: 48 age-forced rows + 2 flex (VERDICT
    r15 item 2) left no room to re-run twins whose own rows are
    in-date. A twin that ages out (or whose closure changes past the
    deferral bound) stops vouching and is pulled in-window again."""
    errs = []
    for name, (_fn, sql) in queries.items():
        if sql is not None:
            continue
        twin = ROWS_ONLY_TWINS.get(name)
        if twin is None or twin not in queries:
            errs.append(f"{name}: rows-only query has no registered "
                        "portable twin (add it to ROWS_ONLY_TWINS)")
        elif name in window and twin not in window and not (
                twin_vouches is not None and twin_vouches(twin)):
            errs.append(f"{name}: rows-only row is in the window but "
                        f"its hash-checked twin {twin} is not — pair "
                        "them (r14 VERDICT #5) or let a byte-unchanged "
                        "recent twin row vouch (r16)")
    return errs

# ---------------------------------------------------------------------------
# Helper-module closure (r13 VERDICT "What's missing" #1): the age-3
# deferral tier used to diff ONLY the query fn's defining module, so a
# semantic fix to a helper (operators/asof.py, r13) left join_asof
# riding unforced on a registry comment. The closure below makes that
# mechanical: a row may ride to age 3 only if EVERY intra-package
# module its query function can reach is byte-unchanged since its last
# green row.
#
# Granularity matters: relational.py imports asof.py once for ONE of
# its 24 queries, and llm_queries.py imports half the package — a
# whole-module transitive walk would have forced all 24 relational
# rows for the asof fix (measured r14: 37 spurious forcings). So the
# FIRST hop is function-granular: parse the defining module's AST,
# walk the query fn's call closure through same-module defs, and keep
# only the imported package modules that closure actually references.
# Beyond the first hop the walk is whole-module transitive (a helper's
# own helpers all count — cheap and sound). Analysis failures fall
# back to the whole-module closure of the defining module
# (over-forcing is sound; riding is not).
# ---------------------------------------------------------------------------

_PKG = "iceberg_core_spark"
_AST_CACHE: dict[str, "object | None"] = {}
_MOD_CLOSURE_CACHE: dict[str, frozenset] = {}


def _pkg_module_path(modname: str) -> str | None:
    """Repo-relative path of an intra-package module, or None."""
    if not modname.startswith(_PKG):
        return None
    p = os.path.join(REPO, modname.replace(".", os.sep) + ".py")
    if os.path.exists(p):
        return os.path.relpath(p, REPO)
    p = os.path.join(REPO, modname.replace(".", os.sep), "__init__.py")
    if os.path.exists(p):
        return os.path.relpath(p, REPO)
    return None


def _module_ast(modname: str):
    import ast

    if modname not in _AST_CACHE:
        rel = _pkg_module_path(modname)
        try:
            with open(os.path.join(REPO, rel)) as f:
                _AST_CACHE[modname] = ast.parse(f.read())
        except (TypeError, OSError, SyntaxError):
            _AST_CACHE[modname] = None
    return _AST_CACHE[modname]


def _imports_of(tree, modname: str) -> set[str]:
    """Every intra-package module an AST (module or function) imports,
    resolving relative imports against ``modname`` and treating
    ``from X import Y`` as importing X.Y when Y is itself a module."""
    import ast

    out: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name.startswith(_PKG):
                    out.add(a.name)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                parts = modname.split(".")
                parts = parts[: len(parts) - node.level]
                base = ".".join(parts + ([node.module] if node.module
                                         else []))
            if not base.startswith(_PKG):
                continue
            out.add(base)
            for a in node.names:
                sub = f"{base}.{a.name}"
                if _pkg_module_path(sub):
                    out.add(sub)
    return out


def _module_import_closure(modname: str) -> frozenset:
    """Whole-module transitive intra-package import closure, incl. self."""
    if modname in _MOD_CLOSURE_CACHE:
        return _MOD_CLOSURE_CACHE[modname]
    seen: set[str] = set()
    stack = [modname]
    while stack:
        m = stack.pop()
        if m in seen:
            continue
        seen.add(m)
        tree = _module_ast(m)
        if tree is not None:
            stack.extend(_imports_of(tree, m))
    closure = frozenset(seen)
    _MOD_CLOSURE_CACHE[modname] = closure
    return closure


def _fn_direct_helpers(fn) -> set[str] | None:
    """First-hop, function-granular: the intra-package modules the query
    fn's call closure (through same-module top-level defs and
    assignments it references) actually touches. None if the analysis
    can't run (lambda, missing def, unparseable module)."""
    import ast

    modname = getattr(fn, "__module__", "") or ""
    if not modname.startswith(_PKG):
        return None
    tree = _module_ast(modname)
    if tree is None:
        return None
    # module-level binding tables. A bound name maps to a SET of
    # modules: two plain `import pkg.a.b` / `import pkg.c.d` statements
    # both bind the ROOT name "pkg", and last-wins overwrite let a
    # query fn using that style under-report helpers and ride the
    # age-3 tier past a changed one (r14 ADVICE) — union is sound.
    name_to_mod: dict[str, set[str]] = {}  # bound name -> pkg modules
    local: dict[str, object] = {}      # top-level def/assign -> node
    for node in tree.body:
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name.startswith(_PKG):
                    # `import pkg.x.y [as z]` binds z or the ROOT name;
                    # map both conservatively to the full module
                    bound = a.asname or a.name.split(".")[0]
                    name_to_mod.setdefault(bound, set()).add(a.name)
        elif isinstance(node, ast.ImportFrom):
            mods = _imports_of(node, modname)
            base = next((m for m in sorted(mods, key=len)), None)
            if base is None:
                continue
            for a in node.names:
                sub = f"{base}.{a.name}"
                name_to_mod.setdefault(a.asname or a.name, set()).add(
                    sub if sub in mods else base)
        elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                               ast.ClassDef)):
            local[node.name] = node
        elif isinstance(node, ast.Assign):
            for t in node.targets:
                if isinstance(t, ast.Name):
                    local[t.id] = node
        elif isinstance(node, ast.AnnAssign) and isinstance(
                node.target, ast.Name):
            local[node.target.id] = node
    fn_name = getattr(fn, "__name__", None)
    root = local.get(fn_name)
    if not isinstance(root, (ast.FunctionDef, ast.AsyncFunctionDef)):
        return None
    helpers: set[str] = set()
    seen_local: set[str] = set()
    stack = [root]
    while stack:
        node = stack.pop()
        helpers |= _imports_of(node, modname)  # fn-body imports too
        for sub in ast.walk(node):
            if not isinstance(sub, ast.Name):
                continue
            name = sub.id
            if name in name_to_mod:
                helpers |= name_to_mod[name]
            elif name in local and name not in seen_local:
                seen_local.add(name)
                stack.append(local[name])
    return helpers


def _helper_closure_files(fn) -> list[str] | None:
    """Repo-relative paths of every intra-package module the query fn
    can reach: its defining module + the whole-module transitive
    closure of each first-hop helper. Falls back to the defining
    module's whole-module closure when fn-level analysis fails; None
    only when even the defining module is unresolvable."""
    modname = getattr(fn, "__module__", "") or ""
    if _pkg_module_path(modname) is None:
        return None
    direct = _fn_direct_helpers(fn)
    if direct is None:
        mods = set(_module_import_closure(modname))
    else:
        mods = {modname}
        for h in direct:
            mods |= _module_import_closure(h)
    rels = [_pkg_module_path(m) for m in sorted(mods)]
    return [r for r in rels if r is not None]


def _helpers_unchanged_since(fn, rnd: int) -> tuple[bool | None, list[str]]:
    """(verdict, changed_files): True only if the defining module AND
    every reachable helper module are byte-identical between round
    ``rnd``'s artifact commit and HEAD. None when unanswerable."""
    commit = _round_commit(rnd)
    if commit is None:
        return None, []
    files = _helper_closure_files(fn)
    if files is None:
        # no package module — fall back to the single-file check
        single = _module_unchanged_since(fn, rnd)
        return single, []
    changed = [rel for rel in files if not _file_unchanged(rel, commit)]
    return not changed, changed


def audit_ages(next_round: int | None = None,
               assume_green_window: bool = False) -> int:
    """Row-age audit: with the CURRENT registry order, would round
    ``next_round``'s 50-slot window keep every query's latest green
    row at age <= MAX_AGE? Also flags rows whose latest artifact run
    FAILED (they need a retest slot, not just freshness).
    ``assume_green_window`` seeds a hypothetical green round-(R-1)
    row for every current-window query first (round-close what-if
    for the NEXT round's budget)."""
    from iceberg_core_spark.registry import all_queries

    latest: dict[str, tuple[int, bool]] = {}
    rounds = []
    for f in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        rnd = int(re.search(r"r(\d+)", os.path.basename(f)).group(1))
        rounds.append(rnd)
        for name, row in json.load(open(f)).items():
            # green = full value-hash match, or the by-design
            # rows-only check (err == "no_oracle" and the driver
            # actually executed the query — spark_rows recorded)
            ok = bool(row.get("hash_match")) or (
                row.get("err") == "no_oracle"
                and row.get("spark_rows") is not None)
            latest[name] = (rnd, ok)
    if not rounds:
        print("no CORRECTNESS artifacts found")
        return 1
    nr = next_round if next_round is not None else max(rounds) + 1
    queries = all_queries()
    names = list(queries)
    window = set(names[:WINDOW])
    if assume_green_window:
        # what-if: every current-window query went green in r(nr-1);
        # hypothetical rows are age 1 at nr, so they never reach the
        # byte-unchanged git check (no phantom round-commit needed).
        # <= so a real FAILED r(nr-1) row is also overridden — the
        # premise is the window WENT green, whatever actually landed
        for name in names[:WINDOW]:
            prev = latest.get(name)
            if prev is None or prev[0] <= nr - 1:
                latest[name] = (nr - 1, True)
    # first-seen bookkeeping gives the late-registration pattern
    # teeth: a query registered past a full window legitimately
    # waits ONE round (pending lead), but if a later round's audit
    # still finds it rowless and unwindowed, that's a violation
    seen_path = os.path.join(REPO, "scripts",
                             ".registry_first_seen.json")
    try:
        with open(seen_path) as f:
            seen = json.load(f)
    except FileNotFoundError:
        seen = {}
    missing = [name for name in names if name not in seen]
    for name in missing:
        seen[name] = nr
    # Only persist first-seen stamps when auditing the DEFAULT (next)
    # round: an explicit round argument is a read-only what-if, and
    # stamping new registrations with a hypothetical round would
    # permanently mis-date them (r7 ADVICE). Assume-green mode is
    # always a what-if, whatever the round argument.
    if missing and next_round is None and not assume_green_window:
        with open(seen_path, "w") as f:
            json.dump(seen, f, indent=0, sort_keys=True)

    def _twin_vouches(twin: str) -> bool:
        # see twin_pairing_errors: a twin vouches iff its own green
        # row would pass THIS audit out-of-window — age <= MAX_AGE
        # unconditionally (the age rule the whole registry lives
        # under), or age <= MAX_AGE_UNCHANGED with a byte-identical
        # helper closure since the row (the deferral tier). Anything
        # the audit would force in-window cannot vouch from outside.
        rnd_ok = latest.get(twin)
        if not rnd_ok or not rnd_ok[1]:
            return False
        age = nr - rnd_ok[0]
        if age <= MAX_AGE:
            return True
        if age > MAX_AGE_UNCHANGED:
            return False
        unchanged, _ = _helpers_unchanged_since(queries[twin][0],
                                                rnd_ok[0])
        return unchanged is True

    errors = twin_pairing_errors(queries, window, _twin_vouches)
    pending = []
    for name in names:
        rnd_ok = latest.get(name)
        if rnd_ok is None:
            if name not in window:
                if seen[name] < nr:
                    errors.append(
                        f"{name}: registered by r{seen[name]} but "
                        f"STILL has no driver row and no window slot")
                else:
                    pending.append(name)
            continue
        rnd, ok = rnd_ok
        age = nr - rnd
        if not ok and name not in window:
            errors.append(f"{name}: latest row (r{rnd}) FAILED and the "
                          f"query is not in the window for a retest")
        elif age > MAX_AGE_UNCHANGED and name not in window:
            errors.append(f"{name}: latest green row is r{rnd} "
                          f"(age {age} in r{nr} > {MAX_AGE_UNCHANGED}) "
                          f"and the query is not in the window")
        elif age > MAX_AGE and name not in window:
            # the extended tier: legal ONLY if the defining module AND
            # every helper module the query fn can reach are
            # byte-unchanged (r13 VERDICT #3 — the asof.py fix proved
            # a defining-module-only diff lets rows ride past helper
            # fixes)
            unchanged, changed_files = _helpers_unchanged_since(
                queries[name][0], rnd)
            if unchanged is True:
                print(f"  DEFERRED {name}: r{rnd} row rides at age "
                      f"{age} (module+helpers byte-unchanged since "
                      f"r{rnd}); "
                      f"must re-window by r{rnd + MAX_AGE_UNCHANGED + 1}")
            elif unchanged is False:
                what = (f"helper(s) {', '.join(changed_files)}"
                        if changed_files else "its module")
                errors.append(
                    f"{name}: latest green row is r{rnd} (age {age} in "
                    f"r{nr} > {MAX_AGE}) and {what} CHANGED since "
                    f"r{rnd} — changed modules re-window immediately")
            else:
                errors.append(
                    f"{name}: latest green row is r{rnd} (age {age} in "
                    f"r{nr} > {MAX_AGE}) and the byte-unchanged check "
                    f"could not run (no round commit / not file-backed)")
    # POLICY (r15 VERDICT item 2): a query whose helper closure changes
    # in round N should enter the round-N window, not round N+1. When
    # the forced set is at the 50-slot capacity this cannot always be
    # satisfied, so the audit SURFACES every exception instead of
    # silently deferring it: each out-of-window query whose closure
    # changed since the PREVIOUS round's artifact commit is listed
    # below, and the round log must carry builder-side snapshot-hash
    # evidence for each (the compensating control r15 used for bm25).
    prev_commit = _round_commit(nr - 1)
    touched_unwindowed = []
    if prev_commit is not None:
        for name in names:
            if name in window:
                continue
            files = _helper_closure_files(queries[name][0]) or []
            changed = [f for f in files
                       if not _file_unchanged(f, prev_commit)]
            if changed:
                touched_unwindowed.append((name, changed))
    in_window_no_need = len(window) - sum(
        1 for n in names[:WINDOW]
        if n not in latest or not latest[n][1]
        or nr - latest[n][0] > MAX_AGE - 1)
    print(f"registry: {len(names)} queries; window: {len(window)}; "
          f"auditing as of round r{nr}")
    for p in pending:
        print(f"  PENDING-LEAD {p}: no driver row yet — must lead "
              f"the r{nr + 1} window")
    for name, changed in touched_unwindowed:
        print(f"  TOUCHED-UNWINDOWED {name}: helper(s) "
              f"{', '.join(changed)} changed since r{nr - 1} but the "
              f"query is out-of-window — record snapshot-hash "
              f"evidence in the round log (policy, r15 VERDICT #2)")
    for e in errors:
        tag = ("PAIRING-VIOLATION" if "twin" in e or "pair" in e
               else "AGE-VIOLATION")
        print(f"  {tag} {e}")
    if not errors:
        print(f"OK — no row exceeds its age bound ({MAX_AGE} changed / "
              f"{MAX_AGE_UNCHANGED} byte-unchanged) in r{nr} "
              f"({in_window_no_need} window slots are early refreshes; "
              f"{len(pending)} pending next-round leads)")
    return 1 if errors else 0


def main() -> int:
    if len(sys.argv) > 1 and sys.argv[1] == "--ages":
        args = sys.argv[2:]
        assume = "--assume-green-window" in args
        args = [a for a in args if a != "--assume-green-window"]
        return audit_ages(int(args[0]) if args else None,
                          assume_green_window=assume)
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 50
    sf = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"

    from iceberg_core_spark.registry import all_queries
    from iceberg_core_spark.session import get_spark
    from tests.oracle import compare, duck_connection

    spark = get_spark("verify_window")
    spark.sparkContext.setLogLevel("ERROR")
    con = duck_connection(sf)
    fails = []
    for i, (name, (fn, sql)) in enumerate(list(all_queries().items())[:n], 1):
        try:
            df = fn(spark, sf)
            if sql:
                compare(df, con, sql, name)
                print(f"{i:3d} {name}: MATCH", flush=True)
            else:
                print(f"{i:3d} {name}: rows-only {df.count()}", flush=True)
        except Exception as ex:  # noqa: BLE001 — report and continue
            fails.append(name)
            print(f"{i:3d} {name}: FAIL {type(ex).__name__}: "
                  f"{str(ex)[:200]}", flush=True)
    print(f"failures: {fails}")
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
