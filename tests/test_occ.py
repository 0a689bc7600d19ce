"""Optimistic-concurrency commit protocol (multi-writer safety).

The reference serializes all writes through one BlockManager goroutine
(reference blockManager.go:29); at cluster scale a single serialized
writer is a bottleneck, so commits here are lock-free compare-and-swap:
the exclusive creation of ``snapshot-<parent+1>.json`` is the commit
point, losers rebase and retry (appends) or re-run (read-modify-write
ops). These tests race two independent table handles on one root.
"""

import os

import pytest

from iceberg_core_spark.table import CommitConflictError, IceTable, Snapshot
from iceberg_core_spark.table.manifest import Manifest
from tests.fixtures import KEY_COL, PARTITION_COL, location_df, location_row


@pytest.fixture()
def root(tmp_path):
    return str(tmp_path / "occ_table")


def _mk(spark, root, n_rows=3):
    rows = [location_row(timestamp=100 + i) for i in range(n_rows)]
    return IceTable.create(spark, root, location_df(spark, rows),
                           partition_col=PARTITION_COL, key_col=KEY_COL)


def test_manifest_cas_second_writer_conflicts(spark, root):
    t = _mk(spark, root)
    cur = t.manifest.load(load_files=False)
    mk = lambda: Snapshot(
        snapshot_id=cur.snapshot_id + 1, parent_id=cur.snapshot_id,
        timestamp_ms=Manifest.now_ms(), operation="append",
        schema_json=cur.schema_json, partition_col=cur.partition_col,
        key_col=cur.key_col, files=[],
    )
    t.manifest.commit(mk())  # first child of cur wins
    with pytest.raises(CommitConflictError):
        t.manifest.commit(mk())  # same parent: CAS must fail


def test_commit_claim_requires_consecutive_id(spark, root):
    t = _mk(spark, root)
    cur = t.manifest.load(load_files=False)
    bad = Snapshot(
        snapshot_id=cur.snapshot_id + 5, parent_id=cur.snapshot_id,
        timestamp_ms=Manifest.now_ms(), operation="append",
        schema_json=cur.schema_json, partition_col=cur.partition_col,
        key_col=cur.key_col, files=[],
    )
    with pytest.raises(ValueError):
        t.manifest.commit(bad)


def test_stale_append_rebases_and_keeps_both(spark, root, regime):
    """Writer A bases an append on snapshot 0; writer B commits first.
    A's CAS fails, A rebases onto B's snapshot, and the final table
    holds rows from BOTH appends plus the original."""
    t_a = _mk(spark, root)
    base = t_a.manifest.load()  # A's view: snapshot 0

    t_b = IceTable(spark, root)
    t_b.append(location_df(spark, [location_row(timestamp=500)]))

    # A commits with its stale view (expected_parent = 0)
    t_a._write_commit(
        location_df(spark, [location_row(timestamp=900)]),
        "append", base.partition_col, base.key_col, 1_000_000,
        base_files=list(base.files), expected_parent=base.snapshot_id,
    )

    final = IceTable(spark, root)
    ts = sorted(r.timestamp for r in final.scan().collect())
    assert ts == [100, 101, 102, 500, 900]
    snap = final.manifest.load(load_files=False)
    assert snap.snapshot_id == 2 and snap.parent_id == 1


def _data_files_on_disk(root):
    return {
        os.path.relpath(os.path.join(dp, n), root)
        for dp, _d, ns in os.walk(os.path.join(root, "data"))
        for n in ns if n.endswith(".parquet")
    }


def test_stale_overwrite_rebase_keeps_winner_branches(spark, root, regime):
    """A stale overwrite that loses the race to a branch append must
    not rebase, whichever form the commit takes: an overwrite drops
    every file, so landing on the winner would keep the branch name
    but lose the branch's files — the rule ``_require_no_staged``
    applies when an overwrite starts. It raises and removes its commit
    dir; the winner's branch stays whole."""
    t_a = _mk(spark, root)
    base = t_a.manifest.load()

    IceTable(spark, root).append(
        location_df(spark, [location_row(timestamp=500)]), branch="audit")

    with pytest.raises(CommitConflictError):
        t_a._write_commit(
            location_df(spark, [location_row(timestamp=900)]),
            "overwrite", base.partition_col, base.key_col, 1_000_000,
            base_files=[], expected_parent=base.snapshot_id,
        )
    final = IceTable(spark, root)
    snap = final.manifest.load()
    assert snap.snapshot_id == 1 and snap.operation == "append"
    assert final.branches() == {"audit": [1]}
    assert sorted(r.timestamp for r in final.scan().collect()) == [
        100, 101, 102]
    assert sorted(r.timestamp for r in
                  final.scan(branch="audit").collect()) == [
        100, 101, 102, 500]
    assert _data_files_on_disk(root) == {f.path for f in snap.files}


def test_stale_append_does_not_revert_partition_spec(spark, root, regime):
    """An append that loses the race to ``set_partition_spec`` must not
    rebase: its commit records the partition column it was based on,
    so landing on the winner would silently revert the spec change. It
    raises and removes its commit dir, whichever form it takes."""
    t_a = _mk(spark, root)
    base = t_a.manifest.load()

    IceTable(spark, root).set_partition_spec("source")

    with pytest.raises(CommitConflictError):
        t_a._write_commit(
            location_df(spark, [location_row(timestamp=900)]),
            "append", base.partition_col, base.key_col, 1_000_000,
            base_files=list(base.files), expected_parent=base.snapshot_id,
        )
    final = IceTable(spark, root)
    snap = final.manifest.load()
    assert snap.snapshot_id == 1 and snap.operation == "set-spec"
    assert snap.partition_col == "source"
    assert sorted(r.timestamp for r in final.scan().collect()) == [
        100, 101, 102]
    assert _data_files_on_disk(root) == {f.path for f in snap.files}


def test_stale_read_modify_write_conflicts_and_cleans_up(spark, root, regime):
    """delete/compact/upsert-shaped commits must NOT auto-rebase: a
    stale one raises and removes its newly written (now orphan) files."""
    t_a = _mk(spark, root)
    base = t_a.manifest.load()

    IceTable(spark, root).append(
        location_df(spark, [location_row(timestamp=500)]))

    with pytest.raises(CommitConflictError):
        t_a._write_commit(
            location_df(spark, [location_row(timestamp=900)]),
            "delete", base.partition_col, base.key_col, 1_000_000,
            base_files=[], expected_parent=base.snapshot_id,
        )
    final = IceTable(spark, root)
    ts = sorted(r.timestamp for r in final.scan().collect())
    assert ts == [100, 101, 102, 500]  # loser's rows absent
    # loser's data files were deleted, not orphaned
    live = {f.path for f in final.manifest.load().files}
    assert _data_files_on_disk(root) == live


def test_stale_cdc_mor_conflicts_and_cleans_delete_file(spark, root):
    """A cdc-mor commit losing the CAS race must raise, remove its new
    data files AND its equality-delete key file (no orphan delete set
    lingering under deletes/)."""
    t_a = _mk(spark, root)
    snap_a = t_a.manifest.load(load_files=False)

    IceTable(spark, root).append(
        location_df(spark, [location_row(timestamp=500)]))

    from pyspark.sql import functions as F

    batch = location_df(
        spark, [location_row(timestamp=100, latitude=9.0)]
    ).withColumn("op", F.lit("U"))
    stale = IceTable(spark, root)
    orig_load = stale.manifest.load
    stale.manifest.load = lambda *a, **k: (  # pin the stale read state
        snap_a if not a or a[0] is None else orig_load(*a, **k))
    with pytest.raises(CommitConflictError):
        stale.apply_cdc(batch, key_cols=[PARTITION_COL, KEY_COL],
                        op_col="op", mode="mor")
    del_dir = os.path.join(root, "deletes")
    leftovers = os.listdir(del_dir) if os.path.isdir(del_dir) else []
    assert leftovers == []
    final = IceTable(spark, root)
    assert not final.manifest.load(load_files=False).delete_predicates
    assert final.scan().count() == 4  # winner's append intact, no merge


def test_add_files_rebases_on_concurrent_append(spark, root, tmp_path):
    """add_files is append-shaped (new files union a base), so losing
    the CAS race must REBASE onto the winner — both the concurrent
    append's rows and the added files survive."""
    import os

    t = _mk(spark, root)
    ext = tmp_path / "ext" / f"{PARTITION_COL}=userid9"
    ext.mkdir(parents=True)
    location_df(spark, [location_row(timestamp=700, user_id="userid9")]) \
        .coalesce(1).write.mode("overwrite").parquet(str(ext / "w"))
    srcs = [str(ext / "w" / n) for n in os.listdir(ext / "w")
            if n.endswith(".parquet")]

    orig_commit = t.manifest.commit
    state = {"injected": False}

    def racy_commit(snap):
        if not state["injected"]:
            state["injected"] = True
            IceTable(spark, root).append(
                location_df(spark, [location_row(timestamp=999)]))
        return orig_commit(snap)

    t.manifest.commit = racy_commit
    snap = t.add_files(srcs)
    assert snap.snapshot_id == 2  # rebased past the winner's commit
    final = IceTable(spark, root)
    ts = sorted(r.timestamp for r in final.scan().collect())
    assert ts == [100, 101, 102, 700, 999]


def test_current_hint_recovery_after_crash(spark, root):
    """A writer crashing between the snapshot-file claim and the CURRENT
    update must not hide its committed snapshot: readers advance the
    hint past committed successors."""
    t = _mk(spark, root)
    t.append(location_df(spark, [location_row(timestamp=500)]))
    # simulate the crash: rewind CURRENT to the previous id
    with open(os.path.join(t.manifest.dir, "CURRENT"), "w") as f:
        f.write("0")
    fresh = IceTable(spark, root)
    assert fresh.manifest.current_snapshot_id() == 1
    ts = sorted(r.timestamp for r in fresh.scan().collect())
    assert ts == [100, 101, 102, 500]


def test_rebased_append_still_dedupes_identical_files(spark, root, regime):
    """Idempotent-rewrite semantics survive a rebase: if the winning
    commit already added byte-identical content, the rebased append
    drops its duplicate files (reference block.go:109-115)."""
    t_a = _mk(spark, root)
    base = t_a.manifest.load()
    dup = location_df(spark, [location_row(timestamp=700)])

    IceTable(spark, root).append(dup)

    t_a._write_commit(
        location_df(spark, [location_row(timestamp=700)]),
        "append", base.partition_col, base.key_col, 1_000_000,
        base_files=list(base.files), dedupe_identical_files=True,
        expected_parent=base.snapshot_id,
    )
    final = IceTable(spark, root)
    ts = sorted(r.timestamp for r in final.scan().collect())
    assert ts == [100, 101, 102, 700]  # one copy, not two


def test_schema_equivalence_ignores_nullability_not_renames():
    """The rebase guard's canonical compare: parquet-read nullability
    drift is NOT a schema change; renames and type changes ARE."""
    import json

    from pyspark.sql.types import StructField, StructType

    from iceberg_core_spark.table.ice_table import _schemas_equivalent
    from tests.fixtures import LOCATION_SCHEMA

    strict = LOCATION_SCHEMA.json()
    drifted = StructType(
        [StructField(f.name, f.dataType, True) for f in LOCATION_SCHEMA]
    ).json()
    assert _schemas_equivalent(strict, drifted)

    renamed = json.loads(strict)
    renamed["fields"][0]["name"] = "accuracy2"
    assert not _schemas_equivalent(strict, json.dumps(renamed))

    retyped = json.loads(strict)
    retyped["fields"][0]["type"] = "string"
    assert not _schemas_equivalent(strict, json.dumps(retyped))


def test_compact_preserves_recorded_table_schema(spark, root):
    """Root-cause pin for the r5 flaky OCC bug: compact re-reads its
    victims from parquet (an all-nullable frame) but must commit the
    TABLE's schema_json verbatim — otherwise every racing append reads
    the nullability flip as a concurrent schema change and aborts."""
    t = _mk(spark, root)
    t.append(location_df(spark, [location_row(timestamp=500)]))
    base = t.manifest.load(load_files=False)
    snap_c = IceTable(spark, root).compact(min_files=2)
    assert snap_c.operation == "compact"
    assert snap_c.snapshot_id == base.snapshot_id + 1  # it did commit
    assert snap_c.schema_json == base.schema_json  # no drift, byte-equal


def test_stale_append_rebases_over_nullability_drifted_winner(spark, root):
    """The r5 failing seed made deterministic: writer A bases an append
    on snapshot 1; the winning commit (a maintenance compact, simulated
    here with an explicitly drifted schema_json so the test stays red
    against the raw-string guard even with the compact-side fix in
    place) carries an all-nullable copy of the same logical schema.
    A's rebase must proceed — names and types are unchanged — and the
    final table holds every row."""
    from pyspark.sql.types import StructField, StructType

    from tests.fixtures import LOCATION_SCHEMA

    t_a = _mk(spark, root)
    base = t_a.manifest.load()  # A's view: snapshot 0

    # winner: same files, same logical schema, all-nullable json —
    # exactly what a pre-fix compact used to commit
    drifted = StructType(
        [StructField(f.name, f.dataType, True) for f in LOCATION_SCHEMA]
    ).json()
    winner = Snapshot(
        snapshot_id=base.snapshot_id + 1, parent_id=base.snapshot_id,
        timestamp_ms=Manifest.now_ms(), operation="compact",
        schema_json=drifted, partition_col=base.partition_col,
        key_col=base.key_col, files=list(base.files),
    )
    t_a.manifest.commit(winner)

    # A commits with its stale view (expected_parent = 0): pre-fix this
    # raised CommitConflictError('... already committed by another
    # writer') instead of rebasing
    t_a._write_commit(
        location_df(spark, [location_row(timestamp=900)]),
        "append", base.partition_col, base.key_col, 1_000_000,
        base_files=list(base.files), expected_parent=base.snapshot_id,
    )
    final = IceTable(spark, root)
    ts = sorted(r.timestamp for r in final.scan().collect())
    assert ts == [100, 101, 102, 900]
    snap = final.manifest.load(load_files=False)
    assert snap.snapshot_id == 2 and snap.parent_id == 1


def test_bootstrap_crash_before_first_hint_recovers(spark, root):
    """r11 review: a writer dying between the snapshot-0 link and the
    FIRST CURRENT write must not brick the table — readers start the
    walk-forward from the bootstrap commit, and a re-create conflicts
    (the data exists) instead of looping on EEXIST forever."""
    t = _mk(spark, root)
    t.append(location_df(spark, [location_row(timestamp=500)]))
    os.remove(os.path.join(t.manifest.dir, "CURRENT"))
    fresh = IceTable(spark, root)
    assert fresh.manifest.current_snapshot_id() == 1
    ts = sorted(r.timestamp for r in fresh.scan().collect())
    assert ts == [100, 101, 102, 500]
    # and a corrupt (mid-write) hint recovers the same way
    with open(os.path.join(t.manifest.dir, "CURRENT"), "w") as f:
        f.write("garbage\x00")
    assert IceTable(spark, root).manifest.current_snapshot_id() == 1


def test_lost_hint_recovers_after_snapshot0_expired(spark, root):
    """r15 review: expire_snapshots(keep_last=1) deletes the bootstrap
    snapshot-0 document, so hint recovery anchored on snapshot-0 alone
    would report a post-expiry table ABSENT once CURRENT is lost
    (crash mid-replace, partial directory copy) — hiding committed
    data and letting a re-create claim the freed snapshot-0 id and
    fork the id space. Recovery must come from the directory listing."""
    t = _mk(spark, root)
    t.append(location_df(spark, [location_row(timestamp=500)]))
    t.append(location_df(spark, [location_row(timestamp=600)]))
    expired = t.expire_snapshots(keep_last=1)
    assert 0 in expired
    assert not os.path.exists(
        os.path.join(t.manifest.dir, "snapshot-0.json"))
    os.remove(os.path.join(t.manifest.dir, "CURRENT"))
    fresh = IceTable(spark, root)
    assert fresh.manifest.current_snapshot_id() == 2
    ts = sorted(r.timestamp for r in fresh.scan().collect())
    assert ts == [100, 101, 102, 500, 600]
    # an attempted re-create on the surviving table must conflict,
    # not silently fork a second id space
    with pytest.raises(Exception):
        IceTable.create(
            spark, root, location_df(spark, [location_row(timestamp=9)]),
            partition_col="user_id", key_col="timestamp")


def test_commit_survives_hint_update_failure(spark, root, monkeypatch):
    """r11 review: the CURRENT hint is best-effort — once the
    snapshot-file link (the claim) succeeded, a failure writing the
    hint must NOT surface as a failed commit (the caller would retry
    and double-append). Failure injected via monkeypatch (r11 ADVICE:
    assigning os.replace directly patched the global os module for
    every caller in the process with only a try/finally to undo it;
    monkeypatch guarantees restoration)."""
    t = _mk(spark, root)
    orig_replace = os.replace
    calls = {"n": 0}

    def failing_replace(src, dst):
        if os.path.basename(dst) == "CURRENT":
            calls["n"] += 1
            raise OSError(28, "No space left on device (simulated)")
        return orig_replace(src, dst)

    monkeypatch.setattr(os, "replace", failing_replace)
    snap = t.append(location_df(spark, [location_row(timestamp=777)]))
    monkeypatch.undo()
    assert calls["n"] == 1            # the failure path actually ran
    assert snap is not None           # commit reported success
    fresh = IceTable(spark, root)
    assert fresh.manifest.current_snapshot_id() == 1  # walk-forward
    ts = sorted(r.timestamp for r in fresh.scan().collect())
    assert ts == [100, 101, 102, 777]  # exactly once, not retried
