"""Metadata-as-data: file lists beyond Manifest.inline_max live in a
Parquet sidecar and query pruning runs as a driver-side Arrow filter over
it, materializing only surviving entries (VERDICT r1 item 7 / TODO item 1)."""

import datetime
import os
import time

import pytest

from iceberg_core_spark.table import IceTable
from iceberg_core_spark.table.manifest import (
    KeptSidecar,
    Manifest,
    ManifestFile,
    Snapshot,
)


@pytest.fixture
def small_inline_max(monkeypatch):
    monkeypatch.setattr(Manifest, "inline_max", 2)


def _mk_table(spark, root, n=2000, files=8):
    df = spark.range(0, n).selectExpr(
        "id", "id % 4 as part", "cast(id as string) as payload"
    )
    return IceTable.create(spark, root, df, partition_col="part",
                           key_col="id", max_rows_per_file=n // files)


def test_sidecar_roundtrip_end_to_end(spark, tmp_path, small_inline_max):
    t = _mk_table(spark, str(tmp_path / "t"))
    snap = t.manifest.load(load_files=False)
    assert snap.files_ref is not None  # sidecar engaged
    assert os.path.exists(t.manifest.sidecar_path(snap.files_ref))
    # full load materializes the same entries the table was written with
    full = t.manifest.load()
    assert len(full.files) == t.file_count() and full.files[0].content_hash

    assert t.scan().count() == 2000
    got = t.query(partition=3, lo=100, hi=500).collect()
    exp = [i for i in range(100, 501) if i % 4 == 3]
    assert sorted(r.id for r in got) == exp
    # pruning must not read every file
    assert len(t.query(partition=3).inputFiles()) < t.file_count()

    # append / compact / expire keep working through the sidecar
    t.append(spark.range(2000, 2100).selectExpr(
        "id", "id % 4 as part", "cast(id as string) as payload"))
    assert t.scan().count() == 2100
    t.compact(target_rows_per_file=10_000)
    assert t.scan().count() == 2100
    expired = t.expire_snapshots(keep_last=1)
    assert expired  # old snapshots (and their sidecars) are gone
    for sid in expired:
        assert not os.path.exists(
            t.manifest.sidecar_path(f"files-{sid}.parquet"))
    assert t.scan().count() == 2100


def _synthetic_snapshot(n_files=10_000):
    base = datetime.datetime(2024, 1, 1)
    files = []
    for i in range(n_files):
        lo = base + datetime.timedelta(minutes=10 * i)
        hi = lo + datetime.timedelta(minutes=10)
        files.append(ManifestFile(
            path=f"data/s0/_p={i % 100}/part-{i}.parquet",
            partition=i % 100,
            key_min=lo,
            key_max=hi,
            rows=1000,
            bytes=10_000,
            content_hash=f"h{i}",
            col_stats={"v": (float(i), float(i + 1))},
        ))
    import json

    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType([StructField("ts", LongType())])
    return Snapshot(
        snapshot_id=0, parent_id=None, timestamp_ms=0, operation="create",
        schema_json=schema.json(), partition_col="part", key_col="ts",
        files=files, stat_cols=["v"],
    )


def test_sidecar_prunes_10k_files_metadata_only(spark, tmp_path):
    """A 10k-file manifest must answer a point query via the sidecar's
    driver-side Arrow filter without materializing 10k entries, agree
    exactly with the inline list-comprehension pruning, and stay fast."""
    root = str(tmp_path / "big")
    os.makedirs(root)
    snap = _synthetic_snapshot(10_000)
    m = Manifest(root)
    m.commit(snap)
    assert m.load(load_files=False).files_ref  # 10k > inline_max=512

    t = IceTable(spark, root)
    lazy = t.manifest.load(load_files=False)
    lo = datetime.datetime(2024, 1, 3)
    hi = datetime.datetime(2024, 1, 4)

    start = time.monotonic()
    pruned = t._pruned_files(lazy, partition=7, lo=lo, hi=hi)
    elapsed = time.monotonic() - start

    full = t.manifest.load()  # eager twin for the oracle comparison
    oracle = [f for f in full.files
              if f.partition == 7 and f.overlaps(lo, hi)]
    assert {f.path for f in pruned} == {f.path for f in oracle}
    assert 0 < len(pruned) < 20  # a sliver of 10k, not the table
    assert elapsed < 15  # one Arrow scan, no Spark job, no entry parses

    # stats-column pruning through the sidecar (range_scan predicate)
    pv = t._pruned_files(lazy, ranges={"v": (100.5, 110.5)})
    ov = [f for f in full.files if f.overlaps_col("v", 100.5, 110.5)]
    assert {f.path for f in pv} == {f.path for f in ov}
    assert len(pv) < 20


def _count_parsed(monkeypatch) -> list[str]:
    """Paths of every manifest entry decoded from JSON from now on."""
    parsed, from_json = [], ManifestFile.from_json

    def counting(d):
        parsed.append(d["path"])
        return from_json(d)

    monkeypatch.setattr(ManifestFile, "from_json", staticmethod(counting))
    return parsed


def test_sidecar_append_never_parses_parent_entries(
        spark, tmp_path, small_inline_max, monkeypatch):
    """An append onto a sidecar-backed parent copies the parent's rows
    as stored: no parent entry is parsed on the driver, seq comes from
    the sidecar column, and content-hash dedupe works against the
    parent sidecar unparsed."""
    root = str(tmp_path / "dist")
    t = _mk_table(spark, root)  # create: 8 files > inline_max=2
    snap = t.manifest.load(load_files=False)
    assert snap.files_ref and snap.files_count == t.file_count()
    assert snap.files == []  # lazy: nothing materialized
    parent = set(t.manifest.inventory(snap, ["path"])["path"].to_pylist())

    parsed = _count_parsed(monkeypatch)
    extra = spark.range(2000, 2600).selectExpr(
        "id", "id % 4 as part", "cast(id as string) as payload")
    t.append(extra)
    snap2 = t.manifest.load(load_files=False)
    assert snap2.files_ref and snap2.files_count > snap.files_count
    assert os.path.isfile(t.manifest.sidecar_path(snap2.files_ref))
    inv2 = t.manifest.inventory(snap2, ["path", "seq"])
    added = {p for p, s in zip(inv2["path"].to_pylist(),
                               inv2["seq"].to_pylist())
             if s == snap2.snapshot_id}
    assert added and set(parsed) == added  # only the new files' entries
    assert t.scan().count() == 2600

    # idempotent re-append of identical content is dropped by the
    # content-hash pass over the parent sidecar
    before, parsed[:] = t.file_count(), []
    t.append(extra, dedupe_identical_files=True)
    assert parsed and not set(parsed) & (parent | added)
    assert t.scan().count() == 2600
    assert t.file_count() == before
    # copied rows and new entries share a row group: a sidecar every
    # append copies does not gain one per commit
    import pyarrow.parquet as pq

    ref = t.manifest.load(load_files=False).files_ref
    assert pq.ParquetFile(
        t.manifest.sidecar_path(ref)).metadata.num_row_groups == 1

    # seq column round-trips: base files keep 0, new files carry 1
    monkeypatch.undo()
    full = t.manifest.load()
    assert {f.seq for f in full.files} == {0, 1}
    assert {f.path for f in full.files if f.seq == 1} == added


# ---------------------------------------------------------------------------
# round-3: metadata paths must not materialize per-file entries on the
# driver (VERDICT r2 items 3-4) — enforced by making full-entry
# materialization raise
# ---------------------------------------------------------------------------

def _forbid_entry_materialization(monkeypatch):
    def boom(self, files_ref):
        raise AssertionError(
            "driver materialized per-file manifest entries "
            f"(sidecar {files_ref})"
        )
    monkeypatch.setattr(Manifest, "_read_files_sidecar", boom)


def test_mor_delete_metadata_only_on_sidecar(spark, tmp_path,
                                             small_inline_max, monkeypatch):
    t = _mk_table(spark, str(tmp_path / "t"))
    parent = t.manifest.load(load_files=False)
    assert parent.files_ref is not None
    _forbid_entry_materialization(monkeypatch)
    snap = t.delete_where("part = 1", mode="mor")
    # the parent's sidecar is inherited BY REFERENCE — the data is
    # unchanged by definition of merge-on-read
    assert snap.files_ref == parent.files_ref
    assert snap.files_count == parent.files_count
    # scan applies the predicate without ever parsing entries
    assert t.scan().count() == 1500  # part==1 rows (500) hidden
    assert t.file_count() == parent.files_count


def test_compact_sidecar_no_entry_materialization(spark, tmp_path,
                                                  small_inline_max,
                                                  monkeypatch):
    t = _mk_table(spark, str(tmp_path / "t"))
    before = t.file_count()
    _forbid_entry_materialization(monkeypatch)
    snap = t.compact(target_rows_per_file=10_000)
    assert snap.operation == "compact"
    assert t.scan().count() == 2000
    assert t.file_count() < before


def test_compact_sidecar_rewrites_mor_deletes(spark, tmp_path,
                                              small_inline_max, monkeypatch):
    t = _mk_table(spark, str(tmp_path / "t"))
    t.delete_where("part = 2", mode="mor")
    _forbid_entry_materialization(monkeypatch)
    snap = t.compact(target_rows_per_file=10_000)
    assert snap.delete_predicates == []  # rewritten away
    assert t.scan().count() == 1500
    monkeypatch.undo()
    # survivor entries kept their stats; victims re-derived them
    full = t.manifest.load()
    assert all(f.content_hash for f in full.files)


def test_scan_incremental_paths_only(spark, tmp_path, small_inline_max,
                                     monkeypatch):
    t = _mk_table(spark, str(tmp_path / "t"))
    s0 = t.manifest.load(load_files=False).snapshot_id
    t.append(spark.range(2000, 2300).selectExpr(
        "id", "id % 4 as part", "cast(id as string) as payload"))
    _forbid_entry_materialization(monkeypatch)
    inc = t.scan_incremental(since=s0)
    assert sorted(r.id for r in inc.collect()) == list(range(2000, 2300))


def test_expire_preserves_shared_sidecar(spark, tmp_path, small_inline_max):
    t = _mk_table(spark, str(tmp_path / "t"))
    t.delete_where("part = 1", mode="mor")  # shares parent's files_ref
    expired = t.expire_snapshots(keep_last=1)
    assert expired
    cur = t.manifest.load(load_files=False)
    # the kept snapshot's (shared) sidecar must survive expiry
    assert os.path.exists(t.manifest.sidecar_path(cur.files_ref))
    assert t.scan().count() == 1500


def test_expire_with_shared_sidecar_among_dropped(spark, tmp_path,
                                                  small_inline_max):
    """Regression: two DROPPED snapshots sharing one sidecar (create +
    MoR delete) must both expire cleanly — paths are collected before
    any sidecar is removed."""
    t = _mk_table(spark, str(tmp_path / "t"))
    t.delete_where("part = 1", mode="mor")   # shares create's files_ref
    t.append(spark.range(2000, 2100).selectExpr(
        "id", "id % 4 as part", "cast(id as string) as payload"))
    t.compact(target_rows_per_file=10_000)
    expired = t.expire_snapshots(keep_last=1)
    assert len(expired) == 3
    # MoR predicate (issued BEFORE the append) hid only the original
    # part==1 rows — the later append's files carry a higher seq and
    # are untouched; compaction then rewrote the predicate away
    assert t.scan().count() == 1500 + 100


def test_stale_sidecar_compact_conflicts_and_cleans(spark, tmp_path,
                                                    small_inline_max):
    """A stale compact commit carrying a sidecar parent's rows
    (``KeptSidecar`` base) must raise CommitConflictError, delete its
    newly written data files and its own sidecar — same contract as
    the inline read-modify-write path (test_occ)."""
    import pytest as _pytest

    from iceberg_core_spark.table.manifest import CommitConflictError

    root = str(tmp_path / "t")
    t = _mk_table(spark, root)
    snap = t.manifest.load(load_files=False)
    keep = KeptSidecar(snap.files_ref, [], snap.files_count)

    # another writer advances the table first
    t.append(spark.range(2000, 2050).selectExpr(
        "id", "id % 4 as part", "cast(id as string) as payload"))

    with _pytest.raises(CommitConflictError):
        t._write_commit(
            spark.range(9000, 9010).selectExpr(
                "id", "id % 4 as part", "cast(id as string) as payload"),
            "compact", snap.partition_col, snap.key_col, 1_000_000,
            base_files=keep, expected_parent=snap.snapshot_id,
        )
    t2 = IceTable(spark, root)
    assert t2.scan().count() == 2050  # loser's rows absent
    cur = t2.manifest.load(load_files=False)
    live = set(t2.manifest.inventory(cur, ["path"])["path"].to_pylist())
    on_disk = {
        os.path.relpath(os.path.join(dp, n), root)
        for dp, _d, ns in os.walk(os.path.join(root, "data"))
        for n in ns if n.endswith(".parquet")
    }
    assert on_disk == live  # loser's files deleted, not orphaned
    refs = {s.files_ref for s in t2.snapshots()}
    assert {n for n in os.listdir(t2.manifest.dir)
            if n.startswith("files-")} == refs  # loser's sidecar too


def test_rollback_metadata_only_shared_ref(spark, tmp_path,
                                           small_inline_max, monkeypatch):
    """rollback() restores an earlier snapshot's state as a NEW commit
    without materializing entries; it shares the target's sidecar and
    survives expiry of intermediate snapshots."""
    root = str(tmp_path / "t")
    t = _mk_table(spark, root)
    good = t.manifest.load(load_files=False)
    t.delete_where("part != 99", mode="cow")   # "bad" commit: empties table
    assert t.scan().count() == 0
    _forbid_entry_materialization(monkeypatch)
    rb = t.rollback(good.snapshot_id)
    assert rb.operation == "rollback"
    assert rb.files_ref == good.files_ref       # shared by reference
    assert t.scan().count() == 2000             # state restored
    monkeypatch.undo()
    # expiring everything but the rollback keeps the shared sidecar
    t.expire_snapshots(keep_last=1)
    assert t.scan().count() == 2000


def test_remove_orphans_deletes_only_unreferenced(spark, tmp_path,
                                                  small_inline_max):
    root = str(tmp_path / "t")
    t = _mk_table(spark, root)
    # plant an orphan (simulates a writer that died pre-commit)
    orphan_dir = os.path.join(root, "data", "s99-deadbeef")
    os.makedirs(orphan_dir)
    spark.range(5).coalesce(1).write.mode("overwrite").parquet(orphan_dir)
    # default retention: a FRESH unreferenced file could be an in-flight
    # concurrent writer's — it must survive
    assert t.remove_orphans() == []
    # backdate past the retention cutoff → now it is a true orphan
    old = time.time() - 4 * 24 * 3600
    for dp, _d, names in os.walk(orphan_dir):
        for n in names:
            os.utime(os.path.join(dp, n), (old, old))
    removed = t.remove_orphans()
    assert removed and all(r.startswith("data/s99-deadbeef") for r in removed)
    assert t.scan().count() == 2000  # live data untouched
    assert t.remove_orphans() == []  # idempotent
    # explicit single-writer mode removes regardless of age
    os.makedirs(orphan_dir, exist_ok=True)
    spark.range(3).coalesce(1).write.mode("overwrite").parquet(orphan_dir)
    assert t.remove_orphans(older_than_ms=0)
    assert t.scan().count() == 2000


def test_remove_orphans_sweeps_manifest_dir_leftovers(
        spark, tmp_path, small_inline_max):
    # r11 review finding 4c: crashed writers leak files-*.parquet
    # sidecars and *.tmp-* scratch under _manifest/ forever — the
    # sweep must reclaim them with the same mtime discipline while
    # keeping every referenced sidecar, snapshot doc, CURRENT, and tag
    root = str(tmp_path / "t")
    t = _mk_table(spark, root)
    t.append(spark.range(2000, 2100).selectExpr(
        "id", "id % 4 as part", "cast(id as string) as payload"))
    t.create_tag("v1")
    man_dir = t.manifest.dir
    live_refs = {s.files_ref for s in t.snapshots() if s.files_ref}
    assert live_refs  # the table really is sidecar-backed
    # plant the crash leftovers: an unreferenced sidecar DIRECTORY
    # (Spark-written shape), an unreferenced sidecar FILE
    # (driver-written shape), CAS/hint scratch, and staging dirs
    orphan_dir = os.path.join(man_dir, "files-99-deadbeef.parquet")
    spark.range(5).coalesce(1).write.parquet(orphan_dir)
    orphan_file = os.path.join(man_dir, "files-98-cafebabe.parquet")
    tmp_sidecar = os.path.join(man_dir, "files-97-0ddba11.parquet.tmp")
    cas_tmp = os.path.join(man_dir, "snapshot-42.json.tmp-12ab34cd")
    hint_tmp = os.path.join(man_dir, "CURRENT.tmp-deadbeef")
    base_tmp = os.path.join(man_dir, "tmp-base-12345678.parquet")
    os.makedirs(base_tmp)
    # tmp-LOOKING names that are NOT writer-emitted scratch shapes:
    # the r12 ADVICE anchoring means these survive any retention
    # window (the old "contains .tmp" matcher would delete all three)
    impostors = [os.path.join(man_dir, n) for n in
                 ("stats.tmp-index.json", "_tmp_notes",
                  "tmp-other-xyz.parquet")]
    for p in (orphan_file, tmp_sidecar, cas_tmp, hint_tmp,
              os.path.join(base_tmp, "part-00000.parquet"),
              *impostors):
        with open(p, "w") as f:
            f.write("x")
    # fresh leftovers could be an in-flight writer's — retained
    assert t.remove_orphans() == []
    old = time.time() - 4 * 24 * 3600
    for p in (orphan_dir, orphan_file, tmp_sidecar, cas_tmp, hint_tmp,
              base_tmp, *impostors):
        os.utime(p, (old, old))
    removed = set(t.remove_orphans())
    rel = lambda p: os.path.relpath(p, root)  # noqa: E731
    assert {rel(orphan_dir), rel(orphan_file), rel(tmp_sidecar),
            rel(cas_tmp), rel(hint_tmp), rel(base_tmp)} <= removed
    # everything load-bearing survives, however old
    for s in t.snapshots():
        assert os.path.exists(
            os.path.join(man_dir, f"snapshot-{s.snapshot_id}.json"))
    for ref in live_refs:
        assert os.path.exists(t.manifest.sidecar_path(ref))
    assert os.path.exists(os.path.join(man_dir, "CURRENT"))
    assert t.tags() == {"v1": t.manifest.load(load_files=False).snapshot_id}
    for p in impostors:  # unrecognized names are never deletion candidates
        assert os.path.exists(p)
    assert t.scan().count() == 2100
    assert t.remove_orphans() == []  # idempotent


def test_snapshot_total_bytes_projected_no_entry_parse(
        spark, tmp_path, small_inline_max):
    # r11 ADVICE: the index-store rebuild capacity gate summed
    # f.bytes via a FULL manifest load — JSON-parsing every sidecar
    # entry on the driver just to total one column. The projected
    # helper must agree with the full load and never materialize
    # entries.
    t = _mk_table(spark, str(tmp_path / "t"))
    full = t.manifest.load(load_files=True)
    want = sum(f.bytes for f in full.files)
    assert want > 0
    brief = t.manifest.load(load_files=False)
    assert brief.files_ref and not brief.files  # sidecar-backed
    # dedicated patch context: monkeypatch.undo() on the shared
    # function-scoped instance would also revert the small_inline_max
    # fixture's patch for the rest of the test
    mp = pytest.MonkeyPatch()
    try:
        _forbid_entry_materialization(mp)
        assert t.manifest.snapshot_total_bytes(brief) == want
    finally:
        mp.undo()
    # inline snapshots (files carried in the doc) sum directly
    small = IceTable.create(
        spark, str(tmp_path / "inline"),
        spark.range(10).selectExpr("id", "cast(id as string) as payload"),
        key_col="id")
    isnap = small.manifest.load()
    assert isnap.files_ref is None
    assert small.manifest.snapshot_total_bytes(isnap) == \
        sum(f.bytes for f in isnap.files)


def test_files_df_encoding_stable_across_inline_sidecar(spark, tmp_path,
                                                        monkeypatch):
    """r14 review: files_df must stringify partition/key stats in the
    NORMALIZED sidecar encoding on BOTH branches — a table crossing the
    inline→sidecar threshold must not change its files_df encoding
    mid-history (timestamp partitions: epoch micros, not str(datetime);
    the rule diff_stats already pins). Second input: a double key of
    1e7 and above, which Spark renders '1.0E7' and Python's str()
    '10000000.0'."""
    import datetime

    root = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(datetime.datetime(2024, 1, d), i)
         for d in (1, 2) for i in range(4)],
        "ts timestamp, v int")
    t = IceTable.create(spark, root, df, partition_col="ts",
                        key_col="v", max_rows_per_file=2)
    inline_parts = {r.partition for r in t.files_df().collect()}
    monkeypatch.setattr(Manifest, "inline_max", 1)
    t.append(spark.createDataFrame(
        [(datetime.datetime(2024, 1, 3), 9)], "ts timestamp, v int"))
    snap = t.manifest.load(load_files=False)
    assert snap.files_ref, "append should have crossed to sidecar"
    sidecar_parts = {r.partition for r in t.files_df().collect()}
    # the pre-existing partitions must keep their encoding byte-for-byte
    assert inline_parts <= sidecar_parts
    # and every value is the normalized integer encoding, not
    # str(datetime) ('2024-01-01 00:00:00')
    assert all(p.lstrip("-").isdigit() for p in sidecar_parts)
    assert all(p.lstrip("-").isdigit() for p in inline_parts)

    monkeypatch.setattr(Manifest, "inline_max", 512)
    dbl = spark.createDataFrame([(1e7 + i, i % 2) for i in range(6)],
                                "k double, p int")
    t2 = IceTable.create(spark, str(tmp_path / "dbl"), dbl,
                         partition_col="p", key_col="k",
                         max_rows_per_file=1)
    inline_keys = {(r.key_min, r.key_max) for r in t2.files_df().collect()}
    monkeypatch.setattr(Manifest, "inline_max", 1)
    t2.append(spark.createDataFrame([(2e7, 0)], "k double, p int"))
    assert t2.manifest.load(load_files=False).files_ref
    sidecar_keys = {(r.key_min, r.key_max) for r in t2.files_df().collect()}
    assert ("1.0E7", "1.0E7") in inline_keys
    assert inline_keys <= sidecar_keys


# ---------------------------------------------------------------------------
# sidecar pruning runs as a driver-side Arrow filter: it must reach the
# inline pass's verdicts (ManifestFile.overlaps / overlaps_col over the
# fully loaded entries) on every stat shape the Spark predicate used to
# handle implicitly, and start no Spark job
# ---------------------------------------------------------------------------

def _inline_oracle(t, **bounds) -> set[str]:
    """Paths the inline pass keeps for the same entries: the full load
    (entry_json parsed) pruned with the sidecar reference dropped."""
    full = t.manifest.load()
    full.files_ref = None
    return {f.path for f in t._pruned_files(full, **bounds)}


def _sidecar_pruned(t, **bounds) -> set[str]:
    snap = t.manifest.load(load_files=False)
    assert snap.files_ref and not snap.files  # the sidecar branch
    return {f.path for f in t._pruned_files(snap, **bounds)}


def _hand_table(spark, root, files, schema, key_col, partition_col=None,
                stat_cols=()):
    """Commit pyarrow-written data files with hand-set manifest stats
    (``files``: relative path -> (pyarrow table, ManifestFile kwargs))."""
    import pyarrow.parquet as pq

    entries = []
    for rel, (tbl, stats) in files.items():
        os.makedirs(os.path.dirname(os.path.join(root, rel)), exist_ok=True)
        pq.write_table(tbl, os.path.join(root, rel))
        entries.append(ManifestFile(
            path=rel, rows=tbl.num_rows, content_hash=rel,
            bytes=os.path.getsize(os.path.join(root, rel)), **stats))
    Manifest(root).commit(Snapshot(
        snapshot_id=0, parent_id=None, timestamp_ms=0, operation="create",
        schema_json=schema.json(), partition_col=partition_col,
        key_col=key_col, files=entries, stat_cols=list(stat_cols)))
    return IceTable(spark, root)


def test_sidecar_prunes_like_inline_with_nan_key_max(spark, tmp_path,
                                                     small_inline_max):
    """A float key whose file-level key_max is NaN (the file also holds
    in-range keys): Arrow's ``NaN < lo`` is false, so the file must be
    kept exactly where the inline ``overlaps`` keeps it — and the query
    must return the in-range row it holds."""
    import pyarrow as pa
    from pyspark.sql.types import DoubleType, StructField, StructType

    nan = float("nan")

    def f(keys, kmin, kmax):
        return (pa.table({"k": pa.array(keys, pa.float64())}),
                dict(partition=None, key_min=kmin, key_max=kmax))

    t = _hand_table(spark, str(tmp_path / "nan"), {
        "data/f0.parquet": f([1.0, 5.0, nan], 1.0, nan),
        "data/f1.parquet": f([10.0, 11.0], 10.0, 11.0),
        "data/f2.parquet": f([20.0, 21.0], 20.0, 21.0),
        "data/f3.parquet": f([30.0, nan], 30.0, nan),
    }, StructType([StructField("k", DoubleType())]), key_col="k")
    for lo, hi, want in [(4.0, 6.0, {"data/f0.parquet"}),
                         (25.0, 40.0, {"data/f0.parquet", "data/f3.parquet"}),
                         (10.5, None, {"data/f0.parquet", "data/f1.parquet",
                                       "data/f2.parquet", "data/f3.parquet"})]:
        assert _inline_oracle(t, lo=lo, hi=hi) == want
        assert _sidecar_pruned(t, lo=lo, hi=hi) == want
    assert [r.k for r in t.query(lo=4.0, hi=6.0).collect()] == [5.0]


def test_sidecar_all_null_stat_column_keeps_files(spark, tmp_path):
    """A tracked stat column no entry has stats for is written as an
    all-NULL int64 ``smin_*``/``smax_*`` pair: bounds of any type —
    including a string Arrow cannot compare with int64 — keep every
    file instead of raising, while the key conjunct still prunes."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    root = str(tmp_path / "nulls")
    os.makedirs(root)
    files = [ManifestFile(path=f"data/f{i}.parquet", partition=None,
                          key_min=i * 10, key_max=i * 10 + 9, rows=10,
                          bytes=100, content_hash=f"h{i}")
             for i in range(Manifest.inline_max + 8)]
    schema = StructType([StructField("k", LongType()),
                         StructField("tag", StringType())])
    Manifest(root).commit(Snapshot(
        snapshot_id=0, parent_id=None, timestamp_ms=0, operation="create",
        schema_json=schema.json(), partition_col=None, key_col="k",
        files=files, stat_cols=["tag"]))
    t = IceTable(spark, root)
    import pyarrow.parquet as pq

    sc = pq.read_table(t.manifest.sidecar_path(
        t.manifest.load(load_files=False).files_ref))
    assert sc["smin_tag"].null_count == sc.num_rows  # all-NULL column
    every = {f.path for f in files}
    for rng in [(1, 5), ("a", "z")]:
        assert _inline_oracle(t, ranges={"tag": rng}) == every
        assert _sidecar_pruned(t, ranges={"tag": rng}) == every
    both = {"tag": ("a", "z"), "k": (25, 44)}
    assert _sidecar_pruned(t, ranges=both) == _inline_oracle(
        t, ranges=both) == {"data/f2.parquet", "data/f3.parquet",
                            "data/f4.parquet"}


def test_sidecar_string_partition_int_bound_keeps_files(spark, tmp_path,
                                                        small_inline_max):
    """``partition_n`` is a string column and the bound an int: Arrow
    has no string == int kernel, so the conjunct keeps every file (a
    superset of the inline verdict, whose Python ``"3" == 3`` is False)
    and the residual filter alone decides the rows — the same rows a
    full scan under the same filter returns."""
    df = spark.range(0, 400).selectExpr(
        "id", "cast(id % 4 as string) as part",
        "cast(id as string) as payload")
    t = IceTable.create(spark, str(tmp_path / "s"), df, partition_col="part",
                        key_col="id", max_rows_per_file=50)
    every = {f.path for f in t.manifest.load().files}
    kept = _sidecar_pruned(t, partition=3)
    assert kept == every and kept >= _inline_oracle(t, partition=3)
    # the int bound still composes with a key range that does prune
    ranged = _sidecar_pruned(t, partition=3, lo=0, hi=40)
    assert ranged == _inline_oracle(t, lo=0, hi=40) and ranged < every
    got = sorted(r.id for r in t.query(partition=3, lo=0, hi=40).collect())
    from pyspark.sql import functions as F

    want = sorted(r.id for r in t.scan().filter(
        (F.col("part") == F.lit(3)) & F.col("id").between(0, 40)).collect())
    assert got == want and want


def test_sidecar_prunes_like_inline_on_spark_written_directory(
        spark, tmp_path, small_inline_max):
    """Tables written by older versions hold sidecars that a Spark job
    wrote as a ``part-*`` directory (with ``_SUCCESS``/``.crc``
    siblings): the Arrow pass must read one as a dataset and agree with
    the inline verdicts, and a commit must carry its rows over."""
    t = _mk_table(spark, str(tmp_path / "dir"))
    snap = t.manifest.load(load_files=False)
    path = t.manifest.sidecar_path(snap.files_ref)
    t._sidecar_df(snap.files_ref).repartition(3).write.parquet(path + ".d")
    os.remove(path)
    os.rename(path + ".d", path)
    assert os.path.isdir(path)
    every = {f.path for f in t.manifest.load().files}
    assert len(every) == snap.files_count
    for bounds in [dict(partition=3, lo=100, hi=500), dict(partition=1),
                   dict(lo=1500), dict(hi=-1), dict(ranges={"id": (10, 20)}),
                   dict(partition=2, ranges={"id": (900, 1300)})]:
        want = _inline_oracle(t, **bounds)
        assert _sidecar_pruned(t, **bounds) == want, bounds
        if bounds != dict(hi=-1):
            assert 0 < len(want) < len(every), bounds
    assert _sidecar_pruned(t, hi=-1) == set()
    t.append(spark.range(2000, 2100).selectExpr(
        "id", "id % 4 as part", "cast(id as string) as payload"))
    cur = t.manifest.load(load_files=False)
    assert os.path.isfile(t.manifest.sidecar_path(cur.files_ref))
    assert every < {f.path for f in t.manifest.load().files}
    assert t.scan().count() == 2100


def test_sidecar_prunes_like_inline_across_spec_and_rename(
        spark, tmp_path, small_inline_max):
    """Partition-spec evolution onto a RENAMED stat column: old-spec
    files carry their stats under the retired name (``smin_source``),
    new-spec files prune by ``partition_n`` — the Arrow filter's seq
    ranges and alias-chain coalesce must match the inline pass."""
    def docs(a, b, src):
        return spark.range(a, b).selectExpr(
            "id", "concat('l', id % 2) as lang",
            f"concat('s', cast(floor(id / 100) as int)) as {src}")

    t = IceTable.create(spark, str(tmp_path / "evo"), docs(0, 600, "source"),
                        partition_col="lang", key_col="id",
                        stat_cols=["source"], max_rows_per_file=50)
    t.rename_column("source", "src")
    t.set_partition_spec("src")
    t.append(docs(600, 900, "src"), dedupe_identical_files=False)
    snap = t.manifest.load(load_files=False)
    assert snap.partition_specs and snap.renames and snap.files_ref
    every = {f.path for f in t.manifest.load().files}
    for bounds in [dict(partition="s3"), dict(partition="s7"),
                   dict(partition="s3", lo=300, hi=350),
                   dict(ranges={"src": ("s2", "s2")}),
                   dict(partition="s8", ranges={"src": ("s0", "s8")})]:
        want = _inline_oracle(t, **bounds)
        assert _sidecar_pruned(t, **bounds) == want, bounds
        assert 0 < len(want) < len(every), bounds
    got = sorted(r.id for r in t.query(partition="s3").collect())
    assert got == list(range(300, 400))


def test_query_starts_no_spark_job_before_its_action(spark, tmp_path,
                                                     small_inline_max):
    """Planning a sidecar-backed query is driver-only: no schema
    inference job, no collect of survivors — the one job is the
    caller's action."""
    t = _mk_table(spark, str(tmp_path / "jobs"))
    assert t.manifest.load(load_files=False).files_ref
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    plan_group = f"plan-{os.urandom(4).hex()}"
    run_group = f"run-{os.urandom(4).hex()}"
    try:
        sc.setJobGroup(plan_group, "query planning")
        df = t.query(partition=3, lo=100, hi=500)
        sc.setJobGroup(run_group, "query action")
        rows = df.collect()
        # status updates arrive through the listener bus in order: once
        # the action's job is visible, any planning job would be too
        deadline = time.monotonic() + 30
        while (not tracker.getJobIdsForGroup(run_group)
               and time.monotonic() < deadline):
            time.sleep(0.05)
        assert tracker.getJobIdsForGroup(run_group)
        assert tracker.getJobIdsForGroup(plan_group) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sorted(r.id for r in rows) == [
        i for i in range(100, 501) if i % 4 == 3]


def test_inline_and_sidecar_regimes_return_same_rows(spark, tmp_path,
                                                     monkeypatch):
    """The same queries against the same data under the default
    ``inline_max`` (inline JSON pruning) and under a small one (sidecar
    Arrow pruning) return identical rows, including bounds whose type
    differs from the stat's: a string partition queried with an int, a
    string stat column ranged with ints. The inline pass keeps such
    files, as the sidecar does, and the residual filter picks the rows."""
    def mk(name):
        df = spark.range(0, 400).selectExpr(
            "id", "cast(id % 4 as string) as part",
            "cast(id % 10 as string) as tag")
        return IceTable.create(spark, str(tmp_path / name), df,
                               partition_col="part", key_col="id",
                               stat_cols=["tag"], max_rows_per_file=50)

    inline = mk("inline")
    assert not inline.manifest.load(load_files=False).files_ref
    monkeypatch.setattr(Manifest, "inline_max", 2)
    sidecar = mk("sidecar")
    assert sidecar.manifest.load(load_files=False).files_ref
    queries = [
        lambda t: t.query(partition=3),
        lambda t: t.query(partition="3"),
        lambda t: t.query(partition=3, lo=0, hi=40),
        lambda t: t.query(partition="1", lo=150),
        lambda t: t.range_scan({"tag": (2, 5)}),
        lambda t: t.range_scan({"tag": ("2", "5"), "id": (100, 260)}),
    ]
    for i, q in enumerate(queries):
        got = sorted(r.id for r in q(inline).collect())
        assert got, i
        assert got == sorted(r.id for r in q(sidecar).collect()), i


# ---------------------------------------------------------------------------
# the rewrite planner (IceTable._plan_rewrite): one affected/keep split for
# every file-rewriting op, driver-only in both manifest regimes
# ---------------------------------------------------------------------------

def _part_batch(spark, ids, part):
    return spark.createDataFrame(
        [(i, part, f"new{i}") for i in ids], "id long, part long, payload string")


@pytest.mark.parametrize("op", ["delete_range", "delete_where_cow", "upsert",
                                "overwrite_partitions", "maintain",
                                "add_files"])
def test_rewrite_ops_never_materialize_sidecar_entries(
        spark, tmp_path, small_inline_max, monkeypatch, op):
    """On a sidecar-backed table no file-rewriting op, nor add_files,
    parses a sidecar entry on the driver, and each one still returns
    the right rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from iceberg_core_spark.table.ice_table import MaintenancePolicy

    t = _mk_table(spark, str(tmp_path / "t"))
    assert t.manifest.load(load_files=False).files_ref
    _forbid_entry_materialization(monkeypatch)
    ids, changed = set(range(2000)), set()
    if op == "delete_range":
        t.delete_range(partition=1, lo=100, hi=500)
        ids -= {i for i in range(100, 501) if i % 4 == 1}
    elif op == "delete_where_cow":
        t.delete_where("part = 2 AND id < 1000")
        ids -= {i for i in range(1000) if i % 4 == 2}
    elif op == "upsert":
        changed = {1, 5, 2001}
        t.upsert(_part_batch(spark, changed, 1), key_cols=["part", "id"])
        ids |= changed
    elif op == "overwrite_partitions":
        changed = {3, 7}
        t.overwrite_partitions(_part_batch(spark, changed, 3))
        ids -= {i for i in range(2000) if i % 4 == 3} - changed
    elif op == "add_files":
        changed = {5000, 5004}
        src = tmp_path / "src" / "part=0" / "a.parquet"
        src.parent.mkdir(parents=True)
        pq.write_table(pa.table({
            "id": pa.array(sorted(changed), pa.int64()),
            "part": pa.array([0, 0], pa.int64()),
            "payload": [f"new{i}" for i in sorted(changed)]}), str(src))
        before = t.file_count()
        t.add_files([str(src)])
        t.add_files([str(src)])  # same bytes again: nothing new
        assert t.file_count() == before + 1
        ids |= changed
    else:
        report = t.maintain(MaintenancePolicy(max_files_per_partition=2,
                                              keep_snapshots=1))
        assert report["compacted"] and report["skipped"] is None
    assert t.manifest.load(load_files=False).files_ref
    rows = t.scan().collect()
    assert sorted(r.id for r in rows) == sorted(ids)
    assert {r.payload for r in rows if r.id in changed} == {
        f"new{i}" for i in changed}


def _jobs_started(spark, fn):
    """Spark job ids started while ``fn`` runs (its job group), checked
    only after a later action's job is visible: status updates arrive
    through the listener bus in order."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group, probe = f"fn-{os.urandom(4).hex()}", f"probe-{os.urandom(4).hex()}"
    try:
        sc.setJobGroup(group, "under test")
        out = fn()
        sc.setJobGroup(probe, "listener-bus probe")
        spark.range(1).collect()
        deadline = time.monotonic() + 30
        while (not tracker.getJobIdsForGroup(probe)
               and time.monotonic() < deadline):
            time.sleep(0.05)
        assert tracker.getJobIdsForGroup(probe)
        return tracker.getJobIdsForGroup(group), out
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_rewrite_planner_starts_no_spark_job(spark, tmp_path, regime,
                                            monkeypatch):
    """The planner, the fragmentation probe and stats() run on the
    driver in both manifest regimes: 0 Spark jobs inside each of them,
    under the masks delete_range, a CoW upsert, overwrite_partitions
    and compact give it, where the Spark splits they replace started
    one or two each on a sidecar."""
    t = _mk_table(spark, str(tmp_path / "t"))
    assert bool(t.manifest.load(load_files=False).files_ref) == (
        regime == "spark-sidecar")
    sc = spark.sparkContext
    plan_rewrite, groups, plans = IceTable._plan_rewrite, [], []

    def traced(self, snap, mask):
        groups.append(f"plan-{os.urandom(4).hex()}")
        sc.setJobGroup(groups[-1], "rewrite planner")
        try:
            plans.append((snap, plan_rewrite(self, snap, mask)))
            return plans[-1][1]
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    monkeypatch.setattr(IceTable, "_plan_rewrite", traced)
    t.delete_range(partition=1, lo=0, hi=300)
    t.upsert(_part_batch(spark, {1, 5}, 1), key_cols=["part", "id"])
    t.overwrite_partitions(_part_batch(spark, {3, 7}, 3))
    t.compact(min_files=2)
    jobs, (frag, stats) = _jobs_started(spark, lambda: (
        t._max_files_per_partition(t.manifest.load(load_files=False)),
        t.stats()))
    assert jobs == []
    tracker = sc.statusTracker()
    assert [tracker.getJobIdsForGroup(g) for g in groups] == [[]] * 4
    hit_parts = []
    for snap, plan in plans:
        files = t.manifest.load(snap.snapshot_id).files
        by_part = {f.path: f.partition for f in files}
        hit_parts.append({by_part[v.path] for v in plan.victims})
        assert len(plan.keep) + len(plan.victims) == len(files)
    assert hit_parts[:3] == [{1}, {1}, {3}]
    assert frag == max(p["files"] for p in stats["partitions"].values())
    assert stats["files"] == t.file_count()
    assert stats["rows"] == t.scan().count()


def test_delete_range_keeps_driver_commit_form(spark, tmp_path,
                                               small_inline_max,
                                               monkeypatch):
    """On a sidecar-backed table delete_range commits in the driver
    form: a driver-written single-file sidecar holding the kept rows
    as stored plus the new entries, or inline JSON when kept and new
    files fit ``inline_max`` (then at most that many entries are
    parsed)."""
    t = _mk_table(spark, str(tmp_path / "t"))
    parent = t.manifest.load()
    snap = t.delete_range(partition=1, lo=100, hi=500)
    ref = t.manifest.sidecar_path(snap.files_ref)
    assert os.path.isfile(ref)
    full = t.manifest.load()
    new = {f.path for f in full.files if f.seq == snap.snapshot_id}
    kept = {f.path for f in full.files} - new
    assert new and kept and kept < {f.path for f in parent.files}
    old = {f.path: f for f in parent.files}
    assert all(f == old[f.path] for f in full.files if f.path in kept)
    assert sorted(r.id for r in t.scan().collect()) == sorted(
        set(range(2000)) - {i for i in range(100, 501) if i % 4 == 1})

    monkeypatch.setattr(Manifest, "inline_max", 512)
    snap = t.delete_range(partition=2, lo=0, hi=100)
    assert snap.files_ref is None and snap.files
    assert t.scan().count() == 2000 - 100 - 25


def test_full_rewrite_reads_nothing_of_parent_sidecar(spark, tmp_path,
                                                      small_inline_max,
                                                      monkeypatch):
    """A merge whose keys miss the partition column rewrites every
    file: the planner's keep is empty, and after planning the commit
    opens nothing of the parent sidecar (no kept-row copy against a
    drop list of every path)."""
    t = _mk_table(spark, str(tmp_path / "t"))
    parent = t.manifest.load(load_files=False).files_ref
    assert parent
    plan_rewrite, sidecar_path = IceTable._plan_rewrite, Manifest.sidecar_path
    plans, opened = [], []

    def traced_plan(self, snap, mask):
        plans.append(plan_rewrite(self, snap, mask))
        opened.clear()  # the planner reads the inventory; after it, none
        return plans[-1]

    def traced_path(self, files_ref):
        opened.append(files_ref)
        return sidecar_path(self, files_ref)

    monkeypatch.setattr(IceTable, "_plan_rewrite", traced_plan)
    monkeypatch.setattr(Manifest, "sidecar_path", traced_path)
    t.upsert(_part_batch(spark, {1, 2001}, 1), key_cols=["id"])
    (plan,) = plans
    assert plan.keep == [] and len(plan.victims) == 8
    assert parent not in opened
    monkeypatch.undo()
    snap = t.manifest.load(load_files=False)
    assert snap.files_ref and snap.files_ref != parent
    rows = t.scan().collect()
    assert sorted(r.id for r in rows) == list(range(2000)) + [2001]
    assert {r.payload for r in rows if r.id in (1, 2001)} == {
        "new1", "new2001"}


def test_decimal_partition_and_key_round_trip(spark, tmp_path, regime):
    """A table partitioned by a decimal column with a decimal key
    commits (the entry JSON tags decimals exactly) and reads back the
    right rows after create, append, query, delete_range and scan in
    both manifest regimes; decimal stats have no sidecar encoding, so
    the sidecar keeps those files conservatively."""
    from decimal import Decimal

    def rows(a, b):
        return spark.range(a, b).selectExpr(
            "cast(id as decimal(7,2)) as k",
            "cast(id % 3 as decimal(5,2)) as part",
            "cast(id as string) as payload")

    def ids(df):
        return sorted(int(r.k) for r in df.collect())

    t = IceTable.create(spark, str(tmp_path / "dec"), rows(0, 40),
                        partition_col="part", key_col="k",
                        max_rows_per_file=5)
    assert bool(t.manifest.load(load_files=False).files_ref) == (
        regime == "spark-sidecar")
    assert ids(t.scan()) == list(range(40))
    f = next(f for f in t.manifest.load().files if f.partition == 1)
    assert isinstance(f.partition, Decimal) and isinstance(f.key_min,
                                                           Decimal)
    t.append(rows(40, 60))
    assert ids(t.scan()) == list(range(60))
    got = ids(t.query(partition=Decimal("1.00"), lo=Decimal("10"),
                      hi=Decimal("30")))
    assert got == [i for i in range(10, 31) if i % 3 == 1]
    t.delete_range(partition=Decimal("2.00"), lo=Decimal("0"),
                   hi=Decimal("20"))
    assert ids(t.scan()) == [i for i in range(60)
                             if not (i % 3 == 2 and i <= 20)]
    assert ids(t.query(partition=Decimal("2.00"))) == [
        i for i in range(21, 60) if i % 3 == 2]


def test_stats_partition_keys_normalized_in_both_regimes(spark, tmp_path,
                                                         regime):
    """stats() keys partitions by the normalized sidecar encoding in
    both regimes (dates as epoch days), as files_df and diff_stats do,
    so a table crossing inline_max keeps its keys."""
    df = spark.range(0, 40).selectExpr(
        "id", "date_add(date'2024-01-01', cast(id % 2 as int)) as day")
    t = IceTable.create(spark, str(tmp_path / "t"), df, partition_col="day",
                        key_col="id", max_rows_per_file=10)
    assert bool(t.manifest.load(load_files=False).files_ref) == (
        regime == "spark-sidecar")
    d0 = (datetime.date(2024, 1, 1) - datetime.date(1970, 1, 1)).days
    s = t.stats()
    assert set(s["partitions"]) == {d0, d0 + 1}
    assert [s["partitions"][d]["rows"] for d in (d0, d0 + 1)] == [20, 20]
    assert s["files"] == t.file_count() and s["rows"] == 40


# ---------------------------------------------------------------------------
# the read and metadata plane: one inventory (Manifest.inventory) and one
# driver-side file diff (IceTable._file_diff) in both manifest regimes
# ---------------------------------------------------------------------------

def test_history_df_counts_rows_in_both_regimes(spark, tmp_path, regime):
    """history_df reports each snapshot's file and row counts from its
    inventory in both regimes (a sidecar snapshot's n_rows is not
    NULL)."""
    t = _mk_table(spark, str(tmp_path / "t"), n=400, files=4)
    t.append(spark.range(400, 450).selectExpr(
        "id", "id % 4 as part", "cast(id as string) as payload"))
    t.delete_where("part = 1", mode="mor")
    snaps = t.manifest.snapshots(load_files=False)
    assert all(bool(s.files_ref) == (regime == "spark-sidecar")
               for s in snaps)
    got = [(r.snapshot_id, r.n_files, r.n_rows)
           for r in t.history_df().orderBy("snapshot_id").collect()]
    full = [t.manifest.load(s.snapshot_id).files for s in snaps]
    assert got == [(s.snapshot_id, len(fs), sum(f.rows for f in fs))
                   for s, fs in zip(snaps, full)]
    assert [n for _s, _f, n in got] == [400, 450, 450]


def _bucket_table(spark, root):
    return IceTable.create(
        spark, root, spark.range(0, 400).selectExpr("id AS k", "id * 2 AS a"),
        key_col="k", bucket_by=("k", 4), max_rows_per_file=50)


@pytest.mark.parametrize("op", ["scan_incremental", "scan_changes",
                                "diff_stats", "file_count", "history_df",
                                "as_bucketed_table"])
def test_metadata_plane_never_materializes_sidecar_entries(
        spark, tmp_path, small_inline_max, monkeypatch, op):
    """On a sidecar-backed table the change feeds, their per-partition
    report, file_count, history_df and as_bucketed_table parse no
    sidecar entry on the driver, and each still answers right."""
    if op == "as_bucketed_table":
        t = _bucket_table(spark, str(tmp_path / "b"))
        assert t.manifest.load(load_files=False).files_ref
        _forbid_entry_materialization(monkeypatch)
        try:
            t.as_bucketed_table("bkt_tripwire")
            assert spark.table("bkt_tripwire").count() == 400
        finally:
            spark.sql("DROP TABLE IF EXISTS `bkt_tripwire`")
        return
    t = _mk_table(spark, str(tmp_path / "t"))
    s0 = t.manifest.load(load_files=False).snapshot_id
    t.append(spark.range(2000, 2300).selectExpr(
        "id", "id % 4 as part", "cast(id as string) as payload"))
    assert t.manifest.load(load_files=False).files_ref
    _forbid_entry_materialization(monkeypatch)
    if op == "scan_incremental":
        got = sorted(r.id for r in t.scan_incremental(since=s0).collect())
        assert got == list(range(2000, 2300))
    elif op == "scan_changes":
        rows = t.scan_changes(since=s0).collect()
        assert {r._change_type for r in rows} == {"insert"}
        assert sorted(r.id for r in rows) == list(range(2000, 2300))
    elif op == "diff_stats":
        d = {r.partition: (r.rows_added, r.rows_removed)
             for r in t.diff_stats(since=s0).collect()}
        assert d == {str(p): (75, 0) for p in range(4)}
    elif op == "file_count":
        assert t.file_count() == t.manifest.load(
            load_files=False).files_count
    else:
        assert [r.n_rows for r in t.history_df().orderBy(
            "snapshot_id").collect()] == [2000, 2300]


def test_change_feed_planning_starts_no_spark_job(spark, tmp_path,
                                                 small_inline_max):
    """Planning scan_incremental, scan_changes and diff_stats on a
    sidecar-backed table starts no Spark job: the file diff runs on the
    driver, and the one job is the caller's action."""
    t = _mk_table(spark, str(tmp_path / "t"))
    s0 = t.manifest.load(load_files=False).snapshot_id
    t.append(spark.range(2000, 2100).selectExpr(
        "id", "id % 4 as part", "cast(id as string) as payload"))
    t.delete_where("id = 2001", mode="mor")
    assert t.manifest.load(load_files=False).files_ref
    for plan, check in [
        (lambda: t.scan_incremental(since=s0),
         lambda df: sorted(r.id for r in df.collect()) == [
             i for i in range(2000, 2100) if i != 2001]),
        (lambda: t.scan_changes(since=s0),
         lambda df: sorted((r._change_type, r.id) for r in df.collect()) == [
             ("insert", i) for i in range(2000, 2100) if i != 2001]),
        (lambda: t.diff_stats(since=s0),
         lambda df: sum(r.rows_added for r in df.collect()) == 100),
    ]:
        jobs, df = _jobs_started(spark, plan)
        assert jobs == []
        assert check(df)


def test_metadata_plane_same_answers_in_both_regimes(spark, tmp_path,
                                                     monkeypatch):
    """files_df, partitions_df, diff_stats, history_df, scan_incremental
    and scan_changes answer the same on the same data committed inline
    and as sidecars (a boolean partition and a double key of 1e7 and
    above, the values whose string forms drifted between the regimes)."""
    def batch(a, b):
        return spark.range(a, b).selectExpr(
            "cast(id as double) + 1e7 as k", "id % 2 = 0 as flag",
            "cast(id as string) as payload")

    def build(name):
        t = IceTable.create(spark, str(tmp_path / name), batch(0, 40),
                            partition_col="flag", key_col="k",
                            max_rows_per_file=10)
        t.append(batch(40, 60), max_rows_per_file=10)
        t.delete_where("k = 10000003.0", mode="mor")
        return t

    inline = build("inline")
    monkeypatch.setattr(Manifest, "inline_max", 0)
    sidecar = build("sidecar")
    assert not inline.manifest.load(load_files=False).files_ref
    assert sidecar.manifest.load(load_files=False).files_ref

    def answers(t):
        def rows(df, drop=()):
            return sorted(tuple(v for k, v in r.asDict().items()
                                if k not in drop) for r in df.collect())
        return {
            "files": rows(t.files_df(), ("path",)),
            "partitions": rows(t.partitions_df()),
            "diff": rows(t.diff_stats(since=0)),
            "history": rows(t.history_df(), ("timestamp_ms",)),
            "incremental": rows(t.scan_incremental(since=0)),
            "changes": rows(t.scan_changes(since=0)),
        }

    a, b = answers(inline), answers(sidecar)
    for k in a:
        assert a[k] == b[k], k
    assert {r[0] for r in a["partitions"]} == {"true", "false"}
    assert ("1.0E7" in {r[1] for r in a["files"]})
