"""Shallow clone: metadata-copy + hardlinked data, full history,
independence of the two tables' commit lines, and survival of the
clone's data across SOURCE maintenance (the hardlink property that
makes the clone safe without copy)."""

import errno
import os

import pytest
from pyspark.sql import functions as F

from iceberg_core_spark.table import IceTable


def _df(spark, rows):
    return spark.createDataFrame(rows, "k long, g string, v long")


def test_clone_reads_equal_and_commits_diverge(spark, tmp_path):
    t = IceTable.create(
        spark, str(tmp_path / "src"),
        _df(spark, [(1, "a", 10), (2, "a", 20), (3, "b", 30)]),
        partition_col="g", key_col="k", max_rows_per_file=1)
    t.append(_df(spark, [(4, "b", 40)]))
    t.delete_where("k = 2", mode="mor")  # pending predicate must clone
    s_mor = t.manifest.load(load_files=False).snapshot_id

    c = t.clone(str(tmp_path / "dst"))
    # full state equality, including the MoR predicate
    assert (sorted(map(tuple, c.scan().collect()))
            == sorted(map(tuple, t.scan().collect())))
    # full HISTORY: time travel on the clone
    assert c.scan(snapshot_id=0).count() == 3
    assert {r["k"] for r in c.scan(snapshot_id=s_mor).collect()} \
        == {1, 3, 4}

    # commits diverge: append to the clone, delete on the source
    c.append(_df(spark, [(9, "a", 90)]))
    t.delete_where("k = 3", mode="cow")
    assert {r["k"] for r in c.scan().collect()} == {1, 3, 4, 9}
    assert {r["k"] for r in t.scan().collect()} == {1, 4}


def test_clone_survives_source_maintenance(spark, tmp_path):
    """expire_snapshots + remove_orphans on the SOURCE unlink rewritten
    files; the clone's hardlinks keep the inodes alive, so its reads
    (including time travel) survive untouched."""
    t = IceTable.create(
        spark, str(tmp_path / "src"),
        _df(spark, [(i, "a", i * 10) for i in range(6)]),
        partition_col="g", key_col="k", max_rows_per_file=2)
    c = t.clone(str(tmp_path / "dst"))
    before = sorted(map(tuple, c.scan().collect()))

    # source rewrites everything, then drops history and orphans
    t.overwrite(_df(spark, [(100, "a", 1)]))
    t.expire_snapshots(keep_last=1)
    t.remove_orphans(older_than_ms=0)
    assert sorted(map(tuple, c.scan().collect())) == before
    assert c.scan(snapshot_id=0).count() == 6


def test_clone_guards_and_exclusions(spark, tmp_path):
    t = IceTable.create(
        spark, str(tmp_path / "src"),
        _df(spark, [(1, "a", 10), (2, "a", 20)]),
        partition_col=None, key_col="k")
    t.build_bloom(["k"])
    # non-empty destination refuses
    os.makedirs(tmp_path / "busy")
    (tmp_path / "busy" / "x").write_text("occupied")
    with pytest.raises(ValueError, match="not empty"):
        t.clone(str(tmp_path / "busy"))
    # bloom store is derived data: not cloned, one build restores it
    c = t.clone(str(tmp_path / "dst"))
    assert not os.path.isdir(os.path.join(str(tmp_path / "dst"), "bloom"))
    assert c.build_bloom(["k"]) == c.file_count()
    assert [r["k"] for r in c.point_scan("k", 2).collect()] == [2]


def test_clone_scan_plans_prune(spark, tmp_path):
    """The clone is a first-class table: manifest min/max pruning works
    against the linked files (paths re-rooted correctly)."""
    df = spark.createDataFrame(
        [(i, i) for i in range(100)], "k long, v long")
    t = IceTable.create(spark, str(tmp_path / "src"), df,
                        partition_col=None, key_col="v",
                        max_rows_per_file=20)
    c = t.clone(str(tmp_path / "dst"))
    total = c.file_count()
    assert total >= 4
    q = c.query(lo=5, hi=8)
    assert {r["k"] for r in q.collect()} == {5, 6, 7, 8}
    assert len(q.inputFiles()) < total


def test_clone_skips_commit_scratch_and_orders_manifest_first(
        spark, tmp_path):
    """A dead writer's commit-CAS scratch (snapshot-N.json.tmp-<hex>,
    CURRENT.tmp-<hex> — the manifest protocol's actual tmp names) must
    not be linked into the clone: the files may be mid-write garbage
    and nothing on the clone side ever cleans _manifest/."""
    t = IceTable.create(
        spark, str(tmp_path / "src"),
        _df(spark, [(1, "a", 10), (2, "b", 20)]),
        partition_col="g", key_col="k")
    man = tmp_path / "src" / "_manifest"
    (man / "snapshot-1.json.tmp-ab12cd34").write_text('{"trunc')
    (man / "CURRENT.tmp-99ffee00").write_text("7")
    (man / "files-0.parquet.tmp").write_text("")
    c = t.clone(str(tmp_path / "dst"))
    leftovers = [n for n in os.listdir(tmp_path / "dst" / "_manifest")
                 if ".tmp" in n]
    assert leftovers == []
    assert sorted(map(tuple, c.scan().collect())) \
        == sorted(map(tuple, t.scan().collect()))


def test_clone_failure_cleans_partial_destination(
        spark, tmp_path, monkeypatch):
    """A clone that dies mid-walk (e.g. source maintenance deleted a
    file under it) must remove the partial destination — otherwise
    every retry hits the not-empty guard on the failed run's debris."""
    t = IceTable.create(
        spark, str(tmp_path / "src"),
        _df(spark, [(i, "a", i) for i in range(8)]),
        partition_col=None, key_col="k", max_rows_per_file=2)
    real_link = os.link
    calls = {"n": 0}

    def flaky_link(src, dst, **kw):
        calls["n"] += 1
        if calls["n"] == 3:
            raise OSError(errno.EIO, "injected I/O error")
        return real_link(src, dst, **kw)

    monkeypatch.setattr(os, "link", flaky_link)
    with pytest.raises(OSError, match="injected"):
        t.clone(str(tmp_path / "dst"))
    assert not os.path.exists(tmp_path / "dst")
    monkeypatch.setattr(os, "link", real_link)
    c = t.clone(str(tmp_path / "dst"))  # retry succeeds on clean slate
    assert c.scan().count() == 8


def test_clone_falls_back_to_copy_across_devices(
        spark, tmp_path, monkeypatch):
    """os.link raising EXDEV (destination on another filesystem) must
    degrade to a plain copy, file by file, not crash."""
    t = IceTable.create(
        spark, str(tmp_path / "src"),
        _df(spark, [(1, "a", 10), (2, "b", 20)]),
        partition_col="g", key_col="k")

    def no_link(src, dst, **kw):
        raise OSError(errno.EXDEV, "Invalid cross-device link")

    monkeypatch.setattr(os, "link", no_link)
    c = t.clone(str(tmp_path / "dst"))
    assert sorted(map(tuple, c.scan().collect())) \
        == sorted(map(tuple, t.scan().collect()))
    # copies, not links: mutating nothing, but refcount must be 1
    data_dir = os.path.join(str(tmp_path / "dst"), "data")
    pq = [os.path.join(dp, n) for dp, _d, ns in os.walk(data_dir)
          for n in ns if n.endswith(".parquet")]
    assert pq and all(os.stat(p).st_nlink == 1 for p in pq)


def test_clone_pins_state_against_concurrent_commit(
        spark, tmp_path, monkeypatch):
    """A commit landing BETWEEN the manifest pin and the data walk (the
    widest race window) must leave the clone at the pinned snapshot:
    the late commit's data files arrive only as unreferenced orphans
    that remove_orphans reclaims."""
    src = str(tmp_path / "src")
    t = IceTable.create(
        spark, src, _df(spark, [(1, "a", 10), (2, "b", 20)]),
        partition_col="g", key_col="k")
    pre = sorted(map(tuple, t.scan().collect()))
    writer = IceTable(spark, src)  # a second handle = a second writer
    real_walk = os.walk
    fired = {"done": False}

    def racing_walk(top, **kw):
        if not fired["done"] and top == src:
            fired["done"] = True
            writer.append(_df(spark, [(9, "c", 90)]))
        return real_walk(top, **kw)

    monkeypatch.setattr(os, "walk", racing_walk)
    c = t.clone(str(tmp_path / "dst"))
    monkeypatch.setattr(os, "walk", real_walk)
    assert fired["done"]
    # the clone pinned the pre-commit snapshot: no row 9, valid loads
    assert sorted(map(tuple, c.scan().collect())) == pre
    # the racing commit's files are orphans on the clone; reclaimable
    c.remove_orphans(older_than_ms=0)
    assert sorted(map(tuple, c.scan().collect())) == pre
    # the SOURCE sees the racing commit untouched
    assert sorted(map(tuple, t.scan().collect())) \
        == sorted(pre + [(9, "c", 90)])


def test_clone_never_trusts_source_current_hint(
        spark, tmp_path, monkeypatch):
    """The source's CURRENT content is a racing writer's mutable hint:
    by the time the clone could read it, it can point ONE ABOVE the
    snapshot set the clone's listing saw (commit order is snapshot
    JSON, then hint — and readdir is not atomic against it). The
    clone derives its CURRENT from the pinned listing instead, so a
    lagging listing yields a consistent older clone, never a clone
    whose hint points at a snapshot it does not have."""
    src = str(tmp_path / "src")
    t = IceTable.create(
        spark, src, _df(spark, [(1, "a", 10), (2, "b", 20)]),
        partition_col="g", key_col="k")
    t.append(_df(spark, [(3, "a", 30)]))  # snapshot 1, CURRENT -> 1
    man = os.path.join(src, "_manifest")
    real_listdir = os.listdir

    def lagging_listdir(path="."):
        names = real_listdir(path)
        if os.path.abspath(str(path)) == os.path.abspath(man):
            # simulate a readdir that raced the newest commit: the
            # snapshot entry is missing while CURRENT already points
            # at it
            names = [n for n in names if n != "snapshot-1.json"]
        return names

    monkeypatch.setattr(os, "listdir", lagging_listdir)
    c = t.clone(str(tmp_path / "dst"))
    monkeypatch.setattr(os, "listdir", real_listdir)
    with open(os.path.join(str(tmp_path / "dst"),
                           "_manifest", "CURRENT")) as f:
        assert f.read().strip() == "0"  # pinned, not the source hint
    # consistent view AT the pinned snapshot; loads cleanly
    assert sorted(map(tuple, c.scan().collect())) \
        == sorted(map(tuple, t.scan(snapshot_id=0).collect()))


def test_clone_handles_directory_sidecars_and_staging_debris(
        spark, tmp_path, monkeypatch):
    """Tables written by older versions hold sidecars that a Spark job
    wrote as a parquet DIRECTORY under _manifest/ — the clone must link
    its leaf files (os.link on a directory is EPERM), and the
    tmp-entries-<hex> / tmp-base-<hex> staging dirs a crashed commit of
    that kind left must be skipped, not linked in."""
    from iceberg_core_spark.table.manifest import Manifest

    monkeypatch.setattr(Manifest, "inline_max", 3)
    t = IceTable.create(
        spark, str(tmp_path / "src"),
        _df(spark, [(i, "a", i * 10) for i in range(12)]),
        partition_col=None, key_col="k", max_rows_per_file=2)
    man = tmp_path / "src" / "_manifest"
    ref = t.manifest.load(load_files=False).files_ref
    side = t.manifest.sidecar_path(ref)
    t._sidecar_df(ref).repartition(2).write.parquet(side + ".d")
    os.remove(side)
    os.rename(side + ".d", side)
    sidecar_dirs = [n for n in os.listdir(man)
                    if n.startswith("files-") and
                    os.path.isdir(man / n)]
    assert sidecar_dirs, "test setup must produce a directory sidecar"
    # a writer that died mid-commit (Spark form) leaves staging dirs
    os.makedirs(man / "tmp-entries-deadbeef.parquet")
    (man / "tmp-entries-deadbeef.parquet" / "part-0.parquet").write_text("")
    os.makedirs(man / "tmp-base-deadbeef.parquet")

    c = t.clone(str(tmp_path / "dst"))
    dman = tmp_path / "dst" / "_manifest"
    assert not [n for n in os.listdir(dman) if n.startswith("tmp-")]
    assert sorted(map(tuple, c.scan().collect())) \
        == sorted(map(tuple, t.scan().collect()))
    # pruning still works against the linked sidecar directory
    q = c.query(lo=2, hi=4)
    assert {r["v"] for r in q.collect()} == {20, 30, 40}


def test_clone_failure_leaves_caller_made_destination_dir(
        spark, tmp_path, monkeypatch):
    """When the CALLER created the (empty) destination directory, a
    failed clone clears only the contents it wrote — the directory
    itself (its ownership/ACLs) stays."""
    t = IceTable.create(
        spark, str(tmp_path / "src"),
        _df(spark, [(1, "a", 10), (2, "b", 20)]),
        partition_col="g", key_col="k")
    dst = tmp_path / "dst"
    os.makedirs(dst)  # caller-managed location
    real_link = os.link

    def no_link(src, d, **kw):
        raise OSError(errno.EIO, "injected I/O error")

    monkeypatch.setattr(os, "link", no_link)
    with pytest.raises(OSError, match="injected"):
        t.clone(str(dst))
    assert os.path.isdir(dst) and os.listdir(dst) == []
    monkeypatch.setattr(os, "link", real_link)
    c = t.clone(str(dst))  # retry into the same caller-made dir
    assert c.scan().count() == 2
