"""Write-audit-publish branches + named refs (tags).

The reference is append-only with instantly-visible commits
(reference blockManager.go:74-82); WAP staging is the table-layer
upgrade a 100 TB ingest pipeline needs: land data, audit it, then
publish atomically — Iceberg's audit-branch pattern adapted to this
linear snapshot log (staged ids ride every commit; visibility is
seq-based, the same integer scoping MoR deletes use)."""

import os

import pytest
from pyspark.sql import functions as F

from iceberg_core_spark.table import IceTable
from iceberg_core_spark.table.manifest import Manifest


def _docs(spark, sf_dir):
    return (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .select("doc_id", "lang", "n_chars")
    )


@pytest.fixture()
def wap_table(spark, sf_dir, tmp_path):
    docs = _docs(spark, sf_dir)
    t = IceTable.create(
        spark, str(tmp_path / "t"), docs.filter("doc_id % 4 != 0"),
        key_col="doc_id",
    )
    t.append(docs.filter("doc_id % 4 = 0"), branch="audit",
             dedupe_identical_files=False)
    return t, docs


def test_staged_hidden_from_main_visible_on_branch(wap_table):
    t, docs = wap_table
    n_base = docs.filter("doc_id % 4 != 0").count()
    n_all = docs.count()
    assert t.scan().count() == n_base  # main: staged rows hidden
    assert t.scan(branch="audit").count() == n_all  # audit sees them
    assert t.branches() == {"audit": [1]}
    # query()/range path hides staged too (funnels through the same
    # visibility filter)
    staged_id = docs.filter("doc_id % 4 = 0").select(
        F.min("doc_id")).first()[0]
    assert t.query(lo=staged_id, hi=staged_id).count() == 0


def test_publish_makes_staged_visible_atomically(wap_table):
    t, docs = wap_table
    snap = t.publish_branch("audit")
    assert snap.operation == "publish"
    assert t.branches() == {}
    assert t.scan().count() == docs.count()
    # metadata-only: publish adds no data files
    before = {f.path for f in t.manifest.load(snap.parent_id).files}
    after = {f.path for f in t.manifest.load(snap.snapshot_id).files}
    assert before == after


def test_incremental_feed_respects_publish(wap_table):
    t, docs = wap_table
    first = t.manifest.snapshots(load_files=False)[0].snapshot_id
    # pre-publish: the staged append is invisible to the change feed
    assert t.scan_incremental(since=first).count() == 0
    t.publish_branch("audit")
    assert (t.scan_incremental(since=first).count()
            == docs.filter("doc_id % 4 = 0").count())


def test_drop_branch_deletes_staged_files(wap_table):
    t, docs = wap_table
    staged_paths = [
        f.path for f in t.manifest.load().files if f.seq == 1
    ]
    assert staged_paths
    snap = t.drop_branch("audit")
    assert snap.operation == "drop-branch"
    assert t.branches() == {}
    assert t.scan().count() == docs.filter("doc_id % 4 != 0").count()
    for p in staged_paths:
        assert not os.path.exists(os.path.join(t.root, p))


def test_rewrites_refuse_while_staged(wap_table):
    t, _docs = wap_table
    with pytest.raises(ValueError, match="unpublished staged"):
        t.compact()
    with pytest.raises(ValueError, match="unpublished staged"):
        t.delete_where("lang = 'de'", mode="mor")
    with pytest.raises(ValueError, match="unpublished staged"):
        t.delete_where("lang = 'de'", mode="cow")
    with pytest.raises(ValueError, match="unpublished staged"):
        t.upsert(t.scan(branch="audit").limit(1), key_cols=["doc_id"])
    with pytest.raises(ValueError, match="unpublished staged"):
        t.overwrite(t.scan(branch="audit").limit(1))


def test_plain_append_does_not_publish(wap_table, spark):
    """An ordinary append while a stage is pending must carry the
    staged bookkeeping forward — NOT un-hide the staged files."""
    t, docs = wap_table
    extra = spark.createDataFrame(
        [(10_000_001, "en", 42)], "doc_id long, lang string, n_chars long"
    )
    t.append(extra, dedupe_identical_files=False)
    n_base = docs.filter("doc_id % 4 != 0").count()
    assert t.scan().count() == n_base + 1  # new row visible, staged not
    assert t.branches() == {"audit": [1]}
    t.publish_branch("audit")
    assert t.scan().count() == docs.count() + 1


def test_two_branches_isolated(spark, sf_dir, tmp_path):
    docs = _docs(spark, sf_dir)
    t = IceTable.create(
        spark, str(tmp_path / "t2"), docs.filter("doc_id % 4 = 1"),
        key_col="doc_id",
    )
    t.append(docs.filter("doc_id % 4 = 2"), branch="a",
             dedupe_identical_files=False)
    t.append(docs.filter("doc_id % 4 = 3"), branch="b",
             dedupe_identical_files=False)
    n1 = docs.filter("doc_id % 4 = 1").count()
    n2 = docs.filter("doc_id % 4 = 2").count()
    n3 = docs.filter("doc_id % 4 = 3").count()
    assert t.scan().count() == n1
    # each branch sees main + its own stage, not the other branch's
    assert t.scan(branch="a").count() == n1 + n2
    assert t.scan(branch="b").count() == n1 + n3
    t.publish_branch("a")
    assert t.scan().count() == n1 + n2
    assert t.scan(branch="b").count() == n1 + n2 + n3


def test_staged_survives_sidecar_commit_path(spark, sf_dir, tmp_path,
                                             monkeypatch):
    """Branch append onto a sidecar-backed parent copies the parent's
    rows into a new sidecar — staged bookkeeping must ride it too."""
    monkeypatch.setattr(Manifest, "inline_max", 4)
    docs = _docs(spark, sf_dir)
    t = IceTable.create(
        spark, str(tmp_path / "t3"), docs.filter("doc_id % 4 != 0"),
        key_col="doc_id", max_rows_per_file=64,
    )
    assert t.manifest.load(load_files=False).files_ref  # sidecar-backed
    t.append(docs.filter("doc_id % 4 = 0"), branch="audit",
             dedupe_identical_files=False)
    n_base = docs.filter("doc_id % 4 != 0").count()
    assert t.scan().count() == n_base
    assert t.scan(branch="audit").count() == docs.count()
    t.publish_branch("audit")
    assert t.scan().count() == docs.count()


# ---------------------------------------------------------------------
# tags (named refs)
# ---------------------------------------------------------------------
def test_tag_roundtrip_and_scan_ref(spark, sf_dir, tmp_path):
    docs = _docs(spark, sf_dir)
    t = IceTable.create(
        spark, str(tmp_path / "t4"), docs.filter("doc_id % 2 = 0"),
        key_col="doc_id",
    )
    sid = t.create_tag("v1")
    t.append(docs.filter("doc_id % 2 = 1"), dedupe_identical_files=False)
    assert t.tags() == {"v1": sid}
    assert t.resolve_ref("v1") == sid
    assert t.scan(ref="v1").count() == docs.filter("doc_id % 2 = 0").count()
    assert t.scan().count() == docs.count()
    with pytest.raises(ValueError, match="immutable"):
        t.create_tag("v1")
    with pytest.raises(ValueError, match="pass snapshot_id or ref"):
        t.scan(snapshot_id=sid, ref="v1")
    with pytest.raises(KeyError):
        t.resolve_ref("nope")
    with pytest.raises(ValueError, match="invalid ref name"):
        t.create_tag("../evil")


def test_expire_keeps_tagged_snapshot(spark, sf_dir, tmp_path):
    docs = _docs(spark, sf_dir)
    t = IceTable.create(
        spark, str(tmp_path / "t5"), docs.filter("doc_id % 2 = 0"),
        key_col="doc_id",
    )
    sid = t.create_tag("v1")
    t.append(docs.filter("doc_id % 2 = 1"), dedupe_identical_files=False)
    t.append(docs.limit(0), dedupe_identical_files=False)  # one more commit
    expired = t.expire_snapshots(keep_last=1)
    assert sid not in expired  # tag pins it
    assert t.scan(ref="v1").count() == docs.filter("doc_id % 2 = 0").count()
    t.drop_tag("v1")
    expired = t.expire_snapshots(keep_last=1)
    assert sid in expired
