"""Partition-spec evolution: change the identity-partition column with
a metadata-only commit (Iceberg's spec evolution; the reference's
partition routing, blockManager.go:42-52, is fixed-for-life — this is
the 100 TB upgrade: re-layout FUTURE data without rewriting 100 TB of
history). Old files prune via min/max stats, new files via their
recorded partition value, and the residual filter keeps every query
exact across mixed layouts."""

import os

import pytest

from iceberg_core_spark.table import IceTable
from iceberg_core_spark.table.manifest import Manifest


def _docs(spark, sf_dir):
    return (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .select("doc_id", "lang", "source", "n_chars")
    )


@pytest.fixture()
def evolved(spark, sf_dir, tmp_path):
    """lang-partitioned first half → spec change → source-partitioned
    second half. stat_cols=['source'] at create so the OLD files carry
    min/max stats for the future partition column."""
    docs = _docs(spark, sf_dir)
    t = IceTable.create(
        spark, str(tmp_path / "t"), docs.filter("doc_id % 2 = 0"),
        partition_col="lang", key_col="doc_id",
        stat_cols=["source"], max_rows_per_file=64,
    )
    t.set_partition_spec("source")
    t.append(docs.filter("doc_id % 2 = 1"), dedupe_identical_files=False)
    return t, docs


def test_spec_change_is_metadata_only(evolved):
    t, _docs_df = evolved
    snaps = t.manifest.snapshots()
    create, spec, append = snaps
    assert spec.operation == "set-spec"
    assert {f.path for f in spec.files} == {f.path for f in create.files}
    assert spec.partition_col == "source"
    assert spec.partition_specs == [{"col": "lang", "until_seq": 1}]
    # new files routed on the NEW column
    new_files = [f for f in append.files if f.seq == append.snapshot_id]
    assert new_files and all(
        str(f.partition).startswith("src") for f in new_files)


def test_query_exact_across_mixed_layouts(evolved):
    t, docs = evolved
    got = sorted(r.doc_id for r in t.query(partition="src3").collect())
    want = sorted(r.doc_id for r in
                  docs.filter("source = 'src3'").collect())
    assert got == want


def test_old_files_prune_by_stats_new_by_partition(evolved):
    t, _docs_df = evolved
    total = t.file_count()
    read = len(t.query(partition="src3").inputFiles())
    # new-spec files prune exactly (1 of 20 source values); old-spec
    # files prune by their source min/max stats — strictly fewer than
    # the whole table must be read
    assert read < total


def test_spec_roundtrip_back_to_original(evolved):
    t, docs = evolved
    t.set_partition_spec("lang")
    t.append(docs.filter("doc_id % 2 = 1").withColumn(
        "doc_id", (docs.doc_id + 1_000_000).cast("long")),
        dedupe_identical_files=False)
    got = sorted(r.doc_id for r in t.query(partition="de").collect())
    base = [r.doc_id for r in docs.filter("lang = 'de'").collect()]
    shifted = [d + 1_000_000 for d in
               [r.doc_id for r in docs.filter(
                   "lang = 'de' and doc_id % 2 = 1").collect()]]
    assert got == sorted(base + shifted)


def test_delete_range_conservative_on_old_spec(evolved):
    t, docs = evolved
    t.delete_range(partition="src3")
    got = t.scan().count()
    assert got == docs.filter("source <> 'src3'").count()
    assert t.query(partition="src3").count() == 0


def test_sidecar_spec_pruning(spark, sf_dir, tmp_path, monkeypatch):
    monkeypatch.setattr(Manifest, "inline_max", 4)
    docs = _docs(spark, sf_dir)
    t = IceTable.create(
        spark, str(tmp_path / "ts"), docs.filter("doc_id % 2 = 0"),
        partition_col="lang", key_col="doc_id",
        stat_cols=["source"], max_rows_per_file=64,
    )
    t.set_partition_spec("source")
    t.append(docs.filter("doc_id % 2 = 1"), dedupe_identical_files=False)
    assert t.manifest.load(load_files=False).files_ref  # sidecar-backed
    got = sorted(r.doc_id for r in t.query(partition="src3").collect())
    want = sorted(r.doc_id for r in
                  docs.filter("source = 'src3'").collect())
    assert got == want
    assert len(t.query(partition="src3").inputFiles()) < t.file_count()


def test_spec_guards(spark, sf_dir, tmp_path):
    docs = _docs(spark, sf_dir)
    t = IceTable.create(spark, str(tmp_path / "tg"), docs,
                        partition_col="lang", key_col="doc_id")
    with pytest.raises(ValueError, match="no such column"):
        t.set_partition_spec("nope")
    # no-op change returns the current snapshot, commits nothing
    before = t.manifest.current_snapshot_id()
    t.set_partition_spec("lang")
    assert t.manifest.current_snapshot_id() == before
    tb = IceTable.create(
        spark, str(tmp_path / "tb"),
        docs.select("doc_id", "lang", "n_chars"),
        key_col="doc_id", bucket_by=("doc_id", 4),
    )
    with pytest.raises(ValueError, match="bucketed layout"):
        tb.set_partition_spec("lang")


def test_unpartitioned_to_partitioned(spark, sf_dir, tmp_path):
    """None → col: a table created unpartitioned starts routing."""
    docs = _docs(spark, sf_dir)
    t = IceTable.create(spark, str(tmp_path / "tu"),
                        docs.filter("doc_id % 2 = 0"), key_col="doc_id")
    t.set_partition_spec("lang")
    t.append(docs.filter("doc_id % 2 = 1"), dedupe_identical_files=False)
    got = sorted(r.doc_id for r in t.query(partition="de").collect())
    want = sorted(r.doc_id for r in docs.filter("lang = 'de'").collect())
    assert got == want


def test_evolution_to_column_of_another_type(spark, tmp_path, regime):
    """After a spec change from a long column to a string column, the
    recorded partition values mix both types. Every file-rewriting op,
    stats() and the maintain probe still work in both manifest regimes,
    and the rows stay exact."""
    def rows(lo, hi):
        return spark.range(lo, hi).selectExpr(
            "id", "id % 3 as part", "concat('s', id % 2) as source",
            "cast(id as string) as payload")

    t = IceTable.create(spark, str(tmp_path / "t"), rows(0, 60),
                        partition_col="part", key_col="id",
                        stat_cols=["source"], max_rows_per_file=10)
    t.set_partition_spec("source")
    t.append(rows(60, 100), dedupe_identical_files=False)
    assert bool(t.manifest.load(load_files=False).files_ref) == (
        regime == "spark-sidecar")
    want = {i: str(i) for i in range(100)}

    def check():
        assert {r.id: r.payload for r in t.scan().collect()} == want

    t.upsert(spark.createDataFrame(
        [(3, 0, "s1", "new3"), (64, 1, "s0", "new64"),
         (200, 2, "s0", "new200")],
        "id long, part long, source string, payload string"),
        key_cols=["source", "id"])
    want.update({3: "new3", 64: "new64", 200: "new200"})
    check()
    t.delete_range(partition="s1", lo=70, hi=90)
    for i in range(71, 90, 2):
        del want[i]
    check()
    s = t.stats()
    assert s["files"] == t.file_count() and s["rows"] == len(want)
    assert t._max_files_per_partition(
        t.manifest.load(load_files=False)) == max(
        p["files"] for p in s["partitions"].values())
    t.compact(min_files=1)
    check()
    assert t.stats()["rows"] == len(want)
