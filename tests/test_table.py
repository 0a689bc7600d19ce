"""Table-layer tests mirroring the reference's golden behaviors
(FIXTURES.md §A) plus the capabilities the reference lacks."""

import os

import pytest

from iceberg_core_spark.table import IceTable
from tests.fixtures import KEY_COL, PARTITION_COL, location_df, location_row


@pytest.fixture()
def tmp_table_dir(tmp_path):
    return str(tmp_path / "locations")


def make_table(spark, root, rows, **kw):
    df = location_df(spark, rows)
    return IceTable.create(spark, root, df, partition_col=PARTITION_COL,
                           key_col=KEY_COL, **kw)


def test_write_then_range_query_roundtrip(spark, tmp_table_dir):
    # reference filesystemStorageAdapter_test.go:42-75 — write one row,
    # query timestamp +/- 50 around it, get exactly that row back.
    t = make_table(spark, tmp_table_dir, [location_row()])
    got = t.query("userid1", 100000 - 50, 100000 + 50).collect()
    assert len(got) == 1
    r = got[0]
    assert r.user_id == "userid1" and r.timestamp == 100000
    assert r.latitude == 37.0 and r.features == ["osm-2332"]
    assert r.accuracy is None and r.source == "device"


def test_inclusive_bounds(spark, tmp_table_dir):
    # reference block.go:127,129 — keys equal to start and end returned.
    rows = [location_row(timestamp=t) for t in (100, 200, 300)]
    t = make_table(spark, tmp_table_dir, rows)
    got = sorted(r.timestamp for r in t.query("userid1", 100, 300).collect())
    assert got == [100, 200, 300]
    assert [r.timestamp for r in t.query("userid1", 101, 199).collect()] == []
    assert [r.timestamp for r in t.query("userid1", 200, 200).collect()] == [200]


def test_partition_isolation(spark, tmp_table_dir):
    rows = [location_row(user_id=f"u{i}", timestamp=100 + i) for i in range(4)]
    t = make_table(spark, tmp_table_dir, rows)
    got = t.query("u2", 0, 10_000).collect()
    assert len(got) == 1 and got[0].user_id == "u2"
    # unknown partition -> empty, schema intact
    empty = t.query("nope", 0, 10_000)
    assert empty.count() == 0
    assert empty.columns == t.scan().columns


def test_manifest_minmax_true_not_reference_bug(spark, tmp_table_dir):
    # reference block.go:41-43 tracked min for BOTH bounds; verify we
    # record a real max so max-side pruning can't drop rows.
    rows = [location_row(timestamp=t) for t in (10, 500, 9000)]
    t = make_table(spark, tmp_table_dir, rows)
    snap = t.manifest.load()
    kmin = min(f.key_min for f in snap.files)
    kmax = max(f.key_max for f in snap.files)
    assert kmin == 10 and kmax == 9000
    # query touching only the top of the range still finds the row
    assert [r.timestamp for r in t.query("userid1", 8000, 10_000).collect()] == [9000]


def test_negative_keys_supported(spark, tmp_table_dir):
    # reference filename scheme broke on negative int64 (block.go:147).
    rows = [location_row(timestamp=t) for t in (-500, -10, 25)]
    t = make_table(spark, tmp_table_dir, rows)
    got = sorted(r.timestamp for r in t.query("userid1", -600, 0).collect())
    assert got == [-500, -10]


def test_file_pruning_skips_disjoint_files(spark, tmp_table_dir):
    # many small files via max_rows_per_file=1; disjoint query range must
    # prune every file at the manifest (metadata) level.
    rows = [location_row(timestamp=t) for t in range(0, 1000, 100)]
    t = make_table(spark, tmp_table_dir, rows, max_rows_per_file=1)
    snap = t.manifest.load()
    assert len(snap.files) >= 5  # actually fragmented
    pruned = [f for f in snap.files if f.overlaps(5000, 6000)]
    assert pruned == []
    assert t.query("userid1", 5000, 6000).count() == 0


def test_append_and_snapshots(spark, tmp_table_dir):
    t = make_table(spark, tmp_table_dir, [location_row(timestamp=1)])
    t.append(location_df(spark, [location_row(timestamp=2)]))
    assert sorted(r.timestamp for r in t.scan().collect()) == [1, 2]
    snaps = t.snapshots()
    assert [s.operation for s in snaps] == ["create", "append"]
    # time travel: snapshot 0 has only the first row
    assert [r.timestamp for r in t.scan(snapshot_id=0).collect()] == [1]


def test_append_idempotent_content_hash(spark, tmp_table_dir):
    # reference block.go:109-115 — identical rows re-written are a no-op.
    rows = [location_row(timestamp=5)]
    t = make_table(spark, tmp_table_dir, rows)
    before = t.file_count()
    t.append(location_df(spark, rows))  # identical content
    assert t.file_count() == before
    assert t.scan().count() == 1


def test_append_schema_mismatch_rejected(spark, tmp_table_dir):
    t = make_table(spark, tmp_table_dir, [location_row()])
    bad = location_df(spark, [location_row()]).drop("speed")
    with pytest.raises(ValueError, match="schema mismatch"):
        t.append(bad)


def test_compact_merges_small_files(spark, tmp_table_dir):
    rows = [location_row(timestamp=t) for t in range(20)]
    t = make_table(spark, tmp_table_dir, rows, max_rows_per_file=2)
    assert t.file_count() > 3
    t.compact(target_rows_per_file=1_000_000)
    assert t.file_count() <= 2
    assert sorted(r.timestamp for r in t.scan().collect()) == list(range(20))
    # pruning still works post-compaction
    assert t.query("userid1", 5, 7).count() == 3


def test_expire_snapshots_removes_orphans(spark, tmp_table_dir):
    t = make_table(spark, tmp_table_dir, [location_row(timestamp=1)])
    t.append(location_df(spark, [location_row(timestamp=2)]))
    t.compact(min_files=2)
    expired = t.expire_snapshots(keep_last=1)
    assert expired == [0, 1]
    assert sorted(r.timestamp for r in t.scan().collect()) == [1, 2]
    # only live files remain on disk
    live = {os.path.join(t.root, f.path) for f in t.manifest.load().files}
    on_disk = {
        os.path.join(dp, n)
        for dp, _d, ns in os.walk(os.path.join(t.root, "data"))
        for n in ns if n.endswith(".parquet")
    }
    assert on_disk == live


def test_reader_snapshot_isolation(spark, tmp_table_dir):
    """A DataFrame captured before a write keeps reading ITS snapshot's
    files (immutable) — readers never see writers mid-commit."""
    t = make_table(spark, tmp_table_dir, [location_row(timestamp=1)])
    reader = t.scan()  # captures snapshot 0's file list lazily
    t.append(location_df(spark, [location_row(timestamp=2)]),
             dedupe_identical_files=False)
    t.delete_where("timestamp = 1", mode="mor")
    # old handle: still exactly snapshot 0
    assert [r.timestamp for r in reader.collect()] == [1]
    # fresh scan: current snapshot (append + MoR delete applied)
    assert sorted(r.timestamp for r in t.scan().collect()) == [2]


def test_unpartitioned_table(spark, tmp_table_dir):
    df = location_df(spark, [location_row(timestamp=t) for t in (1, 2, 3)])
    t = IceTable.create(spark, tmp_table_dir, df, partition_col=None,
                        key_col=KEY_COL)
    assert sorted(r.timestamp for r in t.query(lo=2, hi=3).collect()) == [2, 3]


def test_scan_incremental_reads_only_new_rows(spark, tmp_table_dir):
    """Change feed: scan_incremental(since) returns exactly the rows
    appended after `since`, across multiple appends, and composes with
    MoR deletes of the target snapshot."""
    t = make_table(spark, tmp_table_dir,
                   [location_row(timestamp=i) for i in range(3)])
    s0 = t.manifest.current_snapshot_id()
    t.append(location_df(spark, [location_row(timestamp=10),
                                 location_row(timestamp=11)]))
    s1 = t.manifest.current_snapshot_id()
    t.append(location_df(spark, [location_row(timestamp=20)]))

    got = sorted(r.timestamp for r in t.scan_incremental(s0).collect())
    assert got == [10, 11, 20]
    got = sorted(r.timestamp for r in t.scan_incremental(s1).collect())
    assert got == [20]
    # bounded window (since, until]
    got = sorted(r.timestamp
                 for r in t.scan_incremental(s0, until=s1).collect())
    assert got == [10, 11]
    # MoR delete issued after the appends hides its rows from the feed
    t.delete_where("timestamp = 11", mode="mor")
    got = sorted(r.timestamp for r in t.scan_incremental(s0).collect())
    assert got == [10, 20]


def test_scan_incremental_through_sidecars(spark, tmp_path, monkeypatch):
    """The feed is the same driver-side file diff when either snapshot
    is sidecar-backed: the sidecar inventories are read as Arrow
    columns."""
    from iceberg_core_spark.table.manifest import Manifest

    monkeypatch.setattr(Manifest, "inline_max", 2)
    df = spark.range(0, 200).selectExpr("id", "id % 4 as part",
                                        "cast(id as string) as payload")
    t = IceTable.create(spark, str(tmp_path / "inc"), df,
                        partition_col="part", key_col="id",
                        max_rows_per_file=25)
    s0 = t.manifest.current_snapshot_id()
    t.append(spark.range(200, 230).selectExpr(
        "id", "id % 4 as part", "cast(id as string) as payload"))
    got = sorted(r.id for r in t.scan_incremental(s0).collect())
    assert got == list(range(200, 230))


def test_files_df_metadata_table(spark, tmp_path):
    """files_df = Iceberg's <table>.files metadata table: the data-file
    inventory as a DataFrame, no data bytes touched."""
    from tests.fixtures import location_df, location_row

    rows = [location_row(timestamp=100000 + i) for i in range(10)]
    t = IceTable.create(
        spark, str(tmp_path / "t"), location_df(spark, rows),
        partition_col="user_id", key_col="timestamp",
        max_rows_per_file=3,
    )
    fdf = t.files_df()
    assert fdf.count() == t.file_count()
    agg = fdf.selectExpr("sum(rows) r", "sum(bytes) b").first()
    assert agg.r == 10 and agg.b > 0
    assert fdf.filter("seq = 0").count() == fdf.count()


def test_add_files_metadata_only_migration(spark, tmp_path):
    """add_files registers existing parquet without rewriting bytes:
    hardlinked (same inode), stats-pruned, content-hash-idempotent."""
    import os

    from tests.fixtures import location_df, location_row

    ext = tmp_path / "external" / "user_id=userid9"
    ext.mkdir(parents=True)
    location_df(spark, [location_row(timestamp=700 + i,
                                     user_id="userid9")
                        for i in range(6)]) \
        .coalesce(1).write.mode("overwrite").parquet(str(ext / "_w"))
    src = [str(ext / "_w" / n) for n in os.listdir(ext / "_w")
           if n.endswith(".parquet")]
    assert len(src) == 1

    t = IceTable.create(
        spark, str(tmp_path / "t"),
        location_df(spark, [location_row(timestamp=1)]),
        partition_col="user_id", key_col="timestamp")
    snap = t.add_files(src)
    assert snap.operation == "add_files"
    assert t.scan().count() == 7
    added = [f for f in t.manifest.load().files if f.seq == snap.snapshot_id]
    assert len(added) == 1
    f = added[0]
    assert f.partition == "userid9"
    assert f.key_min == 700 and f.key_max == 705
    # zero copy: table file shares the source inode (hardlink)
    assert os.stat(src[0]).st_ino == os.stat(
        os.path.join(t.root, f.path)).st_ino
    # pruning: a disjoint range reads none of the added bytes
    assert t.query("userid9", 100, 600).count() == 0
    assert t.query("userid9", 700, 702).count() == 3
    # idempotent: re-adding the same file is a no-op (content hash)
    again = t.add_files(src)
    assert again.snapshot_id == snap.snapshot_id
    assert t.scan().count() == 7


def test_add_files_rejects_schema_mismatch_and_missing_partition(
        spark, tmp_path):
    from tests.fixtures import location_df, location_row

    t = IceTable.create(
        spark, str(tmp_path / "t"),
        location_df(spark, [location_row(timestamp=1)]),
        partition_col="user_id", key_col="timestamp")
    # no user_id=<value> segment
    flat = tmp_path / "flat"
    location_df(spark, [location_row(timestamp=2)]).coalesce(1) \
        .write.mode("overwrite").parquet(str(flat))
    import os
    srcs = [str(flat / n) for n in os.listdir(flat)
            if n.endswith(".parquet")]
    with pytest.raises(ValueError, match="path segment"):
        t.add_files(srcs)
    # wrong schema
    bad = tmp_path / "bad" / "user_id=u1"
    bad.mkdir(parents=True)
    spark.range(3).coalesce(1).write.mode("overwrite").parquet(
        str(bad / "w"))
    bsrcs = [str(bad / "w" / n) for n in os.listdir(bad / "w")
             if n.endswith(".parquet")]
    with pytest.raises(ValueError, match="schema mismatch"):
        t.add_files(bsrcs)
    assert t.scan().count() == 1  # table untouched


def test_files_partitions_df_sidecar_schema_parity(spark, tmp_path,
                                                   monkeypatch):
    """Sidecar-backed and inline snapshots must expose the SAME
    files_df schema, and partitions_df must aggregate the sidecar scan
    without materializing entries."""
    from iceberg_core_spark.table.manifest import Manifest
    from tests.fixtures import location_df, location_row

    rows = [location_row(timestamp=100000 + i,
                         user_id=f"user{i % 2}") for i in range(8)]
    df = location_df(spark, rows)
    inline = IceTable.create(
        spark, str(tmp_path / "inline"), df,
        partition_col="user_id", key_col="timestamp",
        max_rows_per_file=2)
    monkeypatch.setattr(Manifest, "inline_max", 1)
    sidecar = IceTable.create(
        spark, str(tmp_path / "side"), df,
        partition_col="user_id", key_col="timestamp",
        max_rows_per_file=2)
    assert sidecar.manifest.load(load_files=False).files_ref is not None
    assert inline.files_df().columns == sidecar.files_df().columns
    hashes = [r.content_hash for r in sidecar.files_df().collect()]
    assert all(h and len(h) == 64 for h in hashes)  # sha256 hex
    p = {r.partition: r for r in sidecar.partitions_df().collect()}
    assert set(p) == {"user0", "user1"}
    assert all(r.row_count == 4 and r.file_count == 2
               for r in p.values())


def test_partitions_df_metadata_table(spark, tmp_path):
    """partitions_df = Iceberg's <table>.partitions analog: per-
    partition file/row/byte rollup for compaction planning; must agree
    with a direct files_df aggregation and with the data itself."""
    from tests.fixtures import location_df, location_row

    rows = [location_row(timestamp=100000 + i,
                         user_id=f"user{i % 3}") for i in range(12)]
    t = IceTable.create(
        spark, str(tmp_path / "t"), location_df(spark, rows),
        partition_col="user_id", key_col="timestamp",
        max_rows_per_file=2,
    )
    p = {r.partition: r for r in t.partitions_df().collect()}
    assert set(p) == {"user0", "user1", "user2"}
    assert sum(r.row_count for r in p.values()) == 12
    assert sum(r.file_count for r in p.values()) == t.file_count()
    for r in p.values():
        assert r.row_count == 4 and r.file_count == 2
        assert r.total_bytes > 0
        assert abs(r.avg_file_bytes - r.total_bytes / r.file_count) < 1e-9
        assert r.last_seq == 0


def test_history_df_metadata_table(spark, tmp_path):
    from tests.fixtures import location_df, location_row

    t = IceTable.create(
        spark, str(tmp_path / "t"),
        location_df(spark, [location_row(timestamp=1)]),
        partition_col="user_id", key_col="timestamp",
    )
    t.append(location_df(spark, [location_row(timestamp=2)]),
             dedupe_identical_files=False, branch="audit")
    t.publish_branch("audit")
    h = t.history_df().orderBy("snapshot_id").collect()
    assert [r.operation for r in h] == ["create", "append", "publish"]
    assert h[1].staged is not None and "audit" in h[1].staged
    assert h[2].staged is None
    assert h[0].parent_id is None and h[2].parent_id == 1


def test_add_files_rejects_mixed_schema_batch(spark, tmp_path):
    """r14 review: add_files validated only the FIRST file's footer, so
    a mixed-schema migration registered later files whose missing
    columns silently read as NULL. Every file's footer fingerprint is
    now checked; the whole batch is refused and no file registers."""
    import pytest

    root = str(tmp_path / "t")
    t = IceTable.create(
        spark, root,
        spark.range(0, 5).selectExpr("id as k", "id * 2 as v"),
        partition_col=None, key_col="k")
    ok_dir = str(tmp_path / "ok")
    bad_dir = str(tmp_path / "bad")
    spark.range(10, 15).selectExpr("id as k", "id * 2 as v") \
        .coalesce(1).write.parquet(ok_dir)
    spark.range(20, 25).selectExpr("id as k") \
        .coalesce(1).write.parquet(bad_dir)  # missing column v

    def parts(d):
        return sorted(
            os.path.join(dp, n) for dp, _x, ns in os.walk(d)
            for n in ns if n.endswith(".parquet"))

    before = t.file_count()
    with pytest.raises(ValueError, match="schema mismatch"):
        t.add_files(parts(ok_dir) + parts(bad_dir))
    assert t.file_count() == before  # nothing registered
    assert t.scan().count() == 5
    # and a clean batch still registers
    t.add_files(parts(ok_dir))
    assert t.scan().count() == 10


def test_add_files_accepts_field_order_divergence(spark, tmp_path):
    """r14 ADVICE: the Spark read path resolves parquet columns by
    NAME, so two files with identical name:type sets in different
    physical field order are the same schema — the footer fingerprint
    must not reject the batch on order alone."""
    root = str(tmp_path / "t")
    t = IceTable.create(
        spark, root,
        spark.range(0, 5).selectExpr("id as k", "id * 2 as v"),
        partition_col=None, key_col="k")
    a_dir = str(tmp_path / "a")
    b_dir = str(tmp_path / "b")
    spark.range(10, 15).selectExpr("id as k", "id * 2 as v") \
        .coalesce(1).write.parquet(a_dir)
    spark.range(20, 25).selectExpr("id * 2 as v", "id as k") \
        .coalesce(1).write.parquet(b_dir)  # same columns, swapped order

    def parts(d):
        return sorted(
            os.path.join(dp, n) for dp, _x, ns in os.walk(d)
            for n in ns if n.endswith(".parquet"))

    t.add_files(parts(a_dir) + parts(b_dir))
    got = t.scan().selectExpr("sum(k) as sk", "count(*) as c").collect()[0]
    assert (got.c, got.sk) == (15, 10 + sum(range(10, 15))
                               + sum(range(20, 25)))
