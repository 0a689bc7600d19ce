"""Row-level table operations: targeted delete, predicate delete, upsert."""

import pytest
from pyspark.sql import functions as F

from iceberg_core_spark.table import IceTable
from tests.fixtures import KEY_COL, PARTITION_COL, location_df, location_row


@pytest.fixture()
def table(spark, tmp_path):
    rows = [location_row(timestamp=t, user_id=u)
            for u in ("u1", "u2") for t in (100, 200, 300, 400)]
    df = location_df(spark, rows)
    return IceTable.create(spark, str(tmp_path / "t"), df,
                           partition_col=PARTITION_COL, key_col=KEY_COL,
                           max_rows_per_file=2)


def test_delete_range_targeted(spark, table):
    before_files = {f.path: f for f in table.manifest.load().files}
    table.delete_range(partition="u1", lo=150, hi=350)
    got = sorted((r.user_id, r.timestamp) for r in table.scan().collect())
    assert got == [("u1", 100), ("u1", 400),
                   ("u2", 100), ("u2", 200), ("u2", 300), ("u2", 400)]
    # u2's files are carried over byte-identical (not rewritten)
    after = {f.path: f for f in table.manifest.load().files}
    u2_before = {p for p, f in before_files.items() if f.partition == "u2"}
    assert u2_before <= set(after)
    assert table.manifest.load().operation == "delete"


def test_delete_range_no_match_is_noop(spark, table):
    sid = table.manifest.current_snapshot_id()
    table.delete_range(partition="u1", lo=5000, hi=6000)
    assert table.manifest.current_snapshot_id() == sid  # no new snapshot


def test_delete_where_predicate(spark, table):
    table.delete_where(F.col(KEY_COL) % 200 == 0)
    got = sorted(r.timestamp for r in table.scan().collect())
    assert got == [100, 100, 300, 300]


def test_upsert_replaces_and_inserts(spark, table):
    changes = location_df(spark, [
        location_row(timestamp=100, user_id="u1", latitude=99.0),  # replace
        location_row(timestamp=500, user_id="u1"),                 # insert
    ])
    table.upsert(changes, key_cols=[PARTITION_COL, KEY_COL])
    assert table.scan().count() == 9
    updated = table.query("u1", 100, 100).collect()
    assert len(updated) == 1 and updated[0].latitude == 99.0
    assert table.query("u1", 500, 500).count() == 1
    assert table.manifest.load().operation == "upsert"
    # time travel still shows the pre-upsert state
    first = table.scan(snapshot_id=0)
    assert first.count() == 8


def test_upsert_partition_scoped_carries_untouched_files(spark, table):
    """With the partition column in the merge keys, an upsert touching
    only u1 must carry every u2 file over byte-identical — the scoped
    rewrite that makes per-micro-batch merges viable at scale."""
    before = {f.path: f for f in table.manifest.load().files}
    changes = location_df(spark, [
        location_row(timestamp=100, user_id="u1", latitude=99.0),
        location_row(timestamp=500, user_id="u1"),
    ])
    table.upsert(changes, key_cols=[PARTITION_COL, KEY_COL])
    after = {f.path for f in table.manifest.load().files}
    u2_before = {p for p, f in before.items() if f.partition == "u2"}
    u1_before = {p for p, f in before.items() if f.partition == "u1"}
    assert u2_before <= after              # untouched partition kept
    assert not (u1_before & after)         # touched partition rewritten
    assert table.scan().count() == 9
    assert table.query("u1", 100, 100).first().latitude == 99.0


def test_upsert_key_without_partition_full_rewrite_moves_key(spark,
                                                             table):
    """Without the partition column in the keys a key may change
    partitions, so the merge must rewrite the full table: the old row
    must not survive in its former partition."""
    moved = location_df(spark, [
        location_row(timestamp=100, user_id="u3", latitude=42.0),
    ])
    table.upsert(moved, key_cols=[KEY_COL])
    rows = table.scan().filter(F.col(KEY_COL) == 100).collect()
    assert len(rows) == 1 and rows[0].user_id == "u3"
    assert table.scan().count() == 7  # 8 - two ts=100 rows + 1


def test_apply_cdc_upserts_deletes_last_writer_wins(spark, table):
    """One CDC batch: two competing updates to the same key (seq
    orders them), a delete, and an insert — applied in one commit."""
    from pyspark.sql.types import LongType, StringType, StructField
    from tests.fixtures import LOCATION_SCHEMA

    specs = [
        (location_row(timestamp=100, user_id="u1", latitude=50.0), "U", 1),
        (location_row(timestamp=100, user_id="u1", latitude=77.0), "U", 2),
        (location_row(timestamp=200, user_id="u2"), "D", 1),
        (location_row(timestamp=500, user_id="u1", latitude=5.0), "I", 1),
    ]
    schema = type(LOCATION_SCHEMA)(
        list(LOCATION_SCHEMA.fields)
        + [StructField("op", StringType()),
           StructField("seq", LongType())])
    cdc = spark.createDataFrame(
        [{**r.asDict(), "op": op, "seq": seq} for r, op, seq in specs],
        schema)
    table.apply_cdc(cdc, key_cols=[PARTITION_COL, KEY_COL],
                    op_col="op", seq_col="seq")
    assert table.query("u1", 100, 100).first().latitude == 77.0
    assert table.query("u2", 200, 200).count() == 0
    assert table.query("u1", 500, 500).first().latitude == 5.0
    assert table.scan().count() == 8  # 8 - 1 delete + 1 insert
    assert "op" not in table.scan().columns
    assert table.manifest.load().operation == "cdc"


def _cdc_batch(spark):
    from pyspark.sql.types import LongType, StringType, StructField
    from tests.fixtures import LOCATION_SCHEMA

    specs = [
        (location_row(timestamp=100, user_id="u1", latitude=77.0), "U"),
        (location_row(timestamp=200, user_id="u2"), "D"),
        (location_row(timestamp=500, user_id="u1", latitude=5.0), "I"),
    ]
    schema = type(LOCATION_SCHEMA)(
        list(LOCATION_SCHEMA.fields) + [StructField("op", StringType())])
    return spark.createDataFrame(
        [{**r.asDict(), "op": op} for r, op in specs], schema)


def test_apply_cdc_mor_zero_rewrite(spark, table):
    """mode='mor': the batch lands as new files + one equality-delete
    key set — every pre-existing file survives untouched, yet scans
    show the merged state; time travel still sees the original."""
    before = {f.path for f in table.manifest.load().files}
    snap = table.apply_cdc(_cdc_batch(spark),
                           key_cols=[PARTITION_COL, KEY_COL],
                           op_col="op", mode="mor")
    after = {f.path for f in table.manifest.load().files}
    assert before <= after                     # zero rewrite
    assert snap.operation == "cdc-mor"
    eq = [p for p in snap.delete_predicates if "eq_ref" in p]
    assert len(eq) == 1 and eq[0]["seq"] == snap.snapshot_id
    assert table.query("u1", 100, 100).first().latitude == 77.0
    assert table.query("u2", 200, 200).count() == 0
    assert table.query("u1", 500, 500).first().latitude == 5.0
    assert table.scan().count() == 8
    assert table.scan(snapshot_id=0).count() == 8  # original intact
    assert table.scan(snapshot_id=0).filter(
        f"{KEY_COL} = 500").count() == 0


def test_apply_cdc_mor_chained_batches(spark, table):
    """A second MoR batch must hide rows the FIRST MoR batch appended
    (its files predate the second predicate's seq)."""
    table.apply_cdc(_cdc_batch(spark),
                    key_cols=[PARTITION_COL, KEY_COL],
                    op_col="op", mode="mor")
    second = _cdc_batch(spark).filter(F.col(KEY_COL) == 500) \
        .withColumn("latitude", F.lit(123.0))
    table.apply_cdc(second, key_cols=[PARTITION_COL, KEY_COL],
                    op_col="op", mode="mor")
    assert table.query("u1", 500, 500).first().latitude == 123.0
    assert table.scan().count() == 8


def test_cdc_mor_compact_then_expire_cleans_delete_files(spark, table):
    """compact() materializes equality deletes away (scan unchanged,
    predicates cleared); the delete file survives for time travel
    until expire_snapshots drops every snapshot referencing it."""
    import os

    snap = table.apply_cdc(_cdc_batch(spark),
                           key_cols=[PARTITION_COL, KEY_COL],
                           op_col="op", mode="mor")
    eq_ref = [p for p in snap.delete_predicates if "eq_ref" in p][0][
        "eq_ref"]
    eq_path = os.path.join(table.root, eq_ref)
    want = sorted((r.user_id, r.timestamp, r.latitude)
                  for r in table.scan().collect())
    table.compact(min_files=2)
    cur = table.manifest.load()
    assert cur.operation == "compact" and not cur.delete_predicates
    got = sorted((r.user_id, r.timestamp, r.latitude)
                 for r in table.scan().collect())
    assert got == want
    assert os.path.exists(eq_path)  # older snapshots still need it
    table.expire_snapshots(keep_last=1)
    assert not os.path.exists(eq_path)


def test_apply_cdc_mor_sidecar_distributed_commit(spark, tmp_path,
                                                  monkeypatch):
    """On a sidecar-backed table the cdc-mor commit must stay
    sidecar-backed (the parent's rows copied as stored, never parsed on
    the driver) and the predicate's sentinel seq must resolve to the
    landed snapshot id."""
    from iceberg_core_spark.table.manifest import Manifest

    monkeypatch.setattr(Manifest, "inline_max", 1)
    rows = [location_row(timestamp=t, user_id=u)
            for u in ("u1", "u2") for t in (100, 200, 300, 400)]
    t = IceTable.create(spark, str(tmp_path / "side"),
                        location_df(spark, rows),
                        partition_col=PARTITION_COL, key_col=KEY_COL,
                        max_rows_per_file=2)
    assert t.manifest.load(load_files=False).files_ref is not None
    snap = t.apply_cdc(_cdc_batch(spark),
                       key_cols=[PARTITION_COL, KEY_COL],
                       op_col="op", mode="mor")
    cur = t.manifest.load(load_files=False)
    assert cur.files_ref is not None  # stayed sidecar-backed
    eq = [p for p in cur.delete_predicates if "eq_ref" in p]
    assert len(eq) == 1 and eq[0]["seq"] == snap.snapshot_id
    assert t.query("u1", 100, 100).first().latitude == 77.0
    assert t.query("u2", 200, 200).count() == 0
    assert t.scan().count() == 8


def test_merge_cow_sidecar_scoped_distributed(spark, tmp_path,
                                              monkeypatch):
    """CoW merge on a sidecar-backed table: the rewrite planner's
    affected/keep split runs over the sidecar — untouched partitions
    carry over byte-identical (their rows copied as stored), and the
    result is exact."""
    from iceberg_core_spark.table.manifest import Manifest

    monkeypatch.setattr(Manifest, "inline_max", 1)
    rows = [location_row(timestamp=t, user_id=u)
            for u in ("u1", "u2") for t in (100, 200, 300, 400)]
    t = IceTable.create(spark, str(tmp_path / "side"),
                        location_df(spark, rows),
                        partition_col=PARTITION_COL, key_col=KEY_COL,
                        max_rows_per_file=2)
    before = {r.path: r.partition for r in t.files_df().collect()}
    u2_before = {p for p, part in before.items() if part == "u2"}
    assert u2_before
    t.upsert(location_df(spark, [
        location_row(timestamp=100, user_id="u1", latitude=88.0),
        location_row(timestamp=900, user_id="u1")]),
        key_cols=[PARTITION_COL, KEY_COL])
    cur = t.manifest.load(load_files=False)
    assert cur.files_ref is not None
    after = {r.path for r in t.files_df().collect()}
    assert u2_before <= after          # untouched partition kept
    assert t.scan().count() == 9
    assert t.query("u1", 100, 100).first().latitude == 88.0
    assert t.query("u2", 100, 400).count() == 4


def test_upsert_mor_appends_and_hides(spark, table):
    before = {f.path for f in table.manifest.load().files}
    table.upsert(location_df(spark, [
        location_row(timestamp=100, user_id="u1", latitude=42.0)]),
        key_cols=[PARTITION_COL, KEY_COL], mode="mor")
    after = {f.path for f in table.manifest.load().files}
    assert before <= after
    assert table.query("u1", 100, 100).first().latitude == 42.0
    assert table.scan().count() == 8


def test_overwrite_partitions_dynamic(spark, table):
    """Dynamic partition overwrite: u1 is replaced wholesale by the
    incoming rows; u2 carries over byte-identical."""
    before = {f.path: f for f in table.manifest.load().files}
    u2_before = {p for p, f in before.items() if f.partition == "u2"}
    snap = table.overwrite_partitions(location_df(spark, [
        location_row(timestamp=1, user_id="u1"),
        location_row(timestamp=2, user_id="u1"),
    ]))
    assert snap.operation == "overwrite-partitions"
    after = {f.path for f in table.manifest.load().files}
    assert u2_before <= after
    got = sorted((r.user_id, r.timestamp)
                 for r in table.scan().collect())
    assert got == [("u1", 1), ("u1", 2),
                   ("u2", 100), ("u2", 200), ("u2", 300), ("u2", 400)]


def test_overwrite_partitions_sidecar(spark, tmp_path, monkeypatch):
    from iceberg_core_spark.table.manifest import Manifest

    monkeypatch.setattr(Manifest, "inline_max", 1)
    rows = [location_row(timestamp=t, user_id=u)
            for u in ("u1", "u2") for t in (100, 200)]
    t = IceTable.create(spark, str(tmp_path / "side"),
                        location_df(spark, rows),
                        partition_col=PARTITION_COL, key_col=KEY_COL,
                        max_rows_per_file=1)
    u2_files = {r.path for r in t.files_df().collect()
                if r.partition == "u2"}
    t.overwrite_partitions(location_df(
        spark, [location_row(timestamp=9, user_id="u1")]))
    assert u2_files <= {r.path for r in t.files_df().collect()}
    got = sorted((r.user_id, r.timestamp) for r in t.scan().collect())
    assert got == [("u1", 9), ("u2", 100), ("u2", 200)]


def test_overwrite_partitions_refuses_mixed_specs(spark, table):
    table.set_partition_spec("source")  # re-layout FUTURE data
    with pytest.raises(ValueError, match="uniform partition spec"):
        table.overwrite_partitions(location_df(
            spark, [location_row(timestamp=1, user_id="u1")]))


def test_cdc_mor_scan_plan_is_antijoin_union(spark, table):
    """The MoR read path must plan as: pre-batch files LeftAnti the
    key set, unioned with the batch's own clean files — and compaction
    must remove the anti-join from the plan entirely."""
    table.apply_cdc(_cdc_batch(spark),
                    key_cols=[PARTITION_COL, KEY_COL],
                    op_col="op", mode="mor")
    plan = table.scan()._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan and "Union" in plan
    table.compact(min_files=1)
    plan2 = table.scan()._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" not in plan2


def test_apply_cdc_duplicate_key_without_seq_raises(spark, table):
    dup = location_df(spark, [
        location_row(timestamp=100, user_id="u1", latitude=1.0),
        location_row(timestamp=100, user_id="u1", latitude=2.0),
    ]).withColumn("op", F.lit("U"))
    with pytest.raises(ValueError, match="seq_col"):
        table.apply_cdc(dup, key_cols=[PARTITION_COL, KEY_COL],
                        op_col="op")


def test_delete_then_query_pruning_still_works(spark, table):
    table.delete_range(partition="u2", lo=100, hi=200)
    assert table.query("u2", 100, 400).count() == 2
    assert table.query("u1", 100, 400).count() == 4


def test_merge_multi_clause_semantics(spark, tmp_path):
    """Ordered WHEN MATCHED clauses: first applicable wins, rows
    matching no clause stay UNCHANGED, partial SET updates only the
    listed columns, NOT MATCHED inserts honor their condition, and a
    multi-row-per-key source raises."""
    df = spark.createDataFrame(
        [(1, "a", 10, 1), (2, "a", 20, 1), (3, "b", 30, 5)],
        "k long, g string, v long, seq long")
    t = IceTable.create(spark, str(tmp_path / "t"), df,
                        partition_col="g", key_col="k")
    src = spark.createDataFrame(
        [(1, "a", 99, 9, "D"),    # clause 1: tombstone delete
         (2, "a", 77, 9, "U"),    # clause 2: newer → partial update
         (3, "b", 88, 2, "U"),    # seq 2 < 5: no clause → unchanged
         (4, "b", 40, 9, "U"),    # unmatched, v < 50 → insert
         (5, "b", 60, 9, "U")],   # unmatched, v >= 50 → NOT inserted
        "k long, g string, v long, seq long, flag string")
    t.merge(
        src, key_cols=["g", "k"],
        when_matched=[
            {"condition": "s.flag = 'D'", "action": "delete"},
            {"condition": "s.seq > t.seq", "action": "update",
             "set": {"v": "s.v", "seq": "s.seq"}},
        ],
        when_not_matched_insert="v < 50")
    got = {(r.k, r.g, r.v, r.seq) for r in t.scan().collect()}
    assert got == {(2, "a", 77, 9),   # updated (partial set)
                   (3, "b", 30, 5),   # matched, no clause: unchanged
                   (4, "b", 40, 9)}   # conditional insert

    dup = spark.createDataFrame(
        [(2, "a", 1, 1, "U"), (2, "a", 2, 2, "U")],
        "k long, g string, v long, seq long, flag string")
    with pytest.raises(ValueError, match="multiple rows per key"):
        t.merge(dup, key_cols=["g", "k"],
                when_matched=[{"action": "update"}])

    with pytest.raises(ValueError, match="unknown merge action"):
        t.merge(src.limit(1), key_cols=["g", "k"],
                when_matched=[{"action": "upsert"}])


def test_merge_update_all_and_unconditional(spark, tmp_path):
    """An update clause without a SET map replaces the whole row from
    the source; a clause without a condition applies to every matched
    row not claimed by an earlier clause."""
    df = spark.createDataFrame([(1, "a", 10), (2, "a", 20)],
                               "k long, g string, v long")
    t = IceTable.create(spark, str(tmp_path / "t"), df,
                        partition_col=None, key_col="k")
    src = spark.createDataFrame([(1, "a", 111), (3, "a", 333)],
                                "k long, g string, v long")
    t.merge(src, key_cols=["k"],
            when_matched=[{"action": "update"}],
            when_not_matched_insert=True)
    got = {(r.k, r.v) for r in t.scan().collect()}
    assert got == {(1, 111), (2, 20), (3, 333)}


def test_overwrite_partitions_keeps_null_partition_rows(spark, tmp_path):
    """r13 DML review: rows whose partition value is NULL (written
    under __HIVE_DEFAULT_PARTITION__, manifest partition=None) can
    never be ADDRESSED by overwrite_partitions (NULL parts in the
    incoming frame raise) — so their files must carry over, on both
    the driver and the sidecar commit path. The old keep condition
    required a non-null partition and silently DROPPED them."""
    df = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, None, 30)],
        "k int, part string, v int")
    t = IceTable.create(spark, str(tmp_path / "t"), df,
                        partition_col="part", key_col="k")
    t.overwrite_partitions(spark.createDataFrame(
        [(10, "a", 99)], "k int, part string, v int"))
    got = {(r.k, r.part, r.v) for r in t.scan().collect()}
    assert got == {(10, "a", 99), (2, "b", 20), (3, None, 30)}
    # sidecar path: force the files parquet and overwrite again
    from iceberg_core_spark.table.manifest import Manifest
    orig = Manifest.inline_max
    Manifest.inline_max = 1
    try:
        t.overwrite_partitions(spark.createDataFrame(
            [(20, "b", 88)], "k int, part string, v int"))
        assert t.manifest.load(load_files=False).files_ref is not None
        t.overwrite_partitions(spark.createDataFrame(
            [(11, "a", 77)], "k int, part string, v int"))
    finally:
        Manifest.inline_max = orig
    got = {(r.k, r.part, r.v) for r in t.scan().collect()}
    assert got == {(11, "a", 77), (20, "b", 88), (3, None, 30)}


def test_apply_cdc_null_op_upserts_not_silently_deletes(spark, tmp_path):
    """r13 DML review: a NULL op_col row must UPSERT ('every other row
    upserts'); with the old non-null-safe `!=` its key entered the
    delete set while the row itself vanished from the upsert set — a
    silent delete on malformed input. Both modes."""
    for mode in ("cow", "mor"):
        df = spark.createDataFrame([(1, 10), (2, 20)], "k int, v int")
        t = IceTable.create(spark, str(tmp_path / f"t_{mode}"), df,
                            key_col="k")
        batch = spark.createDataFrame(
            [(1, 11, None), (2, 22, "U")],
            "k int, v int, op string")
        t.apply_cdc(batch, key_cols=["k"], mode=mode)
        got = {(r.k, r.v) for r in t.scan().collect()}
        assert got == {(1, 11), (2, 22)}, mode


def test_upsert_refuses_duplicate_and_null_keys(spark, tmp_path):
    """r13 DML review: upsert with two batch rows per key wrote BOTH
    (only the old row was removed); NULL keys never equality-match the
    row they replace, so both versions survived. Both now raise, like
    merge/apply_cdc."""
    df = spark.createDataFrame([(1, "x", 10)], "k int, g string, v int")
    t = IceTable.create(spark, str(tmp_path / "t"), df, key_col="k")
    dup = spark.createDataFrame([(1, "x", 11), (1, "x", 12)],
                                "k int, g string, v int")
    with pytest.raises(ValueError, match="multiple rows per key"):
        t.upsert(dup, key_cols=["k", "g"])
    nullkey = spark.createDataFrame([(None, "x", 11)],
                                    "k int, g string, v int")
    with pytest.raises(ValueError, match="non-null"):
        t.upsert(nullkey, key_cols=["k", "g"])
    # apply_cdc's seq path gets the same NULL-key guard
    nullcdc = spark.createDataFrame([(None, "x", 11, "U", 1)],
                                    "k int, g string, v int, op string,"
                                    " seq long")
    with pytest.raises(ValueError, match="non-null"):
        t.apply_cdc(nullcdc, key_cols=["k"], seq_col="seq")
    # and the table is unchanged by the refused batches
    assert {(r.k, r.v) for r in t.scan().collect()} == {(1, 10)}
