"""Net changelog (scan_changes) + incremental rollup maintenance.

The changelog contract under each commit family: appends net to
inserts, compaction nets to ZERO, an upsert nets to its delete+insert
pairs, a MoR predicate delete nets to deletes — and the rollup folded
from those deltas must equal a from-scratch recompute byte-for-byte
after every commit."""

import json
import os

from pyspark.sql import functions as F

from iceberg_core_spark.table import IceTable, MaterializedRollup


def _df(spark, rows):
    return spark.createDataFrame(rows, "k long, g string, v long")


def _changes(t, since, until=None):
    out = {}
    for r in t.scan_changes(since, until).collect():
        out.setdefault(r["_change_type"], set()).add(
            (r["k"], r["g"], r["v"]))
    return out


def test_scan_changes_per_operation(spark, tmp_path):
    t = IceTable.create(
        spark, str(tmp_path / "t"),
        _df(spark, [(1, "a", 10), (2, "a", 20), (3, "b", 30)]),
        partition_col="g", key_col="k", max_rows_per_file=1)
    s0 = t.manifest.load(load_files=False).snapshot_id

    # append → inserts only
    t.append(_df(spark, [(4, "b", 40)]))
    s1 = t.manifest.load(load_files=False).snapshot_id
    assert _changes(t, s0, s1) == {"insert": {(4, "b", 40)}}

    # compact → rewrite-invariant: zero net changes
    t.compact(min_files=2)
    s2 = t.manifest.load(load_files=False).snapshot_id
    assert _changes(t, s1, s2) == {}
    # while scan_incremental re-emits the rewritten rows
    assert t.scan_incremental(s1, s2).count() > 0

    # upsert → delete+insert pair for the changed row only
    t.upsert(_df(spark, [(2, "a", 99)]), key_cols=["g", "k"])
    s3 = t.manifest.load(load_files=False).snapshot_id
    assert _changes(t, s2, s3) == {
        "insert": {(2, "a", 99)}, "delete": {(2, "a", 20)}}

    # MoR predicate delete (metadata-only commit) → deletes
    t.delete_where("v >= 40", mode="mor")
    s4 = t.manifest.load(load_files=False).snapshot_id
    assert _changes(t, s3, s4) == {
        "delete": {(4, "b", 40), (2, "a", 99)}}

    # whole-window net: s0 → current collapses intermediate churn
    assert _changes(t, s0) == {"delete": {(2, "a", 20)}}


def test_scan_changes_reads_only_changed_files(spark, tmp_path):
    """Append-only window: the changelog plan touches ONE data file
    (the appended one) — not the table — so per-batch fold cost tracks
    batch size at any table size."""
    t = IceTable.create(
        spark, str(tmp_path / "t"),
        _df(spark, [(i, "a", i) for i in range(20)]),
        partition_col=None, key_col="k", max_rows_per_file=1)
    s0 = t.manifest.load(load_files=False).snapshot_id
    t.append(_df(spark, [(100, "b", 100)]))
    files = t.scan_changes(s0).inputFiles()
    assert len(files) == 1


def test_scan_changes_wap_publish_surfaces_inserts(spark, tmp_path):
    """A staged (write-audit-publish) batch is INVISIBLE to the
    changelog until publish; the metadata-only publish then surfaces
    exactly the staged rows as inserts — visibility, not path
    presence, drives the diff."""
    t = IceTable.create(
        spark, str(tmp_path / "t"), _df(spark, [(1, "a", 10)]),
        partition_col=None, key_col="k")
    s0 = t.manifest.load(load_files=False).snapshot_id
    t.append(_df(spark, [(2, "b", 20)]), branch="audit")
    s1 = t.manifest.load(load_files=False).snapshot_id
    assert _changes(t, s0, s1) == {}          # staged: hidden
    t.publish_branch("audit")
    assert _changes(t, s1) == {"insert": {(2, "b", 20)}}
    assert _changes(t, s0) == {"insert": {(2, "b", 20)}}


def test_scan_changes_rollback_of_mor_delete_reappears(spark, tmp_path):
    """Rolling back a MoR predicate delete REMOVES a predicate without
    touching any file: the window's diff must still pull the
    predicate-visible files in, so the restored rows surface as
    inserts (the mirror image of the delete window)."""
    t = IceTable.create(
        spark, str(tmp_path / "t"),
        _df(spark, [(1, "a", 10), (2, "b", 99)]),
        partition_col=None, key_col="k")
    s0 = t.manifest.load(load_files=False).snapshot_id
    t.delete_where("v = 99", mode="mor")
    s1 = t.manifest.load(load_files=False).snapshot_id
    assert _changes(t, s0, s1) == {"delete": {(2, "b", 99)}}
    t.rollback(s0)
    assert _changes(t, s1) == {"insert": {(2, "b", 99)}}
    assert _changes(t, s0) == {}  # net round trip: nothing changed


def test_scan_changes_across_schema_evolution(spark, tmp_path):
    t = IceTable.create(
        spark, str(tmp_path / "t"),
        _df(spark, [(1, "a", 10), (2, "b", 20)]),
        partition_col=None, key_col="k")
    s0 = t.manifest.load(load_files=False).snapshot_id
    t.rename_column("v", "val")
    t.append(spark.createDataFrame(
        [(3, "c", 30, 0.5)], "k long, g string, val long, q double"),
        evolve_schema=True)
    rows = t.scan_changes(s0).collect()
    # since-side read under the OLD name aligns forward; the evolved
    # column reads NULL for nothing here (only the new row is emitted)
    assert [(r["k"], r["val"], r["q"], r["_change_type"])
            for r in rows] == [(3, 30, 0.5, "insert")]


def test_rollup_tracks_full_recompute(spark, tmp_path):
    t = IceTable.create(
        spark, str(tmp_path / "t"),
        _df(spark, [(1, "a", 10), (2, "a", 20), (3, "b", 30)]),
        partition_col="g", key_col="k", max_rows_per_file=1)
    ru = MaterializedRollup(spark, str(tmp_path / "ru"),
                            group_cols=["g"], sum_cols=["v"])

    def assert_matches():
        got = sorted(map(tuple, ru.read().collect()))
        want = sorted(map(tuple, (
            t.scan().groupBy("g")
            .agg(F.count(F.lit(1)).alias("row_count"),
                 F.sum(F.col("v").cast("decimal(18,6)"))
                 .cast("decimal(28,6)").alias("sum_v"))
        ).collect()))
        assert got == want

    assert ru.refresh(t) is True      # first refresh: full aggregate
    assert ru.refresh(t) is False     # caught up: no-op
    assert_matches()

    t.append(_df(spark, [(4, "b", 40), (5, "c", 50)]))
    assert ru.refresh(t) is True      # incremental fold
    assert_matches()

    t.upsert(_df(spark, [(2, "a", 99)]), key_cols=["g", "k"])
    ru.refresh(t)
    assert_matches()

    t.compact(min_files=2)
    ru.refresh(t)                     # zero-delta fold
    assert_matches()

    # delete a whole group: its rollup row must disappear
    t.delete_where("g = 'c'", mode="mor")
    ru.refresh(t)
    assert_matches()
    assert sorted(r["g"] for r in ru.read().collect()) == ["a", "b"]


def test_rollup_rebuilds_after_watermark_expiry(spark, tmp_path):
    """If expire_snapshots dropped the rollup's synced snapshot, the
    delta is unrecoverable — refresh falls back to a full rebuild and
    still matches a recompute."""
    t = IceTable.create(
        spark, str(tmp_path / "t"),
        _df(spark, [(1, "a", 10), (2, "b", 20)]),
        partition_col=None, key_col="k")
    ru = MaterializedRollup(spark, str(tmp_path / "ru"),
                            group_cols=["g"], sum_cols=["v"])
    ru.refresh(t)
    t.append(_df(spark, [(3, "b", 30)]))
    t.append(_df(spark, [(4, "c", 40)]))
    expired = t.expire_snapshots(keep_last=1)
    assert ru.synced_snapshot() in expired
    assert ru.refresh(t) is True
    got = sorted(map(tuple, ru.read().collect()))
    want = sorted(map(tuple, (
        t.scan().groupBy("g")
        .agg(F.count(F.lit(1)).alias("row_count"),
             F.sum(F.col("v").cast("decimal(18,6)"))
             .cast("decimal(28,6)").alias("sum_v"))
    ).collect()))
    assert got == want


def test_rollup_crash_heals(spark, tmp_path):
    t = IceTable.create(
        spark, str(tmp_path / "t"),
        _df(spark, [(1, "a", 10)]), partition_col=None, key_col="k")
    ru = MaterializedRollup(spark, str(tmp_path / "ru"),
                            group_cols=["g"], sum_cols=["v"])
    ru.refresh(t)
    t.append(_df(spark, [(2, "b", 20)]))
    ru.refresh(t)
    final = sorted(map(tuple, ru.read().collect()))

    # simulate a crash BETWEEN the version write and the watermark
    # advance: roll the meta back one snapshot — the version dir for
    # the newer snapshot already exists on disk
    snaps = t.manifest.snapshots(load_files=False)
    with open(os.path.join(str(tmp_path / "ru"), "_meta.json")) as f:
        meta = json.load(f)
    meta["synced_snapshot_id"] = snaps[0].snapshot_id
    meta["ref"] = f"v={snaps[0].snapshot_id}"
    with open(os.path.join(str(tmp_path / "ru"), "_meta.json"),
              "w") as f:
        json.dump(meta, f)

    assert ru.refresh(t) is True      # re-fold overwrites the orphan
    assert sorted(map(tuple, ru.read().collect())) == final


def test_rollup_tracks_merge_commit(spark, tmp_path):
    """A multi-clause MERGE is a CoW rewrite like any other commit:
    the changelog nets its delete/update/insert effects and the
    rollup fold over that delta equals a from-scratch recompute."""
    t = IceTable.create(
        spark, str(tmp_path / "t"),
        _df(spark, [(1, "a", 10), (2, "a", 20), (3, "b", 30)]),
        partition_col="g", key_col="k")
    ru = MaterializedRollup(spark, str(tmp_path / "ru"),
                            group_cols=["g"], sum_cols=["v"])
    ru.refresh(t)
    src = spark.createDataFrame(
        [(1, "a", 0, "D"), (2, "a", 99, "U"), (9, "b", 90, "U")],
        "k long, g string, v long, flag string")
    t.merge(src, key_cols=["g", "k"],
            when_matched=[
                {"condition": "s.flag = 'D'", "action": "delete"},
                {"action": "update", "set": {"v": "s.v"}},
            ],
            when_not_matched_insert=True)
    ru.refresh(t)
    got = sorted(map(tuple, ru.read().collect()))
    want = sorted(map(tuple, (
        t.scan().groupBy("g")
        .agg(F.count(F.lit(1)).alias("row_count"),
             F.sum(F.col("v").cast("decimal(18,6)"))
             .cast("decimal(28,6)").alias("sum_v"))
    ).collect()))
    assert got == want
    assert {(r.k, r.v) for r in t.scan().collect()} == {
        (2, 99), (3, 30), (9, 90)}


def test_rollup_null_sum_retraction(spark, tmp_path):
    """Retracting every non-NULL value of a sum column for a group
    that KEEPS NULL-valued rows must fold the sum back to NULL (what
    SUM over the remaining all-NULL group recomputes) — not to an
    exact decimal 0."""
    df = spark.createDataFrame(
        [(1, "a", 10), (2, "a", None), (3, "b", 30)],
        "k long, g string, v long")
    t = IceTable.create(spark, str(tmp_path / "t"), df,
                        partition_col=None, key_col="k")
    ru = MaterializedRollup(spark, str(tmp_path / "ru"),
                            group_cols=["g"], sum_cols=["v"])
    ru.refresh(t)
    # delete the only non-NULL 'a' row; the NULL row survives
    t.delete_where("v = 10", mode="mor")
    ru.refresh(t)
    got = {r["g"]: (r["row_count"], r["sum_v"])
           for r in ru.read().collect()}
    assert got["a"] == (1, None)
    want = sorted(map(tuple, (
        t.scan().groupBy("g")
        .agg(F.count(F.lit(1)).alias("row_count"),
             F.sum(F.col("v").cast("decimal(18,6)"))
             .cast("decimal(28,6)").alias("sum_v"))
    ).collect()))
    assert sorted(map(tuple, ru.read().collect())) == want
    # and the sum comes back when a non-NULL value re-enters the group
    t.append(spark.createDataFrame([(4, "a", 7)],
                                   "k long, g string, v long"))
    ru.refresh(t)
    got = {r["g"]: r["sum_v"] for r in ru.read().collect()}
    assert str(got["a"]) == "7.000000"


def test_rollup_minmax_append_only_folds_incrementally(spark, tmp_path):
    """MIN/MAX fold as min(old, delta) while the window is insert-only
    (watermark stays incremental — no full scan); the first delete
    forces the documented rebuild and the values stay right."""
    t = IceTable.create(
        spark, str(tmp_path / "t"),
        _df(spark, [(1, "a", 10), (2, "b", 20)]),
        partition_col=None, key_col="k")
    ru = MaterializedRollup(spark, str(tmp_path / "ru"),
                            group_cols=["g"], sum_cols=[],
                            min_cols=["v"], max_cols=["v"])
    ru.refresh(t)
    t.append(_df(spark, [(3, "a", 5), (4, "b", 99)]))
    ru.refresh(t)
    got = {r["g"]: (r["min_v"], r["max_v"]) for r in ru.read().collect()}
    assert got == {"a": (5, 10), "b": (20, 99)}

    # deleting the current maximum must NOT leave a stale extremum
    t.delete_where("v = 99", mode="mor")
    ru.refresh(t)
    got = {r["g"]: (r["min_v"], r["max_v"]) for r in ru.read().collect()}
    assert got == {"a": (5, 10), "b": (20, 20)}


def test_scan_changes_float_and_map_canonicalization(spark, tmp_path):
    """Hash-input canonicalization (r8): (a) a rewrite flipping -0.0
    to 0.0 — equal under SQL comparison, including NESTED inside an
    array or struct — must net to ZERO changes (to_json would render
    them differently without normalization, emitting a phantom
    delete+insert pair); (b) MapType columns are rejected loudly."""
    import pytest

    df1 = spark.sql("""
        SELECT * FROM VALUES
          (1L, CAST(-0.0 AS DOUBLE), array(CAST(-0.0 AS DOUBLE), 2.5D),
           named_struct('s', CAST(-0.0 AS FLOAT), 'n', 7L)),
          (2L, 1.5D, array(3.5D), named_struct('s', CAST(1.0 AS FLOAT),
           'n', 8L))
        AS t(k, x, arr, st)
    """)
    df2 = spark.sql("""
        SELECT * FROM VALUES
          (1L, CAST(0.0 AS DOUBLE), array(CAST(0.0 AS DOUBLE), 2.5D),
           named_struct('s', CAST(0.0 AS FLOAT), 'n', 7L)),
          (2L, 1.5D, array(3.5D), named_struct('s', CAST(1.0 AS FLOAT),
           'n', 8L))
        AS t(k, x, arr, st)
    """)
    t = IceTable.create(spark, str(tmp_path / "t"), df1,
                        partition_col=None, key_col="k")
    s0 = t.manifest.load(load_files=False).snapshot_id
    t.overwrite(df2)
    s1 = t.manifest.load(load_files=False).snapshot_id
    assert t.scan_changes(s0, s1).count() == 0

    # a REAL value change still nets (the normalization must not
    # over-merge distinct rows)
    df3 = df2.withColumn(
        "x", F.when(F.col("k") == 2, F.lit(9.5)).otherwise(F.col("x")))
    t.overwrite(df3)
    s2 = t.manifest.load(load_files=False).snapshot_id
    ch = t.scan_changes(s1, s2)
    assert ch.filter(F.col("_change_type") == "insert").count() == 1
    assert ch.filter(F.col("_change_type") == "delete").count() == 1

    # MapType anywhere in the schema: loud rejection
    tm = IceTable.create(
        spark, str(tmp_path / "tm"),
        spark.sql("SELECT 1L AS k, map('a', 1) AS m"),
        partition_col=None, key_col="k")
    sm0 = tm.manifest.load(load_files=False).snapshot_id
    tm.append(spark.sql("SELECT 2L AS k, map('b', 2) AS m"))
    sm1 = tm.manifest.load(load_files=False).snapshot_id
    with pytest.raises(ValueError, match="MapType"):
        tm.scan_changes(sm0, sm1).count()


# --- OhlcRollup: continuously-maintained candles ----------------------

def _ts_df(spark, rows):
    """(id, g, ts µs-offset from epoch, v) event rows."""
    import datetime
    base = datetime.datetime(2024, 3, 1)
    return spark.createDataFrame(
        [(i, g, base + datetime.timedelta(microseconds=us), float(v))
         for i, g, us, v in rows],
        "id long, g string, ts timestamp, v double")


def _recompute_candles(t, step):
    from iceberg_core_spark.operators.timeseries import downsample_ohlc
    return sorted(map(tuple, downsample_ohlc(
        t.scan(), "g", "ts", "v", tiebreak_col="id",
        step_us=step).collect()))


def test_ohlc_rollup_folds_equal_recompute(spark, tmp_path):
    """After every append the folded candle store is byte-identical to
    downsample_ohlc recomputed from the full table — the endpoint key
    travels with the partial state, so the fold is the same aggregate
    over unioned partials. The watermark advances per refresh (folds,
    never a reset to a full scan)."""
    from iceberg_core_spark.table import OhlcRollup

    step = 3_600_000_000  # 1h
    t = IceTable.create(
        spark, str(tmp_path / "t"),
        _ts_df(spark, [(1, "a", 0, 10.0), (2, "a", 50, 20.0),
                       (3, "b", 10, 5.0)]),
        partition_col="g", key_col="id")
    ru = OhlcRollup(spark, str(tmp_path / "ru"), group_cols=["g"],
                    ts_col="ts", value_col="v", tiebreak_col="id",
                    step_us=step)
    folds = {"n": 0}
    real_fold = ru._fold

    def spy_fold(old, delta):
        folds["n"] += 1
        return real_fold(old, delta)

    ru._fold = spy_fold
    assert ru.refresh(t) and ru.synced_snapshot() == 0
    assert sorted(map(tuple, ru.read().collect())) \
        == _recompute_candles(t, step)
    assert folds["n"] == 0  # first refresh is the one full pass

    # a new open (earlier key in an existing bucket), a new close, a
    # new bucket, and a new low/high — all in one folded delta
    t.append(_ts_df(spark, [
        (0, "a", 0, 99.0),            # ties ts with id 1: id 0 wins open
        (9, "a", 70, 1.0),            # new close + new low
        (4, "b", step + 5, 44.0),     # new bucket for g=b
    ]))
    assert ru.refresh(t) and ru.synced_snapshot() == 1
    assert folds["n"] == 1  # the append FOLDED — no rebuild rescan
    assert sorted(map(tuple, ru.read().collect())) \
        == _recompute_candles(t, step)
    assert ru.refresh(t) is False  # idempotent at the watermark


def test_ohlc_rollup_delete_rebuilds(spark, tmp_path):
    """Deleting a bucket's open/low must not leave stale endpoints:
    a delta with any delete rebuilds from the pinned snapshot."""
    from iceberg_core_spark.table import OhlcRollup

    step = 3_600_000_000
    t = IceTable.create(
        spark, str(tmp_path / "t"),
        _ts_df(spark, [(1, "a", 0, 1.0), (2, "a", 50, 20.0),
                       (3, "a", 90, 30.0)]),
        partition_col=None, key_col="id")
    ru = OhlcRollup(spark, str(tmp_path / "ru"), group_cols=["g"],
                    ts_col="ts", value_col="v", tiebreak_col="id",
                    step_us=step)
    ru.refresh(t)
    t.delete_where("id = 1", mode="cow")  # was open AND low
    ru.refresh(t)
    assert sorted(map(tuple, ru.read().collect())) \
        == _recompute_candles(t, step)
    [r] = ru.read().collect()
    assert r["open_value"] == 20.0 and r["low_value"] == 20.0


def test_rollup_prunes_superseded_versions(spark, tmp_path):
    """Every refresh writes a FULL rollup copy under v=<snapshot>;
    superseded versions past the mtime retention must be pruned (a
    per-micro-batch rollup accumulates whole-state copies forever
    otherwise), while the newest superseded version (crash-heal
    re-fold) and retention-fresh versions (in-flight lazy readers)
    survive (r12 review, both findings)."""
    t = IceTable.create(
        spark, str(tmp_path / "t"),
        _df(spark, [(1, "a", 10)]), partition_col=None, key_col="k")
    root = str(tmp_path / "ru")
    ru = MaterializedRollup(spark, root, group_cols=["g"],
                            sum_cols=["v"])
    ru.refresh(t)
    for i in range(2):
        t.append(_df(spark, [(10 + i, "b", 5)]))
        ru.refresh(t)
    # default retention: every superseded dir is fresh → all kept
    # (a lazy reader two refreshes behind must still collect)
    assert len([d for d in os.listdir(root)
                if d.startswith("v=")]) == 3
    # zero retention: prune to current + newest superseded only
    ru.version_retention_ms = 0
    t.append(_df(spark, [(12, "b", 5)]))
    ru.refresh(t)
    vers = sorted(d for d in os.listdir(root) if d.startswith("v="))
    cur = t.manifest.load(load_files=False).snapshot_id
    assert vers == [f"v={cur - 1}", f"v={cur}"]
    got = {r.g: (r.row_count, int(r.sum_v)) for r in ru.read().collect()}
    assert got == {"a": (1, 10), "b": (3, 15)}


def test_scan_incremental_surfaces_wap_publish(spark, tmp_path):
    """r14 review: a file staged on an audit branch keeps its PATH
    across stage→publish, so a path-presence diff would report nothing
    when the publish lands inside the (since, until] window — the
    main-view consumer must see the published rows as added. Both the
    row feed (scan_incremental) and its metadata companion
    (diff_stats) diff VISIBLE sets."""
    root = str(tmp_path / "t")
    t = IceTable.create(
        spark, root,
        spark.range(0, 10).withColumnRenamed("id", "k"),
        partition_col=None, key_col="k")
    t.append(spark.range(100, 110).withColumnRenamed("id", "k"),
             branch="audit")
    since = t.manifest.load(load_files=False).snapshot_id
    assert t.scan().count() == 10  # staged rows hidden on main
    t.publish_branch("audit")
    until = t.manifest.load(load_files=False).snapshot_id

    inc = t.scan_incremental(since=since, until=until)
    assert inc.count() == 10
    assert {r.k for r in inc.collect()} == set(range(100, 110))

    stats = {r.partition: r for r in
             t.diff_stats(since=since, until=until).collect()}
    assert sum(r.rows_added for r in stats.values()) == 10
    assert sum(r.rows_removed for r in stats.values()) == 0

    # and a branch staged across the WHOLE window stays invisible
    t.append(spark.range(200, 205).withColumnRenamed("id", "k"),
             branch="audit2")
    later = t.manifest.load(load_files=False).snapshot_id
    inc2 = t.scan_incremental(since=since, until=later)
    assert {r.k for r in inc2.collect()} == set(range(100, 110))
    stats2 = t.diff_stats(since=since, until=later).collect()
    assert sum(r.rows_added for r in stats2) == 10


def test_scan_incremental_wap_publish_sidecar_backed(spark, tmp_path,
                                                     monkeypatch):
    """Same WAP-publish visibility property when both snapshots are
    SIDECAR-backed: the one file diff reads the sidecar inventories
    and drops each side's staged seqs there too."""
    from iceberg_core_spark.table.manifest import Manifest

    monkeypatch.setattr(Manifest, "inline_max", 2)
    root = str(tmp_path / "t")
    t = IceTable.create(
        spark, root,
        spark.range(0, 12).withColumnRenamed("id", "k"),
        partition_col=None, key_col="k", max_rows_per_file=4)
    t.append(spark.range(100, 108).withColumnRenamed("id", "k"),
             branch="audit", max_rows_per_file=4)
    since = t.manifest.load(load_files=False).snapshot_id
    assert t.manifest.load(since, load_files=False).files_ref
    t.publish_branch("audit")
    until = t.manifest.load(load_files=False).snapshot_id

    inc = t.scan_incremental(since=since, until=until)
    assert {r.k for r in inc.collect()} == set(range(100, 108))
    stats = t.diff_stats(since=since, until=until).collect()
    assert sum(r.rows_added for r in stats) == 8
    assert sum(r.rows_removed for r in stats) == 0
