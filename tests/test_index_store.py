"""Index-store write and read paths under Spark's job accounting: the
per-kind writes run concurrently yet stay inside the caller's job group,
a failed kind leaves the watermark (or generation) where it was, and a
judge after a sync opens its readers without schema inference."""

import collections
import os
import time

import pytest
from pyspark.sql import functions as F

from iceberg_core_spark.functions.dedup_incremental import (
    AdmissionIndex,
    dedup_batch,
)
from iceberg_core_spark.functions.dedup_portable import N_BANDS
from iceberg_core_spark.table import IceTable

BASE = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lam mu nu xi omicron pi rho sigma tau upsilon phi chi")
DDL = "doc_id long, text string"


def _doc(i):
    return (i, f"document number {i} with its own words {BASE[: i * 7]}")


def _table(spark, root, ids):
    return IceTable.create(
        spark, root, spark.createDataFrame([_doc(i) for i in ids], DDL),
        partition_col=None, key_col="doc_id")


def _append(spark, t, ids):
    t.append(spark.createDataFrame([_doc(i) for i in ids], DDL))


def _kind_ids(idx):
    return {kind: collections.Counter(
                r["__cid"] for r in idx._read(kind, ["__cid"]).collect())
            for kind in idx._KIND_COLS}


def _assert_each_doc_once(idx, ids):
    per_kind = {"fp": 1, "bands": N_BANDS, "shingles": 1}
    for kind, counts in _kind_ids(idx).items():
        assert counts == {i: per_kind[kind] for i in ids}, kind


class _Jobs:
    """Job ids started inside a ``with`` block, bracketed by two marker
    jobs: ids are sequential, and once the closing marker is visible in
    the status tracker every job before it is too (the listener bus
    delivers in order)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()

    def _marker(self):
        group = f"marker-{os.urandom(4).hex()}"
        self.sc.setJobGroup(group, "marker")
        self.sc.parallelize([1], 1).count()
        deadline = time.monotonic() + 30
        while (not self.tracker.getJobIdsForGroup(group)
               and time.monotonic() < deadline):
            time.sleep(0.05)
        (job,) = self.tracker.getJobIdsForGroup(group)
        return job

    def __enter__(self):
        self.first = self._marker()
        return self

    def __exit__(self, *exc):
        self.last = self._marker()
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    @property
    def ids(self):
        return set(range(self.first + 1, self.last))


def test_sync_and_compact_jobs_stay_in_caller_job_group(spark, tmp_path):
    """Every job a sync or compact starts — the per-kind writes on their
    own threads included — belongs to the caller's job group, so
    cancelling the group covers them and per-op job counts see them."""
    t = _table(spark, str(tmp_path / "t"), [1, 2])
    idx = AdmissionIndex(spark, str(tmp_path / "idx"))
    idx.sync(t)
    _append(spark, t, [3, 4])
    group = f"g-{os.urandom(4).hex()}"
    with _Jobs(spark) as jobs:
        spark.sparkContext.setJobGroup(group, "sync + compact")
        assert idx.sync(t) == 1
        assert idx.compact() == 1
    tracker = spark.sparkContext.statusTracker()
    in_group = set(tracker.getJobIdsForGroup(group))
    # three kinds, each a write job in the sync and in the compact
    assert len(jobs.ids) >= 6
    assert jobs.ids <= in_group, sorted(jobs.ids - in_group)
    _assert_each_doc_once(idx, [1, 2, 3, 4])


def _poison(frame):
    # fails at execution, on the first row, with a recognisable message
    return frame.withColumn(
        "__cid", F.expr("CAST(raise_error('injected kind failure') AS BIGINT)"))


def test_failed_kind_write_keeps_watermark_and_heals(spark, tmp_path,
                                                     monkeypatch):
    """One kind's write raising fails the sync without advancing the
    watermark; the next sync rewrites every kind, leaving each document
    in each kind exactly once. A compact whose kind write fails leaves
    generation G authoritative and the verdicts unchanged."""
    t = _table(spark, str(tmp_path / "t"), [1, 2])
    idx = AdmissionIndex(spark, str(tmp_path / "idx"))
    idx.sync(t)
    synced = idx.synced_snapshot()
    _append(spark, t, [3, 4])

    frames = AdmissionIndex._frames

    def bad_frames(self, rows):
        out = frames(self, rows)
        out["bands"] = _poison(out["bands"])
        return out

    monkeypatch.setattr(AdmissionIndex, "_frames", bad_frames)
    with pytest.raises(Exception, match="injected kind failure"):
        idx.sync(t)
    assert idx.synced_snapshot() == synced
    monkeypatch.setattr(AdmissionIndex, "_frames", frames)
    assert idx.sync(t) == 1
    assert idx.synced_snapshot() == t.manifest.current_snapshot_id()
    _assert_each_doc_once(idx, [1, 2, 3, 4])

    batch = spark.createDataFrame([(100, _doc(3)[1]), (101, "nothing")],
                                  DDL)
    before = sorted(map(tuple, idx.judge(batch).collect()))
    gen = idx.generation()
    cluster = AdmissionIndex._cluster_for_write

    def bad_cluster(self, kind, frame, parts):
        out = cluster(self, kind, frame, parts)
        return _poison(out) if kind == "shingles" else out

    monkeypatch.setattr(AdmissionIndex, "_cluster_for_write", bad_cluster)
    with pytest.raises(Exception, match="injected kind failure"):
        idx.compact()
    assert idx.generation() == gen
    assert idx.synced_snapshot() == t.manifest.current_snapshot_id()
    assert sorted(map(tuple, idx.judge(batch).collect())) == before
    _assert_each_doc_once(idx, [1, 2, 3, 4])
    monkeypatch.setattr(AdmissionIndex, "_cluster_for_write", cluster)
    assert idx.compact() == gen + 1
    assert sorted(map(tuple, idx.judge(batch).collect())) == before
    _assert_each_doc_once(idx, [1, 2, 3, 4])


def test_judge_after_sync_builds_without_jobs(spark, tmp_path):
    """After a first judge, a sync moves only the watermark: the next
    judge's readers reuse each kind's schema, so building the judge
    frame starts no Spark job (it started one schema-inference job per
    kind). Verdicts stay byte-identical to the scan-derived path, also
    after a compact moves the generation."""
    ids = [1, 2, 3]
    t = _table(spark, str(tmp_path / "t"), ids)
    idx = AdmissionIndex(spark, str(tmp_path / "idx"))
    idx.sync(t)
    batch = spark.createDataFrame(
        [(100, _doc(3)[1]), (101, _doc(5)[1] + " omega"),
         (102, "nothing alike here")], DDL)
    idx.judge(batch).collect()

    def want():
        corpus = spark.createDataFrame([_doc(i) for i in ids], DDL)
        return sorted(map(tuple, dedup_batch(corpus, batch).collect()))

    _append(spark, t, [4, 5])
    ids += [4, 5]
    assert idx.sync(t) == 1
    with _Jobs(spark) as jobs:
        df = idx.judge(batch)
    assert jobs.ids == set()
    assert sorted(map(tuple, df.collect())) == want()

    assert idx.compact() == 1
    assert sorted(map(tuple, idx.judge(batch).collect())) == want()
