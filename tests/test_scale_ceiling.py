"""Driver-side planning ceiling under a LARGE manifest.

The documented scale story for sidecar-backed snapshots is that the
driver materializes only (path, seq) STUBS for the files a plan
actually touches (scan_incremental's change feed, _pruned_files
survivors, compact victims) — never parsed entry_json documents. At
~100 bytes of JVM-side stub per file that is ~10 MB for 100k files;
this test VERIFIES the Python-side cost of that claim instead of
assuming it: a synthetic 100k-entry sidecar (hardlinks to one real
parquet file keep the table metadata-only) is planned end-to-end and
the stub materialization must stay inside a fixed time/memory budget.
"""

import contextlib
import json
import os
import time
import tracemalloc

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from iceberg_core_spark.table import IceTable
from iceberg_core_spark.table.manifest import Manifest, ManifestFile, Snapshot

N_FILES = 100_000
N_BASE = 100  # entries already present in the `since` snapshot
# IceTable._file_diff's documented ceiling, ~180 B per file of the two
# snapshots, with headroom for the sidecar reads' decode buffers
ARROW_DIFF_BUDGET = 400 * (N_FILES + N_BASE)


@pytest.fixture(scope="module")
def big_manifest_table(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("ceil") / "t")
    seed_df = spark.range(5).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    t = IceTable.create(spark, root, seed_df, key_col="k")
    real = [f for f in t.manifest.load().files][0]
    real_abs = os.path.join(root, real.path)

    # 100k hardlinks: distinct paths, (almost) zero data copy. ext4
    # caps links/inode at ~65k, so spread the links over 4 physical
    # copies of the tiny seed file.
    import shutil as _sh

    link_dir = os.path.join(root, "data", "synthetic")
    os.makedirs(link_dir)
    sources = []
    for j in range(4):
        src = os.path.join(link_dir, f"_src{j}.parquet.orig")
        _sh.copyfile(real_abs, src)
        sources.append(src)
    entries = []
    for i in range(N_FILES):
        rel = os.path.join("data", "synthetic", f"f{i:06d}.parquet")
        os.link(sources[i % 4], os.path.join(root, rel))
        entries.append(ManifestFile(
            path=rel, partition=None, key_min=i * 10, key_max=i * 10 + 9,
            rows=5, bytes=real.bytes, content_hash=f"h{i:06d}",
            seq=0 if i < N_BASE else 1,
        ))

    man = t.manifest
    base_ref = "files-base-synth.parquet"
    cur_ref = "files-cur-synth.parquet"
    man._write_files_sidecar(entries[:N_BASE], ["k"], base_ref)
    man._write_files_sidecar(entries, ["k"], cur_ref)
    prev = man.load(load_files=False)

    def synth_snapshot(sid, parent, ref, count):
        return Snapshot(
            snapshot_id=sid, parent_id=parent,
            timestamp_ms=Manifest.now_ms(), operation="append",
            schema_json=prev.schema_json, partition_col=None, key_col="k",
            files=[], delete_predicates=[], stat_cols=["k"], zorder_by=[],
            files_ref=ref, files_count=count,
        )

    man.commit(synth_snapshot(prev.snapshot_id + 1, prev.snapshot_id,
                              base_ref, N_BASE))
    man.commit(synth_snapshot(prev.snapshot_id + 2, prev.snapshot_id + 1,
                              cur_ref, N_FILES))
    return IceTable(spark, root), prev.snapshot_id + 1


@contextlib.contextmanager
def arrow_peak():
    """Upper bound on the growth of Arrow's memory pool inside the
    block (Arrow buffers sit outside tracemalloc's view): the block
    allocates from the system-allocator pool, a process-wide static
    pool the code never uses by default, and reports its high-water
    mark minus the bytes it held on entry."""
    pool, old = pa.system_memory_pool(), pa.default_memory_pool()
    held = pool.bytes_allocated()
    out = {}
    pa.set_memory_pool(pool)
    try:
        yield out
    finally:
        pa.set_memory_pool(old)
        out["peak"] = pool.max_memory() - held


def test_sidecar_stub_budget_100k(big_manifest_table):
    """Reconstructing every stub of the 100k sidecar must cost ~100
    bytes/file Python-side — the documented planning budget."""
    t, _base = big_manifest_table
    snap = t.manifest.load(load_files=False)
    assert snap.files_count == N_FILES

    tracemalloc.start()
    inv = t.manifest.inventory(snap, ["path", "seq"])
    pairs = zip(inv["path"].to_pylist(), inv["seq"].to_pylist())
    stubs = [
        ManifestFile(path=p, partition=None, key_min=None, key_max=None,
                     rows=0, bytes=0, content_hash="", seq=s)
        for p, s in pairs
    ]
    _cur, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    assert len(stubs) == N_FILES
    per_file = peak / N_FILES
    # budget: path string (~30 chars) + dataclass + list slot; the
    # assertion bounds it at 400 B/file (≈40 MB at 1M surviving files)
    assert per_file < 400, f"stub cost {per_file:.0f} B/file"


def test_incremental_planning_bounded_100k(big_manifest_table):
    """scan_incremental over a 100k-file sidecar: the file diff runs on
    the driver over the two inventories' Arrow (path, seq) columns and
    only the ADDED files' (path, seq) stubs become Python objects.
    Planning (feed construction + file index) must finish in seconds
    and stay within the stub budget on the Python side and within the
    diff's documented ceiling in Arrow's pool — it must NOT parse 100k
    entry_json documents."""
    t, base = big_manifest_table
    t0 = time.monotonic()
    tracemalloc.start()
    with arrow_peak() as arrow:
        feed = t.scan_incremental(since=base)
    n_inputs = len(feed.inputFiles())
    _cur, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    elapsed = time.monotonic() - t0
    assert n_inputs == N_FILES - N_BASE
    assert peak < 100 * 1024 * 1024, f"planning peak {peak/1e6:.0f} MB"
    assert arrow["peak"] < ARROW_DIFF_BUDGET, \
        f"Arrow planning peak {arrow['peak']/1e6:.0f} MB"
    # generous wall budget: the claim is "not O(100k JSON parses)"
    # (minutes), not a latency SLO — host-elevation windows (BASELINE.md
    # r5 addendum) breached a 120 s budget once with the plan unchanged
    assert elapsed < 300, f"planning took {elapsed:.0f}s"


def test_changelog_planning_bounded_100k(big_manifest_table):
    """scan_changes over a 100k-file sidecar window: planning stays in
    the (path, seq) stub budget (column-projected pyarrow read, no
    entry_json parse) and the diff plan reads only the CHANGED files —
    an append-only window diffs as added-files-only, the since side
    contributes an empty scan."""
    t, base = big_manifest_table
    t0 = time.monotonic()
    tracemalloc.start()
    with arrow_peak() as arrow:
        ch = t.scan_changes(since=base)
    n_inputs = len(ch.inputFiles())
    _cur, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    elapsed = time.monotonic() - t0
    assert n_inputs == N_FILES - N_BASE
    assert peak < 100 * 1024 * 1024, f"planning peak {peak/1e6:.0f} MB"
    assert arrow["peak"] < ARROW_DIFF_BUDGET, \
        f"Arrow planning peak {arrow['peak']/1e6:.0f} MB"
    assert elapsed < 300, f"planning took {elapsed:.0f}s"


def test_diff_stats_planning_bounded_100k(big_manifest_table):
    """diff_stats over a 100k-file sidecar window: the diff and the
    per-partition rollup run on the driver over Arrow columns (path,
    seq, partition_n, rows, bytes) inside the diff's documented ceiling,
    and only the two small rollups become DataFrames."""
    t, base = big_manifest_table
    tracemalloc.start()
    with arrow_peak() as arrow:
        d = t.diff_stats(since=base)
    _cur, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    rows = d.collect()
    assert [(r.partition, r.files_added, r.rows_added, r.files_removed)
            for r in rows] == [(None, N_FILES - N_BASE,
                                5 * (N_FILES - N_BASE), 0)]
    assert peak < 100 * 1024 * 1024, f"planning peak {peak/1e6:.0f} MB"
    assert arrow["peak"] < ARROW_DIFF_BUDGET, \
        f"Arrow planning peak {arrow['peak']/1e6:.0f} MB"


def test_pruned_query_survivor_stubs_100k(big_manifest_table):
    """A selective key-range query over the 100k-entry sidecar prunes
    with one driver-side Arrow scan (no Spark job); only the ~10
    surviving stubs ever materialize as Python objects
    (survivors-only planning)."""
    t, _base = big_manifest_table
    snap = t.manifest.load(load_files=False)
    t0 = time.monotonic()
    tracemalloc.start()
    survivors = t._pruned_files(snap, lo=500_000, hi=500_099)
    _cur, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    elapsed = time.monotonic() - t0
    # keys are i*10..i*10+9 per file: 100 keys span ~10-11 files
    assert 0 < len(survivors) <= 12
    assert elapsed < 60, f"pruning took {elapsed:.0f}s"
    # stubs carry no parsed stats — the entry_json documents stay on disk
    assert all(f.key_min is None and not f.col_stats for f in survivors)
    # Python-side peak: a handful of stubs, not a 100k-element path
    # list (~10 MB) and never parsed entry_json documents (~100 MB)
    assert peak < 2_000_000, f"planning peak {peak} bytes"


def test_partitions_df_distributed_100k(big_manifest_table):
    """partitions_df over a 100k-file sidecar must aggregate the
    sidecar SCAN (a Spark job), not driver-side entries: planning +
    execution stays in seconds and the driver never parses 100k
    entry_json documents."""
    t, _base = big_manifest_table
    t0 = time.monotonic()
    tracemalloc.start()
    rows = t.partitions_df().collect()
    _cur, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    elapsed = time.monotonic() - t0
    # synthetic entries carry partition=None → a single rollup row
    assert len(rows) == 1
    assert rows[0].file_count == N_FILES
    assert rows[0].row_count == 5 * N_FILES
    assert peak < 50 * 1024 * 1024, f"driver peak {peak/1e6:.0f} MB"
    assert elapsed < 60, f"partitions_df took {elapsed:.0f}s"


def test_sidecar_bytes_on_disk_100k(big_manifest_table):
    """The 100k sidecar itself stays small on disk (column-compressed
    parquet) — the metadata plane scales sublinearly with entry count."""
    t, _base = big_manifest_table
    snap = t.manifest.load(load_files=False)
    size = os.path.getsize(t.manifest.sidecar_path(snap.files_ref))
    assert size < 64 * 1024 * 1024  # well under 640 B/file

    # entry_json reconstruction still works for a sampled stub
    tbl = pq.read_table(t.manifest.sidecar_path(snap.files_ref),
                        columns=["entry_json"])
    f = ManifestFile.from_json(json.loads(tbl["entry_json"][0].as_py()))
    assert f.path.endswith(".parquet")


def test_maintenance_probe_bounded_100k(big_manifest_table):
    """maintain()'s fragmentation probe on a sidecar-backed 100k-file
    snapshot groups the partition column of the sidecar with Arrow on
    the driver and returns ONE number — no Spark job, no entry
    materialization, bounded driver time/memory (the Arrow buffers sit
    in Arrow's memory pool, which tracemalloc does not see)."""
    t, _ = big_manifest_table
    snap = t.manifest.load(load_files=False)
    assert snap.files_ref is not None
    tracemalloc.start()
    t0 = time.time()
    frag = t._max_files_per_partition(snap)
    elapsed = time.time() - t0
    _, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    # every synthetic entry shares partition=None → one partition
    assert frag == N_FILES
    assert elapsed < 30, f"probe took {elapsed:.1f}s"
    # Python-side peak: a scalar came back, not 100k entries (~10 MB)
    assert peak < 2_000_000, f"peak {peak} bytes"


def test_append_onto_100k_sidecar_parses_no_entry(spark, tmp_path,
                                                  monkeypatch):
    """A 1-file append onto a 100k-entry sidecar copies the parent's
    rows as stored, batch by batch: neither its content-hash dedupe
    (one Arrow pass over entry_json) nor its commit parses a parent
    entry, and the Python-side peak stays far below the ~100 MB that
    100k parsed entries take. Its own table: the module's shared one
    stays as the other tests expect it."""
    root = str(tmp_path / "t")
    t = IceTable.create(spark, root, spark.range(5).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")), key_col="k")
    prev = t.manifest.load(load_files=False)
    ref = "files-synth.parquet"
    t.manifest._write_files_sidecar([ManifestFile(
        path=os.path.join("data", "synthetic", f"f{i:06d}.parquet"),
        partition=None, key_min=i * 10, key_max=i * 10 + 9, rows=5,
        bytes=1000, content_hash=f"h{i:06d}") for i in range(N_FILES)],
        [], ref)
    t.manifest.commit(prev.child("append", files=[], files_ref=ref,
                                 files_count=N_FILES))

    parsed, from_json = [], ManifestFile.from_json

    def counting(d):
        parsed.append(d["path"])
        return from_json(d)

    monkeypatch.setattr(ManifestFile, "from_json", staticmethod(counting))
    one_row = spark.range(2_000_000, 2_000_001).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    tracemalloc.start()
    snap = t.append(one_row)
    _cur, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    monkeypatch.undo()
    assert len(parsed) == 1 and not parsed[0].startswith(
        os.path.join("data", "synthetic"))
    assert snap.files_count == N_FILES + 1
    assert os.path.isfile(t.manifest.sidecar_path(snap.files_ref))
    # measured ~0.5 MB (Arrow batches sit in Arrow's pool, unseen)
    assert peak < 5_000_000, f"append peak {peak} bytes"
    assert [r.v for r in t.query(lo=2_000_000, hi=2_000_000).collect()
            ] == [4_000_000]
