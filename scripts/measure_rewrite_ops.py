#!/usr/bin/env python
"""Time the commits on a sidecar-backed table and count their Spark
jobs and the manifest form each commit lands in.

Builds (``create``, timed) a 48k-row table of 1536 files over 64
partitions (above ``Manifest.inline_max``, so its file list is a
Parquet sidecar) and scans it once, untimed. Then runs four rounds of
``delete_range`` (a key range in one partition), a CoW ``upsert`` into
one partition, ``overwrite_partitions`` of another and an ``append``
of rows already in the table (the content-hash dedupe drops its
files). Then times the metadata-plane reads, three times each, on the
same table: ``scan_incremental`` and ``scan_changes`` since the create
(plan plus ``count()``), ``diff_stats`` since the create
(``collect()``), ``files_df().count()`` and ``history_df().collect()``;
and one ``compact``. Prints one JSON line: per-op wall times (ms),
Spark jobs per op (job groups, read after a probe job so the listener
bus has caught up), and the form of each commit (``file``: single-file
sidecar, ``inline``: JSON; a ``dir`` is the directory-shaped sidecar
older versions wrote with a Spark job).

Usage: python scripts/measure_rewrite_ops.py <checkout> <seed> [out.jsonl]

``<checkout>`` is the source tree whose ``iceberg_core_spark`` is
measured, so two checkouts (e.g. a commit and its parent unpacked with
``git archive``) can be compared run for run.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

N_ROWS, N_PARTS, ROWS_PER_FILE, ROUNDS, READS = 48_000, 64, 32, 4, 3


def main() -> None:
    repo, seed = os.path.abspath(sys.argv[1]), int(sys.argv[2])
    out = sys.argv[3] if len(sys.argv) > 3 else None
    sys.path.insert(0, repo)
    # the Python workers Spark starts import the same checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [repo] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    from iceberg_core_spark import get_spark
    from iceberg_core_spark.table import IceTable

    spark = get_spark()
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    d = tempfile.mkdtemp(prefix="rewrite-ops-")
    df = spark.range(0, N_ROWS).selectExpr(
        "id", f"id % {N_PARTS} as part", "cast(id * 7 as string) as payload")
    root = os.path.join(d, "t")
    t = IceTable(spark, root)
    ms, jobs, forms = {}, {}, {}

    def form() -> str:
        s = t.manifest.load(load_files=False)
        if not s.files_ref:
            return "inline"
        path = t.manifest.sidecar_path(s.files_ref)
        return "file" if os.path.isfile(path) else "dir"

    def timed(name, fn, commits=True) -> None:
        group = f"{name}-{os.urandom(3).hex()}"
        sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        fn()
        ms.setdefault(name, []).append((time.perf_counter() - t0) * 1e3)
        sc.setLocalProperty("spark.jobGroup.id", None)
        if commits:
            forms[name] = form()
        probe = f"probe-{os.urandom(3).hex()}"
        sc.setJobGroup(probe, "listener-bus probe")
        spark.range(1).collect()
        sc.setLocalProperty("spark.jobGroup.id", None)
        while not tracker.getJobIdsForGroup(probe):
            time.sleep(0.05)
        jobs.setdefault(name, []).append(
            len(tracker.getJobIdsForGroup(group)))

    timed("create", lambda: IceTable.create(
        spark, root, df, partition_col="part", key_col="id",
        max_rows_per_file=ROWS_PER_FILE))
    snap = t.manifest.load(load_files=False)
    assert snap.files_ref, "table is not sidecar-backed"
    since = snap.snapshot_id
    # rows the table already holds, from a partition no op rewrites:
    # the same files each round, so every append after the first has
    # all of them deduped away
    dup = df.filter(f"part = {(seed + 8) % N_PARTS} AND id < 4000")
    t.append(dup)
    # untimed first read of table files: the JVM's parquet read path
    # warms up here, not inside the first timed op
    t.scan().count()
    schema = "id long, part long, payload string"
    for k in range(ROUNDS):
        p, lo = (seed + k) % N_PARTS, 1000 * k
        timed("delete_range",
              lambda: t.delete_range(partition=p, lo=lo, hi=lo + 2000))
        ids = range(p + 4000 * k, p + 4000 * k + 800, N_PARTS)
        batch = spark.createDataFrame([(i, p, f"u{i}") for i in ids], schema)
        timed("upsert", lambda: t.upsert(batch, key_cols=["part", "id"]))
        other = spark.createDataFrame(
            [(N_ROWS + k, (p + N_PARTS // 2) % N_PARTS, "ow")], schema)
        timed("overwrite_partitions", lambda: t.overwrite_partitions(other))
        timed("append", lambda: t.append(dup))
    reads = {
        "scan_incremental": lambda: t.scan_incremental(since=since).count(),
        "scan_changes": lambda: t.scan_changes(since=since).count(),
        "diff_stats": lambda: t.diff_stats(since=since).collect(),
        "files_df": lambda: t.files_df().count(),
        "history_df": lambda: t.history_df().collect(),
    }
    for _ in range(READS):
        for name, fn in reads.items():
            timed(name, fn, commits=False)
    timed("compact", t.compact)
    rec = {"checkout": repo, "seed": seed, "files": snap.files_count,
           "ms_median": {k: round(statistics.median(v), 1)
                         for k, v in ms.items()},
           "ms": {k: [round(x, 1) for x in v] for k, v in ms.items()},
           "jobs": jobs, "form": forms, "rows": t.scan().count()}
    line = json.dumps(rec)
    if out:
        with open(out, "a") as f:
            f.write(line + "\n")
    print(line)
    shutil.rmtree(d, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
