#!/usr/bin/env python
"""Time a large ``IceTable.create`` commit and report driver memory.

Creates an unpartitioned table of ``<files>`` two-row parquet files
(far above ``Manifest.inline_max``, so the file list lands as a
sidecar) and prints one JSON line:

- ``create_ms``: wall time of the whole create;
- ``commit_ms``: the part after the data write — from the first
  listing of the new commit dir (both the commit's file listing and
  everything after it: the stats job, entries and sidecar);
- ``py_rss_mb_before`` / ``py_rss_mb_peak``: the Python driver's peak
  RSS before and after the create (``ru_maxrss``);
- ``jvm_hwm_mb``: the driver JVM's peak RSS (``VmHWM``) after it;
- ``form``: ``file`` (single-file sidecar) or ``dir`` (Spark-written).

Usage: python scripts/measure_create_commit.py <checkout> <files> [out.jsonl]

Run one create per process so the peaks belong to it; alternate two
checkouts (e.g. a commit and its parent unpacked with ``git archive``)
run for run.
"""

from __future__ import annotations

import json
import os
import resource
import shutil
import sys
import tempfile
import time


def _mb_rss() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024


def _jvm_hwm_mb(pid: int) -> float | None:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return round(int(line.split()[1]) / 1024, 1)
    except OSError:
        pass
    return None


def main() -> None:
    repo, n_files = os.path.abspath(sys.argv[1]), int(sys.argv[2])
    out = sys.argv[3] if len(sys.argv) > 3 else None
    sys.path.insert(0, repo)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [repo] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    from iceberg_core_spark import get_spark
    from iceberg_core_spark.table import IceTable

    spark = get_spark()
    d = tempfile.mkdtemp(prefix="create-commit-")
    root = os.path.join(d, "t")
    data = os.path.join(root, "data") + os.sep
    listed: list[float] = []
    walk = os.walk

    def timed_walk(top, *a, **k):
        if not listed and str(top).startswith(data):
            listed.append(time.perf_counter())
        return walk(top, *a, **k)

    os.walk = timed_walk
    df = spark.range(0, 2 * n_files).selectExpr(
        "id", "cast(id * 7 as string) as payload")
    rss0 = _mb_rss()
    t0 = time.perf_counter()
    t = IceTable.create(spark, root, df, key_col="id", max_rows_per_file=2)
    t1 = time.perf_counter()
    os.walk = walk
    snap = t.manifest.load(load_files=False)
    path = t.manifest.sidecar_path(snap.files_ref)
    rec = {"checkout": repo, "files": snap.files_count,
           "create_ms": round((t1 - t0) * 1e3, 1),
           "commit_ms": round((t1 - listed[0]) * 1e3, 1),
           "py_rss_mb_before": round(rss0, 1),
           "py_rss_mb_peak": round(_mb_rss(), 1),
           "jvm_hwm_mb": _jvm_hwm_mb(spark.sparkContext._gateway.proc.pid),
           "form": "file" if os.path.isfile(path) else "dir"}
    line = json.dumps(rec)
    if out:
        with open(out, "a") as f:
            f.write(line + "\n")
    print(line)
    shutil.rmtree(d, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
