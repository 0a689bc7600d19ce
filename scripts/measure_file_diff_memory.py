#!/usr/bin/env python
"""Peak Arrow memory and wall time of ``IceTable._file_diff``, the
driver-side split behind ``scan_incremental``, ``scan_changes`` and
``diff_stats``, on two synthetic sidecar snapshots.

Writes a sidecar of ``N`` files and one of its first ``N/2`` files
(~50-character paths, 64 partitions) with the manifest's own sidecar
writer into a temporary directory, then diffs the two for the columns
the change feeds read, (path, seq), and the ones ``diff_stats`` reads,
(path, seq, partition_n, rows, bytes). Each diff allocates from the
system-allocator pool, a static Arrow pool the library never uses by
default, so that pool's high-water mark is the diff's own peak. No
Spark session is started. Prints one JSON line per column set.

Usage: python scripts/measure_file_diff_memory.py [N] [checkout]

``N`` defaults to 100000; ``checkout`` (default: this repository) is
the source tree whose ``iceberg_core_spark`` is measured.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

N = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
sys.path.insert(0, sys.argv[2] if len(sys.argv) > 2
                else os.path.dirname(os.path.dirname(os.path.abspath(
                    __file__))))

import pyarrow as pa  # noqa: E402

from iceberg_core_spark.table.ice_table import IceTable  # noqa: E402
from iceberg_core_spark.table.manifest import (  # noqa: E402
    Manifest, ManifestFile, Snapshot)


def snapshot(sid: int, ref: str, n: int) -> Snapshot:
    return Snapshot(snapshot_id=sid, parent_id=None, timestamp_ms=0,
                    operation="append", schema_json="{}", partition_col="p",
                    key_col="k", files_ref=ref, files_count=n)


def main() -> None:
    with tempfile.TemporaryDirectory() as root:
        man = Manifest(root)
        os.makedirs(man.dir)
        files = [ManifestFile(
            path=f"data/s1-abcdef12/_p={i % 64}/part-{i:06d}-c000.parquet",
            partition=i % 64, key_min=i * 10, key_max=i * 10 + 9, rows=5,
            bytes=1000, content_hash=f"h{i:06d}",
            seq=0 if i < N // 2 else 1) for i in range(N)]
        man._write_files_sidecar(files[:N // 2], [], "files-base.parquet")
        man._write_files_sidecar(files, [], "files-cur.parquet")
        del files
        t = IceTable(None, root)
        base = snapshot(0, "files-base.parquet", N // 2)
        cur = snapshot(1, "files-cur.parquet", N)
        pool, default = pa.system_memory_pool(), pa.default_memory_pool()
        for cols in [("path", "seq"),
                     ("path", "seq", "partition_n", "rows", "bytes")]:
            held = pool.bytes_allocated()
            floor = pool.max_memory()
            pa.set_memory_pool(pool)
            try:
                t0 = time.monotonic()
                added, removed, common = t._file_diff(cur, base, cols)
                ms = (time.monotonic() - t0) * 1000
            finally:
                pa.set_memory_pool(default)
            peak = pool.max_memory() - held
            print(json.dumps({
                "files_cur": N, "files_base": N // 2, "columns": list(cols),
                "added": added.num_rows, "removed": removed.num_rows,
                "common": common.num_rows, "ms": round(ms),
                "arrow_peak_bytes": peak,
                "bytes_per_file": round(peak / (N + N // 2)),
                # False: the pool's high-water mark is an earlier set's,
                # so the peak is only bounded from above
                "exact": pool.max_memory() > floor}))
            del added, removed, common


if __name__ == "__main__":
    main()
