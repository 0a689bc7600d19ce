"""IceTable — partitioned, key-clustered Parquet table with manifest pruning.

This is the Spark-native re-expression of the reference's entire storage
engine (SURVEY.md §2.A R3-R17):

- identity partitioning on one column  (reference filesystemStorageAdapter.go:26-28)
- key clustering within partitions     (reference block.go:36-58)
- per-file min/max statistics          (reference block.go:109-115 — filename-encoded
  there, manifest-encoded here, with TRUE min/max: the reference's max bug
  at block.go:41-43 is not replicated)
- min/max file pruning at query time   (reference block.go:143-199)
- content-hash idempotence             (reference block.go:94-115)
- range query partition+key            (reference storageAdapter.go:4,
  filesystemStorageAdapter.go:128-163)
- plus capabilities the reference lacks: snapshots/time travel, compaction,
  schema-checked appends.

Scale design:
- The write path is one shuffle: ``repartitionByRange(partition, key)``
  spreads hot partition values across tasks (no per-partition-value skew,
  unlike hash-routing one value to one writer as the reference's
  BlockManager does) while keeping (partition, key) locality, so every
  emitted file covers a narrow key range → maximal pruning.
- ``maxRecordsPerFile`` is the reference's MaxSize flush (R6).
- The read path is ONE Catalyst plan: manifest pruning selects files
  (metadata-only, no data I/O), then the same predicate is pushed into
  the Parquet scan as row-group skipping + residual filter. No collect()
  anywhere — ``query()`` returns a DataFrame.
- Stats collection reads only Parquet footers and hashes bytes in ONE
  kind of SPARK TASK (``_entries_df``); the driver never reads data
  bytes. Every commit then has ONE form, as in Iceberg (tasks hand
  their file entries to the driver, the driver writes the manifest):
  the new entries are collected (``_collect_entries``) and the file set
  lands inline, or as a single-file sidecar written on the driver. A
  sidecar parent's carried-over rows are copied as stored, batch by
  batch, never parsed, and content-hash dedupe against them is one
  Arrow pass (``Manifest.known_hashes``). Driver memory per commit is
  O(files the commit writes) plus one row group of carried rows.
- Every file-rewriting op (delete_range, the CoW upsert/merge/CDC,
  overwrite_partitions, compact) splits the files into rewritten and
  carried-over in ONE planner (``_plan_rewrite``): an Arrow filter over
  the file inventory, read in the sidecar encoding in either manifest
  regime, on the driver with no Spark job. Only the rewritten files'
  (path, seq) stubs become Python objects; a sidecar's carried-over
  entries are never parsed (the commit copies them as stored).
- The read and metadata plane reads the same inventory
  (``Manifest.inventory``) in either regime: scan takes (path, seq)
  stubs of it (sidecar query pruning reads the same columns through
  an Arrow filter), the change feeds
  (scan_incremental, scan_changes, diff_stats) split two snapshots'
  inventories in one driver-side diff (``_file_diff``), and
  ``stats()``, the maintain probe, ``history_df`` and expiry aggregate
  or list its columns. None of them starts a Spark job to plan or
  parses an entry.
- Multi-writer safe: lock-free optimistic concurrency (see
  table/manifest.py). Every data commit goes through one
  compare-and-swap loop (``_commit_entries``) with automatic
  append/overwrite/add_files rebase; metadata-only ops retry through
  ``_commit_metadata``.
"""

from __future__ import annotations

import errno
import functools
import json
import operator
import os
import re
import shutil
import time
from dataclasses import dataclass
from typing import Any, NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from iceberg_core_spark.table.manifest import (
    _MANIFEST_DIR,
    CommitConflictError,
    KeptSidecar,
    Manifest,
    ManifestFile,
    Snapshot,
    _fold_chains,
    _norm_stat,
    current_spec_filter,
    sidecar_encode,
    sidecar_keep_filter,
    sidecar_stat_cols,
)

_PART_DIR_COL = "_p"  # directory-layout twin of the partition column


@dataclass
class MaintenancePolicy:
    """Thresholds for ``IceTable.maintain()`` — compact once any
    partition accumulates ``max_files_per_partition`` files, rewrite to
    ``target_rows_per_file``, and keep at most ``keep_snapshots``
    history entries (None = never expire). Defaults suit a streaming
    ingest ticking maintain() every N micro-batches."""

    max_files_per_partition: int = 8
    target_rows_per_file: int = 1_000_000
    keep_snapshots: int | None = 20
    # None = never scan for orphans; otherwise remove_orphans runs each
    # tick with this mtime retention (keep well above any writer's
    # worst-case commit latency — see remove_orphans)
    orphan_retention_ms: int | None = None
    # Replay-protection pin TTL passed to expire_snapshots: a lineage
    # idle longer than this loses its last_committed_batch pin, so an
    # at-least-once redelivery could re-append a committed batch.
    # Raise it for long-idle streams (e.g. daily batch-over-streaming
    # checkpoints); the default matches remove_orphans' 7-day
    # discipline.
    lineage_retention_ms: int = 7 * 24 * 3600 * 1000
    # Refresh the table's Bloom store each tick (no-op unless
    # build_bloom was called at least once to record a config):
    # compaction rewrites files under new paths, so the blooms of a
    # continuously-maintained table would otherwise decay to
    # conservative no-prune coverage.
    refresh_bloom: bool = True
    # Generation-flip the bloom store (fold increments, drop rows for
    # dead paths) whenever a tick compacted the table, or once this
    # many store dirs accumulate. None = never auto-compact the store.
    bloom_compact_min_dirs: int | None = 4


def _hidden_seqs(snap, branch: str | None = None) -> set:
    """Data sequence numbers hidden by write-audit-publish staging:
    every snapshot id staged on a branch OTHER than ``branch`` (None =
    the main view, which hides all staged commits). File visibility is
    ``f.seq not in hidden`` — the same integer scoping MoR deletes use."""
    staged = snap.staged or {}
    return {s for b, ids in staged.items() if b != branch for s in ids}


def _resolve_pred_seqs(preds: list[dict] | None, sid: int) -> list[dict]:
    """Resolve the ``"seq": "commit"`` sentinel to the snapshot id the
    commit actually lands as. A predicate created in the same commit as
    its exempt data files (apply_cdc mode="mor") cannot know its seq up
    front — rebase/retry can shift the id — so both commit paths
    resolve it at Snapshot construction time."""
    return [
        {**p, "seq": sid} if p.get("seq") == "commit" else p
        for p in (preds or [])
    ]


def _canon_schema(s):
    """Canonical form of a Spark schema ``jsonValue`` tree: field names
    and types only. Frames re-read from parquet come back all-nullable
    with metadata stripped; for commit/CAS purposes that is NOT a schema
    change (Iceberg compares field ids/types, never nullability of a
    rewritten frame)."""
    if isinstance(s, dict):
        t = s.get("type")
        if t == "struct":
            return ("struct", tuple(
                (f["name"], _canon_schema(f["type"])) for f in s["fields"]))
        if t == "array":
            return ("array", _canon_schema(s["elementType"]))
        if t == "map":
            return ("map", _canon_schema(s["keyType"]),
                    _canon_schema(s["valueType"]))
        return ("other", json.dumps(
            {k: v for k, v in s.items() if k not in ("nullable", "metadata")},
            sort_keys=True))
    return s


def _schemas_equivalent(a_json: str, b_json: str) -> bool:
    """True when two schema_json strings describe the same logical table
    schema (names + types, ignoring nullability/metadata). The CAS
    rebase guard uses this: a maintenance compact whose rewritten frame
    lost non-nullability must not read as a 'concurrent schema change'
    to a racing append (r5 flaky OCC bug — the append aborted instead
    of rebasing and a self-maintaining ingest would drop batches)."""
    if a_json == b_json:
        return True
    return _canon_schema(json.loads(a_json)) == _canon_schema(
        json.loads(b_json))


def _not_true(cond):
    """DELETE semantics: a row is deleted only when the predicate is
    TRUE; rows where it evaluates NULL are KEPT. A bare ~cond would
    silently drop them (~NULL is NULL, filtered out)."""
    return ~F.coalesce(cond, F.lit(False))


def _file_stats(path: str, key_col: str | None,
                stat_cols: tuple[str, ...] = ()):
    """Per-file (rows, key_min, key_max, col_stats, schema_fp) from the
    Parquet footer only — no data pages are read. ``stat_cols`` extends
    min/max tracking beyond the key column. ``schema_fp`` is a canonical
    fingerprint of the footer schema, sorted by name: the Spark read
    path resolves columns by name, so field ORDER differences are not
    schema divergence."""
    import decimal

    import pyarrow as pa
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(path)
    md = pf.metadata
    rows = md.num_rows
    key_min = key_max = None
    col_stats: dict[str, list] = {}
    name_to_idx = {md.schema.column(i).name: i for i in range(md.num_columns)}

    def norm(v):
        # tz-aware stats (UTC-adjusted parquet timestamps) → naive UTC,
        # matching the session's UTC semantics and naive query bounds
        import datetime as _dt

        if isinstance(v, _dt.datetime) and v.tzinfo is not None:
            return v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return v

    def bounds(st, i: int):
        try:
            return norm(st.min), norm(st.max)
        except pa.ArrowNotImplementedError:
            # a decimal stored as INT32/INT64: pyarrow does not decode
            # its stats, but the raw unscaled integers are exact
            c = md.schema.column(i)
            if c.logical_type.type != "DECIMAL":
                raise
            return (decimal.Decimal(st.min_raw).scaleb(-c.scale),
                    decimal.Decimal(st.max_raw).scaleb(-c.scale))

    def merge(col: str, group):
        if col not in name_to_idx:
            return
        st = group.column(name_to_idx[col]).statistics
        if st is None or not st.has_min_max:
            return
        mn, mx = bounds(st, name_to_idx[col])
        cur = col_stats.get(col)
        if cur is None:
            col_stats[col] = [mn, mx]
        else:
            cur[0] = min(cur[0], mn)
            cur[1] = max(cur[1], mx)

    for rg in range(md.num_row_groups):
        group = md.row_group(rg)
        for col in set(stat_cols) | ({key_col} if key_col else set()):
            merge(col, group)
    if key_col and key_col in col_stats:
        key_min, key_max = col_stats[key_col]
    schema_fp = ";".join(sorted(f"{f.name}:{f.type}" for f in pf.schema_arrow))
    return rows, key_min, key_max, {
        c: (v[0], v[1]) for c, v in col_stats.items()
    }, schema_fp


def _partition_value_from_path(relpath: str, dtype) -> Any:
    """Partition value parsed from the ``_p=<value>`` directory component
    — exact by construction (parquet writers may TRUNCATE long string
    statistics, so deriving it from row-group min stats could record a
    wrong value and silently prune matching files)."""
    import urllib.parse

    raw = None
    for comp in relpath.replace("\\", "/").split("/"):
        if comp.startswith(_PART_DIR_COL + "="):
            raw = urllib.parse.unquote(comp.split("=", 1)[1])
            break
    if raw is None or raw == "__HIVE_DEFAULT_PARTITION__":
        return None
    return _cast_partition_string(raw, dtype)


def _cast_partition_string(raw: str, dtype) -> Any:
    """Hive-style partition string → typed value for ``dtype`` (shared
    by the internal ``_p=`` layout parser and add_files' external
    ``<col>=<value>`` migration layout)."""
    import datetime as _dt
    import decimal as _decimal

    from pyspark.sql.types import (
        BooleanType,
        ByteType,
        DateType,
        DecimalType,
        DoubleType,
        FloatType,
        IntegerType,
        LongType,
        ShortType,
        TimestampNTZType,
        TimestampType,
    )

    if isinstance(dtype, (ByteType, ShortType, IntegerType, LongType)):
        return int(raw)
    if isinstance(dtype, BooleanType):
        return raw == "true"
    if isinstance(dtype, (FloatType, DoubleType)):
        return float(raw)
    if isinstance(dtype, DecimalType):
        return _decimal.Decimal(raw)
    if isinstance(dtype, DateType):
        return _dt.date.fromisoformat(raw)
    if isinstance(dtype, (TimestampType, TimestampNTZType)):
        return _dt.datetime.fromisoformat(raw)
    return raw


def _path_frame(spark: SparkSession, rel_paths: list[str]) -> DataFrame:
    """One-column (path) frame over ``rel_paths``, already split into
    min(files, defaultParallelism) partitions — the per-file stats
    tasks run in the one job of the caller's action, with no shuffle
    job to spread a single-partition local frame first."""
    n = max(1, min(len(rel_paths), spark.sparkContext.defaultParallelism))
    return spark.createDataFrame(
        spark.sparkContext.parallelize([(p,) for p in rel_paths], n),
        "path string")


def _entries_df(spark: SparkSession, root: str, rel_paths: list[str],
                schema: StructType, key_col: str | None,
                partition_col: str | None, stat_cols: tuple[str, ...]):
    """The one per-file stats task: footer min/max, row count and
    sha256 computed IN SPARK TASKS via mapInPandas over the file list —
    the driver never re-reads written bytes, so commit preparation
    scales with the cluster instead of one machine's disk bandwidth.
    Assumes table storage is reachable from executors, the same
    assumption every read makes.

    Each row is (path, entry_json, schema_fp): the file's manifest
    entry as JSON, and its footer schema fingerprint (see
    ``_file_stats``) for add_files' per-file schema check. The driver
    collects them (``_collect_entries``); ``seq`` is stamped at commit
    time, so a rebase retargets it without re-running these tasks."""
    import json as _json

    dtypes = {f.name: f.dataType for f in schema.fields}
    cols = tuple(dict.fromkeys(
        list(stat_cols) + ([key_col] if key_col else [])
    ))
    part_dtype = dtypes.get(partition_col) if partition_col else None

    def task(batches):
        import hashlib
        import os as _os

        import pandas as _pd

        for pdf in batches:
            out = []
            for rel in pdf["path"]:
                ap = _os.path.join(root, rel)
                rows, kmin, kmax, cstats, schema_fp = _file_stats(
                    ap, key_col, cols)
                h = hashlib.sha256()
                with open(ap, "rb") as f:
                    for chunk in iter(lambda: f.read(1 << 20), b""):
                        h.update(chunk)
                pv = (_partition_value_from_path(rel, part_dtype)
                      if partition_col else None)
                entry = ManifestFile(
                    path=rel, partition=pv, key_min=kmin, key_max=kmax,
                    rows=rows, bytes=_os.path.getsize(ap),
                    content_hash=h.hexdigest(), col_stats=cstats,
                )
                out.append((rel, _json.dumps(entry.to_json()), schema_fp))
            yield _pd.DataFrame(
                out, columns=["path", "entry_json", "schema_fp"])

    return _path_frame(spark, rel_paths).mapInPandas(
        task, "path string, entry_json string, schema_fp string")


def _collect_entries(spark: SparkSession, root: str, rel_paths: list[str],
                     schema: StructType, key_col: str | None,
                     partition_col: str | None, stat_cols: tuple[str, ...],
                     ) -> tuple[list[ManifestFile], dict[str, str]]:
    """``_entries_df`` collected: one Spark job, then each row's
    entry_json decoded on the driver. Returns the entries of the
    non-empty files, and every file's footer schema fingerprint by
    path. Files with no rows (an empty write partition) are deleted
    here, so they never become orphans."""
    if not rel_paths:
        return [], {}
    entries, fps = [], {}
    for r in _entries_df(spark, root, rel_paths, schema, key_col,
                         partition_col, stat_cols
                         ).select("entry_json", "schema_fp").collect():
        f = ManifestFile.from_json(json.loads(r.entry_json))
        fps[f.path] = r.schema_fp
        if f.rows:
            entries.append(f)
        else:
            _remove_files(root, [f.path])
    return entries, fps


def _remove_files(root: str, rel_paths) -> None:
    """Delete data files that no commit references (losers, duplicates,
    empty files); already-gone files are fine."""
    for rel in rel_paths:
        p = os.path.join(root, rel)
        if os.path.exists(p):
            os.remove(p)


# Operations whose new files join the file list of the snapshot they
# land on (the rest bring their own carried-over base), and operations
# that may rebase onto a concurrent winner: an append/add_files unions
# with whatever the winner committed and an overwrite replaces
# everything regardless. Every other operation based its output on
# files that may have changed, so the caller must re-run it.
_ON_PARENT = ("append", "add_files", "cdc-mor")
_REBASES = ("append", "overwrite", "add_files")


def _parent_files(snap: Snapshot) -> list[ManifestFile] | KeptSidecar:
    """Every file of ``snap`` as a commit's carried-over base: its
    inline list, or its whole sidecar as a ``KeptSidecar`` (never
    parsed), so a snapshot loaded with ``load_files=False`` serves."""
    if snap.files_ref:
        return KeptSidecar(snap.files_ref, [], snap.files_count or 0)
    return snap.files


def _layout(snap: Snapshot) -> tuple:
    """The layout fields a data commit records for itself; a rebase
    onto a winner that changed any of them would revert it."""
    return (snap.partition_col, snap.key_col, snap.stat_cols,
            snap.zorder_by, snap.bucket_col, snap.n_buckets)


def _stubs(inv) -> list[ManifestFile]:
    """(path, seq) ``ManifestFile.stub``s of the rows of a file
    inventory (``Manifest.inventory``): what the read path needs of a
    file, at ~100 B each."""
    return [ManifestFile.stub(p, s) for p, s in
            zip(inv["path"].to_pylist(), inv["seq"].to_pylist())]


def _partition_groups(inv):
    """Per-partition rollup of a file inventory (``Manifest.inventory``)
    keyed by the normalized partition value ``partition_n``:
    ``count_all`` files, plus ``rows_sum``/``bytes_sum`` when the
    inventory carries those columns. compact's victim rule, the
    maintain probe and ``stats()`` all read it."""
    return inv.group_by("partition_n").aggregate(
        [([], "count_all")] + [(c, "sum") for c in ("rows", "bytes")
                               if c in inv.column_names])


class _Rewrite(NamedTuple):
    """An affected/keep split (``IceTable._plan_rewrite``)."""

    victims: list[ManifestFile]  # (path, seq) stubs of rewritten files
    keep: list[ManifestFile] | KeptSidecar  # carried-over files
    preds: list[dict]  # MoR predicates that still hide kept rows


def _partition_values(parts, inv):
    """The partition VALUES ``parts`` in the normalized encoding of the
    inventory's ``partition_n`` column, as an Arrow array of its type;
    None when that type cannot hold them."""
    import pyarrow as pa

    try:
        return pa.array([_norm_stat(p) for p in parts]).cast(
            inv.schema.field("partition_n").type)
    except (pa.ArrowInvalid, pa.ArrowNotImplementedError,
            pa.ArrowTypeError):
        return None


class IceTable:
    """A snapshot-versioned Parquet table (multi-writer via OCC)."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.manifest = Manifest(root)

    # ------------------------------------------------------------------
    # create / write
    # ------------------------------------------------------------------
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        df: DataFrame,
        partition_col: str | None = None,
        key_col: str | None = None,
        max_rows_per_file: int = 1_000_000,
        stat_cols: list[str] | None = None,
        zorder_by: list[str] | None = None,
        bucket_by: tuple[str, int] | None = None,
        source_batch_id: int | None = None,
        source_lineage: str | None = None,
    ) -> "IceTable":
        """Create a table.

        ``stat_cols``: extra columns to track per-file min/max for
        (enables ``range_scan`` pruning on them). ``zorder_by``: cluster
        files by the Morton code of 2-4 columns instead of the key sort
        — range queries prune on EVERY z-ordered dimension (those
        columns are auto-added to stat_cols). ``bucket_by=(col, n)``:
        hash-bucket the layout on a join key — every snapshot can then
        be registered as a bucketed catalog table
        (:meth:`as_bucketed_table`) and fact-fact joins between
        identically bucketed tables run with ZERO exchanges.
        """
        tbl = cls(spark, root)
        if tbl.manifest.current_snapshot_id() is not None:
            raise FileExistsError(
                f"table already exists at {root}; use IceTable(spark, root) "
                "to open it, or overwrite()/append() to write"
            )
        if bucket_by and (partition_col or zorder_by):
            raise ValueError(
                "bucket_by cannot combine with partition_col/zorder_by — "
                "one physical layout per table"
            )
        stat_cols = list(dict.fromkeys((stat_cols or []) + (zorder_by or [])))
        tbl._write_commit(df, "create", partition_col, key_col, max_rows_per_file,
                          base_files=[], stat_cols=stat_cols,
                          zorder_by=zorder_by or [],
                          bucket_by=bucket_by,
                          source_batch_id=source_batch_id,
                          source_lineage=source_lineage)
        return tbl

    def append(self, df: DataFrame, max_rows_per_file: int = 1_000_000,
               dedupe_identical_files: bool = True,
               evolve_schema: bool = False,
               source_batch_id: int | None = None,
               source_lineage: str | None = None,
               branch: str | None = None) -> Snapshot:
        """Append rows as a new snapshot.

        ``branch``: STAGE the append on a named audit branch instead of
        publishing it (write-audit-publish): the commit lands in the
        snapshot chain, but its files stay hidden from main reads until
        :meth:`publish_branch` — audit the staged rows first with
        ``scan(branch=...)``, then publish (metadata-only) or
        :meth:`drop_branch` them.

        ``dedupe_identical_files``: a new file whose content hash already
        exists in the current snapshot is dropped — the reference's
        idempotent re-write semantics (same rows → same filename → no-op,
        reference block.go:109-115).

        ``evolve_schema``: Iceberg-style additive evolution — new columns
        in ``df`` are added to the table schema (old files read them as
        NULL via the schema-on-read path in _read_files); table columns
        missing from ``df`` are filled with NULL. Without it, any column
        mismatch is rejected (the reference's fixed-schema behavior,
        SURVEY.md §1.4).
        """
        snap = self.manifest.load(load_files=False)  # sidecar stays lazy
        schema = StructType.fromJson(__import__("json").loads(snap.schema_json))
        table_cols = [f.name for f in schema.fields]
        if evolve_schema:
            # shared columns must keep their type — silent type changes
            # would corrupt schema-on-read of existing files
            df_types = dict(df.dtypes)
            for f in schema.fields:
                if f.name in df_types and df_types[f.name] != f.dataType.simpleString():
                    raise ValueError(
                        f"evolve cannot change type of {f.name!r}: "
                        f"table has {f.dataType.simpleString()}, "
                        f"append has {df_types[f.name]}"
                    )
            for f in schema.fields:
                if f.name not in df.columns:
                    df = df.withColumn(f.name, F.lit(None).cast(f.dataType))
            new_cols = [c for c in df.columns if c not in table_cols]
            retired = {r["from"] for r in snap.renames}
            bad = sorted(set(new_cols) & retired)
            if bad:
                raise ValueError(
                    f"column name(s) {bad} were retired by a rename and "
                    "stay reserved — old files still carry them "
                    "physically, so reusing them would capture those "
                    "bytes via the alias chain"
                )
            df = df.select(*table_cols, *new_cols)
        elif df.columns != table_cols:
            raise ValueError(
                f"append schema mismatch: {df.columns} vs {table_cols}"
            )
        else:
            # identical names are not enough: a type change would be
            # stored as the new table schema and corrupt schema-on-read
            # of every existing file
            df_types = dict(df.dtypes)
            for f in schema.fields:
                if df_types[f.name] != f.dataType.simpleString():
                    raise ValueError(
                        f"append type mismatch on {f.name!r}: table has "
                        f"{f.dataType.simpleString()}, append has "
                        f"{df_types[f.name]} (use evolve_schema for "
                        "additive changes; type changes are not allowed)"
                    )
        return self._write_commit(
            df, "append", snap.partition_col, snap.key_col,
            max_rows_per_file,
            dedupe_identical_files=dedupe_identical_files,
            source_batch_id=source_batch_id,
            source_lineage=source_lineage,
            expected_parent=snap.snapshot_id,
            branch=branch,
        )

    def _require_no_staged(self, snap, op: str) -> None:
        """File-rewriting ops refuse to run while any branch has
        unpublished staged snapshots: a rewrite re-sequences files,
        which would corrupt the seq-based visibility scoping staged
        hiding relies on. Publish or drop the branch first."""
        if snap.staged:
            raise ValueError(
                f"{op} refused: branches {sorted(snap.staged)} have "
                "unpublished staged snapshots (write-audit-publish) — "
                "publish_branch() or drop_branch() first"
            )

    def overwrite(self, df: DataFrame, max_rows_per_file: int = 1_000_000) -> Snapshot:
        snap = self.manifest.load(load_files=False)
        self._require_no_staged(snap, "overwrite")
        return self._write_commit(df, "overwrite", snap.partition_col,
                                  snap.key_col, max_rows_per_file,
                                  base_files=[],
                                  expected_parent=snap.snapshot_id)

    def _write_commit(
        self,
        df: DataFrame,
        operation: str,
        partition_col: str | None,
        key_col: str | None,
        max_rows_per_file: int,
        base_files: list[ManifestFile] | KeptSidecar | None = None,
        dedupe_identical_files: bool = False,
        delete_predicates: list[dict] | None = None,
        stat_cols: list[str] | None = None,
        zorder_by: list[str] | None = None,
        source_batch_id: int | None = None,
        source_lineage: str | None = None,
        expected_parent: int | None = None,
        bucket_by: tuple[str, int] | None = None,
        branch: str | None = None,
    ) -> Snapshot:
        """Write ``df`` as new data files and commit them as
        ``operation`` on top of ``expected_parent`` (None for create),
        through the one commit loop (``_commit_entries``).

        ``expected_parent``: snapshot id the caller's read state is
        based on. If another writer commits first, the manifest CAS
        fails and the commit is REBASED onto the new current snapshot
        when that is provably safe — append (new files union with
        whatever the winner committed) and overwrite (replaces
        everything regardless) — else the new files are deleted and
        CommitConflictError surfaces to the caller, whose
        read-modify-write must re-run. Data files are written to a
        token-unique commit dir, so racing writers never touch each
        other's bytes and a rebase re-commits metadata only.

        The new files' entries come from the one stats job
        (``_collect_entries``) and are committed on the driver; if that
        job raises, ``commit_dir`` is removed. ``base_files`` is what
        the commit carries over (a list, or a ``KeptSidecar`` of the
        parent's sidecar); append, add_files and cdc-mor ignore it and
        carry the snapshot they land on (see ``_commit_entries``).
        Driver memory is O(files written) plus one row group of
        carried rows: for 100k new entries the parse plus
        ``sidecar_encode`` take ~1 s + 2.5-3.5 s on one core."""
        # inherit stats/clustering/bucket config from the current snapshot
        if stat_cols is None or zorder_by is None or bucket_by is None:
            cur = self.manifest.current_snapshot_id()
            prev = (self.manifest.load(load_files=False)
                    if cur is not None else None)
            if stat_cols is None:
                stat_cols = prev.stat_cols if prev else []
            if zorder_by is None:
                zorder_by = prev.zorder_by if prev else []
            if bucket_by is None and prev is not None and prev.bucket_col:
                bucket_by = (prev.bucket_col, prev.n_buckets)

        sid = 0 if expected_parent is None else expected_parent + 1
        commit_rel = os.path.join(
            "data", f"s{sid}-{os.urandom(4).hex()}"
        )
        commit_dir = os.path.join(self.root, commit_rel)

        out = df
        if bucket_by:
            # Hash-bucket layout: one shuffle on the bucket key (same
            # murmur3 hash Spark's bucket assignment uses, so each task
            # holds whole buckets → one file per bucket per commit).
            # Written through a throwaway EXTERNAL catalog entry because
            # bucketBy is catalog-only; the entry is dropped immediately
            # — the bucket-id file NAMES are what later registration
            # (as_bucketed_table) needs, and those live in the data dir.
            bcol, nb = bucket_by
            tmp_name = f"ice_bkt_tmp_{os.urandom(4).hex()}"
            (
                out.repartition(nb, F.col(bcol))
                .write.format("parquet")
                .mode("overwrite")
                .option("maxRecordsPerFile", max_rows_per_file)
                .option("path", commit_dir)
                .bucketBy(nb, bcol)
                .sortBy(key_col or bcol)
                .saveAsTable(tmp_name)
            )
            self.spark.sql(f"DROP TABLE `{tmp_name}`")
        else:
            if zorder_by:
                # Morton clustering: files cover small hyper-rectangles in
                # every z-ordered dimension (see table/zorder.py).
                from iceberg_core_spark.table.zorder import zvalue_column

                out = out.withColumn("__z", zvalue_column(out, zorder_by))
                out = out.repartitionByRange(F.col("__z"))
                out = out.sortWithinPartitions("__z").drop("__z")
            else:
                # Cluster: one range shuffle on (partition, key). Hot
                # partition values span tasks (skew-proof); files key-local.
                sort_cols = [c for c in (partition_col, key_col) if c]
                if sort_cols:
                    out = out.repartitionByRange(*[F.col(c) for c in sort_cols])
                    out = out.sortWithinPartitions(*sort_cols)
            writer = out.write.mode("overwrite").option(
                "maxRecordsPerFile", max_rows_per_file
            )
            if partition_col:
                # Twin column keeps the partition value INSIDE the data
                # file so manifest-selected file subsets read back with
                # full schema.
                writer = (
                    out.withColumn(_PART_DIR_COL, F.col(partition_col))
                    .write.mode("overwrite")
                    .option("maxRecordsPerFile", max_rows_per_file)
                    .partitionBy(_PART_DIR_COL)
                )
            writer.parquet(commit_dir)

        # Listing file NAMES is driver-side metadata work (cheap);
        # reading footers + hashing bytes is distributed to Spark tasks.
        rel_paths = sorted(
            os.path.relpath(os.path.join(dirpath, name), self.root)
            for dirpath, _dirs, names in os.walk(commit_dir)
            for name in names
            if name.endswith(".parquet")
        )

        parent_snap = (
            self.manifest.load(expected_parent, load_files=False)
            if expected_parent is not None else None
        )
        # A rewrite that doesn't change the table's logical schema must
        # not drift the RECORDED one either: parquet-read frames come
        # back all-nullable, and committing that json would trip the
        # rebase guard of any racing append. Carry the based-on
        # snapshot's schema_json forward whenever the frame's schema is
        # canonically equivalent; genuinely new schemas (evolution)
        # still commit the frame's.
        commit_schema = df.schema
        if parent_snap is not None and _schemas_equivalent(
                parent_snap.schema_json, commit_schema.json()):
            commit_schema = StructType.fromJson(
                json.loads(parent_snap.schema_json))
        fields = dict(
            schema_json=commit_schema.json(), partition_col=partition_col,
            key_col=key_col, stat_cols=list(stat_cols),
            zorder_by=list(zorder_by),
            bucket_col=bucket_by[0] if bucket_by else None,
            n_buckets=bucket_by[1] if bucket_by else None,
            source_batch_id=source_batch_id, source_lineage=source_lineage,
        )
        if operation != "append":
            # an append keeps the predicates of the snapshot it lands on
            # (they still hide old rows); every other write states its own
            fields["delete_predicates"] = delete_predicates or []
        try:
            new, _fps = _collect_entries(
                self.spark, self.root, rel_paths, commit_schema, key_col,
                partition_col, tuple(stat_cols))
        except Exception:
            shutil.rmtree(commit_dir, ignore_errors=True)
            raise
        return self._commit_entries(
            operation, parent_snap, new, fields, commit_dir,
            base=base_files, dedupe=dedupe_identical_files, branch=branch)

    def _commit_entries(
        self,
        operation: str,
        based_on: Snapshot | None,
        new: list[ManifestFile],
        fields: dict,
        commit_dir: str,
        base: list[ManifestFile] | KeptSidecar | None = None,
        dedupe: bool = False,
        branch: str | None = None,
    ) -> Snapshot:
        """The one compare-and-swap loop every data commit goes through
        (create, append, overwrite, delete, compact, upsert, merge, cdc,
        add_files), in one form: ``new`` is the added files' entries on
        the driver, and the file set lands as inline JSON when it fits
        ``inline_max``. Above it, a ``KeptSidecar`` base has its rows
        copied as stored into a driver-written single-file sidecar with
        the new entries (``Manifest.write_kept_sidecar``), and a list
        base is spilled by ``Manifest.commit``; a ``KeptSidecar`` is
        parsed only when the commit lands inline (at most
        ``inline_max`` entries).

        Every attempt is the ``child()`` of the snapshot it lands on —
        ``based_on`` first, then each winner — with ``fields``
        overriding what the commit itself decides, so staged branches,
        spec and rename history always come from that snapshot;
        ``create`` (no parent) is the one constructor call. New files
        carry the attempt's id as their data sequence number, a
        ``branch`` commit stages that id, and the carried-over base is
        every file of the parent (``_parent_files``) for ``_ON_PARENT``
        operations and ``base`` otherwise. With ``dedupe``, a new file
        whose content hash is already in the base
        (``Manifest.known_hashes``) is dropped and deleted (the
        reference's idempotent re-write, block.go:109-115).

        A lost race rebases ``_REBASES`` operations when the winner's
        schema is canonically equivalent to ``based_on``'s, its layout
        (``_layout``: partition, key, stat, z-order and bucket columns)
        is the same, and — for an overwrite — it has no staged
        branches; otherwise ``commit_dir`` (which holds exactly the new
        files) is deleted and CommitConflictError propagates. Snapshots
        loaded with ``load_files=False`` serve as ``based_on``."""
        man = self.manifest
        parent = based_on
        while True:
            if parent is None:
                snap = Snapshot(snapshot_id=0, parent_id=None,
                                timestamp_ms=Manifest.now_ms(),
                                operation=operation, **fields)
            else:
                snap = parent.child(operation, **fields)
            sid = snap.snapshot_id
            snap.delete_predicates = _resolve_pred_seqs(
                snap.delete_predicates, sid)
            if branch:
                snap.staged.setdefault(branch, []).append(sid)
            carried = (_parent_files(parent) if parent is not None
                       and operation in _ON_PARENT else base or [])
            if dedupe and new:
                dups = man.known_hashes(
                    carried, {f.content_hash for f in new})
                _remove_files(self.root, [
                    f.path for f in new if f.content_hash in dups])
                new = [f for f in new if f.content_hash not in dups]
            for f in new:
                f.seq = sid  # data sequence number = adding snapshot
            snap.files_ref = snap.files_count = None
            if (isinstance(carried, KeptSidecar)
                    and len(carried) + len(new) > man.inline_max):
                snap.files_ref = (f"files-{sid}-"
                                  f"{os.urandom(4).hex()}.parquet")
                snap.files_count = man.write_kept_sidecar(
                    carried, new,
                    sidecar_stat_cols(snap.stat_cols, snap.renames),
                    snap.files_ref)
                snap.files = []
            else:
                if isinstance(carried, KeptSidecar):
                    # lands inline: at most inline_max entries parsed
                    carried = man._read_files_sidecar(
                        carried.files_ref, carried.prune)
                snap.files = list(carried) + new
            try:
                man.commit(snap)
                return snap
            except CommitConflictError:
                if snap.files_ref and not snap.files:
                    man.remove_sidecar(snap.files_ref)
                if operation in _REBASES:
                    winner = man.load(load_files=False)
                    # an overwrite drops every file, so it cannot land
                    # on a winner's staged branches (the same rule
                    # _require_no_staged applies when the op starts)
                    if based_on is None or (
                            _schemas_equivalent(winner.schema_json,
                                                based_on.schema_json)
                            and _layout(winner) == _layout(based_on)
                            and (operation in _ON_PARENT
                                 or not winner.staged)):
                        parent = winner
                        continue
                # no safe rebase (read-modify-write op, a concurrent
                # schema or layout change, or an overwrite onto staged
                # branches): the caller re-runs
                shutil.rmtree(commit_dir, ignore_errors=True)
                raise

    # ------------------------------------------------------------------
    # read / query
    # ------------------------------------------------------------------
    def schema(self, snapshot_id: int | None = None) -> StructType:
        # metadata-only: never materialize a sidecar file list for this
        snap = self.manifest.load(snapshot_id, load_files=False)
        return StructType.fromJson(__import__("json").loads(snap.schema_json))

    def scan(self, snapshot_id: int | None = None,
             branch: str | None = None,
             ref: str | None = None) -> DataFrame:
        """Full-table scan of one snapshot (time travel via snapshot_id,
        or by name via ``ref`` — a tag created with :meth:`create_tag`).
        Merge-on-read delete predicates are applied here, scoped to the
        files they were issued against. Files are read as (path, seq)
        stubs of the inventory (``Manifest.inventory``) — a full scan of
        a 1M-file table never parses 1M JSON entries on the driver.

        ``branch``: audit view — files staged on THAT branch
        (append(..., branch=...)) become visible; files staged on other
        branches stay hidden. Default (None) is the published main
        view: every unpublished staged file is hidden."""
        if ref is not None:
            if snapshot_id is not None:
                raise ValueError("pass snapshot_id or ref, not both")
            snapshot_id = self.resolve_ref(ref)
        snap = self.manifest.load(snapshot_id, load_files=False)
        files = _stubs(self.manifest.inventory(snap, ["path", "seq"]))
        return self._read_with_deletes(files, snap, snapshot_id,
                                       branch=branch)

    def _read_with_deletes(self, files, snap, snapshot_id=None,
                           branch: str | None = None) -> DataFrame:
        """Read files, applying each MoR predicate only to files whose
        data sequence number predates it (f.seq < predicate seq —
        Iceberg's sequence-number scoping). Files sharing the same
        applicable-predicate set are read in one group (one scan each;
        groups = number of distinct delete generations, typically 0-2).
        Unpublished staged files (write-audit-publish) are dropped here
        unless ``branch`` names their branch — every read path (scan,
        query, range_scan, scan_incremental) funnels through this."""
        hidden = _hidden_seqs(snap, branch)
        if hidden:
            files = [f for f in files if f.seq not in hidden]
        if not snap.delete_predicates or not files:
            return self._read_files(files, snapshot_id)
        groups: dict[tuple[int, ...], list] = {}
        for f in files:
            key = tuple(
                i for i, p in enumerate(snap.delete_predicates)
                if f.seq < p["seq"]
            )
            groups.setdefault(key, []).append(f)
        parts = []
        for key, fs in groups.items():
            df = self._read_files(fs, snapshot_id)
            for i in key:
                df = self._apply_delete_pred(df, snap.delete_predicates[i])
            parts.append(df)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _apply_delete_pred(self, df: DataFrame, pred: dict) -> DataFrame:
        """Apply one MoR delete to a scan: either a SQL predicate
        (delete_where) or an EQUALITY-DELETE key set (Iceberg v2
        equality deletes, written by apply_cdc(mode="mor")) — the scan
        anti-joins the file's rows against the key file. The key set is
        one micro-batch's keys, so the anti-join's build side stays
        batch-sized (AQE broadcasts it when it fits)."""
        if "eq_ref" in pred:
            keys = self.spark.read.parquet(
                os.path.join(self.root, pred["eq_ref"])
            ).select(*pred["key_cols"])
            return df.join(keys, pred["key_cols"], "left_anti")
        return df.filter(_not_true(F.expr(pred["expr"])))

    def _pruned_files(self, snap, partition: Any = None, lo: Any = None,
                      hi: Any = None,
                      ranges: dict[str, tuple[Any, Any]] | None = None,
                      ) -> list[ManifestFile]:
        """Manifest file pruning, on the driver and without a Spark job
        in either regime. Inline-JSON snapshots prune with a list pass
        over the entries. Sidecar-backed snapshots (file count >
        Manifest.inline_max) prune with one streamed pyarrow scan of
        the files parquet (``Manifest.sidecar_table``) under an Arrow
        filter (manifest.sidecar_keep_filter) that projects only
        (path, seq):
        entry_json is never read and only the surviving stubs are
        materialized, so a point query on a 1M-file table builds a
        handful of stubs, not a million entries. Bounds are normalized
        (epoch micros/days) to match the sidecar's orderable stat
        encoding; NULL stats, NaN min/max, and bounds Arrow cannot
        compare with a stat column conservatively keep the file,
        mirroring ManifestFile.overlaps*.

        Stats of a RENAMED column resolve through the same alias chain
        the read path uses: a file written before the rename keeps its
        stats under the then-physical name, so the stat for current
        name ``c`` is the first of [c, prior, ...] the file actually
        carries (each file has exactly one physical name per column)."""
        ranges = ranges or {}
        chains = _fold_chains(snap.renames)

        def stat_names(col: str) -> list[str]:
            return [col] + chains.get(col, [])

        if not snap.files_ref:
            files = snap.files
            if partition is not None and snap.partition_col:
                def part_keep(f):
                    if snap.spec_col_for(f.seq) == snap.partition_col:
                        return f.may_hold_partition(partition)
                    # older partition spec: fall back to this column's
                    # min/max stats (conservative; residual corrects)
                    phys = next(
                        (n for n in stat_names(snap.partition_col)
                         if n in f.col_stats), None)
                    return (True if phys is None
                            else f.overlaps_col(phys, partition, partition))

                files = [f for f in files if part_keep(f)]
            if (lo is not None or hi is not None) and snap.key_col:
                files = [f for f in files if f.overlaps(lo, hi)]
            for col, (clo, chi) in ranges.items():
                names = stat_names(col)

                def overlaps_chain(f, names=names, clo=clo, chi=chi):
                    phys = next(
                        (n for n in names if n in f.col_stats), None)
                    return (True if phys is None
                            else f.overlaps_col(phys, clo, chi))

                files = [f for f in files if overlaps_chain(f)]
                if snap.key_col == col:
                    files = [f for f in files if f.overlaps(clo, chi)]
            return files

        # survivors ship as (path, seq) stubs — the read path needs file
        # locations and MoR seq scoping, never the stats that pruned
        # them. Documented ceiling: this is the same planning shape
        # Iceberg itself uses (the driver must enumerate the files a
        # scan reads); at ~100 bytes/stub, 1M SURVIVING files is
        # ~100 MB of driver heap. Queries whose predicate prunes
        # poorly on a huge table should raise driver memory or tighten
        # the predicate — the pruned-out majority never materializes.
        return _stubs(self.manifest.sidecar_table(
            snap.files_ref, ["path", "seq"],
            prune=lambda schema: sidecar_keep_filter(
                schema, snap, partition, lo, hi, ranges)))

    def range_scan(self, ranges: dict[str, tuple[Any, Any]],
                   snapshot_id: int | None = None) -> DataFrame:
        """Multi-dimensional pruned scan: ``ranges`` maps column →
        (lo, hi) inclusive bounds. Files are pruned via the manifest's
        per-column stats for every stats-tracked column in ``ranges``
        (with z-order clustering, ALL z-dimensions prune effectively —
        a key-sorted layout only prunes on the key); remaining columns
        fall through to the pushed residual filter."""
        snap = self.manifest.load(snapshot_id, load_files=False)
        files = self._pruned_files(snap, ranges=ranges)
        df = self._read_with_deletes(files, snap, snapshot_id)
        for col, (lo, hi) in ranges.items():
            if lo is not None:
                df = df.filter(F.col(col) >= F.lit(lo))
            if hi is not None:
                df = df.filter(F.col(col) <= F.lit(hi))
        return df

    def build_bloom(self, cols: list[str] | None = None,
                    bits_per_row: int = 12, k: int = 8) -> int:
        """Build (or top up) per-file Bloom filters for equality
        pruning on ``cols`` — the membership analog of the min/max
        stats (reference block.go:143-199 encodes a range per file
        NAME; a bloom answers ``col = v`` on columns the layout does
        not cluster). Idempotent and incremental: only files without
        rows are indexed, so call it after ingest/compaction (with
        ``cols=None`` the recorded config refreshes). Unindexed files
        are conservatively kept by :meth:`point_scan`."""
        from iceberg_core_spark.table.bloom import build_bloom

        return build_bloom(self, cols, bits_per_row=bits_per_row, k=k)

    def compact_bloom(self) -> dict:
        """Generation-flip the bloom sidecar store: fold every
        increment into one deduplicated dir and drop rows for paths
        no retained snapshot references — without this the store only
        accumulates ``inc-*`` dirs and probes scan ever-more dead
        rows. Crash-safe: the pointer flips only after the new
        generation is fully written."""
        from iceberg_core_spark.table.bloom import compact_bloom

        return compact_bloom(self)

    def point_scan(self, col: str, value, *,
                   snapshot_id: int | None = None) -> DataFrame:
        """Equality scan ``col = value`` — sugar over
        :meth:`point_scan_multi` with a single conjunct."""
        return self.point_scan_multi({col: value},
                                     snapshot_id=snapshot_id)

    def point_scan_multi(self, eq: dict, *,
                         snapshot_id: int | None = None) -> DataFrame:
        """AND-of-memberships scan — ``eq`` maps column -> value or
        list of values (``{"doc_id": [3, 7], "lang": "en"}`` means
        ``doc_id IN (3, 7) AND lang = 'en'``) — with every pruning
        layer the table has: manifest min/max stats (an IN-list
        prunes by its [min, max] envelope), then the per-file bloom
        store (proves absence on high-cardinality columns the layout
        does NOT cluster — where every file's min/max spans the
        domain and range stats keep everything). Per-column bloom
        verdicts intersect (AND): one column proving all its values
        absent drops the file; IN-list probe hashes share the single
        1-row JVM hash job. Files the bloom cannot vouch for are read
        and corrected by the residual filter — bloom false positives
        cost a file read, never a wrong row."""
        from iceberg_core_spark.table.bloom import bloom_prune_multi

        if not eq:
            raise ValueError("point_scan_multi needs >= 1 conjunct")
        probes = {c: (list(v) if isinstance(v, (list, tuple, set))
                      else [v])
                  for c, v in eq.items()}
        snap = self.manifest.load(snapshot_id, load_files=False)
        ranges = {}
        for c, vals in probes.items():
            nn = [v for v in vals if v is not None]
            if nn:
                ranges[c] = (min(nn), max(nn))
        files = self._pruned_files(snap, ranges=ranges or None)
        files = bloom_prune_multi(self, files, probes)
        df = self._read_with_deletes(files, snap, snapshot_id)
        for c, vals in probes.items():
            cond = (F.col(c) == F.lit(vals[0]) if len(vals) == 1
                    else F.col(c).isin(vals))
            df = df.filter(cond)
        return df

    def as_bucketed_table(self, name: str,
                          snapshot_id: int | None = None) -> str:
        """Register one snapshot of a bucket-layout table as a BUCKETED
        external catalog table, so joins between two tables bucketed the
        same way (same key, same n) plan with ZERO exchanges — snapshot
        isolation and write-time co-location in one layer.

        Mechanics: a snapshot's file set is immutable, so the snapshot's
        files are HARDLINKED into a private directory (metadata-only, no
        byte copies — on an object store a manifest-file-index listing
        plays this role) and a ``CREATE TABLE ... CLUSTERED BY ... INTO n
        BUCKETS LOCATION`` points at it. Spark recovers each file's
        bucket id from the bucket-suffix file names the bucketed write
        produced, which the links preserve. Returns ``name``; drop with
        ``spark.sql(f"DROP TABLE {name}")`` (links stay until
        expire_snapshots removes the snapshot). Only the (path, seq)
        columns of the inventory are read; no entry is parsed."""
        import pyarrow.compute as pc

        snap = self.manifest.load(snapshot_id, load_files=False)
        # the catalog scan reads raw files and cannot hide staged ones
        self._require_no_staged(snap, "as_bucketed_table")
        if not snap.bucket_col:
            raise ValueError("table was not created with bucket_by")
        if snap.delete_predicates:
            raise ValueError(
                "snapshot has pending merge-on-read deletes; compact() "
                "before registering a bucketed view (the catalog scan "
                "cannot apply predicates)"
            )
        schema = StructType.fromJson(
            __import__("json").loads(snap.schema_json))
        # The catalog scan reads raw files BY CURRENT NAME — it cannot
        # resolve the rename alias chain _read_files applies, so a file
        # written before a rename would silently read NULL for the
        # renamed column. Refuse while any file predates a rename that
        # feeds a current column (f.seq <= the rename's recorded parent
        # snapshot id; entries without the r14 "seq" stamp are treated
        # as predated — conservative). compact(min_files=1) rewrites
        # every file under current names and clears the condition.
        inv = self.manifest.inventory(snap, ["path", "seq"])
        current = {f.name for f in schema.fields}
        chains = _fold_chains(snap.renames)
        live_retired = {o for k, olds in chains.items()
                        if k in current for o in olds}
        relevant = [r for r in snap.renames if r["from"] in live_retired]
        if relevant:
            # Entries without the r14 "seq" stamp (legacy tables) get
            # their commit point DERIVED from snapshot history: the
            # first surviving snapshot whose rename list carries the
            # entry renamed no later than that snapshot, so its
            # parent_id upper-bounds the true stamp (over-refusing if
            # earlier history expired — safe, and compact(min_files=1)
            # still clears it because rewritten files take a strictly
            # newer seq). Without the derivation, compact() carrying
            # seq-less entries forward made the remediation circular:
            # legacy tables could never register (r14 ADVICE).
            seqs = [r.get("seq") for r in relevant]
            if any(s is None for s in seqs):
                history = self.manifest.snapshots(load_files=False)
                derived = {}
                for h in history:  # ascending snapshot_id
                    for r in h.renames:
                        k = (r["from"], r["to"])
                        if k not in derived:
                            derived[k] = (h.parent_id
                                          if h.parent_id is not None
                                          else h.snapshot_id)
                seqs = [
                    s if s is not None
                    else derived.get((r["from"], r["to"]),
                                     snap.snapshot_id)
                    for s, r in zip(seqs, relevant)
                ]
            if pc.any(pc.less_equal(inv["seq"], max(seqs))).as_py():
                raise ValueError(
                    "snapshot holds files written before a column "
                    "rename; the bucketed catalog scan reads raw files "
                    "by current name and would return NULL for the "
                    "renamed column on those files — compact("
                    "min_files=1) to rewrite them first"
                )
        linkdir = os.path.join(
            self.root, "_bucketed", f"v{snap.snapshot_id}"
        )
        os.makedirs(linkdir, exist_ok=True)
        for path in inv["path"].to_pylist():
            dst = os.path.join(linkdir, os.path.basename(path))
            if not os.path.exists(dst):
                os.link(os.path.join(self.root, path), dst)
        cols_ddl = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields
        )
        self.spark.sql(f"DROP TABLE IF EXISTS `{name}`")
        self.spark.sql(
            f"CREATE TABLE `{name}` ({cols_ddl}) USING PARQUET "
            f"CLUSTERED BY (`{snap.bucket_col}`) "
            f"INTO {snap.n_buckets} BUCKETS "
            f"LOCATION '{linkdir}'"
        )
        return name

    def scan_incremental(self, since: int,
                         until: int | None = None) -> DataFrame:
        """Change feed: rows in files ADDED after snapshot ``since``
        (exclusive) up to ``until`` (inclusive; default current) — what
        an incremental consumer (e.g. a training-data pipeline doing
        "process new documents since the last run") reads instead of
        re-scanning the table.

        Added = set difference of the two snapshots' VISIBLE file
        lists by path (a file staged on an audit branch at ``since``
        keeps its path across stage→publish, so visibility — not path
        presence — is what the main-view consumer tracks: rows
        published inside the window surface as added; r14 review).
        The difference is ``_file_diff`` on the driver in either
        manifest regime, with no Spark job: only the ADDED files become
        (path, seq) stubs — the reader needs paths, MoR scoping needs
        seq, nothing needs stats — so a backfill commit adding 100k
        files costs 100k stubs, not 100k parsed JSON entries. Note
        rows REWRITTEN by compact/upsert/delete re-emit (their files
        are new); on append-only ingest, the common case, the feed is
        exactly-once. MoR delete predicates of the ``until`` snapshot
        apply."""
        cur = self.manifest.load(until, load_files=False)
        base = self.manifest.load(since, load_files=False)
        added, _removed, _common = self._file_diff(cur, base)
        return self._read_with_deletes(_stubs(added), cur, until)

    def _file_diff(self, cur: Snapshot, base: Snapshot,
                   columns: tuple[str, ...] = ("path", "seq")):
        """The one file diff of two snapshots, behind scan_incremental,
        scan_changes and diff_stats: ``(added, removed, common)``
        inventories (``Manifest.inventory``, ``columns``; they include
        path and seq) — ``cur``'s files whose path ``base`` lacks,
        ``base``'s files whose path ``cur`` lacks, and ``cur``'s rows of
        the files both hold. Only VISIBLE files take part: each side
        drops its own write-audit-publish hidden seqs
        (``_hidden_seqs(snap, None)``), since a staged file keeps its
        path across stage→publish and the main view tracks visibility.

        Runs on the driver with Arrow (``pc.is_in`` by path), no Spark
        job and no entry parsed in either regime. Memory ceiling: both
        snapshots' ``columns`` are held as Arrow arrays (for (path, seq)
        with ~50-character paths, ~170 B per file of the two snapshots
        at peak: 25 MB for 100k against 50k files,
        scripts/measure_file_diff_memory.py), and only the callers'
        changed files become Python objects."""
        import pyarrow as pa
        import pyarrow.compute as pc

        def visible(snap):
            inv = self.manifest.inventory(snap, list(columns))
            hid = _hidden_seqs(snap, None)
            if hid:
                inv = inv.filter(pc.invert(pc.is_in(
                    inv["seq"], value_set=pa.array(sorted(hid),
                                                   pa.int64()))))
            return inv

        c, b = visible(cur), visible(base)
        in_base = pc.is_in(c["path"], value_set=b["path"].combine_chunks())
        in_cur = pc.is_in(b["path"], value_set=c["path"].combine_chunks())
        return (c.filter(pc.invert(in_base)), b.filter(pc.invert(in_cur)),
                c.filter(in_base))

    def scan_changes(self, since: int,
                     until: int | None = None) -> DataFrame:
        """NET row-level changelog between two snapshots — the analog
        of Iceberg's ``create_changelog_view`` procedure: every emitted
        row carries a ``_change_type`` of ``insert`` or ``delete``; an
        UPDATE surfaces as its delete+insert pair. Unlike
        ``scan_incremental`` (rows in ADDED files — re-emits rewrites),
        this feed is rewrite-invariant: a pure compaction between the
        two snapshots nets to ZERO rows, an upsert nets to exactly the
        changed rows, and a MoR delete nets to the deleted rows. The
        feed an incremental aggregate consumer (``MaterializedRollup``)
        folds, since sums/counts need retractions, not re-emissions.

        Mechanics: only files that can differ participate — files
        added since ``since``, files removed, and (when the window
        introduced MoR delete predicates) older common files those
        predicates can hide rows of; ``_file_diff`` splits them on the
        driver with no Spark job, and only they become (path, seq)
        stubs. Each side reads under its own
        snapshot (its predicates, its schema); the ``since`` side is
        aligned forward through the window's renames and widened with
        NULLs for evolved-in columns; inserts = until-side EXCEPT ALL
        since-side and deletes the reverse — multiset semantics, so
        duplicate rows net correctly. The diff itself runs SKINNY:
        per-row hashes are counted per side and subtracted, and only
        net-changed hashes join back for payload — so the diff
        exchange shuffles 32-byte hashes, never the documents (a
        naive exceptAll would shuffle every wide-text row in every
        changed file twice). Cost scales with the CHANGED file set
        except in the new-MoR-predicate case, where every
        predicate-visible older file joins the diff (the predicate may
        hide rows anywhere — same cost profile as Iceberg's changelog
        over equality deletes)."""
        import pyarrow.compute as pc

        cur = self.manifest.load(until, load_files=False)
        base = self.manifest.load(since, load_files=False)
        # VISIBLE files only (a WAP-staged file keeps its path across
        # stage→publish, so publish_branch surfaces its rows as inserts)
        added, removed, common = self._file_diff(cur, base)
        # predicates CHANGED in either direction pull predicate-visible
        # older common files into the diff: added preds hide rows
        # (deletes), and preds REMOVED by a rollback make rows
        # re-appear (inserts). Compact also removes preds, but it
        # rewrites every pred-affected file, so no common file
        # survives to be pulled in there.
        changed_preds = (
            [p for p in cur.delete_predicates
             if p not in base.delete_predicates]
            + [p for p in base.delete_predicates
               if p not in cur.delete_predicates]
        )
        common_aff: list[ManifestFile] = []
        if changed_preds:
            mx = max(p["seq"] for p in changed_preds)
            common_aff = _stubs(common.filter(pc.less(common["seq"], mx)))
        side_u = self._read_with_deletes(
            _stubs(added) + common_aff, cur, cur.snapshot_id)
        side_s = self._read_with_deletes(
            _stubs(removed) + common_aff, base, base.snapshot_id)
        for r in [r for r in cur.renames if r not in base.renames]:
            side_s = side_s.withColumnRenamed(r["from"], r["to"])
        schema = StructType.fromJson(json.loads(cur.schema_json))
        have = set(side_s.columns)
        side_s = side_s.select(*[
            F.col(f.name) if f.name in have
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in schema.fields])
        cols = [f.name for f in schema.fields]
        side_u = side_u.select(*cols)

        # Skinny-hash multiset diff — semantically EXCEPT ALL in each
        # direction, but the diff exchange carries 32-byte row hashes
        # instead of full rows: on a wide-text table the naive
        # exceptAll shuffles every document in every changed file
        # TWICE, while here (1) the per-row hash is computed map-side
        # in the scan stage, (2) the count-diff aggregates shuffle
        # (hash, count) pairs only, (3) the payload join's probe side
        # is the tiny net-changed hash set (AQE broadcasts it), and
        # (4) the representative-row agg shuffles at most one full
        # row per changed hash per map partition — cost tracks the
        # NET CHANGE, not the changed-file volume. Rows hashing equal
        # are identical (canonical JSON of the full row, nulls kept),
        # so emitting |net| copies of one representative reproduces
        # the multiset exactly. Collision risk: two DISTINCT rows
        # sharing a sha256 would silently merge — at 2^-128 per pair
        # that is accepted, same as content-addressed storage.
        #
        # Hash-input canonicalization: to_json must render rows the
        # diff should treat as equal byte-identically. Two guards:
        # (a) MapType anywhere in the schema is rejected — JSON key
        #     order for maps is insertion-dependent, so equal maps
        #     can serialize differently (Spark's own exceptAll
        #     rejects map columns for the same reason);
        # (b) float/double values at ANY nesting depth are normalized
        #     with `+ 0.0` so -0.0 and 0.0 (equal under SQL
        #     comparison) hash identically; NULL propagates and NaN
        #     stays NaN, and to_json renders NaN stably on both
        #     sides. Arrays rebuild via transform, structs field by
        #     field (NULL structs guarded), only where a float
        #     actually nests.
        from pyspark.sql.types import (
            ArrayType,
            DoubleType,
            FloatType,
            MapType,
        )

        def _contains_map(dt) -> bool:
            if isinstance(dt, MapType):
                return True
            if isinstance(dt, ArrayType):
                return _contains_map(dt.elementType)
            if isinstance(dt, StructType):
                return any(_contains_map(f.dataType) for f in dt.fields)
            return False

        if any(_contains_map(f.dataType) for f in schema.fields):
            raise ValueError(
                "scan_changes: MapType columns are not supported in "
                "the changelog diff (non-deterministic JSON key order "
                "breaks row-hash equality); store map data as "
                "array<struct<key,value>> instead")

        def _has_float(dt) -> bool:
            if isinstance(dt, (FloatType, DoubleType)):
                return True
            if isinstance(dt, ArrayType):
                return _has_float(dt.elementType)
            if isinstance(dt, StructType):
                return any(_has_float(f.dataType) for f in dt.fields)
            return False

        def _canon(c, dt):
            if isinstance(dt, (FloatType, DoubleType)):
                return c + F.lit(0.0).cast(dt)
            if isinstance(dt, ArrayType) and _has_float(dt.elementType):
                return F.transform(
                    c, lambda x: _canon(x, dt.elementType))
            if isinstance(dt, StructType) and _has_float(dt):
                rebuilt = F.struct(*[
                    _canon(c[f.name], f.dataType).alias(f.name)
                    for f in dt.fields])
                return F.when(c.isNotNull(), rebuilt)
            return c

        row_hash = F.sha2(
            F.to_json(
                F.struct(*[
                    _canon(F.col(f.name), f.dataType).alias(f.name)
                    for f in schema.fields]),
                {"ignoreNullFields": "false"}), 256)
        u = side_u.withColumn("__h", row_hash)
        s = side_s.withColumn("__h", row_hash)
        net = (
            u.groupBy("__h").agg(F.count(F.lit(1)).alias("__cu"))
            .join(s.groupBy("__h").agg(F.count(F.lit(1)).alias("__cs")),
                  "__h", "full_outer")
            .select("__h",
                    (F.coalesce(F.col("__cu"), F.lit(0))
                     - F.coalesce(F.col("__cs"), F.lit(0)))
                    .alias("__net"))
        )

        def fetch(side: DataFrame, picks: DataFrame,
                  change: str) -> DataFrame:
            rep = (
                side.join(picks, "__h")
                .groupBy("__h", "__net")
                .agg(*[F.first(c, ignorenulls=False).alias(c)
                       for c in cols])
            )
            return (
                rep.withColumn(
                    "__i", F.explode(
                        F.sequence(F.lit(1), F.col("__net"))))
                .select(*cols)
                .withColumn("_change_type", F.lit(change))
            )

        inserts = fetch(u, net.filter(F.col("__net") > 0), "insert")
        deletes = fetch(
            s,
            net.filter(F.col("__net") < 0)
            .select("__h", (-F.col("__net")).alias("__net")),
            "delete")
        return inserts.unionByName(deletes)

    def diff_stats(self, since: int,
                   until: int | None = None) -> DataFrame:
        """Per-partition delta report between two snapshots — the
        metadata-plane companion to ``scan_incremental``'s row feed:
        how many files/rows/bytes each partition gained and lost,
        without reading a single data byte. The ops view for "what did
        last night's ingest/compaction actually do to partition X".

        Added = VISIBLE paths in ``until`` absent from ``since``'s
        visible set; removed = the reverse — exact for every operation
        type (a CoW rewrite shows up as adds + removes in the touched
        partitions, and a WAP publish inside the window shows up as
        adds, matching scan_incremental's row feed — staged-invisible
        files don't count until published; r14 review).
        The split is ``_file_diff`` and the per-partition rollup
        ``_partition_groups``, both on the driver with Arrow and no Spark
        job in either manifest regime; the driver holds both snapshots'
        (path, seq, partition_n, rows, bytes) columns, and only the two
        small rollups become DataFrames. Partition values are reported
        as Spark's string cast of the NORMALIZED sidecar encoding
        (timestamps as epoch micros etc., `_norm_stat`) in both regimes,
        so a table that crossed the inline→sidecar threshold between
        the two snapshots still merges each partition into one row. An
        unpartitioned table reports one NULL-partition row (null-safe
        join).
        """
        cur = self.manifest.load(until, load_files=False)
        base = self.manifest.load(since, load_files=False)
        added, removed, _common = self._file_diff(
            cur, base, ("path", "seq", "partition_n", "rows", "bytes"))

        def rollup(inv, suffix: str) -> DataFrame:
            g = self.spark.createDataFrame(
                _partition_groups(inv).combine_chunks())
            return g.select(
                F.col("partition_n").cast("string").alias("partition"),
                F.col("count_all").alias(f"files_{suffix}"),
                F.col("rows_sum").alias(f"rows_{suffix}"),
                F.col("bytes_sum").alias(f"bytes_{suffix}"))

        added = rollup(added, "added")
        removed = rollup(removed, "removed").withColumnRenamed(
            "partition", "__rp")
        out = added.join(
            removed, added["partition"].eqNullSafe(removed["__rp"]),
            "full_outer")
        zero = ["files_added", "rows_added", "bytes_added",
                "files_removed", "rows_removed", "bytes_removed"]
        return out.select(
            F.coalesce(added["partition"], removed["__rp"]).alias(
                "partition"),
            *[F.coalesce(F.col(c), F.lit(0)).alias(c) for c in zero],
        )

    def to_view(self, name: str, snapshot_id: int | None = None) -> None:
        """Register this table (one snapshot) as a temp view so users can
        ``spark.sql(f"SELECT ... FROM {name} WHERE ...")`` — predicates
        still push down through the DataFrame the view wraps."""
        self.scan(snapshot_id).createOrReplaceTempView(name)

    def query(
        self,
        partition: Any = None,
        lo: Any = None,
        hi: Any = None,
        snapshot_id: int | None = None,
    ) -> DataFrame:
        """Range query — the reference's sole query entry point
        (reference storageAdapter.go:4): all rows with the given
        partition value and key in [lo, hi], bounds inclusive.

        Three pruning layers, one declarative plan:
          1. manifest: drop files by partition value + min/max overlap
             (metadata-only — the reference's filename pruning, R12);
          2. Parquet row-group skipping on the pushed-down predicate;
          3. residual row filter (R14).
        Returns a DataFrame — distributed, never collected here.
        """
        snap = self.manifest.load(snapshot_id, load_files=False)
        if partition is not None and not snap.partition_col:
            raise ValueError(
                "query(partition=...) on a table with no partition_col — "
                "the filter would be silently ignored"
            )
        if (lo is not None or hi is not None) and not snap.key_col:
            raise ValueError(
                "query(lo/hi=...) on a table with no key_col — the bounds "
                "would be silently ignored"
            )
        files = self._pruned_files(snap, partition=partition, lo=lo, hi=hi)

        df = self._read_with_deletes(files, snap, snapshot_id)
        # ONE residual filter over df[...] references: each PySpark
        # Column call costs several py4j round trips (call-site capture)
        # and each filter an eager analysis — at a handful of surviving
        # files, more than the pruning itself
        conds = []
        if partition is not None and snap.partition_col:
            conds.append(df[snap.partition_col] == F.lit(partition))
        if snap.key_col:
            if lo is not None:
                conds.append(df[snap.key_col] >= F.lit(lo))
            if hi is not None:
                conds.append(df[snap.key_col] <= F.lit(hi))
        return df.filter(functools.reduce(operator.and_, conds)) if conds \
            else df

    def _read_files(self, files: list[ManifestFile],
                    snapshot_id: int | None = None) -> DataFrame:
        """Schema-on-read over a file subset. Columns a file lacks read
        as NULL (additive evolution); renamed columns resolve through
        their alias chain — ``coalesce(current, prior, ...)`` over the
        read schema widened with the retired names — so files written
        before a rename keep reading correctly with zero rewrite."""
        snap = self.manifest.load(snapshot_id, load_files=False)
        schema = StructType.fromJson(
            __import__("json").loads(snap.schema_json))
        if not files:
            return self.spark.createDataFrame([], schema)
        paths = [os.path.join(self.root, f.path) for f in files]
        current = {f.name for f in schema.fields}
        chains = {k: v for k, v in _fold_chains(snap.renames).items()
                  if k in current}
        if not chains:
            # explicit FILE paths: no partition discovery, so the read
            # already yields exactly ``schema``'s columns, in order
            return self.spark.read.schema(schema).parquet(*paths)
        read_schema = StructType(list(schema.fields))
        for final, olds in chains.items():
            dt = schema[final].dataType  # renames never change the type
            for o in olds:
                read_schema = read_schema.add(o, dt)
        df = self.spark.read.schema(read_schema).parquet(*paths)
        return df.select(*[
            F.coalesce(F.col(f.name),
                       *[F.col(o) for o in chains[f.name]]).alias(f.name)
            if f.name in chains else F.col(f.name)
            for f in schema.fields
        ])

    def add_files(self, paths: list[str], link: bool = True) -> Snapshot:
        """Register EXISTING parquet files into the table without
        rewriting their bytes — Iceberg's ``add_files`` migration path
        (a user switching a directory of plain parquet onto the table
        layer pays metadata cost, not a data rewrite).

        - Files must match the table schema exactly: the first file's
          schema is checked against the table's, and every file's
          footer schema fingerprint against the first's, before
          anything commits.
        - Partitioned tables require each source path to carry a
          hive-style ``<partition_col>=<value>`` segment (the standard
          migration layout); that value becomes the file's recorded
          partition.
        - Bytes are HARDLINKED into the table root (zero copy on the
          same filesystem; cross-device falls back to a copy), so the
          source tree stays intact while the table owns its files —
          expire_snapshots / remove_orphans manage them like any other.
        - Stats, content hash and schema fingerprint come from the one
          Spark stats task every commit uses (``_entries_df``), so
          manifest min/max pruning works on the added files
          immediately; files whose content hash already exists in the
          table are skipped (the reference's idempotent re-ingest,
          block.go:109-115), and when nothing is new no snapshot is
          committed.

        Bucketed tables refuse: arbitrary external files cannot
        satisfy a recorded bucket layout. Driver note: the added
        entries are bounded by the migration size; a sidecar parent is
        never parsed (its content hashes are tested in one Arrow pass,
        ``Manifest.known_hashes``)."""
        snap = self.manifest.load(load_files=False)
        self._require_no_staged(snap, "add_files")
        if snap.bucket_col:
            raise ValueError(
                "add_files cannot guarantee the table's bucket layout; "
                "use append() so rows hash into their buckets")
        if not paths:
            return snap
        schema = self.schema()
        part_col = snap.partition_col
        part_dtype = schema[part_col].dataType if part_col else None
        token = os.urandom(6).hex()
        dest_dir = os.path.join(self.root, "data", f"added-{token}")
        os.makedirs(dest_dir, exist_ok=True)
        rel_paths, part_vals = [], {}
        for i, src in enumerate(paths):
            src = os.path.abspath(src)
            pv = None
            if part_col:
                seg = next(
                    (s for s in src.split(os.sep)
                     if s.startswith(part_col + "=")), None)
                if seg is None:
                    shutil.rmtree(dest_dir, ignore_errors=True)
                    raise ValueError(
                        f"partitioned table: {src!r} has no "
                        f"{part_col}=<value> path segment")
                pv = _cast_partition_string(
                    seg.split("=", 1)[1], part_dtype)
            dst = os.path.join(dest_dir,
                               f"{i:06d}-{os.path.basename(src)}")
            try:
                if not link:
                    raise OSError("copy requested")
                os.link(src, dst)
            except OSError:
                shutil.copyfile(src, dst)
            rel = os.path.relpath(dst, self.root)
            rel_paths.append(rel)
            part_vals[rel] = pv
        got = self.spark.read.parquet(
            os.path.join(self.root, rel_paths[0])).schema
        want = {f.name: f.dataType.simpleString() for f in schema.fields}
        have = {f.name: f.dataType.simpleString() for f in got.fields}
        if want != have:
            shutil.rmtree(dest_dir, ignore_errors=True)
            raise ValueError(
                f"add_files schema mismatch: files have {have}, "
                f"table has {want}")
        # the partition value comes from the source path segment, so
        # the stats task records none
        new, fps = _collect_entries(self.spark, self.root, rel_paths,
                                    schema, snap.key_col, None,
                                    tuple(snap.stat_cols))
        # EVERY file's footer must match the first (which the check
        # above pinned to the table schema): a first-file-only check
        # let a mixed-schema migration register files whose missing
        # columns silently read as NULL. The fingerprints ride the same
        # stats job — no extra job.
        bad = sorted(p for p, fp in fps.items() if fp != fps[rel_paths[0]])
        if bad:
            shutil.rmtree(dest_dir, ignore_errors=True)
            raise ValueError(
                f"add_files schema mismatch: {len(bad)} file(s) differ "
                f"from {paths[0]!r}'s footer schema (first: {bad[0]!r}); "
                "all files in one migration must share one schema")
        for f in new:
            f.partition = part_vals[f.path]
        hashes = {f.content_hash for f in new}
        if self.manifest.known_hashes(_parent_files(snap), hashes) == hashes:
            shutil.rmtree(dest_dir, ignore_errors=True)
            return snap
        return self._commit_entries("add_files", snap, new, {}, dest_dir,
                                    dedupe=True)

    # ------------------------------------------------------------------
    # row-level changes (copy-on-write, Iceberg CoW semantics)
    # ------------------------------------------------------------------
    def _sidecar_df(self, files_ref: str) -> DataFrame:
        """A files sidecar as a Spark DataFrame, read with the schema its
        Parquet footer declares — no schema-inference job."""
        import pyarrow.dataset as ds
        from pyspark.sql.pandas.types import from_arrow_schema

        path = self.manifest.sidecar_path(files_ref)
        schema = ds.dataset(path, format="parquet").schema
        return self.spark.read.schema(from_arrow_schema(schema)).parquet(path)

    def _plan_rewrite(self, snap: Snapshot, mask) -> _Rewrite:
        """The one affected/keep split of every file-rewriting op
        (delete_range, the CoW merges, overwrite_partitions, compact),
        in both manifest regimes, on the driver and without a Spark job.

        ``mask(inventory)`` is the op's Arrow filter over the inventory
        columns (path, seq, partition_n, key_min_n, key_max_n), true for
        the files the op rewrites or drops; a None mask, or a mask that
        returns None, means every file. Only those files become Python
        objects, as (path, seq) ``victims``.
        ``keep`` is every other file: the parent's entries minus the
        victims (inline), or the parent sidecar minus the victim paths
        (sidecar, a ``KeptSidecar``), so no sidecar entry reaches the
        driver. When every file is a victim ``keep`` is empty, and the
        commit reads nothing of the parent sidecar. ``preds`` are the MoR predicates that survive: those
        some kept file still predates (seq scoping; rewritten files get
        a fresh seq and are out)."""
        import pyarrow as pa
        import pyarrow.compute as pc

        inv = self.manifest.inventory(
            snap, ["path", "seq", "partition_n", "key_min_n", "key_max_n"])
        cond = None if mask is None else mask(inv)
        victims = _stubs(inv if cond is None else inv.filter(cond))
        paths = [v.path for v in victims]
        # a NULL verdict keeps the file, as KeptSidecar.prune (not a
        # victim path) does
        kept = inv.slice(0, 0) if cond is None else inv.filter(
            ~pc.field("path").isin(pa.array(paths, pa.string())))
        min_kept = pc.min(kept["seq"]).as_py()
        preds = [p for p in snap.delete_predicates
                 if min_kept is not None and p["seq"] > min_kept]
        if snap.files_ref and len(kept):
            keep = KeptSidecar(snap.files_ref, paths, len(kept))
        else:
            gone = set(paths)
            keep = [f for f in snap.files if f.path not in gone]
        return _Rewrite(victims, keep, preds)

    def delete_range(self, partition: Any = None, lo: Any = None,
                     hi: Any = None) -> Snapshot:
        """Targeted copy-on-write delete of a partition/key range: the
        files ``query(partition, lo, hi)`` would read are rewritten
        (minus the deleted rows) and all other files carry over
        untouched — the read path's own conservative pruning filter
        (``sidecar_keep_filter``) is the rewrite planner's mask.
        Older-spec files cannot be cleared by their recorded partition
        value, so they are rewritten; the retained-rows filter keeps
        their non-matching rows.

        Scale note: this is Iceberg copy-on-write; at heavy delete
        rates the merge-on-read paths amortize better —
        ``delete_where(mode="mor")`` for predicates,
        ``apply_cdc(mode="mor")`` for keyed change streams.
        """
        snap = self.manifest.load(load_files=False)
        self._require_no_staged(snap, "delete_range")
        plan = self._plan_rewrite(snap, lambda inv: sidecar_keep_filter(
            inv.schema, snap, partition, lo, hi)[0])
        if not plan.victims:
            return snap

        # apply any outstanding MoR predicates to the files being
        # rewritten; they remain only for the untouched (kept) files
        retained = self._read_with_deletes(plan.victims, snap)
        cond = F.lit(True)
        if partition is not None and snap.partition_col:
            cond = cond & (F.col(snap.partition_col) == F.lit(partition))
        if snap.key_col:
            if lo is not None:
                cond = cond & (F.col(snap.key_col) >= F.lit(lo))
            if hi is not None:
                cond = cond & (F.col(snap.key_col) <= F.lit(hi))
        return self._write_commit(retained.filter(_not_true(cond)),
                                  "delete", snap.partition_col, snap.key_col,
                                  1_000_000, base_files=plan.keep,
                                  delete_predicates=plan.preds,
                                  expected_parent=snap.snapshot_id)

    def delete_where(self, condition, mode: str = "cow") -> Snapshot:
        """General predicate delete.

        ``mode="cow"``: copy-on-write full rewrite (read amortization:
        scans stay predicate-free). ``mode="mor"``: merge-on-read —
        a METADATA-ONLY commit recording the predicate (as a SQL string)
        against the current file set; scans filter it out until a
        compaction rewrites it away. MoR is the right trade at heavy
        delete rates / large tables (the 100 TB path); pass the
        condition as a SQL boolean string for mor (it must serialize
        into the manifest).

        For key/partition ranges use delete_range, which rewrites only
        overlapping files."""
        if mode == "mor":
            # TRULY metadata-only: the data files are unchanged by
            # definition of merge-on-read, so a sidecar-backed parent's
            # file list is inherited by REFERENCE (same files_ref) —
            # no file entry is ever materialized on the driver, even on
            # a 1M-file table. Inline parents copy the (small) list.
            snap = self.manifest.load(load_files=False)
            # seq scoping applies the predicate to every file with
            # seq < delete seq — including unpublished STAGED files,
            # whose rows the auditor has not accepted yet; refuse
            self._require_no_staged(snap, "delete_where")
            if not isinstance(condition, str):
                raise TypeError("mor delete takes a SQL string predicate")
            # Validate against the table schema NOW (parse alone is not
            # enough — column resolution happens at analysis); a bad
            # predicate must fail the delete, not every later scan.
            self.spark.createDataFrame([], self.schema()).filter(
                F.expr(condition)
            ).schema
            new = snap.child(
                "delete-mor",
                delete_predicates=snap.delete_predicates + [{
                    "expr": condition,
                    "seq": snap.snapshot_id + 1,  # applies to seq < this
                }],
            )
            self.manifest.commit(new)
            return new
        snap = self.manifest.load(load_files=False)
        self._require_no_staged(snap, "delete_where")
        cond = F.expr(condition) if isinstance(condition, str) else condition
        retained = self.scan().filter(_not_true(cond))
        return self._write_commit(retained, "delete", snap.partition_col,
                                  snap.key_col, 1_000_000, base_files=[],
                                  expected_parent=snap.snapshot_id)

    def _check_upsert_keys(self, df: DataFrame, key_cols: list[str],
                           op: str, check_dupes: bool = True) -> None:
        """One batch-side job (groupBy keys + limit(1) early-exit)
        refusing NULL keys — and, unless the caller orders duplicates
        itself (apply_cdc seq_col) — multiple rows per key. Both
        break keyed replacement: a NULL key never equality-matches
        its old row, and a duplicated key writes two versions."""
        from functools import reduce as _reduce

        null_key = _reduce(lambda a, b: a | b,
                           [F.col(k).isNull() for k in key_cols])
        cond = null_key
        if check_dupes:
            cond = cond | (F.col("__cnt") > 1)
        bad = (df.groupBy(*key_cols)
               .agg(F.count(F.lit(1)).alias("__cnt"))  # never collides
               .filter(cond).limit(1).collect())
        if not bad:
            return
        if bad[0]["__cnt"] > 1 and check_dupes and not any(
                bad[0][k] is None for k in key_cols):
            raise ValueError(
                f"{op} batch has multiple rows per key — both would "
                "be written; collapse the batch first (cf. apply_cdc "
                "seq_col)")
        raise ValueError(
            f"{op} key columns must be non-null (identifier-field "
            "rule): a NULL key can never equality-match the row it "
            "replaces, so both versions would survive")

    def upsert(self, df: DataFrame, key_cols: list[str],
               mode: str = "cow",
               source_batch_id: int | None = None,
               source_lineage: str | None = None) -> Snapshot:
        """Merge: rows matching ``key_cols`` are replaced by ``df``'s
        rows, new keys are inserted (CoW; the shuffle is one left-anti
        join on the keys).

        Partition-scoped rewrite: when the table's partition column is
        one of ``key_cols`` (so a key can never change partitions), only
        files in the partitions the batch actually touches are rewritten
        — every other file carries over byte-identical, the rewrite
        planner's affected/keep split (``_plan_rewrite``) applied to
        MERGE. That is what makes per-micro-batch streaming upserts
        viable at 100 TB: cost scales with the touched partitions, not
        the table. Without the
        partition column in the keys, the merge falls back to a full
        rewrite (a moved key's old row could hide in any file).

        ``mode="mor"``: merge-on-read — the batch's rows append and its
        key set lands as an equality-delete file hiding the replaced
        rows (see :meth:`apply_cdc`); O(batch) per call, no rewrite.

        ``source_batch_id``/``source_lineage`` stamp the commit for
        streaming replay protection (same contract as append)."""
        # Like merge/apply_cdc, a batch carrying two rows for one key
        # is refused: both rows would land (only the OLD row is
        # removed), silently breaking the replaced-by-key invariant.
        # NULL keys are refused in the same (one, O(batch), early-exit)
        # job — Iceberg's identifier-field rule: a NULL key can never
        # equality-match its old row, so both versions would survive
        # (r13 DML review). Collapse upstream, or use apply_cdc with
        # seq_col for last-writer-wins ordering.
        # The batch is persisted across the validation job and the
        # write jobs (r13 ADVICE): the check materializes it once and
        # every downstream pass (key set, merge join, append) reads
        # the cache instead of recomputing the batch's lineage per job
        # — the difference between 1× and 3× source cost on the
        # streaming foreachBatch path. Released before returning.
        from pyspark import StorageLevel

        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            self._check_upsert_keys(df, key_cols, "upsert")
            all_keys = df.select(*key_cols).dropDuplicates(key_cols)
            if mode == "mor":
                return self._cdc_mor(all_keys, df, key_cols,
                                     source_batch_id, source_lineage)
            return self._merge_cow(
                all_keys=all_keys,
                upserts=df, key_cols=key_cols, operation="upsert",
                source_batch_id=source_batch_id,
                source_lineage=source_lineage)
        finally:
            df.unpersist()

    def overwrite_partitions(self, df: DataFrame,
                             source_batch_id: int | None = None,
                             source_lineage: str | None = None,
                             ) -> Snapshot:
        """Dynamic partition overwrite (Spark's INSERT OVERWRITE with
        dynamic partitionOverwriteMode, Iceberg's replacePartitions):
        every partition VALUE present in ``df`` is replaced wholesale by
        ``df``'s rows for it; partitions ``df`` does not mention carry
        over byte-identical — the daily-partition-reload primitive. On
        an unpartitioned table this is a plain overwrite.

        The rewrite planner's split with exact partition membership:
        the replaced partitions' files are dropped unread, so a file
        with a NULL partition (unaddressable here) is always kept. MoR
        predicates survive only for kept files that predate them."""
        import pyarrow.compute as pc

        snap = self.manifest.load(load_files=False)
        self._require_no_staged(snap, "overwrite-partitions")
        part_col = snap.partition_col
        if not part_col:
            return self._write_commit(
                df, "overwrite", None, snap.key_col, 1_000_000,
                base_files=[], source_batch_id=source_batch_id,
                source_lineage=source_lineage,
                expected_parent=snap.snapshot_id)
        parts = {r[0] for r in df.select(part_col).distinct().collect()}
        if any(_norm_stat(p) is None for p in parts):
            # NULL, or a decimal: entry JSON records a decimal
            # partition exactly, but its normalized partition_n (the
            # column the mask tests) is NULL, so it addresses no file
            raise ValueError(
                "overwrite_partitions: NULL or decimal partition values "
                "in the incoming frame cannot address a partition")
        if snap.partition_specs:
            # files written under an older spec scatter any partition's
            # rows across arbitrary files — neither keeping nor dropping
            # them is safe for a partition-addressed overwrite
            raise ValueError(
                "overwrite_partitions needs a uniform partition spec; "
                "compact() the pre-evolution files first")

        def mask(inv):
            # exact membership: a NULL partition, or a column type that
            # cannot hold the values, addresses no file
            vals = _partition_values(parts, inv)
            return (pc.scalar(False) if vals is None
                    else pc.field("partition_n").isin(vals))

        plan = self._plan_rewrite(snap, mask)
        return self._write_commit(
            df, "overwrite-partitions", part_col, snap.key_col, 1_000_000,
            base_files=plan.keep, delete_predicates=plan.preds,
            source_batch_id=source_batch_id, source_lineage=source_lineage,
            expected_parent=snap.snapshot_id)

    def merge(self, source: DataFrame, key_cols: list[str],
              when_matched: list[dict] | None = None,
              when_not_matched_insert: bool | str = False,
              mode: str = "cow",
              source_batch_id: int | None = None,
              source_lineage: str | None = None) -> Snapshot:
        """Conditional multi-clause MERGE — Iceberg's ``MERGE INTO
        target t USING source s ON <keys>`` with ordered ``WHEN
        MATCHED [AND cond] THEN UPDATE/DELETE`` clauses and an
        optional ``WHEN NOT MATCHED [AND cond] THEN INSERT``.
        :meth:`upsert`/:meth:`apply_cdc` cover last-writer-wins; this
        is the general form (e.g. "update only if the incoming change
        is newer, delete on tombstone flag, insert the rest").

        ``when_matched``: ordered clause dicts — FIRST applicable
        clause wins per matched row, rows matching no clause stay
        unchanged (SQL MERGE semantics):

        - ``{"condition": "s.seq > t.seq", "action": "update"}`` —
          replace the row with the source row (all target columns
          must exist in the source);
        - ``{"condition": ..., "action": "update",
          "set": {"col": "t.col + s.delta", ...}}`` — update listed
          columns with SQL expressions over the ``t``/``s`` aliases,
          other columns keep their target values;
        - ``{"condition": "s.op = 'D'", "action": "delete"}``.

        ``when_not_matched_insert``: ``True`` inserts every unmatched
        source row, a SQL string inserts those satisfying it
        (evaluated over the source row's UNQUALIFIED columns),
        ``False`` inserts nothing.

        Like SQL MERGE, more than one source row matching the same
        target key is an error (which clause wins would be
        nondeterministic) — pre-collapse with ``seq_col`` logic if
        needed. Executes as ONE commit. ``mode="cow"``: the shared
        partition-scoped CoW merge — when the partition column is a
        merge key, the matched-row join AND the rewrite touch only
        the partitions the batch names, so cost tracks the batch at
        any table size. ``mode="mor"``: merge-on-read — only the
        clause-CLAIMED keys land in an equality-delete file and only
        updated/inserted rows append (matched rows no clause claims
        are not touched at all), so per-merge cost is O(batch) with
        zero rewrites — the high-frequency path; ``compact()``
        materializes the deletes away. Raises
        ``CommitConflictError`` on a lost race (read-modify-write
        discipline, same as upsert)."""
        from functools import reduce as _reduce

        when_matched = list(when_matched or [])
        for cl in when_matched:
            if cl.get("action") not in ("update", "delete"):
                raise ValueError(f"unknown merge action: {cl!r}")
        snap = self.manifest.load(load_files=False)
        self._require_no_staged(snap, "merge")
        schema = StructType.fromJson(json.loads(snap.schema_json))
        tcols = [f.name for f in schema.fields]

        dupes = (source.groupBy(*key_cols).count()
                 .filter(F.col("count") > 1).limit(1).count())
        if dupes:
            raise ValueError(
                "merge source has multiple rows per key — which WHEN "
                "MATCHED clause wins would be nondeterministic; "
                "collapse the source first (cf. apply_cdc seq_col)")

        tgt = self.scan()
        part_col = snap.partition_col
        if part_col and part_col in key_cols and not snap.partition_specs:
            parts = [r[0] for r in
                     source.select(part_col).distinct().collect()]
            if None not in parts:
                # matched rows can only live in the batch's partitions
                # — the join scans those, not the table
                tgt = tgt.filter(F.col(part_col).isin(parts))
        joined = tgt.alias("t").join(
            source.alias("s"),
            _reduce(lambda a, b: a & b,
                    [F.col(f"t.{k}") == F.col(f"s.{k}")
                     for k in key_cols]),
            "inner")

        conds = [F.expr(cl["condition"]) if cl.get("condition")
                 else F.lit(True) for cl in when_matched]
        idx = F.lit(-1)
        for i in reversed(range(len(when_matched))):
            idx = F.when(conds[i], F.lit(i)).otherwise(idx)
        delete_idx = [i for i, cl in enumerate(when_matched)
                      if cl["action"] == "delete"]

        def col_value(c: str):
            v = F.col(f"t.{c}")
            for i in reversed(range(len(when_matched))):
                cl = when_matched[i]
                if cl["action"] != "update":
                    continue
                set_map = cl.get("set") or {c2: f"s.{c2}" for c2 in tcols}
                if c in set_map:
                    v = F.when(F.col("__mi") == F.lit(i),
                               F.expr(set_map[c]).cast(
                                   schema[c].dataType)).otherwise(v)
            return v.alias(c)

        matched = joined.withColumn("__mi", idx)
        if mode == "mor":
            # only clause-CLAIMED rows participate: their keys hide
            # the old versions (equality delete), and the non-delete
            # survivors re-append updated; unclaimed matched rows are
            # never touched — that is what makes the merge O(batch)
            claimed = matched.filter(F.col("__mi") >= 0)
            mor_keys = claimed.select(
                *[F.col(f"t.{k}").alias(k) for k in key_cols]
            ).dropDuplicates(key_cols)
            out_matched = claimed
            if delete_idx:
                out_matched = out_matched.filter(
                    ~F.col("__mi").isin(*delete_idx))
            out_matched = out_matched.select(
                *[col_value(c) for c in tcols])
        else:
            if delete_idx:
                matched = matched.filter(
                    ~F.col("__mi").isin(*delete_idx))
            out_matched = matched.select(*[col_value(c) for c in tcols])

        upserts = out_matched
        if when_not_matched_insert is not False:
            inserts = source.join(tgt.select(*key_cols).distinct(),
                                  key_cols, "left_anti")
            if isinstance(when_not_matched_insert, str):
                inserts = inserts.filter(
                    F.expr(when_not_matched_insert))
            upserts = upserts.unionByName(
                inserts.select(*[
                    F.col(c).cast(schema[c].dataType).alias(c)
                    for c in tcols]))

        if mode == "mor":
            return self._cdc_mor(mor_keys, upserts, key_cols,
                                 source_batch_id, source_lineage)
        all_keys = source.select(*key_cols).dropDuplicates(key_cols)
        return self._merge_cow(
            all_keys=all_keys, upserts=upserts, key_cols=key_cols,
            operation="merge", source_batch_id=source_batch_id,
            source_lineage=source_lineage)

    def apply_cdc(self, df: DataFrame, key_cols: list[str],
                  op_col: str = "op", delete_op: str = "D",
                  seq_col: str | None = None,
                  mode: str = "cow",
                  source_batch_id: int | None = None,
                  source_lineage: str | None = None) -> Snapshot:
        """Apply a change-data-capture batch in one commit: rows whose
        ``op_col`` equals ``delete_op`` delete their key, every other
        row upserts (full-row images; ``op_col``/``seq_col`` are
        stripped before writing). ``seq_col`` orders multiple changes to
        the SAME key within the batch (last writer wins); without it the
        batch must carry at most one row per key — a duplicate key would
        pick an arbitrary winner, so that case raises.

        ``mode="cow"``: one CoW merge, same partition-scoped rewrite
        rule as :meth:`upsert`. ``mode="mor"``: merge-on-read — the
        batch's new rows append as ordinary data files and its key set
        lands as an EQUALITY-DELETE file (Iceberg v2 equality deletes);
        scans anti-join older files against the key set, seq-scoped so
        the batch's own files are exempt. Per-batch cost is O(batch) —
        no existing file is rewritten — which is the 100 TB
        high-frequency-CDC trade; ``compact()`` materializes the
        accumulated deletes away."""
        strip = [op_col] + ([seq_col] if seq_col else [])
        # Persist the batch across the validation job and the write
        # jobs (r13 ADVICE; same rationale as upsert): one source
        # materialization instead of one per job on the foreachBatch
        # streaming path. Released before returning.
        from pyspark import StorageLevel

        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            if seq_col is not None:
                from pyspark.sql import Window

                # NULL keys refused (identifier-field rule, r13 DML
                # review); duplicates are fine here — seq orders them
                self._check_upsert_keys(df, key_cols, "CDC",
                                        check_dupes=False)
                w = Window.partitionBy(*key_cols).orderBy(
                    F.col(seq_col).desc())
                latest = (df.withColumn("_rn", F.row_number().over(w))
                          .filter(F.col("_rn") == 1).drop("_rn"))
            else:
                self._check_upsert_keys(df, key_cols, "CDC")
                latest = df
            all_keys = latest.select(*key_cols)
            # null-safe comparison: a NULL op_col row must UPSERT
            # ("every other row upserts" — the contract above), but
            # `!=` evaluates NULL for it, so the row's key entered
            # all_keys while the row itself silently vanished from the
            # upsert set — a silent delete on malformed input (r13 DML
            # review)
            upserts = latest.filter(
                ~F.col(op_col).eqNullSafe(F.lit(delete_op))).drop(*strip)
            if mode == "mor":
                return self._cdc_mor(all_keys, upserts, key_cols,
                                     source_batch_id, source_lineage)
            return self._merge_cow(
                all_keys=all_keys, upserts=upserts,
                key_cols=key_cols, operation="cdc",
                source_batch_id=source_batch_id,
                source_lineage=source_lineage)
        finally:
            df.unpersist()

    def _cdc_mor(self, all_keys: DataFrame, upserts: DataFrame,
                 key_cols: list[str],
                 source_batch_id: int | None,
                 source_lineage: str | None) -> Snapshot:
        """Merge-on-read CDC commit: write the key set under
        ``deletes/``, append the upsert rows through the standard write
        path (a sidecar parent's rows are copied as stored, never
        parsed on the driver), and attach the equality-delete
        predicate with the ``"commit"`` seq sentinel so it scopes to
        exactly the pre-commit files. The delete file outlives
        compaction until ``expire_snapshots`` drops every snapshot that
        references it (time travel still needs it)."""
        snap = self.manifest.load(load_files=False)  # sidecar stays lazy
        self._require_no_staged(snap, "cdc")
        ref = os.path.join("deletes", f"eqdel-{os.urandom(6).hex()}")
        all_keys.write.parquet(os.path.join(self.root, ref))
        pred = {"eq_ref": ref, "key_cols": list(key_cols),
                "seq": "commit"}
        try:
            return self._write_commit(
                upserts, "cdc-mor", snap.partition_col, snap.key_col,
                1_000_000,
                delete_predicates=snap.delete_predicates + [pred],
                source_batch_id=source_batch_id,
                source_lineage=source_lineage,
                expected_parent=snap.snapshot_id)
        except CommitConflictError:
            shutil.rmtree(os.path.join(self.root, ref),
                          ignore_errors=True)
            raise

    def _merge_cow(self, all_keys: DataFrame, upserts: DataFrame,
                   key_cols: list[str], operation: str,
                   source_batch_id: int | None,
                   source_lineage: str | None) -> Snapshot:
        """Shared CoW merge: remove ``all_keys`` from the affected file
        set, union ``upserts`` back in, carry unaffected files over
        untouched. When the partition column is a merge key, the rewrite
        planner's mask is conservative membership in the batch's
        partitions (older-spec files, by seq range, are always
        affected); otherwise every file is. MoR predicates are
        materialized into the rewritten files and survive only for kept
        files that still predate them. Only the affected files' (path,
        seq) stubs reach the driver in either manifest regime — a merge
        into one partition of a 1M-file table plans a partition's worth
        of stubs, not a million entries."""
        import pyarrow as pa
        import pyarrow.compute as pc

        snap = self.manifest.load(load_files=False)  # sidecar stays lazy
        self._require_no_staged(snap, operation)
        mask = None
        if snap.partition_col and snap.partition_col in key_cols:
            parts = {r[0] for r in all_keys.select(snap.partition_col)
                     .distinct().collect()}
            cur = current_spec_filter(snap)

            def mask(inv):
                # conservative membership: a file is kept only when its
                # partition provably is none of the batch's. Every file
                # is hit when the column cannot hold the values, when a
                # value has no normalized form (NULL, decimal), or when
                # non-text values meet a text column (values of several
                # types, see sidecar_encode)
                vals = _partition_values(parts, inv)
                if vals is None or vals.null_count or (
                        pa.types.is_string(vals.type)
                        and not all(isinstance(p, str) for p in parts)):
                    return None
                hit = (pc.field("partition_n").isin(vals)
                       | pc.field("partition_n").is_null())
                return hit if cur is None else hit | ~cur

        plan = self._plan_rewrite(snap, mask)
        existing = self._read_with_deletes(plan.victims, snap).join(
            all_keys, key_cols, "left_anti")
        return self._write_commit(
            existing.unionByName(upserts), operation, snap.partition_col,
            snap.key_col, 1_000_000, base_files=plan.keep,
            delete_predicates=plan.preds, source_batch_id=source_batch_id,
            source_lineage=source_lineage, expected_parent=snap.snapshot_id)

    # ------------------------------------------------------------------
    # maintenance
    # ------------------------------------------------------------------
    def compact(self, target_rows_per_file: int = 1_000_000,
                min_files: int = 2) -> Snapshot:
        """Rewrite fragmented partitions (north-star 'compact').

        Partitions holding >= ``min_files`` files are re-read, re-sorted
        and rewritten as full-size files; untouched partitions keep their
        files byte-identical. One new snapshot swaps the entries. Any
        file that predates an MoR delete predicate is rewritten too, so
        compaction always rewrites outstanding deletes away.

        Victims come from the rewrite planner (``_plan_rewrite``) over
        the per-partition file counts (``_partition_groups``), on the
        driver without a Spark job in either manifest regime: only
        victim (path, seq) stubs materialize (the reader needs the
        paths), and on a sidecar-backed table the survivors' rows are
        copied into the new sidecar as stored, never parsed.
        """
        import pyarrow.compute as pc

        snap = self.manifest.load(load_files=False)
        self._require_no_staged(snap, "compact")
        max_del_seq = max(
            (p["seq"] for p in snap.delete_predicates), default=None
        )

        def mask(inv):
            groups = _partition_groups(inv)
            big = groups.filter(pc.field("count_all") >= min_files)
            hit = pc.field("partition_n").isin(
                big["partition_n"].combine_chunks())
            if max_del_seq is not None:
                hit = hit | (pc.field("seq") < max_del_seq)
            return hit

        plan = self._plan_rewrite(snap, mask)
        if not plan.victims:
            return snap
        return self._write_commit(
            self._read_with_deletes(plan.victims, snap), "compact",
            snap.partition_col, snap.key_col, target_rows_per_file,
            base_files=plan.keep, delete_predicates=plan.preds,
            expected_parent=snap.snapshot_id)

    def _snapshot_paths(self, snap: Snapshot) -> set[str]:
        """File PATHS of one snapshot: the ``path`` column of its
        inventory (no entry_json parse, no Spark job)."""
        try:
            return set(self.manifest.inventory(snap, ["path"])["path"]
                       .to_pylist())
        except FileNotFoundError:
            # sidecar already gone (interrupted earlier expiry) —
            # nothing left to account for
            return set()

    def expire_snapshots(
        self, keep_last: int = 1,
        lineage_retention_ms: int = 7 * 24 * 3600 * 1000,
    ) -> list[int]:
        """Drop old snapshots and delete data files no live snapshot
        references. Returns expired snapshot ids.

        Metadata cost is paths-only: sidecars are column-projected for
        ``path`` — per-file entries are never parsed. A sidecar SHARED
        with a kept snapshot (metadata-only commits such as MoR deletes
        inherit the parent's files_ref by reference) is preserved.
        Snapshots pinned by a TAG (create_tag) are never expired —
        named time travel stays valid until the tag is dropped.
        Likewise, each streaming checkpoint LINEAGE's newest
        batch-stamped snapshot is pinned: ``last_committed_batch`` is
        the stream's replay protection, and expiring the snapshot that
        carries the max batch id (e.g. keep_last=1 right after a
        maintenance compact) would let an at-least-once foreachBatch
        replay re-append a batch the table already holds. The pin
        carries a TTL (``lineage_retention_ms``, default 7 days, the
        remove_orphans retention discipline): a lineage whose newest
        stamp is older than the window is dead — its checkpoint would
        have re-appended long ago if the stream were alive — so dead
        lineages (e.g. per-run ephemeral checkpoints) cannot accrete
        pinned snapshots and data files forever."""
        snaps = self.manifest.snapshots(load_files=False)
        if len(snaps) <= keep_last:
            return []
        pinned = set(self.tags().values())
        now_ms = int(time.time() * 1000)
        newest_stamp: dict[str, tuple[int, int, int]] = {}
        for s in snaps:
            if s.source_lineage and s.source_batch_id is not None:
                cur = newest_stamp.get(s.source_lineage)
                cand = (s.source_batch_id, s.snapshot_id, s.timestamp_ms)
                if cur is None or cand > cur:
                    newest_stamp[s.source_lineage] = cand
        pinned |= {
            sid for _, sid, ts_ms in newest_stamp.values()
            if now_ms - ts_ms <= lineage_retention_ms
        }
        keep = snaps[-keep_last:] + [
            s for s in snaps[:-keep_last] if s.snapshot_id in pinned
        ]
        drop = [s for s in snaps[:-keep_last] if s.snapshot_id not in pinned]
        if not drop:
            return []
        live: set[str] = set()
        for s in keep:
            live |= self._snapshot_paths(s)
        live_refs = {s.files_ref for s in keep if s.files_ref}
        # collect BEFORE removing: dropped snapshots may share a sidecar
        # (metadata-only commits), so path reads must precede deletion
        dead: set[str] = set()
        for s in drop:
            dead |= self._snapshot_paths(s)
        for path in dead - live:
            p = os.path.join(self.root, path)
            if os.path.exists(p):
                os.remove(p)
        for s in drop:
            os.remove(os.path.join(self.manifest.dir, f"snapshot-{s.snapshot_id}.json"))
            # drop the snapshot's bucketed-registration hardlink dir —
            # the links would otherwise keep deleted files' inodes alive
            linkdir = os.path.join(self.root, "_bucketed",
                                   f"v{s.snapshot_id}")
            if os.path.isdir(linkdir):
                shutil.rmtree(linkdir, ignore_errors=True)
        for ref in {s.files_ref for s in drop if s.files_ref} - live_refs:
            self.manifest.remove_sidecar(ref)
        # equality-delete files live until no surviving snapshot's
        # predicates reference them (time travel reads them at scan)
        live_eq = {p["eq_ref"] for s in keep
                   for p in s.delete_predicates if "eq_ref" in p}
        dead_eq = {p["eq_ref"] for s in drop
                   for p in s.delete_predicates if "eq_ref" in p}
        for ref in dead_eq - live_eq:
            p = os.path.join(self.root, ref)
            if os.path.isdir(p):
                shutil.rmtree(p, ignore_errors=True)
            elif os.path.exists(p):
                os.remove(p)
        # remove now-empty commit dirs
        data_dir = os.path.join(self.root, "data")
        if os.path.isdir(data_dir):
            for d in os.listdir(data_dir):
                full = os.path.join(data_dir, d)
                if os.path.isdir(full) and not any(
                    n.endswith(".parquet") for _, _, ns in os.walk(full) for n in ns
                ):
                    shutil.rmtree(full)
        return [s.snapshot_id for s in drop]

    def _max_files_per_partition(self, snap) -> int:
        """Fragmentation probe, metadata-plane only: the largest file
        count of ``_partition_groups`` over the partition column of the
        inventory — one number, on the driver, no Spark job and no
        entry materialized, in either manifest regime."""
        import pyarrow.compute as pc

        groups = _partition_groups(
            self.manifest.inventory(snap, ["partition_n"]))
        return pc.max(groups["count_all"]).as_py() or 0

    def maintain(self, policy: "MaintenancePolicy") -> dict:
        """One tick of table maintenance under ``policy``: compact when
        any partition's file count reaches the threshold (or MoR
        deletes are outstanding), then bound snapshot history.

        This is the managed answer to the reference's unmanaged
        small-block proliferation (each MaxSize/MaxAge flush makes one
        file forever, blockManager.go:65-67 — SURVEY.md §2.C): a
        continuously-ingesting table calls maintain() on a cadence and
        file counts stay bounded while contents are untouched.

        Safe to run inside a streaming foreachBatch: a pending
        write-audit-publish stage skips the tick (rewrites would
        re-sequence staged visibility), a lost commit race with a
        concurrent writer skips rather than kills the stream, and
        expire_snapshots pins every lineage's newest batch stamp so
        replay protection survives history trimming."""
        report: dict[str, Any] = {
            "compacted": False, "expired": [], "skipped": None,
        }
        snap = self.manifest.load(load_files=False)
        if snap.staged:
            report["skipped"] = "staged-branches-pending"
            return report
        frag = self._max_files_per_partition(snap)
        try:
            if (frag >= policy.max_files_per_partition
                    or snap.delete_predicates):
                self.compact(
                    target_rows_per_file=policy.target_rows_per_file,
                    min_files=policy.max_files_per_partition,
                )
                report["compacted"] = True
            if policy.keep_snapshots is not None:
                report["expired"] = self.expire_snapshots(
                    keep_last=policy.keep_snapshots,
                    lineage_retention_ms=policy.lineage_retention_ms)
            if policy.orphan_retention_ms is not None:
                report["orphans_removed"] = self.remove_orphans(
                    older_than_ms=policy.orphan_retention_ms)
            if policy.refresh_bloom:
                from iceberg_core_spark.table.bloom import (
                    load_config,
                    store_dir_count,
                )

                if load_config(self.root) is not None:
                    # top up blooms for files the compaction (or any
                    # ingest since the last build) wrote — metadata
                    # commit-free, so it cannot conflict
                    report["bloom_indexed"] = self.build_bloom()
                    # generation-flip the store when table compaction
                    # left dead paths behind, or increments piled up —
                    # otherwise the store grows without bound and
                    # every probe scans dead rows
                    mind = policy.bloom_compact_min_dirs
                    if mind is not None and (
                            report["compacted"]
                            or store_dir_count(self.root) >= mind):
                        report["bloom_compacted"] = self.compact_bloom()
        except CommitConflictError:
            # a concurrent writer won the race — maintenance is
            # best-effort background work; next tick retries
            report["skipped"] = "commit-conflict"
        return report

    def rollback(self, snapshot_id: int) -> Snapshot:
        """Roll the table back to an earlier snapshot's state — as a NEW
        commit (Iceberg's rollback semantics: history is append-only,
        the bad snapshots stay inspectable until expired). Metadata-only:
        the target's file list is inherited by reference (same sidecar /
        same inline entries), so rolling back a 1M-file table writes one
        small JSON document."""
        target = self.manifest.load(snapshot_id, load_files=False)
        cur = self.manifest.load(load_files=False)
        if target.snapshot_id == cur.snapshot_id:
            return cur
        # inherit everything from the TARGET state, but chain onto the
        # current head (history stays append-only)
        new = target.child(
            "rollback",
            snapshot_id=cur.snapshot_id + 1,
            parent_id=cur.snapshot_id,
        )
        self.manifest.commit(new)
        return new

    # ------------------------------------------------------------------
    # write-audit-publish branches + named refs (tags)
    # ------------------------------------------------------------------
    def branches(self) -> dict[str, list[int]]:
        """Branch name → staged snapshot ids (unpublished WAP stages)."""
        return {b: list(v)
                for b, v in self.manifest.load(load_files=False).staged.items()}

    def publish_branch(self, name: str) -> Snapshot:
        """Publish a staged audit branch: a METADATA-ONLY commit that
        removes ``name`` from the staged dict, so every file its
        appends added becomes visible to main reads atomically — the
        'publish' of write-audit-publish. The file list is inherited by
        reference (same sidecar / inline entries), so publishing on a
        1M-file table writes one small JSON document. Safe to
        auto-retry after a lost commit race: it carries no data files,
        so it reloads the winner and re-commits on top (the staged ids
        travel with every commit, so the winner still carries them)."""

        def build(snap):
            self._require_branch(snap, name)
            return snap.child(
                "publish",
                staged={b: list(v) for b, v in snap.staged.items()
                        if b != name},
            )

        return self._commit_metadata(build)[1]

    def drop_branch(self, name: str) -> Snapshot:
        """Abandon a staged audit branch (the audit REJECTED the data):
        commits a snapshot whose file list excludes every file the
        branch's staged appends added, then deletes those data files.
        Admin-plane op: materializes the current file list on the
        driver (rare by construction — audits are short-lived; the
        planning ceiling is the documented ~100-byte/file stub budget)."""

        def build(snap):
            self._require_branch(snap, name)
            ids = set(snap.staged[name])
            return snap.child(
                "drop-branch",
                # the files override clears the inherited
                # files_ref/files_count in child() itself
                files=[f for f in snap.files if f.seq not in ids],
                staged={b: list(v) for b, v in snap.staged.items()
                        if b != name},
            )

        base, new = self._commit_metadata(build, load_files=True)
        # data files go LAST: earlier snapshots still reference them
        # until expire_snapshots, but a dropped branch's files are
        # referenced only by this table's history — remove now
        # (matching Iceberg's expire-after-branch-delete effect for a
        # single-table layout); failures leave orphans that
        # remove_orphans() reaps.
        ids = set(base.staged[name])
        _remove_files(self.root, [f.path for f in base.files if f.seq in ids])
        return new

    @staticmethod
    def _require_branch(snap, name: str) -> None:
        if name not in snap.staged:
            raise ValueError(f"no staged branch {name!r} "
                             f"(staged: {sorted(snap.staged)})")

    def _commit_metadata(self, build, load_files: bool = False
                         ) -> tuple[Snapshot, Snapshot]:
        """Commit loop of the metadata-only ops (publish, drop-branch,
        spec change, rename): ``build(snap)`` re-runs the op's guards
        against ``snap`` and returns its child, or None when there is
        nothing to commit. They carry no new data files, so a lost race
        is safe to auto-retry: reload the winner and build again on top
        of it. Returns (the snapshot built on, the committed one — the
        same when nothing was committed)."""
        snap = self.manifest.load(load_files=load_files)
        while True:
            new = build(snap)
            if new is None:
                return snap, snap
            try:
                self.manifest.commit(new)
                return snap, new
            except CommitConflictError:
                winner = self.manifest.load(load_files=load_files)
                if winner.snapshot_id == snap.snapshot_id:
                    raise  # not a lost race — surface the real error
                snap = winner

    def _refs_dir(self) -> str:
        return os.path.join(self.manifest.dir, "refs")

    @staticmethod
    def _check_ref_name(name: str) -> None:
        import re

        if not re.fullmatch(r"[A-Za-z0-9._-]+", name):
            raise ValueError(
                f"invalid ref name {name!r}: use letters, digits, '.', "
                "'_', '-' (it becomes a filename under _manifest/refs)"
            )

    def create_tag(self, name: str, snapshot_id: int | None = None) -> int:
        """Create an immutable named ref (Iceberg tag) pointing at one
        snapshot — time travel by NAME (``scan(ref=...)``), and the
        snapshot it pins is protected from expire_snapshots. The tag
        file is claimed with the same exclusive-link trick the commit
        protocol uses, so two writers can never silently overwrite each
        other's tag."""
        self._check_ref_name(name)
        sid = (snapshot_id if snapshot_id is not None
               else self.manifest.current_snapshot_id())
        if sid is None or not os.path.exists(
            os.path.join(self.manifest.dir, f"snapshot-{sid}.json")
        ):
            raise ValueError(f"no such snapshot: {sid}")
        os.makedirs(self._refs_dir(), exist_ok=True)
        path = os.path.join(self._refs_dir(), f"{name}.json")
        tmp = path + f".tmp-{os.urandom(4).hex()}"
        with open(tmp, "w") as f:
            json.dump({"snapshot_id": sid,
                       "timestamp_ms": Manifest.now_ms()}, f)
        try:
            os.link(tmp, path)
        except FileExistsError:
            raise ValueError(
                f"tag {name!r} already exists (tags are immutable — "
                "drop_tag() first to repoint)"
            ) from None
        finally:
            os.remove(tmp)
        return sid

    def tags(self) -> dict[str, int]:
        """Tag name → snapshot id for every named ref."""
        d = self._refs_dir()
        out: dict[str, int] = {}
        if os.path.isdir(d):
            for n in sorted(os.listdir(d)):
                if n.endswith(".json"):
                    with open(os.path.join(d, n)) as f:
                        out[n[:-5]] = json.load(f)["snapshot_id"]
        return out

    def resolve_ref(self, name: str) -> int:
        try:
            with open(os.path.join(self._refs_dir(), f"{name}.json")) as f:
                return json.load(f)["snapshot_id"]
        except FileNotFoundError:
            raise KeyError(f"no such ref: {name!r}") from None

    def drop_tag(self, name: str) -> None:
        self._check_ref_name(name)
        try:
            os.remove(os.path.join(self._refs_dir(), f"{name}.json"))
        except FileNotFoundError:
            raise KeyError(f"no such ref: {name!r}") from None

    # ------------------------------------------------------------------
    # partition-spec evolution
    # ------------------------------------------------------------------
    def set_partition_spec(self, new_col: str | None) -> Snapshot:
        """Evolve the identity-partition column (Iceberg's partition
        spec evolution): a METADATA-ONLY commit — nothing rewrites.
        Future writes route on ``new_col`` (None = unpartitioned);
        existing files keep their write-time layout and a
        ``query(partition=...)`` on the new column still prunes them:

        - files written under the CURRENT spec prune by their recorded
          partition value (exact, as before);
        - files written under an OLDER spec fall back to their
          per-column min/max stats for the queried column (the same
          conservative overlap test range_scan uses) — and are always
          corrected by the residual filter, since the partition value
          is stored INSIDE every data file as an ordinary column.

        ``new_col`` is auto-added to stat_cols so files written under
        this spec stay stats-prunable across FUTURE spec changes. The
        write-time spec of each file is resolved from the snapshot's
        ``partition_specs`` seq-range history (Snapshot.spec_col_for) —
        O(1) metadata per change, valid for sidecar-backed tables
        without touching a single entry. Safe to auto-retry after a
        lost commit race (metadata-only, rename_column-style)."""

        def build(snap):
            if new_col == snap.partition_col:
                return None
            if snap.bucket_col:
                raise ValueError(
                    "bucketed layout has no identity partition spec — "
                    "rewrite via compact()/overwrite() into a new table"
                )
            if new_col is not None:
                schema = StructType.fromJson(json.loads(snap.schema_json))
                if new_col not in [f.name for f in schema.fields]:
                    raise ValueError(f"no such column: {new_col!r}")
                retired = {r["from"] for r in snap.renames}
                if new_col in retired:
                    raise ValueError(
                        f"column name {new_col!r} was retired by a rename"
                    )
            return snap.child(
                "set-spec",
                partition_col=new_col,
                partition_specs=snap.partition_specs + [
                    {"col": snap.partition_col,
                     "until_seq": snap.snapshot_id + 1}],
                stat_cols=(list(dict.fromkeys(snap.stat_cols + [new_col]))
                           if new_col else list(snap.stat_cols)),
            )

        return self._commit_metadata(build)[1]

    def rename_column(self, old: str, new: str) -> Snapshot:
        """Rename a column as a METADATA-ONLY commit — no data rewrite,
        the file list is inherited by reference (rollback-style), so
        renaming a column of a 1M-file table writes one small JSON
        document. Name-based analog of Iceberg's field-id rename: the
        old name is recorded in the snapshot's rename history and the
        read path resolves pre-rename files via a coalesce alias chain
        (see _read_files).

        Constraints (each protects schema-on-read of existing files):
        type is preserved; the new name must be unused AND not a
        retired alias (reusing one would capture old files' bytes);
        partition/key/bucket columns are refused — file routing and key
        min/max stats are keyed by physical column name. STAT and
        Z-ORDER columns MAY be renamed: the snapshot's stat_cols /
        zorder_by lists move to the new name and pruning resolves each
        file's stats through the same alias chain the read path uses
        (pre-rename entries keep stats under the old physical name).

        A metadata-only rename is safe to auto-retry after a lost
        commit race: it carries no data files of its own, so it reloads
        the winner snapshot, re-validates every guard against it, and
        re-commits on top — CommitConflictError only surfaces when a
        guard genuinely fails against the new state (e.g. the winner
        added a conflicting column)."""

        def build(snap):
            schema = StructType.fromJson(json.loads(snap.schema_json))
            names = [f.name for f in schema.fields]
            if old not in names:
                raise ValueError(f"no such column: {old!r}")
            if new in names:
                raise ValueError(f"column {new!r} already exists")
            retired = {r["from"] for r in snap.renames}
            if new in retired:
                raise ValueError(
                    f"column name {new!r} was retired by an earlier rename "
                    "and stays reserved (old files still carry it physically)"
                )
            if snap.delete_predicates:
                raise ValueError(
                    "pending merge-on-read delete predicates reference "
                    "physical column names; compact() before renaming"
                )
            if old in {snap.partition_col, snap.key_col, snap.bucket_col}:
                raise ValueError(
                    f"{old!r} is partition/key/bucket-bearing; file "
                    "routing and key min/max stats are keyed by physical "
                    "name — rewrite via compact() with a new layout instead"
                )
            new_schema = StructType([
                StructField(new, f.dataType, f.nullable)
                if f.name == old else f
                for f in schema.fields
            ])
            return snap.child(
                "rename",
                schema_json=new_schema.json(),
                stat_cols=[new if c == old else c for c in snap.stat_cols],
                zorder_by=[new if c == old else c for c in snap.zorder_by],
                # "seq" = the parent snapshot id at rename time: a data
                # file with f.seq <= it predates the rename (physical
                # bytes under the old name) — what raw-file readers
                # (as_bucketed_table) must check, since they bypass the
                # coalesce alias chain (r14 review)
                renames=snap.renames + [
                    {"from": old, "to": new, "seq": snap.snapshot_id}],
            )

        return self._commit_metadata(build)[1]

    def clone(self, dst_root: str) -> "IceTable":
        """SHALLOW clone (Delta ``SHALLOW CLONE`` / Iceberg
        snapshot-export analog): the table — full history, branches,
        pending MoR predicates — becomes an INDEPENDENT table at
        ``dst_root`` without copying a data byte. Data/delete parquet
        files HARDLINK (the inode refcount keeps a linked file alive
        even after the source's expire/remove_orphans unlinks it, so
        the clone can never lose data to source maintenance);
        metadata JSONs byte-copy so the two tables' commit protocols
        (per-root exclusive-create claims) and mutable hints never
        touch the same inode. Commits to either side are invisible to
        the other. On an object store the links become a
        copy-by-reference manifest (same discipline, no inode).

        Not cloned: ``_bucketed/`` catalog link dirs (registered under
        the SOURCE's catalog name — re-register on the clone) and the
        ``bloom/`` sidecar store (derived data; one ``build_bloom()``
        on the clone rebuilds it). Metadata-plane cost only: the walk
        touches every file NAME once, never content.

        Concurrent-writer safety comes from PINNING the snapshot set
        up front, then copying in the mirror of the commit protocol's
        write order (data → sidecar → snapshot JSON → CURRENT hint):

        - One listing of ``_manifest/`` picks the snapshot JSONs; the
          clone copies exactly those and no later ones (ids are
          consecutive, so the pinned set is gap-free).
        - The clone's CURRENT is WRITTEN as the pinned max id, never
          copied — the source's CURRENT content is a racing writer's
          mutable hint and can point above the pinned set by the time
          it is read (readers walk the hint FORWARD over snapshots
          that exist, so a hint above the set would break the clone,
          while the derived value is exact by construction).
        - Sidecars copy from a SECOND listing taken after the
          snapshots: anything a pinned snapshot references was
          durably on disk before that snapshot appeared, hence for
          the whole duration of any later readdir — a single listing
          could legitimately emit a mid-write snapshot entry while
          having already passed its (older) sidecar's slot.
        - Data files copy last (os.walk), by the same argument.

        A commit landing mid-clone therefore contributes at worst
        orphan data files the cloned manifest never references
        (``remove_orphans`` on the clone reclaims them). A failed
        clone (including an EXDEV cross-device fallback that
        half-ran) removes the partial destination before re-raising,
        so a retry never trips the not-empty guard on its own
        debris."""
        dst_preexisted = os.path.exists(dst_root)
        if dst_preexisted and os.listdir(dst_root):
            raise ValueError(f"clone destination not empty: {dst_root}")
        self.manifest.load(load_files=False)  # must be a real table

        def _scratch(n: str) -> bool:
            # in-flight writer scratch: sidecar tmp (*.tmp), the
            # commit CAS / CURRENT-hint tmp names (*.tmp-<hex>), the
            # staging dirs older versions' Spark-written commits left
            # (tmp-entries-<hex>/tmp-base-<hex>), and hidden/underscore
            # scratch
            return (n.startswith(("_tmp", "tmp-", "."))
                    or n.endswith(".tmp") or ".tmp-" in n)

        def _place(src: str, dst: str, link: bool) -> None:
            if os.path.isdir(src):
                # distributed-commit sidecars (files-<sid>-<hex>.
                # parquet written by Spark once file count exceeds
                # Manifest.inline_max) are DIRECTORIES of part files:
                # link leaf by leaf — os.link on a directory is EPERM
                os.makedirs(dst, exist_ok=True)
                for n in os.listdir(src):
                    if _scratch(n):
                        continue
                    _place(os.path.join(src, n), os.path.join(dst, n),
                           link)
                return
            if not link:
                shutil.copy2(src, dst)
                return
            try:
                os.link(src, dst)
            except OSError as e:
                if e.errno != errno.EXDEV:
                    raise
                shutil.copy2(src, dst)  # cross-device: copy, not link

        try:
            man_src = os.path.join(self.root, _MANIFEST_DIR)
            man_dst = os.path.join(dst_root, _MANIFEST_DIR)
            os.makedirs(man_dst, exist_ok=True)
            ids = {int(n[len("snapshot-"):-len(".json")])
                   for n in os.listdir(man_src)
                   if n.startswith("snapshot-") and n.endswith(".json")
                   and not _scratch(n)}
            # readdir is not atomic: it can emit snapshot-N while
            # having already passed snapshot-(N-1)'s slot. Real ids
            # are consecutive, so heal listing gaps with a stat probe
            # and pin the maximal consecutive run ending at max (a
            # true low-side gap means a racing expire_snapshots —
            # history below it is gone either way).
            lo, hi = min(ids), max(ids)
            for i in range(lo, hi):
                if i not in ids and os.path.exists(
                        os.path.join(man_src, f"snapshot-{i}.json")):
                    ids.add(i)
            start = hi
            while start - 1 in ids:
                start -= 1
            snaps = [f"snapshot-{i}.json" for i in range(start, hi + 1)]
            for n in snaps:  # the pinned, gap-free snapshot set
                _place(os.path.join(man_src, n),
                       os.path.join(man_dst, n), link=False)
            pinned_max = hi
            with open(os.path.join(man_dst, "CURRENT"), "w") as f:
                f.write(str(pinned_max))
            done = set(snaps) | {"CURRENT"}
            for n in os.listdir(man_src):  # fresh listing: sidecars
                if (n in done or _scratch(n)
                        or (n.startswith("snapshot-")
                            and n.endswith(".json"))):
                    continue  # post-pin snapshots stay out of the clone
                _place(os.path.join(man_src, n),
                       os.path.join(man_dst, n), link=True)
            skip = {"_bucketed", "bloom", _MANIFEST_DIR}
            for dirpath, dirs, walk_names in os.walk(self.root):
                rel = os.path.relpath(dirpath, self.root)
                parts = [] if rel == "." else rel.split(os.sep)
                if parts and parts[0] in skip:
                    dirs[:] = []
                    continue
                dd = (dst_root if not parts
                      else os.path.join(dst_root, *parts))
                os.makedirs(dd, exist_ok=True)
                for n in walk_names:
                    if _scratch(n):
                        continue
                    _place(os.path.join(dirpath, n), os.path.join(dd, n),
                           link=not (n.endswith(".json") or n == "CURRENT"))
        except BaseException:
            # remove only the clone's own debris: if the CALLER made
            # the (empty) destination dir, clear its contents but
            # leave the dir itself (its ownership/ACLs are theirs)
            if dst_preexisted:
                for n in os.listdir(dst_root):
                    p = os.path.join(dst_root, n)
                    (shutil.rmtree if os.path.isdir(p)
                     else os.remove)(p)
            else:
                shutil.rmtree(dst_root, ignore_errors=True)
            raise
        return IceTable(self.spark, dst_root)

    def remove_orphans(self, older_than_ms: int = 3 * 24 * 3600 * 1000,
                       ) -> list[str]:
        """Delete files under the table root referenced by NO snapshot
        (crash leftovers: a writer that died between data write and
        manifest commit) — data files, uncommitted equality-delete
        sets, and unreferenced ``_manifest/`` artifacts (a writer dying
        between its sidecar write and the commit CAS leaks
        ``files-*`` sidecars and ``*.tmp-*`` scratch forever; r11
        review finding 4c). Paths-only metadata cost — sidecars are
        column-projected, entries never parse. Returns removed paths.

        Concurrent-writer safety: the commit protocol is write-data-
        then-commit-manifest (sidecars too are written BEFORE the
        claim), so an IN-FLIGHT writer's freshly written files are
        legitimately unreferenced at walk time. Only files whose mtime
        is older than ``older_than_ms`` are removed (default 3 days,
        matching Iceberg's remove_orphan_files older_than discipline)
        — a live writer commits long before that. Pass
        ``older_than_ms=0`` only when no other writer can be active
        (single-writer maintenance window)."""
        snaps = self.manifest.snapshots(load_files=False)
        live: set[str] = set()
        for s in snaps:
            live |= self._snapshot_paths(s)
        cutoff = time.time() - older_than_ms / 1000.0
        data_dir = os.path.join(self.root, "data")
        removed = []
        if os.path.isdir(data_dir):
            for dp, _d, names in os.walk(data_dir):
                for n in names:
                    if not n.endswith(".parquet"):
                        continue
                    full = os.path.join(dp, n)
                    rel = os.path.relpath(full, self.root)
                    if rel in live:
                        continue
                    try:
                        if os.path.getmtime(full) > cutoff:
                            continue  # possibly an in-flight writer's file
                        os.remove(full)
                    except FileNotFoundError:
                        continue  # concurrent maintenance removed it first
                    removed.append(rel)
        # equality-delete sets a crashed CDC writer never committed:
        # same mtime retention, referenced sets stay (scans read them)
        live_eq = {
            p["eq_ref"] for s in snaps
            for p in s.delete_predicates if "eq_ref" in p
        }
        del_dir = os.path.join(self.root, "deletes")
        if os.path.isdir(del_dir):
            for n in os.listdir(del_dir):
                rel = os.path.join("deletes", n)
                full = os.path.join(del_dir, n)
                if rel in live_eq:
                    continue
                try:
                    if os.path.getmtime(full) > cutoff:
                        continue
                    shutil.rmtree(full, ignore_errors=True)
                except FileNotFoundError:
                    continue
                removed.append(rel)
        # _manifest/ crash leftovers: unreferenced files-* sidecars
        # (a writer that died between its sidecar write and the commit
        # CAS — the sidecar is written FIRST) and commit scratch. The
        # scratch matcher is anchored to the EXACT names the writers
        # emit (r12 ADVICE — a generic "contains .tmp" test would
        # delete any future live artifact whose name happens to look
        # tmp-ish after the retention window):
        # tmp-base-/tmp-entries-<hex8>.parquet staging (left by older
        # versions' Spark-written commits), files-*.parquet.tmp driver
        # sidecar temps, snapshot-N.json.tmp-<hex8> CAS temps, and
        # CURRENT.tmp-<hex8> hint temps. ONLY those shapes plus
        # unreferenced sidecars are candidates: snapshot-*.json is
        # the commit log (expire_snapshots manages it), CURRENT is
        # the hint, refs/ holds tags — all untouched, as is any name
        # this writer doesn't recognize.
        scratch_re = re.compile(
            r"^(?:tmp-(?:base|entries)-[0-9a-f]{8}\.parquet"
            r"|files-.+\.parquet\.tmp"
            r"|snapshot-\d+\.json\.tmp-[0-9a-f]{8}"
            r"|CURRENT\.tmp-[0-9a-f]{8})$"
        )
        live_refs = {s.files_ref for s in snaps if s.files_ref}
        man_dir = self.manifest.dir
        if os.path.isdir(man_dir):
            for n in os.listdir(man_dir):
                is_sidecar = (n.startswith("files-")
                              and n.endswith(".parquet"))
                is_scratch = scratch_re.match(n) is not None
                if not (is_sidecar or is_scratch) or n in live_refs:
                    continue
                full = os.path.join(man_dir, n)
                try:
                    if os.path.getmtime(full) > cutoff:
                        continue  # possibly an in-flight commit's write
                except FileNotFoundError:
                    continue
                if os.path.isdir(full):
                    shutil.rmtree(full, ignore_errors=True)
                else:
                    try:
                        os.remove(full)
                    except FileNotFoundError:
                        continue
                removed.append(os.path.relpath(full, self.root))
        return removed

    def snapshots(self) -> list[Snapshot]:
        return self.manifest.snapshots()

    # ------------------------------------------------------------------
    # metadata tables (Iceberg's <table>.files / <table>.history analog)
    # ------------------------------------------------------------------
    def files_df(self, snapshot_id: int | None = None) -> DataFrame:
        """One snapshot's data-file inventory as a DataFrame — path,
        partition value, key min/max, rows, bytes, content hash, seq —
        for maintenance queries (small-file counts, bytes per
        partition, skew inspection) without touching data files. One
        ``select`` over the sidecar encoding in either regime: a
        sidecar-backed snapshot's frame is the distributed sidecar scan
        (entries never materialize on the driver), an inline list's is
        its ``sidecar_encode`` table lifted into a local DataFrame.
        Stats are Spark's string cast of the normalized encoding
        (epoch micros for timestamps, 'true'/'false' booleans), so a
        table crossing the inline→sidecar threshold keeps its
        encoding; the hash is extracted from entry_json JVM-side."""
        snap = self.manifest.load(snapshot_id, load_files=False)
        if snap.files_ref:
            src = self._sidecar_df(snap.files_ref)
        else:
            # one chunk: createDataFrame can drop rows of a multi-chunk
            # Arrow table
            src = self.spark.createDataFrame(
                sidecar_encode(snap.files, []).combine_chunks())
        return src.select(
            F.col("path"),
            F.col("partition_n").cast("string").alias("partition"),
            F.col("key_min_n").cast("string").alias("key_min"),
            F.col("key_max_n").cast("string").alias("key_max"),
            F.col("rows"),
            F.col("bytes"),
            F.get_json_object("entry_json", "$.content_hash")
            .alias("content_hash"),
            F.col("seq"),
        )

    def partitions_df(self, snapshot_id: int | None = None) -> DataFrame:
        """Per-partition file inventory rollup (Iceberg's
        ``<table>.partitions`` analog): file/row/byte totals and average
        file size per partition value — the compaction planner's input
        (small-file pressure and partition skew in one scan). Built as
        an aggregate OVER ``files_df``, so sidecar-backed snapshots
        aggregate the sidecar scan distributedly; per-file entries never
        materialize on the driver. Raw inventory semantics (like
        Iceberg): staged and MoR-affected files are counted — this is a
        file-layout view, not a row-visibility view."""
        f = self.files_df(snapshot_id)
        return (
            f.groupBy("partition")
            .agg(
                F.count(F.lit(1)).alias("file_count"),
                F.sum("rows").alias("row_count"),
                F.sum("bytes").alias("total_bytes"),
                (F.sum("bytes") / F.count(F.lit(1)))
                .alias("avg_file_bytes"),
                F.max("seq").alias("last_seq"),
            )
        )

    def history_df(self) -> DataFrame:
        """Commit history as a DataFrame — snapshot id, parent,
        timestamp, operation, file/row counts, batch lineage, staged
        branches — the audit-trail view (Iceberg's history/snapshots
        metadata tables folded into one). Metadata-only: file and row
        counts come from each snapshot's ``rows`` inventory column
        (``Manifest.inventory``), in either regime; no entry is
        parsed."""
        import pyarrow.compute as pc

        rows = []
        for s in self.manifest.snapshots(load_files=False):
            n = self.manifest.inventory(s, ["rows"])["rows"]
            rows.append((
                s.snapshot_id, s.parent_id, s.timestamp_ms, s.operation,
                len(n), pc.sum(n).as_py() or 0, s.partition_col, s.key_col,
                s.source_lineage, s.source_batch_id,
                json.dumps(s.staged) if s.staged else None,
                len(s.delete_predicates),
            ))
        schema = ("snapshot_id long, parent_id long, timestamp_ms long, "
                  "operation string, n_files long, n_rows long, "
                  "partition_col string, key_col string, "
                  "source_lineage string, source_batch_id long, "
                  "staged string, n_delete_predicates long")
        if not rows:
            return self.spark.createDataFrame([], schema)
        return self.spark.createDataFrame(rows, schema)

    def file_count(self) -> int:
        """Live data files of the current snapshot (its inventory's row
        count; no column is read)."""
        snap = self.manifest.load(load_files=False)
        return self.manifest.inventory(snap, []).num_rows

    def last_committed_batch(self, lineage: str) -> int | None:
        """Max micro-batch id committed for a checkpoint lineage.

        Walks snapshot history NEWEST-FIRST and stops at the first
        stamped snapshot of this lineage: batch ids are monotone per
        lineage (this very guard enforces it — a batch only commits if
        its id exceeds the last), so the newest stamp IS the max. A
        long-running stream therefore pays O(commits since its last
        append) JSON loads per micro-batch — typically one or two past
        interleaved maintenance/other-writer commits — instead of
        re-reading the entire history every trigger (quadratic over
        the stream's lifetime). A maintenance commit in between still
        cannot erase replay protection: the walk keeps going until the
        lineage's stamp is found, and expire_snapshots pins each
        lineage's newest stamped snapshot."""
        for sid in self.manifest.snapshot_ids(newest_first=True):
            s = self.manifest.load(sid, load_files=False)
            if s.source_lineage == lineage and s.source_batch_id is not None:
                return s.source_batch_id
        return None

    def stats(self) -> dict:
        """Table statistics from the manifest alone (metadata-only, no
        data I/O): totals plus per-partition file/row/byte breakdown,
        from ``_partition_groups`` over the inventory — on the driver,
        no Spark job, no entry materialized, in either manifest regime.
        Partition keys are in the normalized sidecar encoding
        (``_norm_stat``: dates as epoch days, timestamps as epoch
        micros), as in ``files_df`` and ``diff_stats``."""
        snap = self.manifest.load(load_files=False)
        groups = _partition_groups(self.manifest.inventory(
            snap, ["partition_n", "rows", "bytes"])).to_pylist()
        parts = {g["partition_n"]: {"files": g["count_all"],
                                    "rows": g["rows_sum"],
                                    "bytes": g["bytes_sum"]}
                 for g in groups}
        return {
            "snapshot_id": snap.snapshot_id,
            "operation": snap.operation,
            **{k: sum(d[k] for d in parts.values())
               for k in ("files", "rows", "bytes")},
            "pending_mor_deletes": len(snap.delete_predicates),
            "partitions": parts,
        }
