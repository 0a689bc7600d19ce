"""Manifest + snapshot metadata for the native table layer.

Design (Iceberg-inspired, minimal):

- ``<root>/_manifest/snapshot-<id>.json`` — immutable snapshot document:
  schema, partition/key columns, operation, parent id, and the FULL list
  of live data files with per-file stats (partition value, key min/max,
  row count, byte size, content hash).
- ``<root>/_manifest/CURRENT`` — single-line pointer to the current
  snapshot id, replaced atomically (write-temp + ``os.replace``).

Optimistic concurrency (multi-writer, lock-free): snapshot ids are
consecutive (``id = parent_id + 1``) and the COMMIT POINT is the
exclusive creation of ``snapshot-<id>.json`` via ``os.link`` of a fully
written temp file — on any POSIX filesystem link(2) fails with EEXIST
if another writer already claimed that id, so at most one child of any
parent ever exists. That is the compare-and-swap: a loser gets
``CommitConflictError`` and must reload the new current snapshot,
rebase its change, and retry (IceTable does this automatically for
appends, whose rebase is trivially safe). The reference serializes all
writes through one BlockManager goroutine (reference blockManager.go:29)
— a single JVM-driver analog would bottleneck a 1000-executor cluster's
concurrent ingest jobs, so the commit protocol is contention-safe
instead. ``CURRENT`` is demoted to a monotonic HINT: readers advance
past it while a successor snapshot file exists, so a writer crashing
between claim and hint update (or a stale hint overwrite racing) never
loses or reorders commits.

File-level min/max pruning replaces the reference's filename-encoded
key ranges (reference block.go:109-115, 143-199). Filenames here carry a
content hash for idempotence/dedup (reference block.go:94-115, R16) but
never statistics — stats live in the manifest, so negative keys and any
orderable type work (the reference's filename scheme broke on negative
int64, block.go:147).

Metadata-as-data: a snapshot whose file list exceeds
``Manifest.inline_max`` entries stores it as a Parquet SIDECAR
(``files-<id>.parquet``) instead of inline JSON — one row per file with
the pruning stats normalized to plainly-orderable types (timestamps →
epoch micros, dates → epoch days) plus the full entry as a JSON string
column. Every driver-side reader of a whole file list — scan, the
change feeds and their diff, the rewrite planner, stats, history —
reads it through ONE call, ``Manifest.inventory``: an Arrow table of the
columns it asks for, in the sidecar encoding, in either regime (a
sidecar is one streamed column-projected pyarrow scan, an inline list
goes through the sidecar writer's own encoder, ``sidecar_encode``).
Query-time pruning of a sidecar reads it with an Arrow filter
(``sidecar_keep_filter``, through ``Manifest.sidecar_table``) that
reads only the stat columns it tests, and only the SURVIVING
(path, seq) rows are materialized: no Spark job plans a query,
entry_json is never read, and a 1M-file table never parses 1M JSON
entries to answer a point query. Small tables keep inline JSON for
debuggability; the pruning verdicts are identical either way — a file
is dropped only when a stat PROVES no overlap (``partition != p``,
``key_max < lo``, ``key_min > hi``), so NULL stats and NaN min/max
keep it.
"""

from __future__ import annotations

import itertools
import json
import os
import time
from dataclasses import asdict, dataclass, field
from datetime import date, datetime, timedelta, timezone
from decimal import Decimal
from typing import Any

_MANIFEST_DIR = "_manifest"
_CURRENT = "CURRENT"


class CommitConflictError(Exception):
    """Raised when another writer committed a snapshot with the same
    parent first (the exclusive-create claim of ``snapshot-<id>.json``
    found the id taken, or the current id moved past the expected
    parent). Reload the table state, rebase the change, retry."""

_EPOCH_DT = datetime(1970, 1, 1)
_EPOCH_D = date(1970, 1, 1)


def _norm_stat(v: Any) -> Any:
    """Normalize a stat value to a plainly-orderable parquet type for the
    sidecar columns: timestamps → epoch MICROS (int64), dates → epoch
    DAYS (int32-range int) — sidesteps every timestamp-type subtlety in
    the pruning comparison (the same raw-integer trick the nanos read
    path uses). Other types are stored natively."""
    if isinstance(v, datetime):
        if v.tzinfo is not None:
            v = v.astimezone(timezone.utc).replace(tzinfo=None)
        return (v - _EPOCH_DT) // timedelta(microseconds=1)
    if isinstance(v, date):
        return (v - _EPOCH_D).days
    if isinstance(v, Decimal):
        # no exactly-orderable plain encoding (strings sort wrong,
        # doubles round) — NULL stat, pruning keeps conservatively
        return None
    return v


def _proves_lt(a: Any, b: Any) -> bool:
    """``a < b`` as a pruning proof: False, i.e. keep the file, when
    either side is missing, NaN (every NaN comparison is false), or of
    a type Python cannot order against the other (``"3" < 4`` raises).
    The sidecar Arrow filter keeps the same files (its conjuncts drop
    on a type clash)."""
    if a is None or b is None:
        return False
    try:
        return bool(a < b)
    except TypeError:
        return False


def _encode_key(v: Any) -> Any:
    """JSON-encode a partition/key/stat value, tagging non-JSON types
    (decimals as their exact text)."""
    if isinstance(v, datetime):
        return {"__t": "ts", "v": v.isoformat()}
    if isinstance(v, date):
        return {"__t": "date", "v": v.isoformat()}
    if isinstance(v, Decimal):
        return {"__t": "dec", "v": str(v)}
    return v


def _decode_key(v: Any) -> Any:
    if isinstance(v, dict) and "__t" in v:
        if v["__t"] == "ts":
            return datetime.fromisoformat(v["v"])
        if v["__t"] == "date":
            return date.fromisoformat(v["v"])
        if v["__t"] == "dec":
            return Decimal(v["v"])
    return v


def _fold_chains(renames: list[dict]) -> dict[str, list[str]]:
    """Fold a snapshot's rename history into alias chains keyed by the
    CURRENT name, prior physical names newest-first: renames are stored
    oldest-first, so a→b then b→c folds to {"c": ["b", "a"]}. Shared by
    the read path (coalesce over retired columns), the pruning path
    (stat lookup under a file's then-physical name), and both commit
    paths' sidecar stat-column derivation."""
    chains: dict[str, list[str]] = {}
    for r in renames:
        chains[r["to"]] = [r["from"]] + chains.pop(r["from"], [])
    return chains


def sidecar_stat_cols(stat_cols: list[str], renames: list[dict]) -> list[str]:
    """The stat-column set a files sidecar must carry: the CURRENT
    stat_cols plus each one's retired aliases (files written before a
    rename keep their min/max under the then-physical name; pruning
    coalesces over the chain). The ONE copy both commit paths call, so
    the driver-side and Spark-side sidecar schemas cannot drift — the
    drift class behind r11 finding 4b. Renames of never-tracked
    columns contribute nothing: their aliases would only add permanent
    all-null smin_/smax_ pairs to every future sidecar."""
    chains = _fold_chains(renames)
    out = list(stat_cols)
    for c in stat_cols:
        out.extend(chains.get(c, []))
    return list(dict.fromkeys(out))


def sidecar_keep_filter(schema, snap: "Snapshot", partition: Any = None,
                        lo: Any = None, hi: Any = None,
                        ranges: dict | None = None):
    """``(filter, columns)``: an Arrow filter over a files sidecar
    (``schema``) keeping every file a query with these bounds may need,
    and the sidecar columns it reads — the sidecar twin of the inline
    ``ManifestFile.overlaps``/``overlaps_col`` pass in
    ``IceTable._pruned_files``. ``filter`` is None when no conjunct can
    prune.

    Each conjunct PROVES absence (``key_max < lo``, ``key_min > hi``,
    ``partition_n != p``) and prunes only where that proof is true:
    ``coalesce(cond, false)`` keeps NULL stats, and a NaN min/max keeps
    too because Arrow's ``<``/``>`` against NaN are false — the same
    verdicts the inline pass reaches (a NaN partition value prunes in
    both: ``NaN == p`` is false inline). A conjunct Arrow cannot
    evaluate (all-NULL int64 stat vs a string bound, a string partition
    vs an int bound, a missing column) is dropped, i.e. keeps every
    file; the caller's residual row filter corrects the rows. Bounds go
    through ``_norm_stat`` to match the sidecar's orderable stat
    encoding, and a renamed column's stat is the coalesce over its
    alias chain (each file carries it under exactly one then-physical
    name)."""
    import functools
    import operator

    import pyarrow as pa
    import pyarrow.compute as pc

    ranges = ranges or {}
    empty = schema.empty_table()
    chains = _fold_chains(snap.renames)
    used: set[str] = set()

    def stat(prefix: str, col: str) -> list[str]:
        return [f"{prefix}_{n}" for n in [col] + chains.get(col, [])
                if f"{prefix}_{n}" in schema.names]

    def proves(cols: list[str], op, bound):
        b = _norm_stat(bound)
        if not cols or b is None:
            return None
        fields = [pc.field(c) for c in cols]
        try:
            cond = pc.coalesce(
                op(fields[0] if len(fields) == 1 else pc.coalesce(*fields),
                   b), False)
            empty.filter(cond)  # bind now: a type clash must not raise mid-scan
        except (pa.ArrowNotImplementedError, pa.ArrowInvalid,
                pa.ArrowTypeError, OverflowError):
            return None
        used.update(cols)
        return cond

    def outside(smin: list[str], smax: list[str], clo, chi) -> list:
        return [proves(smax, operator.lt, clo) if clo is not None else None,
                proves(smin, operator.gt, chi) if chi is not None else None]

    def any_of(conds: list):
        conds = [c for c in conds if c is not None]
        return functools.reduce(operator.or_, conds) if conds else None

    key_min, key_max = ["key_min_n"], ["key_max_n"]
    prunes = []
    if partition is not None and snap.partition_col:
        other_part = proves(["partition_n"], operator.ne, partition)
        cur_spec = current_spec_filter(snap)
        if cur_spec is None:
            prunes.append(other_part)
        else:
            # spec evolution: only seq ranges written under the CURRENT
            # column trust partition_n; older-spec files fall back to
            # the column's min/max stats (or keep)
            older = any_of(outside(stat("smin", snap.partition_col),
                                   stat("smax", snap.partition_col),
                                   partition, partition))
            if other_part is not None or older is not None:
                used.add("seq")
                no = pc.scalar(False)
                prunes.append(pc.if_else(
                    cur_spec,
                    no if other_part is None else other_part,
                    no if older is None else older))
    if snap.key_col:
        prunes += outside(key_min, key_max, lo, hi)
    for col, (clo, chi) in ranges.items():
        prunes += outside(stat("smin", col), stat("smax", col), clo, chi)
        if snap.key_col == col:
            prunes += outside(key_min, key_max, clo, chi)
    pruned = any_of(prunes)
    return (None if pruned is None else ~pruned), sorted(used)


def current_spec_filter(snap: "Snapshot"):
    """Arrow filter over a files sidecar that is true for the files
    written under the CURRENT partition column: the seq ranges of
    ``snap.partition_specs`` (``Snapshot.spec_col_for`` as one
    expression), with a NULL seq read as 0, as in the (path, seq)
    stubs. None when the snapshot has no spec history, i.e. every
    file."""
    import functools
    import operator

    import pyarrow.compute as pc

    if not snap.partition_specs:
        return None
    seq = pc.coalesce(pc.field("seq"), 0)
    cur, lo_seq = [], 0
    for e in snap.partition_specs:
        if e["col"] == snap.partition_col:
            cur.append((seq >= lo_seq) & (seq < e["until_seq"]))
        lo_seq = e["until_seq"]
    cur.append(seq >= lo_seq)
    return functools.reduce(operator.or_, cur)


def sidecar_encode(fs: list["ManifestFile"], stat_cols: list[str],
                   with_entries: bool = True):
    """The files-sidecar encoding of ``fs`` as an Arrow table — the ONE
    definition of it: one row per file with the pruning stats
    normalized to orderable types (``_norm_stat``), rows, bytes, the
    ``stat_cols`` min/max pairs, the full entry as JSON (survivors of
    a pruning predicate are reconstructed from entry_json alone) and
    ``seq`` in its own column. ``Manifest`` writes it as a sidecar;
    ``IceTable`` reads an inline list through it
    (``with_entries=False`` skips the JSON column) so both manifest
    regimes answer the same Arrow expressions."""
    import pyarrow as pa

    def col(vals):
        if all(v is None for v in vals):
            return pa.array(vals, type=pa.int64())
        try:
            return pa.array(vals)
        except (pa.ArrowInvalid, pa.ArrowTypeError):
            # values of several types (partition_n once
            # set_partition_spec moved to a column of another type):
            # kept as text, which no bound of another type compares to
            return pa.array([None if v is None else str(v) for v in vals],
                            type=pa.string())

    data = {
        "path": pa.array([f.path for f in fs], type=pa.string()),
        "partition_n": col([_norm_stat(f.partition) for f in fs]),
        "key_min_n": col([_norm_stat(f.key_min) for f in fs]),
        "key_max_n": col([_norm_stat(f.key_max) for f in fs]),
        "rows": pa.array([f.rows for f in fs], type=pa.int64()),
        "bytes": pa.array([f.bytes for f in fs], type=pa.int64()),
    }
    for c in stat_cols:
        data[f"smin_{c}"] = col(
            [_norm_stat(f.col_stats.get(c, (None, None))[0]) for f in fs]
        )
        data[f"smax_{c}"] = col(
            [_norm_stat(f.col_stats.get(c, (None, None))[1]) for f in fs]
        )
    if with_entries:
        data["entry_json"] = pa.array(
            [json.dumps(f.to_json()) for f in fs], type=pa.string()
        )
    data["seq"] = pa.array([f.seq for f in fs], type=pa.int64())
    return pa.table(data)


# smallest row group write_kept_sidecar writes (but the last)
_ROW_GROUP_ROWS = 65_536

# the content hash as it appears in an entry_json document (the
# name cannot occur unescaped inside a JSON string value)
_HASH_RE = r'"content_hash":\s*"(?P<h>[^"]*)"'


@dataclass
class KeptSidecar:
    """The files a commit carries over from a sidecar-backed snapshot:
    the rows of sidecar ``files_ref`` whose path is not in ``drop``,
    ``n`` of them — all of them for an append (``drop=[]``), the
    rewrite planner's keep for a rewrite. ``Manifest.write_kept_sidecar``
    copies them as stored and ``Manifest.known_hashes`` dedupes
    against them unparsed; they are parsed only for a commit that
    lands inline."""

    files_ref: str
    drop: list[str]
    n: int

    def __len__(self) -> int:
        return self.n

    def prune(self, schema=None):
        """The ``Manifest.sidecar_table`` prune that keeps these rows."""
        import pyarrow as pa
        import pyarrow.compute as pc

        drop = pa.array(self.drop, type=pa.string())
        return ~pc.field("path").isin(drop), ["path"]


@dataclass
class ManifestFile:
    """Stats for one immutable data file (≈ one reference Block file).

    ``col_stats`` generalizes the key min/max to ANY tracked column
    (Iceberg keeps per-column bounds in its manifests the same way) —
    with z-order clustering this makes range queries prunable on every
    clustered dimension, not just the sort key."""

    path: str  # relative to table root
    partition: Any  # identity-partition value (None for unpartitioned)
    key_min: Any
    key_max: Any
    rows: int
    bytes: int
    content_hash: str  # sha256 of file bytes → idempotent writes (R16)
    col_stats: dict = field(default_factory=dict)  # col → [min, max]
    # Data sequence number (Iceberg v2): the snapshot id that ADDED the
    # file. Consecutive snapshot ids double as sequence numbers, so MoR
    # delete scoping is a single integer compare (seq < delete.seq)
    # instead of a per-predicate path list that grows with file count.
    seq: int = 0

    @classmethod
    def stub(cls, path: str, seq: int) -> "ManifestFile":
        """A (path, seq) stub: what the read path needs of a file (its
        location and MoR seq scoping), without the stats."""
        return cls(path=path, partition=None, key_min=None, key_max=None,
                   rows=0, bytes=0, content_hash="", seq=seq)

    def overlaps(self, lo: Any, hi: Any) -> bool:
        """Inclusive range-overlap test — true min/max on both bounds."""
        return not (_proves_lt(self.key_max, lo)
                    or _proves_lt(hi, self.key_min))

    def overlaps_col(self, col: str, lo: Any, hi: Any) -> bool:
        """Overlap test on any stats-tracked column; files without stats
        for the column are conservatively kept."""
        st = self.col_stats.get(col)
        if st is None:
            return True
        mn, mx = st
        return not (_proves_lt(mx, lo) or _proves_lt(hi, mn))

    def may_hold_partition(self, p: Any) -> bool:
        """Whether the file's identity-partition value leaves rows with
        partition ``p`` possible. A str against a non-str proves
        nothing: the query's residual filter casts, so ``"3"`` can
        match ``3``, and the sidecar pass keeps such files too."""
        v = self.partition
        if v is not None and isinstance(v, str) != isinstance(p, str):
            return True
        return v == p

    def to_json(self) -> dict:
        d = asdict(self)
        d["partition"] = _encode_key(d["partition"])
        d["key_min"] = _encode_key(d["key_min"])
        d["key_max"] = _encode_key(d["key_max"])
        d["col_stats"] = {
            c: [_encode_key(v[0]), _encode_key(v[1])]
            for c, v in self.col_stats.items()
        }
        return d

    @classmethod
    def from_json(cls, d: dict) -> "ManifestFile":
        return cls(
            path=d["path"],
            partition=_decode_key(d["partition"]),
            key_min=_decode_key(d["key_min"]),
            key_max=_decode_key(d["key_max"]),
            rows=d["rows"],
            bytes=d["bytes"],
            content_hash=d["content_hash"],
            col_stats={
                c: (_decode_key(v[0]), _decode_key(v[1]))
                for c, v in d.get("col_stats", {}).items()
            },
            seq=d.get("seq", 0),
        )


@dataclass
class Snapshot:
    snapshot_id: int
    parent_id: int | None
    timestamp_ms: int
    operation: str  # create | append | overwrite | compact | delete(-mor) | upsert
    schema_json: str
    partition_col: str | None
    key_col: str | None
    files: list[ManifestFile] = field(default_factory=list)
    # Merge-on-read deletes (Iceberg v2 predicate-delete analog): each
    # entry {"expr": <SQL boolean>, "seq": <snapshot id of the delete>}
    # hides matching rows of every file whose data sequence number is
    # STRICTLY BELOW seq at scan time — exactly Iceberg's sequence-number
    # rule, O(1) metadata per predicate regardless of file count. Later
    # appends (and compaction rewrites) carry a higher seq and are
    # unaffected. Compaction rewrites the predicates away.
    delete_predicates: list[dict] = field(default_factory=list)
    # Extra columns whose per-file min/max are tracked (beyond key_col),
    # and the clustering strategy ("key" sort or "zorder" on zorder_by).
    stat_cols: list[str] = field(default_factory=list)
    zorder_by: list[str] = field(default_factory=list)
    # Hash-bucket layout (co-located joins): files are written
    # bucketBy(n_buckets, bucket_col) with Spark's bucket-id file
    # naming, so any snapshot can be re-registered as a bucketed
    # catalog table and joined exchange-free (IceTable.as_bucketed_table).
    bucket_col: str | None = None
    n_buckets: int | None = None
    # Streaming exactly-once: (lineage, batch id) of the micro-batch
    # that produced this snapshot, recorded IN the atomic commit.
    # foreachBatch is at-least-once; a replayed batch is recognized by
    # (same lineage, batch_id <= max seen). Batch ids are ONLY
    # comparable within one checkpoint lineage — a fresh checkpoint
    # restarts numbering at 0 over ALL source files, which is
    # reprocessing, not replay, and must append.
    source_batch_id: int | None = None
    source_lineage: str | None = None
    # Partition-spec evolution history (Iceberg's spec evolution
    # adapted to seq scoping): entries {"col": <then partition_col or
    # None>, "until_seq": <first seq written under the NEXT spec>},
    # oldest first. A file's write-time spec is the first entry with
    # file.seq < until_seq (falling through to the current
    # partition_col) — O(1) metadata per spec change, nothing rewrites.
    partition_specs: list = field(default_factory=list)
    # Write-audit-publish staging (Iceberg's WAP / audit-branch
    # pattern adapted to this linear snapshot log): branch name →
    # list of snapshot ids whose appended files are STAGED — present
    # in the chain (audit scans see them via scan(branch=...)) but
    # hidden from every other read until a publish_branch() commit
    # removes the branch from this dict. Hiding is by data sequence
    # number (file.seq ∈ staged ids), the same integer scoping MoR
    # deletes use, so it costs one driver-side set test per file at
    # planning time and nothing at scan time.
    staged: dict = field(default_factory=dict)
    # Column-rename history, oldest first: each entry {"from": old,
    # "to": new}. The name-based analog of Iceberg's field-id rename:
    # a rename is a metadata-only commit, and the read path resolves a
    # renamed column as coalesce(current name, prior names) so files
    # written before the rename (whose physical column is the old name)
    # keep reading correctly. Retired names stay reserved — see
    # IceTable.rename_column / append(evolve_schema=True).
    renames: list[dict] = field(default_factory=list)
    # Set when the file list lives in a Parquet sidecar
    # (``_manifest/files-<id>.parquet`` — a single file written by the
    # driver; tables written by older versions may also hold Spark-
    # written ``part-*`` directories, which read the same) rather than
    # inline JSON; ``files`` is then populated only when loaded with
    # load_files=True. ``files_count`` is the entry count (known without
    # materializing the sidecar).
    files_ref: str | None = None
    files_count: int | None = None

    def to_json(self) -> dict:
        return {
            "snapshot_id": self.snapshot_id,
            "parent_id": self.parent_id,
            "timestamp_ms": self.timestamp_ms,
            "operation": self.operation,
            "schema_json": self.schema_json,
            "partition_col": self.partition_col,
            "key_col": self.key_col,
            "files": [f.to_json() for f in self.files],
            "delete_predicates": self.delete_predicates,
            "stat_cols": self.stat_cols,
            "zorder_by": self.zorder_by,
            "bucket_col": self.bucket_col,
            "n_buckets": self.n_buckets,
            "source_batch_id": self.source_batch_id,
            "source_lineage": self.source_lineage,
            "partition_specs": self.partition_specs,
            "staged": self.staged,
            "renames": self.renames,
        }

    def spec_col_for(self, seq: int) -> Any:
        """Partition column a file with data sequence number ``seq``
        was written under (see ``partition_specs``)."""
        for e in self.partition_specs:
            if seq < e["until_seq"]:
                return e["col"]
        return self.partition_col

    def child(self, operation: str, **overrides) -> "Snapshot":
        """Skeleton for the NEXT snapshot, inheriting every carry-over
        field (schema, layout config, MoR predicates, staged branches,
        rename history, partition-spec history, and the file list BY
        REFERENCE — same files_ref / same inline entries). Metadata-only
        commits (publish, rename, rollback, spec change, MoR delete)
        build on this so no carry-over field can be forgotten; pass
        ``overrides`` for what the operation actually changes."""
        d = dict(
            snapshot_id=self.snapshot_id + 1,
            parent_id=self.snapshot_id,
            timestamp_ms=Manifest.now_ms(),
            operation=operation,
            schema_json=self.schema_json,
            partition_col=self.partition_col,
            key_col=self.key_col,
            files=list(self.files),
            delete_predicates=list(self.delete_predicates),
            stat_cols=list(self.stat_cols),
            zorder_by=list(self.zorder_by),
            bucket_col=self.bucket_col,
            n_buckets=self.n_buckets,
            partition_specs=[dict(e) for e in self.partition_specs],
            staged={b: list(v) for b, v in self.staged.items()},
            renames=list(self.renames),
            files_ref=self.files_ref,
            files_count=self.files_count,
        )
        d.update(overrides)
        if "files" in overrides:
            # An overridden file LIST invalidates the inherited sidecar
            # reference: the caller is declaring a complete new list
            # (drop-branch, add_files), and a silently-inherited
            # files_ref would resurrect the parent's sidecar on the
            # next load_files=True read (r11 review finding 4a). An
            # explicit files_ref/files_count override still wins.
            if "files_ref" not in overrides:
                d["files_ref"] = None
            if "files_count" not in overrides:
                d["files_count"] = None
        return Snapshot(**d)

    @classmethod
    def from_json(cls, d: dict) -> "Snapshot":
        return cls(
            snapshot_id=d["snapshot_id"],
            parent_id=d["parent_id"],
            timestamp_ms=d["timestamp_ms"],
            operation=d["operation"],
            schema_json=d["schema_json"],
            partition_col=d["partition_col"],
            key_col=d["key_col"],
            files=[ManifestFile.from_json(f) for f in d["files"]],
            delete_predicates=d.get("delete_predicates", []),
            stat_cols=d.get("stat_cols", []),
            zorder_by=d.get("zorder_by", []),
            bucket_col=d.get("bucket_col"),
            n_buckets=d.get("n_buckets"),
            source_batch_id=d.get("source_batch_id"),
            source_lineage=d.get("source_lineage"),
            partition_specs=d.get("partition_specs", []),
            staged=d.get("staged", {}),
            renames=d.get("renames", []),
            files_ref=d.get("files_ref"),
            files_count=d.get("files_count"),
        )


class Manifest:
    """Reads/writes snapshot documents under ``<root>/_manifest``."""

    # File lists longer than this go to a Parquet sidecar; tests lower
    # it to exercise the sidecar path on small tables.
    inline_max = 512

    def __init__(self, root: str):
        self.root = root
        self.dir = os.path.join(root, _MANIFEST_DIR)

    # -- read side ---------------------------------------------------
    def current_snapshot_id(self) -> int | None:
        """Current id = the CURRENT hint advanced past any committed
        successors. Snapshot ids are consecutive, so the loop usually
        costs a single stat() miss; it only walks when a writer crashed
        between claim and hint update or a stale hint write raced."""
        try:
            with open(os.path.join(self.dir, _CURRENT)) as f:
                cur = int(f.read().strip())
        except (FileNotFoundError, ValueError):
            # a writer can die between the snapshot-0 link and the
            # FIRST hint write (missing CURRENT), or mid-hint-write
            # on a filesystem without atomic replace semantics
            # (corrupt CURRENT) — either way the hint is gone but the
            # table may EXIST. Recover from the directory listing, NOT
            # from snapshot-0 alone: expire_snapshots(keep_last=1)
            # deletes the bootstrap document, so a post-expiry table
            # that loses its hint (crash, partial directory copy)
            # would otherwise read as absent — hiding committed data
            # and letting a re-create claim the freed snapshot-0 id
            # and fork the table's id space (r15 review).
            ids = self.snapshot_ids()
            if not ids:
                return None
            cur = max(ids)
        while os.path.exists(os.path.join(self.dir, f"snapshot-{cur + 1}.json")):
            cur += 1
        return cur

    def load(self, snapshot_id: int | None = None,
             load_files: bool = True) -> Snapshot:
        """``load_files=False`` skips materializing a sidecar-backed file
        list (``snap.files`` stays empty) — readers then take the columns
        they need from ``inventory`` instead."""
        sid = snapshot_id if snapshot_id is not None else self.current_snapshot_id()
        if sid is None:
            raise FileNotFoundError(f"no current snapshot in {self.dir}")
        with open(os.path.join(self.dir, f"snapshot-{sid}.json")) as f:
            snap = Snapshot.from_json(json.load(f))
        if load_files and snap.files_ref:
            snap.files = self._read_files_sidecar(snap.files_ref)
        return snap

    def snapshot_ids(self, newest_first: bool = False) -> list[int]:
        """Snapshot ids from the directory listing alone — no JSON
        parsed. The one place that knows the on-disk naming."""
        if not os.path.isdir(self.dir):
            return []
        ids = [
            int(n[len("snapshot-"):-len(".json")])
            for n in os.listdir(self.dir)
            if n.startswith("snapshot-") and n.endswith(".json")
        ]
        ids.sort(reverse=newest_first)
        return ids

    def snapshots(self, load_files: bool = True) -> list[Snapshot]:
        out = []
        if not os.path.isdir(self.dir):
            return out
        for name in sorted(os.listdir(self.dir)):
            if name.startswith("snapshot-") and name.endswith(".json"):
                with open(os.path.join(self.dir, name)) as f:
                    snap = Snapshot.from_json(json.load(f))
                if load_files and snap.files_ref:
                    snap.files = self._read_files_sidecar(snap.files_ref)
                out.append(snap)
        out.sort(key=lambda s: s.snapshot_id)
        return out

    def sidecar_path(self, files_ref: str) -> str:
        return os.path.join(self.dir, files_ref)

    def sidecar_table(self, files_ref: str, columns: list[str],
                      prune=None):
        """Column-projected sidecar read as an Arrow table, with the
        seq None->0 normalization — the ONE copy of the pattern every
        sidecar read shares (``inventory``, query pruning, the kept-row
        parse of a commit), so a layout/seq-semantics change cannot
        drift one from another. Works on both layouts (the driver's
        single file, and the ``part-*`` directory older versions'
        Spark-written commits left, whose ``_SUCCESS``/``.crc`` the
        dataset's default ignore prefixes skip).

        ``prune(schema) -> (filter, filter_columns)`` keeps only the
        rows the Arrow filter passes; only they are ever materialized.
        The filter runs over the streamed batches, NOT pushed into the
        Parquet scan: Parquet min/max statistics exclude NaN, and
        Arrow's row-group pruning takes them as a complete bound, so a
        pushed-down ``key_max_n < lo`` would drop a row group holding
        a NaN key_max the filter itself keeps."""
        import pyarrow.compute as pc
        import pyarrow.dataset as ds

        src = ds.dataset(self.sidecar_path(files_ref), format="parquet")
        keep, keep_cols = prune(src.schema) if prune else (None, [])
        batches = src.scanner(
            columns=list(dict.fromkeys(columns + keep_cols))).to_reader()
        tbl = ds.Scanner.from_batches(batches, columns=columns,
                                      filter=keep).to_table()
        if "seq" in columns:
            i = columns.index("seq")
            tbl = tbl.set_column(i, "seq", pc.fill_null(tbl["seq"], 0))
        return tbl

    def _read_files_sidecar(self, files_ref: str,
                            prune=None) -> list[ManifestFile]:
        tbl = self.sidecar_table(files_ref, ["entry_json", "seq"], prune)
        out = []
        for s, seq in zip(tbl["entry_json"].to_pylist(),
                          tbl["seq"].to_pylist()):
            f = ManifestFile.from_json(json.loads(s))
            # the seq column is authoritative: sidecars that older
            # versions' Spark-written commits left hold entry_json
            # documents serialized before the seq was known
            f.seq = seq
            out.append(f)
        return out

    def inventory(self, snap: Snapshot, columns: list[str]):
        """The whole file inventory of ``snap`` as an Arrow table of
        ``columns`` in the sidecar encoding, in either manifest regime —
        the ONE reader every driver-side consumer of a full file list
        goes through (scan, the change feeds, the rewrite planner,
        stats, history, expiry). A sidecar is the streamed
        column-projected ``sidecar_table`` read; an inline list goes
        through the sidecar writer's encoder (``sidecar_encode``,
        entry_json only when asked for). Query pruning is not an
        inventory read: ``IceTable._pruned_files`` filters an inline
        list in Python and a sidecar with ``sidecar_table``'s prune. No
        Spark job, and no entry_json parsed in either regime."""
        if snap.files_ref:
            return self.sidecar_table(snap.files_ref, columns)
        return sidecar_encode(snap.files, [],
                              with_entries="entry_json" in columns
                              ).select(columns)

    def snapshot_total_bytes(self, snap: Snapshot) -> int:
        """Total data bytes of a snapshot from its ``bytes`` column
        (``inventory``) — a 1M-file recovery path must not deserialize
        the whole manifest on the driver just to sum one column."""
        import pyarrow.compute as pc

        return pc.sum(self.inventory(snap, ["bytes"])["bytes"]).as_py() or 0

    def _write_files_sidecar(self, fs: list[ManifestFile],
                             stat_cols: list[str], files_ref: str) -> None:
        """Write ``fs`` as a single-file sidecar (``sidecar_encode``)."""
        import pyarrow.parquet as pq

        tmp = self.sidecar_path(files_ref) + ".tmp"
        pq.write_table(sidecar_encode(fs, stat_cols), tmp)
        os.replace(tmp, self.sidecar_path(files_ref))

    def write_kept_sidecar(self, kept: KeptSidecar,
                           fs: list[ManifestFile], stat_cols: list[str],
                           files_ref: str) -> int:
        """Write a single-file sidecar holding the ``kept`` rows, copied
        as stored (streamed batch by batch, no entry_json parsed), then
        ``fs`` in the ``sidecar_encode`` encoding; returns its row
        count. Small batches are merged into row groups of at least
        ``_ROW_GROUP_ROWS`` rows, so a sidecar that every append copies
        does not gain a row group per commit. A column only one side
        has is NULL on the other; one the two sides type differently
        takes their common type (int64 and double: double) or, when
        they have none, text, as ``sidecar_encode`` keeps values of
        several types."""
        import pyarrow as pa
        import pyarrow.dataset as ds
        import pyarrow.parquet as pq

        src = ds.dataset(self.sidecar_path(kept.files_ref),
                         format="parquet")
        add = sidecar_encode(fs, stat_cols)
        types = {f.name: f.type for f in src.schema}
        for f in add.schema:
            t = types.setdefault(f.name, f.type)
            if t != f.type:
                try:
                    types[f.name] = pa.unify_schemas(
                        [pa.schema([(f.name, t)]), pa.schema([f])],
                        promote_options="permissive").field(0).type
                except (pa.ArrowInvalid, pa.ArrowTypeError):
                    types[f.name] = pa.string()
        schema = pa.schema(list(types.items()))

        def conform(tbl):
            return pa.table([
                tbl[f.name].cast(f.type) if f.name in tbl.column_names
                else pa.nulls(len(tbl), f.type) for f in schema],
                schema=schema)

        tmp, n, group = self.sidecar_path(files_ref) + ".tmp", 0, []
        parts = itertools.chain(
            (pa.Table.from_batches([b])
             for b in src.to_batches(filter=kept.prune()[0])), [add])
        with pq.ParquetWriter(tmp, schema) as w:
            for part in parts:
                group.append(conform(part))
                n += len(part)
                if sum(map(len, group)) >= _ROW_GROUP_ROWS:
                    w.write_table(pa.concat_tables(group))
                    group = []
            if group:
                w.write_table(pa.concat_tables(group))
        os.replace(tmp, self.sidecar_path(files_ref))
        return n

    def known_hashes(self, base: list[ManifestFile] | KeptSidecar,
                     hashes: set[str]) -> set[str]:
        """The content hashes among ``hashes`` that a file of ``base``
        already has — the content-hash dedupe of every commit. A
        ``KeptSidecar`` is one streamed Arrow pass over its entry_json
        column: the hash is cut out with a regex and tested against
        ``hashes``, and only the rows that pass are parsed, to confirm
        the match (~0.2 s for 100k entries)."""
        if not isinstance(base, KeptSidecar):
            return hashes & {f.content_hash for f in base}
        if not hashes or not base.n:
            return set()
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.dataset as ds

        want = pa.array(sorted(hashes), type=pa.string())
        src = ds.dataset(self.sidecar_path(base.files_ref), format="parquet")
        found = set()
        for b in src.to_batches(columns=["entry_json"],
                                filter=base.prune()[0]):
            ej = b.column(0)
            h = pc.struct_field(pc.extract_regex(ej, _HASH_RE), [0])
            for s in ej.filter(pc.is_in(h, value_set=want)).to_pylist():
                found.add(json.loads(s)["content_hash"])
        return found & hashes

    def remove_sidecar(self, files_ref: str) -> None:
        """Delete a sidecar — a single parquet file, or the directory an
        older version's Spark-written commit left."""
        import shutil

        p = self.sidecar_path(files_ref)
        if os.path.isdir(p):
            shutil.rmtree(p, ignore_errors=True)
        elif os.path.exists(p):
            os.remove(p)

    # -- write side (commit point = exclusive snapshot-file claim) ---
    def commit(self, snapshot: Snapshot) -> None:
        """Atomically publish ``snapshot`` as the child of its
        ``parent_id``. Raises :class:`CommitConflictError` if another
        writer already claimed that child id — the snapshot document is
        fully written to a temp file first, then ``os.link`` both
        validates the claim and makes the complete document visible in
        one atomic step (readers never observe a partial file)."""
        os.makedirs(self.dir, exist_ok=True)
        expected = 0 if snapshot.parent_id is None else snapshot.parent_id + 1
        if snapshot.snapshot_id != expected:
            raise ValueError(
                f"snapshot_id {snapshot.snapshot_id} must be parent+1 "
                f"({expected}) for the commit claim to serialize writers"
            )
        # don't serialize a large file list inline just to overwrite
        # it with [] on the sidecar branches — to_json's per-entry
        # deep-copy/encode would double the commit CPU and peak
        # memory of a 100k-file driver-side commit
        spills = (len(snapshot.files) > self.inline_max
                  or (snapshot.files_ref is not None
                      and not snapshot.files))
        if spills:
            stash, snapshot.files = snapshot.files, []
            try:
                doc = snapshot.to_json()
            finally:
                snapshot.files = stash
        else:
            doc = snapshot.to_json()
        sidecar_ref = None
        if snapshot.files_ref is not None and not snapshot.files:
            # the sidecar already exists — written before the claim
            # (IceTable copies a kept sidecar's rows as stored, see
            # write_kept_sidecar) or inherited by reference from the
            # parent (metadata-only commits); reference it as-is
            doc["files"] = []
            doc["files_ref"] = snapshot.files_ref
            doc["files_count"] = snapshot.files_count
        elif len(snapshot.files) > self.inline_max:
            # token keeps racing writers' sidecars from clobbering each
            # other before the claim decides the winner
            sidecar_ref = (
                f"files-{snapshot.snapshot_id}-{os.urandom(4).hex()}.parquet"
            )
            # Retired alias names included via the shared derivation:
            # a sidecar written with only the CURRENT stat_cols would
            # silently drop pre-rename files' min/max columns and cost
            # them file-level pruning (r11 review finding 4b).
            self._write_files_sidecar(
                snapshot.files,
                sidecar_stat_cols(snapshot.stat_cols, snapshot.renames),
                sidecar_ref)
            snapshot.files_ref = sidecar_ref
            snapshot.files_count = len(snapshot.files)
            doc["files"] = []
            doc["files_ref"] = sidecar_ref
            doc["files_count"] = len(snapshot.files)
        snap_path = os.path.join(self.dir, f"snapshot-{snapshot.snapshot_id}.json")
        tmp = snap_path + f".tmp-{os.urandom(4).hex()}"
        with open(tmp, "w") as f:
            json.dump(doc, f, indent=1)
        try:
            os.link(tmp, snap_path)  # the CAS: EEXIST ⇒ we lost the race
        except FileExistsError:
            if sidecar_ref is not None:
                self.remove_sidecar(sidecar_ref)
                snapshot.files_ref = None
                snapshot.files_count = None
            raise CommitConflictError(
                f"snapshot {snapshot.snapshot_id} already committed by "
                f"another writer (parent {snapshot.parent_id})"
            ) from None
        finally:
            os.remove(tmp)
        # CURRENT is a monotonic best-effort HINT; never move it
        # backwards over a racing writer's newer value, and never let
        # a hint failure mask the commit: the os.link claim above
        # already made the snapshot durable, so an error past this
        # point (ENOSPC creating the tmp, a corrupt hint failing to
        # parse) must NOT make a committed append look failed — the
        # caller would retry and append the same rows again. Readers
        # recover from a stale/missing hint via the walk-forward.
        try:
            try:
                with open(os.path.join(self.dir, _CURRENT)) as f:
                    if int(f.read().strip()) >= snapshot.snapshot_id:
                        return
            except (FileNotFoundError, ValueError):
                pass
            cur_tmp = os.path.join(
                self.dir, _CURRENT + f".tmp-{os.urandom(4).hex()}")
            with open(cur_tmp, "w") as f:
                f.write(str(snapshot.snapshot_id))
            os.replace(cur_tmp, os.path.join(self.dir, _CURRENT))
        except OSError:
            pass

    def next_snapshot_id(self) -> int:
        cur = self.current_snapshot_id()
        return 0 if cur is None else cur + 1

    @staticmethod
    def now_ms() -> int:
        return int(time.time() * 1000)
