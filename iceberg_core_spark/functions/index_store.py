"""Snapshot-synced index stores — the shared persistence discipline
behind every "judge a batch against a 100 TB corpus" operator
(:class:`~iceberg_core_spark.functions.dedup_incremental.AdmissionIndex`,
:class:`~iceberg_core_spark.functions.fuzzy_index.FuzzyIndex`).

A store mirrors derived frames ("kinds") of an APPEND-ONLY
:class:`IceTable` — the single source of truth — as parquet under
``root/<kind>/gen=G/snap=<id>/``:

- :meth:`sync` catches up to the table's newest snapshot by computing
  each kind from every row-adding snapshot's increment. Idempotent by
  construction (a re-sync overwrites the same per-snapshot dirs before
  advancing the watermark), so a crash anywhere between a table commit
  and an index write heals on the next sync — the index can never
  permanently miss or double-count a document. Rewrite-only (compact)
  and metadata-only (rename/spec) snapshots change no rows the index
  mirrors and are skipped; a WAP publish indexes the rows it reveals
  (the staged append synced empty — its files were hidden); a
  watermark gap (the synced snapshot expired out of the chain) or a
  legitimate row-removing commit (rollback) forces a full
  :meth:`rebuild` — never a silent skip that would let duplicates of
  the missed documents through; a drop-branch removes only files its
  staged appends HID from the main view (the index synced them as
  empty increments), so it skips like a metadata commit;
  upsert/delete/overwrite contradict the append-only contract and
  raise — on the incremental walk AND before any recovery rebuild
  that would otherwise paper over them.
- Every write path (a sync increment, :meth:`compact`, :meth:`rebuild`)
  writes its kinds concurrently, one thread per kind carrying the
  caller's job group, and waits for all of them. If any kind's write
  fails, the first failure is re-raised and the watermark (or the
  generation) stays where it was; the retry overwrites the partial
  per-snapshot or ``gen=G+1`` dirs the other kinds left.
- Reader frames are memoized per watermark; when only the watermark
  moved, the new reader reuses the kind's known schema, so a judge
  after a sync starts no schema-inference job.
- :meth:`compact` consolidates the current generation's per-snapshot
  dirs (a month of 1-minute micro-batches is ~43k directories) into
  one right-sized dir per kind under ``gen=G+1`` and flips the meta
  atomically: a crash mid-compact leaves gen G authoritative and a
  partial G+1 that the next compact overwrites; stale generations are
  swept opportunistically. Single maintainer assumed (the streaming
  ingest's driver), same as the table layer's single-writer commit
  discipline per lineage.

Subclasses declare ``_KIND_COLS`` (kind -> column list), implement
``_frames(rows)`` (derive every kind from an increment of (id, text)
rows), and may override ``_fold_for_compact`` when a kind's
per-snapshot rows are PARTIAL states that compaction should fold
(e.g. additive document-frequency counts). ``judge()`` lives on the
subclass — it is the only part that differs between index families.
"""

from __future__ import annotations

import json as _json
import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

#: (applicationId, root, kind, generation, watermark) -> reader frame.
#: MODULE-level (registry queries build a fresh store object per
#: call, so a per-instance memo would never hit); holds only plan
#: handles, never data — nothing is persisted through it. Stale
#: entries for an (app, root, kind) are dropped on refresh, and a
#: key embeds the watermark/generation, so a write through ANY store
#: object over the same root invalidates it (same single-maintainer
#: argument as SnapshotSyncedStore._bytes_cache). Keyed on
#: (SparkContext applicationId, id(session)). The app id stops a
#: restarted context from resurrecting a dead frame (r15 ADVICE):
#: applicationIds are unique per context and only one context is live
#: per JVM, so entries under any OTHER app id are provably dead — _read
#: sweeps them on insert, bounding growth across session restarts.
#: id(session) keeps ``newSession()`` siblings apart: they share the
#: context but not session-scoped SQL confs (timeZone, caseSensitive),
#: and a frame is bound to the session that built it. The id cannot be
#: recycled while its entry lives — the cached frame holds a reference
#: to its session, so the session is never collected first.
_READER_CACHE: dict[tuple, DataFrame] = {}


def _push_batch_keys(batch_frame: DataFrame, key_col: str,
                     corpus_frame: DataFrame,
                     max_rows: int) -> tuple[DataFrame, DataFrame]:
    """The judge-time key-pushdown step, shared by both index
    families: materialize ``batch_frame`` on the driver (bounded by
    ``max_rows`` with a count-guarded collect — the knob bounds the
    pull by the BATCH, never the corpus) and filter ``corpus_frame``
    to rows whose ``key_col`` appears in it. Returns the (possibly
    localized) batch frame and the (possibly filtered) corpus frame;
    both unchanged when the bound is exceeded.

    One collect total: the localized batch frame feeds the candidate
    join as a LocalTableScan, so the join never recomputes it and
    nothing is persist()-pinned (a Dataset.persist here would leak —
    CacheManager holds strong references until an explicit
    unpersist, which the caller's lazy verdict frame makes
    impossible). The filter is a NECESSARY condition of the equi-join
    on ``key_col``, so verdicts never change; against parquet it
    lands as ``PushedFilters: [In(key_col, …)]``.

    The bound check is a JVM-side full count (map-side partial agg,
    no row movement), NOT a collect and NOT a truncated
    limit-then-count: an over-bound batch must never pay a
    max_rows-row py4j transfer that is then discarded (~14 s/judge
    at 10x the knob on a 1.1 GiB store), and ``limit(n).count()`` is
    worse still — LocalLimit keeps n rows per partition and funnels
    them through a single-partition exchange (~32 s measured, same
    setup — scripts/measure_pushdown_scale.py). The batch frame is
    map-side-derived from the (small) batch, so counting it twice
    (here + the under-bound collect) costs far less than either. The
    under-bound collect keeps ``limit(max_rows + 1)`` as a structural
    belt: count and collect are separate jobs, so a source that grew
    in between can never turn the collect into an unbounded driver
    pull — the limit caps it and the post-check falls back."""
    if batch_frame.count() > max_rows:
        return batch_frame, corpus_frame
    rows = batch_frame.limit(max_rows + 1).collect()
    if len(rows) > max_rows:  # grew between the two jobs
        return batch_frame, corpus_frame
    spark = batch_frame.sparkSession
    local = spark.createDataFrame(rows, batch_frame.schema)
    keys = [k for k in {r[key_col] for r in rows} if k is not None]
    if keys:
        corpus_frame = corpus_frame.filter(F.col(key_col).isin(keys))
    else:
        # empty batch side: the join output is empty regardless
        corpus_frame = corpus_frame.filter(F.lit(False))
    return local, corpus_frame


#: spark types whose values round-trip to_json -> createDataFrame
#: byte-exactly — the only columns _push_batch_keys_multi may carry
#: (float/double/decimal/timestamp/binary would need a lossy or
#: format-dependent text hop, so frames containing them fall back to
#: per-frame _push_batch_keys semantics without the job fusion)
_JSON_EXACT_TYPES = ("long", "integer", "short", "byte", "string",
                     "boolean")


def _push_batch_keys_multi(
        entries: list[tuple[DataFrame, str, DataFrame]],
        max_rows: int) -> list[tuple[DataFrame, DataFrame]]:
    """N key pushdowns in TWO Spark jobs instead of 2N.

    Per entry ``(batch_frame, key_col, corpus_frame)`` the contract is
    EXACTLY :func:`_push_batch_keys` — per-entry row bound, localized
    batch frame, necessary-condition ``isin`` filter on the corpus
    frame, growth-guarded collect, graceful over-bound fallback — only
    the DRIVER JOB COUNT changes: every judge-time pushdown family's
    count+collect pair was a separate job round-trip (r15 profile:
    ~15 jobs/judge, wall dominated by fixed stage latency at batch
    scale — guide §6 "driver round-trips"), so the N counts fuse into
    ONE tagged-union count job and the N under-bound collects into ONE
    tagged-union collect job. Rows ride the shared union as
    ``to_json(struct(*))`` so frames of different schemas coexist;
    call-site frames are integral/string-typed, which json round-trips
    exactly. That is checked, not asserted: a frame with any other
    column type sends the whole call down the per-frame path below.

    Fallback ladder (everything degrades to "no pushdown", never to a
    wrong filter): a non-json-exact column type falls the whole call
    back to per-frame semantics with zero jobs here; an over-bound
    entry keeps its original frames while under-bound siblings still
    localize; a bounded collect that hits its structural limit (an
    entry grew between the two jobs) falls every entry back, because
    truncation makes completeness of any single tag unprovable — and
    an INCOMPLETE key set as an isin filter would wrongly prune the
    corpus."""
    if not entries:
        return []
    for bf, _k, _c in entries:
        if any(f.dataType.typeName() not in _JSON_EXACT_TYPES
               for f in bf.schema.fields):
            return [_push_batch_keys(bf, k, cf, max_rows)
                    for bf, k, cf in entries]
    tagged_cnt = None
    tagged_rows = None
    for i, (bf, _k, _c) in enumerate(entries):
        c = bf.select(F.lit(i).alias("__tag"))
        r = bf.select(F.lit(i).alias("__tag"),
                      F.to_json(F.struct("*")).alias("__row"))
        tagged_cnt = c if tagged_cnt is None else tagged_cnt.union(c)
        tagged_rows = r if tagged_rows is None else tagged_rows.union(r)
    counts = {row["__tag"]: row["n"] for row in
              tagged_cnt.groupBy("__tag").agg(
                  F.count(F.lit(1)).alias("n")).collect()}
    under = [i for i in range(len(entries))
             if counts.get(i, 0) <= max_rows]
    out: list[tuple[DataFrame, DataFrame]] = [
        (bf, cf) for bf, _k, cf in entries]
    if not under:
        return out
    bound = len(under) * max_rows + 1
    rows = (tagged_rows.filter(F.col("__tag").isin(under))
            .limit(bound).collect())
    if len(rows) >= bound:
        return out  # truncated: no tag's completeness is provable
    spark = entries[0][0].sparkSession
    by_tag: dict[int, list] = {i: [] for i in under}
    for row in rows:
        by_tag[row["__tag"]].append(_json.loads(row["__row"]))
    for i in under:
        bf, key_col, corpus_frame = entries[i]
        dicts = by_tag[i]
        if len(dicts) > max_rows:  # grew between the two jobs
            continue
        local = spark.createDataFrame(dicts, bf.schema) if dicts \
            else spark.createDataFrame([], bf.schema)
        keys = [k for k in {d.get(key_col) for d in dicts}
                if k is not None]
        if keys:
            corpus_frame = corpus_frame.filter(
                F.col(key_col).isin(keys))
        else:
            corpus_frame = corpus_frame.filter(F.lit(False))
        out[i] = (local, corpus_frame)
    return out


class SnapshotSyncedStore:
    """Generic snapshot-synced parquet store (see module docstring)."""

    _ROW_ADDING = ("create", "append", "add_files")
    _REWRITE_ONLY = ("compact",)
    # commits that change METADATA but not the visible row set that
    # the index mirrors (partition-spec / column-name changes) —
    # skipped, not poisonous. (Tags never commit a snapshot, so they
    # cannot reach this loop at all.) NOT "publish": a staged append
    # syncs EMPTY (its files are hidden until published), so publish
    # is the commit that actually surfaces those rows — it indexes
    # the revealed rows via the changelog.
    # "drop-branch" belongs here too: it removes ONLY files its
    # branch's staged appends added — files hidden from every main
    # read (the index synced those appends as EMPTY increments), and
    # a published branch leaves the staged set, so drop can never
    # target visible rows. Rebuilding for it would cost a corpus
    # pass for a provably-zero delta.
    _METADATA_ONLY = ("set-spec", "rename", "drop-branch")
    # commits that can REMOVE (or resurrect) visible rows without
    # violating the append-only spirit of an admission corpus — an
    # operator rolled back a bad delivery. The delta is not derivable
    # from the snapshot chain, so these force a full rebuild (one
    # corpus pass, then incremental again).
    _REBUILD_ON = ("rollback",)

    #: kind name -> columns, in storage order (subclass contract)
    _KIND_COLS: dict[str, list[str]] = {}
    #: kind whose row count sizes compaction output files — pick one
    #: with ~one row per document
    _COUNT_KIND: str = ""
    _ROWS_PER_FILE = 250_000

    def __init__(self, spark: SparkSession, root: str,
                 text_col: str = "text", id_col: str = "doc_id",
                 pushdown_max_keys: int = 100_000,
                 pushdown_min_store_bytes: int = 1 << 30):
        self.spark = spark
        self.root = root
        self.text_col = text_col
        self.id_col = id_col
        #: judge-time scan pruning: when the batch-side frame fits
        #: under this many rows, it is localized and its keys pushed
        #: into the persisted scans (0 disables). A plan change only
        #: — never affects frames or verdicts.
        self.pushdown_max_keys = pushdown_max_keys
        #: the pushdown self-disables while every pruned kind is
        #: below this size: its In-literal lists cost ~seconds of
        #: plan compilation plus a batch collect, which only beats
        #: the full skinny scan once a store is GB-sized (measured:
        #: +1.9 s/judge on an MB-sized store)
        self.pushdown_min_store_bytes = pushdown_min_store_bytes
        #: (kind, generation, watermark) -> on-disk bytes memo
        self._bytes_cache: dict[tuple, int] = {}

    def _pushdown_limit(self, *kinds: str) -> int:
        """The effective pushdown row bound for a judge over
        ``kinds`` — 0 (disabled) until at least one of the kinds the
        filter would prune crosses the size floor."""
        if not self.pushdown_max_keys:
            return 0
        if max(self._store_bytes(k) for k in kinds) \
                < self.pushdown_min_store_bytes:
            return 0
        return self.pushdown_max_keys

    # -- subclass contract -------------------------------------------------

    def _frames(self, rows: DataFrame) -> dict[str, DataFrame]:
        """Derive every kind's frame from an increment of
        (id_col, text_col) rows."""
        raise NotImplementedError

    def _fold_for_compact(
            self, frames: dict[str, DataFrame]) -> dict[str, DataFrame]:
        """Hook: fold kinds whose per-snapshot rows are partial states
        (default: concatenation is already the folded state)."""
        return frames

    def _cluster_for_write(self, kind: str, frame: DataFrame,
                           parts: int) -> DataFrame:
        """Hook: how a kind's frame is laid out when a generation is
        rewritten (compact/rebuild). Default: plain repartition.
        Subclasses cluster probe-key kinds (e.g. range-partition +
        sort by the join key) so the per-file min/max stats and
        dictionary pages let a pushed-down key filter skip most of
        the store at judge time."""
        return frame.repartition(parts)

    def _index_params(self) -> dict:
        """Hook: the parameters the PERSISTED frames were derived
        under (e.g. segment geometry). A non-empty dict is stamped
        into ``_meta.json`` at the first write and re-checked on
        every subsequent open — reopening an index with different
        derivation parameters would silently produce wrong judgments
        (the persisted rows and the probe-side enumeration must share
        the same geometry), so it raises instead."""
        return {}

    def _params_state(self) -> str:
        """How this instance's params relate to the stamped ones:
        ``ok`` (match, or the subclass declares none), ``fresh``
        (nothing synced yet — safe to stamp), ``unstamped`` (frames
        exist but their derivation params were never recorded) or
        ``mismatch``."""
        mine = self._index_params()
        if not mine:
            return "ok"
        meta = self._meta()
        stamped = meta.get("params")
        if stamped is None:
            return ("unstamped" if meta["synced_snapshot_id"]
                    is not None else "fresh")
        return "ok" if stamped == mine else "mismatch"

    def _ensure_params(self) -> None:
        """Raise if this store's params disagree with (or were never
        recorded against) the persisted frames; stamp them on a fresh
        store. ``sync`` self-heals the unstamped case instead (it has
        the table to rebuild from); read paths can only instruct."""
        state = self._params_state()
        if state == "fresh":
            self._write_meta({**self._meta(),
                              "params": self._index_params()})
        elif state == "unstamped":
            raise ValueError(
                f"{type(self).__name__} at {self.root} predates "
                f"parameter stamping; rebuild() (or sync(), which "
                f"rebuilds automatically) restamps it with "
                f"{self._index_params()}")
        elif state == "mismatch":
            raise ValueError(
                f"{type(self).__name__} at {self.root} was built "
                f"with params {self._meta().get('params')}, opened "
                f"with {self._index_params()} — the persisted frames "
                f"don't match this geometry; use the original params "
                f"or rebuild()")

    def _ensure_readable(self) -> None:
        """Read-path guard (``judge`` and friends): a store that has
        never synced has no frames to read, so raise a descriptive
        error instead of letting Spark surface PATH_NOT_FOUND — and
        never mutate ``_meta.json`` from a read path. With a watermark
        present the params state cannot be ``fresh``, so delegating to
        :meth:`_ensure_params` afterwards can only validate (raise on
        unstamped/mismatch), never stamp."""
        if self.synced_snapshot() is None:
            raise ValueError(
                f"{type(self).__name__} at {self.root} has never "
                f"been synced — call sync(table) or rebuild(table) "
                f"before judging")
        self._ensure_params()

    # -- meta / layout -----------------------------------------------------

    def _meta_path(self) -> str:
        return os.path.join(self.root, "_meta.json")

    def _meta(self) -> dict:
        # a corrupt/truncated meta (power loss between the tmp write
        # landing and its data blocks syncing — _write_meta fsyncs to
        # close that window, but pre-fix stores may carry one) heals
        # like a MISSING meta: watermark None makes the next sync
        # re-walk the chain, and _write_increment's per-snapshot
        # overwrites are idempotent, so nothing is missed or doubled
        try:
            with open(self._meta_path()) as f:
                return _json.load(f)
        except FileNotFoundError:
            return {"synced_snapshot_id": None, "generation": 0}
        except ValueError:  # JSONDecodeError subclasses ValueError
            return {"synced_snapshot_id": None, "generation": 0}

    def synced_snapshot(self) -> int | None:
        return self._meta()["synced_snapshot_id"]

    def generation(self) -> int:
        return self._meta().get("generation", 0)

    def _write_meta(self, meta: dict) -> None:
        # fsync BEFORE the rename: os.replace alone can become durable
        # before the tmp file's data blocks on common filesystems,
        # leaving a zero-length meta after a power loss — the one
        # crash the generation-flip discipline can't re-derive its
        # way out of (the flip's sweep may have removed the old gen)
        os.makedirs(self.root, exist_ok=True)
        tmp = self._meta_path() + ".tmp"
        with open(tmp, "w") as f:
            _json.dump(meta, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self._meta_path())

    def _advance(self, snapshot_id: int) -> None:
        self._write_meta({**self._meta(),
                          "synced_snapshot_id": snapshot_id})

    def _kind_dir(self, kind: str, gen: int | None = None) -> str:
        g = self.generation() if gen is None else gen
        return os.path.join(self.root, kind, f"gen={g}")

    def _store_bytes(self, kind: str) -> int:
        """On-disk bytes of a kind's current generation — driver-side
        metadata (os.walk), used to decide whether judge-time key
        pushdown pays: the In-literal lists cost seconds of plan
        compilation, which only beats a full skinny scan once the
        store is GB-sized. Memoized per (kind, generation, watermark):
        an uncompacted month of 1-minute micro-batches is ~43k snap=
        dirs, and a streaming judge must not re-walk them per batch —
        the store only changes when THIS process writes (single
        maintainer), and every write moves the watermark or the
        generation, invalidating the key."""
        meta = self._meta()
        key = (kind, meta.get("generation", 0),
               meta["synced_snapshot_id"])
        cached = self._bytes_cache.get(key)
        if cached is not None:
            return cached
        total = 0
        for dirpath, _dirs, files in os.walk(self._kind_dir(kind)):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(dirpath, f))
                except OSError:
                    pass
        self._bytes_cache = {key: total, **{
            k: v for k, v in self._bytes_cache.items()
            if k[1:] == key[1:]}}  # drop stale generations/watermarks
        return total

    def _read(self, kind: str, cols: list[str] | None = None) -> DataFrame:
        """Reader frame for a kind's current generation. The bare
        ``spark.read.parquet`` is memoized per (session, kind,
        generation, watermark) — every fresh call pays a driver file
        listing plus a footer schema-inference job (~0.1-0.3 s each; a judge reads
        3-4 kinds, so un-memoized reads were most of a warm judge's
        job count at bench scale, and at production scale re-listing
        a many-snapshot store per micro-batch is driver time the
        plan never sees — guide §6). Invalidation mirrors
        ``_bytes_cache``: the store only changes when THIS process
        writes, and every write moves the watermark or generation.

        A sync moves the watermark on every micro-batch, so the memo
        alone misses once per batch. When an entry for the same
        generation exists (only the watermark moved), the new reader
        is opened with that entry's data schema instead of inferring
        it: the increments of one generation are all written from the
        same ``_frames``, so the schema is the same, and the reader
        costs a listing but no job. The ``snap=`` partition column is
        left out of the pinned schema and re-inferred from the paths,
        so a snapshot id past the first read's inferred int range
        still parses."""
        meta = self._meta()
        key = (self.spark.sparkContext.applicationId, id(self.spark),
               self.root, kind, meta.get("generation", 0),
               meta["synced_snapshot_id"])
        df = _READER_CACHE.get(key)
        if df is None:
            prior = next((v for k, v in _READER_CACHE.items()
                          if k[:5] == key[:5]), None)
            reader = self.spark.read
            if prior is not None:
                reader = reader.schema(StructType(
                    [f for f in prior.schema.fields if f.name != "snap"]))
            df = reader.parquet(self._kind_dir(kind))
            for k in [k for k in _READER_CACHE
                      if k[:4] == key[:4]  # the kind's stale entries
                      or k[0] != key[0]]:  # any dead app's entries
                del _READER_CACHE[k]
            _READER_CACHE[key] = df
        return df.select(
            *(cols if cols is not None else self._KIND_COLS[kind]))

    # -- write paths ---------------------------------------------------

    def _parts_for(self, n: int) -> int:
        """File count for ``n`` rows — ceil(n / _ROWS_PER_FILE), min
        1: hash/gram maps may widen to cluster parallelism, but a
        micro-batch increment should land as a handful of right-sized
        files, not 32 shards of nothing. ONE copy of the sizing rule
        for increment/compact/rebuild."""
        return max(1, -(-n // self._ROWS_PER_FILE))

    def _write_kinds(self, frames: dict[str, DataFrame],
                     write: Callable[[str, DataFrame], None]) -> None:
        """Run ``write(kind, frame)`` for every kind at once, one thread
        per kind, and return only after all of them finished; re-raise
        the first failure. Each kind is a shuffle job then a write job,
        and the kinds share no data, so running them one after another
        only added their fixed stage latencies. ``inheritable_thread_target``
        copies the caller's job group, description and tags into each
        thread, so cancelling the caller's group cancels these writes
        and its job count includes them. Callers move the watermark or
        flip the meta only after this returns, so a failed kind leaves
        the store where it was and the retry overwrites whatever the
        other kinds wrote."""
        from concurrent.futures import ThreadPoolExecutor

        from pyspark import inheritable_thread_target

        target = inheritable_thread_target(self.spark)(write)
        with ThreadPoolExecutor(max_workers=len(frames)) as pool:
            futures = [pool.submit(target, kind, frame)
                       for kind, frame in frames.items()]
        errors = [e for e in (f.exception() for f in futures)
                  if e is not None]
        if errors:
            raise errors[0]

    def _write_increment(self, rows: DataFrame, snapshot_id: int) -> None:
        # ONE materialization of the increment feeds the count and
        # every kind's write — deriving it per action (count + one
        # write per kind) is free only while the snapshot's files sit
        # in the page cache; on remote storage each re-derivation is
        # a full re-read (measured cold-cache: 8-snapshot sync
        # 23.1 -> 18.8 s, warm-cache parity —
        # scripts/measure_sync_persist.py). Unpersisted in `finally`,
        # so nothing outlives the call (the r10 pushdown persist-leak
        # lesson: only persist what you can provably unpersist).
        # Projected FIRST: sync passes full-table-schema frames, and
        # wide non-indexed columns (embeddings, metadata) must not
        # ride the persist — _frames only consumes (id, text).
        # The kinds are written concurrently (_write_kinds); if any
        # fails this raises before sync advances the watermark, and
        # the next sync rewrites every kind's snap= dir.
        from pyspark.storagelevel import StorageLevel

        rows = rows.select(self.id_col, self.text_col).persist(
            StorageLevel.MEMORY_AND_DISK)
        try:
            parts = self._parts_for(rows.count())
            sub = f"snap={snapshot_id}"
            self._write_kinds(
                self._frames(rows),
                lambda kind, frame: frame.coalesce(parts).write.mode(
                    "overwrite").parquet(
                    os.path.join(self._kind_dir(kind), sub)))
        finally:
            rows.unpersist()

    def _flip_generation(self, frames: dict[str, DataFrame],
                         parts: int, sub: str,
                         synced_snapshot_id: int) -> int:
        """The shared crash-safe generation flip — ONE copy of the
        invariant both :meth:`compact` and :meth:`rebuild` rely on:
        write every kind's frame under ``gen=G+1/<sub>`` (clearing any
        partial G+1 a crashed earlier attempt left — it was never
        authoritative; the kinds are written concurrently, see
        :meth:`_write_kinds`), then advance generation + watermark in
        the single atomic meta write, then sweep every other
        generation. A crash or a failed kind before the meta flip
        leaves gen G authoritative; a crash after it leaves only
        sweepable garbage."""
        meta = self._meta()
        gen = meta.get("generation", 0) + 1

        def write(kind: str, frame: DataFrame) -> None:
            shutil.rmtree(self._kind_dir(kind, gen), ignore_errors=True)
            self._cluster_for_write(kind, frame, parts).write.mode(
                "overwrite").parquet(
                os.path.join(self._kind_dir(kind, gen), sub))

        self._write_kinds(frames, write)
        stamp = ({"params": self._index_params()}
                 if self._index_params() else {})
        self._write_meta({**meta, "generation": gen,
                          "synced_snapshot_id": synced_snapshot_id,
                          **stamp})
        for kind in self._KIND_COLS:
            base = os.path.join(self.root, kind)
            for d in os.listdir(base):
                if d != f"gen={gen}":
                    shutil.rmtree(os.path.join(base, d),
                                  ignore_errors=True)
        return gen

    # -- lifecycle -----------------------------------------------------

    def compact(self) -> int:
        """Consolidate the current generation's per-snapshot dirs into
        one right-sized dir under ``gen=G+1``; returns the new
        generation (the current one if there was nothing to compact).
        Crash discipline: :meth:`_flip_generation`. Consume any
        outstanding judge()/``_read`` frames BEFORE compacting: they
        captured gen=G paths at plan time, and the flip's sweep
        removes swept generations — a deferred action on a
        pre-compact frame fails with a missing-path error (single
        MAINTAINER is assumed, but that covers writers, not the
        lifetime of previously returned lazy reader plans)."""
        self._ensure_params()
        meta = self._meta()
        if meta["synced_snapshot_id"] is None:
            return meta.get("generation", 0)
        gen = meta.get("generation", 0)
        snap_dirs = [d for d in os.listdir(
                         self._kind_dir(self._COUNT_KIND, gen))
                     if d.startswith("snap=")]
        if len(snap_dirs) <= 1:
            return gen
        n = self._read(self._COUNT_KIND).count()
        parts = self._parts_for(n)
        frames = self._fold_for_compact(
            {kind: self._read(kind) for kind in self._KIND_COLS})
        return self._flip_generation(
            frames, parts, f"snap={meta['synced_snapshot_id']}",
            meta["synced_snapshot_id"])

    #: rebuild() persists its corpus scan only below this many table
    #: bytes (manifest metadata, no data read): MEMORY_AND_DISK needs
    #: corpus-scale executor scratch, and a 100 TB recovery must
    #: degrade to per-action re-scans rather than die on disk
    #: capacity. 64 GiB covers every single-node deployment this
    #: repo tests while staying far under any real cluster's local
    #: storage.
    _REBUILD_PERSIST_MAX_BYTES = 64 << 30

    def rebuild(self, table) -> int:
        """Re-derive the whole index from the table's CURRENT
        contents into a fresh generation — the recovery path when the
        per-snapshot delta chain is unusable (expired watermark,
        rollback). Crash discipline: :meth:`_flip_generation`. The
        corpus scan persists for the duration of the count + per-kind
        writes when the table is small enough
        (:attr:`_REBUILD_PERSIST_MAX_BYTES` of manifest-recorded data
        bytes — same cold-storage argument as
        :meth:`_write_increment`; above the bound each action
        re-scans rather than demanding corpus-scale executor
        scratch) — then sync is incremental again. Returns the
        target snapshot id."""
        from pyspark.storagelevel import StorageLevel

        # load_files=False + the column-projected byte total: the
        # capacity gate must not JSON-parse a 1M-file manifest on the
        # driver on the exact recovery path it exists to keep
        # 100 TB-safe (r11 ADVICE)
        snap = table.manifest.load(load_files=False)
        cur = snap.snapshot_id
        rows = table.scan(snapshot_id=cur).select(
            self.id_col, self.text_col)
        table_bytes = table.manifest.snapshot_total_bytes(snap)
        persisted = table_bytes <= self._REBUILD_PERSIST_MAX_BYTES
        if persisted:
            rows = rows.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            n = rows.count()
            self._flip_generation(self._frames(rows),
                                  self._parts_for(n),
                                  f"snap={cur}", cur)
        finally:
            if persisted:
                rows.unpersist()
        return cur

    def _row_bearing(self, snaps) -> int:
        """How many of ``snaps`` the incremental walk would count —
        the commits whose rows an ingest actually lands (row-adding
        + publish); rewrite/metadata-only commits (including
        drop-branch — a visible-set no-op) are watermark-only and a
        rollback removes rows rather than adds them.
        Keeps sync()'s return value path-independent: a rebuild that
        covers a chain segment reports the same number an
        incremental walk of that segment would."""
        skip = (self._REWRITE_ONLY + self._METADATA_ONLY
                + self._REBUILD_ON)
        return sum(1 for s in snaps if s.operation not in skip)

    def _ensure_append_only(self, snaps) -> None:
        """Raise on any commit in ``snaps`` that contradicts the
        append-only contract (upsert/delete/overwrite) — called on
        the UNSYNCED segment before every recovery rebuild, so the
        raise is path-independent: a forbidden commit poisons the
        store whether the walk reaches it incrementally or a
        rollback/gap rebuild would otherwise paper over it. (Commits
        that already expired out of the chain are unknowable by
        construction — the gap rebuild's premise.)"""
        allowed = (self._ROW_ADDING + self._REWRITE_ONLY
                   + self._METADATA_ONLY + self._REBUILD_ON
                   + ("publish",))
        for s in snaps:
            if s.operation not in allowed:
                raise ValueError(
                    f"{type(self).__name__} requires an append-only "
                    f"table; snapshot {s.snapshot_id} is "
                    f"{s.operation!r} — rebuild the index from the "
                    f"current contents")

    def sync(self, table) -> int:
        """Catch the index up to ``table``'s current snapshot; returns
        how many row-bearing snapshots this call brought into the
        index — counted identically whether they arrive as
        per-snapshot increments or inside a recovery :meth:`rebuild`
        (which re-derives the chain's contents in one pass).
        Watermark advances AFTER each snapshot's frames land, so
        partial progress persists and every step is re-runnable. Two
        recovery paths keep the 'never permanently misses a document'
        contract without poisoning the caller: a watermark GAP (the
        synced snapshot was expired out of the chain, so intermediate
        deltas are unrecoverable) and a row-removing-but-legitimate
        commit (rollback) both force :meth:`rebuild`; metadata-only
        commits (rename, spec changes, drop-branch) are skipped and
        a WAP publish indexes the rows it reveals. Edits that
        contradict the append-only contract (upsert/delete/overwrite)
        raise on EVERY path — incremental or recovery — never
        silently absorbed by a rebuild."""
        all_snaps = table.manifest.snapshots(load_files=False)
        last = self.synced_snapshot()
        unsynced = [s for s in all_snaps
                    if last is None or s.snapshot_id > last]
        # an unstamped store (pre-params upgrade) self-heals here —
        # sync has the table, so one rebuild re-derives everything
        # under this instance's params and stamps them; a true
        # geometry MISMATCH still raises (the operator must choose)
        if self._params_state() == "unstamped":
            self._ensure_append_only(unsynced)
            self.rebuild(table)
            return self._row_bearing(all_snaps)
        self._ensure_params()
        chain_ids = {s.snapshot_id for s in all_snaps}
        if last is not None and last not in chain_ids:
            # snapshot ids are monotonic, so "newer than the expired
            # watermark" remains meaningful across the gap
            self._ensure_append_only(unsynced)
            self.rebuild(table)
            return self._row_bearing(all_snaps)
        snaps = sorted(unsynced, key=lambda s: s.snapshot_id)
        if (snaps and snaps[0].parent_id is not None
                and snaps[0].parent_id not in chain_ids):
            # The FIRST unsynced snapshot's parent has been EXPIRED out
            # of the chain — a fresh (or meta-healed, watermark-None)
            # store over a truncated history. The incremental walk
            # would hand the dead parent id to scan_incremental /
            # scan_changes and die on FileNotFoundError instead of
            # recovering (r13 review); this is the same unrecoverable-
            # delta situation as an expired WATERMARK, so it takes the
            # same rebuild path. (Only the first unsynced snapshot can
            # have a dead parent: every later one's parent is itself
            # live in `snaps`.)
            self._ensure_append_only(unsynced)
            self.rebuild(table)
            return self._row_bearing(all_snaps)
        n = 0
        for i, s in enumerate(snaps):
            if s.operation in self._REWRITE_ONLY + self._METADATA_ONLY:
                self._advance(s.snapshot_id)
                continue
            if s.operation in self._REBUILD_ON:
                # the rebuild covers this snapshot and every one
                # after it in the chain, on top of the n already
                # ingested incrementally — unless a later commit
                # breaks the contract, which must raise exactly as
                # the incremental walk would have
                self._ensure_append_only(snaps[i + 1:])
                self.rebuild(table)
                return n + self._row_bearing(snaps[i:])
            if s.operation == "publish":
                # a staged (WAP) append synced as an empty increment —
                # its files were hidden; the publish is what reveals
                # them, and the net changelog of the publish window is
                # exactly those rows (publish can only reveal, never
                # remove, so the delta is insert-only by construction)
                try:
                    inc = table.scan_changes(
                        s.parent_id, s.snapshot_id).filter(
                        F.col("_change_type") == "insert").drop(
                        "_change_type")
                except ValueError:
                    # scan_changes compares full rows and refuses
                    # un-comparable column types (MapType); the index
                    # only needs (id, text), and publish reveals only
                    # NEW ids on an append-only corpus — so the
                    # revealed rows are exactly the post-publish ids
                    # absent pre-publish (one anti-join on the skinny
                    # id projection, not a full-row diff)
                    after = table.scan(snapshot_id=s.snapshot_id) \
                        .select(self.id_col, self.text_col)
                    before = table.scan(snapshot_id=s.parent_id) \
                        .select(self.id_col)
                    inc = after.join(before, self.id_col, "left_anti")
            elif s.operation not in self._ROW_ADDING:
                self._ensure_append_only([s])  # raises — same message
                raise AssertionError("unreachable: op classification")
            elif s.parent_id is None:
                inc = table.scan(snapshot_id=s.snapshot_id)
            else:
                inc = table.scan_incremental(
                    since=s.parent_id, until=s.snapshot_id)
            self._write_increment(inc, s.snapshot_id)
            self._advance(s.snapshot_id)
            n += 1
        return n


def split_corpus_index_root(spark: SparkSession, frame_fn,
                            cache: dict[str, str], cache_key: str,
                            tmp_prefix: str, make_index) -> str:
    """Shared registry-query scaffolding: build (once per corpus) a
    persisted index over the 90% corpus split of ``frame_fn()`` —
    ``doc_id % 10 != 0`` committed to an append-only IceTable in TWO
    commits (so the driver row proves the incremental sync, not just
    a bulk create), then synced through ``make_index(idx_root)``.
    Returns the base dir (``corpus/`` + ``idx/``); ``cache`` memoizes
    it per ``cache_key`` for the process lifetime — ``frame_fn`` is a
    thunk so a cache hit never pays the table-load/plan construction
    — and an ``atexit`` hook removes the temp dir when the process
    exits (the build is deliberately per-process: the testdata under
    ``cache_key`` can change between runs, so reusing an on-disk
    index across processes would judge against a stale corpus).
    One implementation for both index families' registry queries — a
    cache/cleanup fix here cannot silently miss one of them."""
    import atexit
    import tempfile

    root = cache.get(cache_key)
    if root is not None and os.path.isdir(root):
        return root
    from iceberg_core_spark.table import IceTable

    frame = frame_fn()
    base = tempfile.mkdtemp(prefix=tmp_prefix)
    atexit.register(shutil.rmtree, base, ignore_errors=True)
    t = IceTable.create(
        spark, os.path.join(base, "corpus"),
        frame.filter("doc_id % 10 <> 0 AND doc_id % 3 <> 0"),
        partition_col=None, key_col="doc_id")
    t.append(frame.filter("doc_id % 10 <> 0 AND doc_id % 3 = 0"))
    make_index(os.path.join(base, "idx")).sync(t)
    cache[cache_key] = base
    return base
