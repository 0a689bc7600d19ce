"""The three closed-loop workloads: ``ingest``, ``query`` and ``admit``.

One client issues one operation at a time through public calls of
``iceberg_core_spark.table`` and ``iceberg_core_spark.functions``.
Background ticks (``IceTable.maintain``, ``AdmissionIndex.compact``)
run between operations: they count toward ``ops_per_s`` and are timed
as layer metrics, but are never inside an operation's latency sample.
Every result is checked against an oracle computed from the generated
inputs, outside the timed region.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import traceback
from collections import defaultdict
from urllib.parse import unquote, urlparse

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from gen import DOC_DDL, EVENT_DDL, DocStream, EventStream, query_windows
from metrics import Tracer, id_checksum, latency_summary, layer_self_times

LINEAGE = "perfbench"
RUN_DEADLINE_S = 120   # stop issuing ops past this (the run must end < 180 s)

# Per workload: nominal seconds per op (sets the op count from --seconds,
# so a run does a fixed amount of work), a floor on that count, and
# untimed warm-up ops that take the JIT, codegen and worker spawn.
NOMINAL_OP_S = {"ingest": 2.5, "query": 0.4, "admit": 6.0}
MIN_OPS = {"ingest": 4, "query": 20, "admit": 4}
WARMUP_OPS = {"ingest": 1, "query": 10, "admit": 2}

# ingest: 640 users, one base file each, so compaction can never bring
# the file count below Manifest.inline_max (512). The HOT_USERS hottest
# users start with HOT_HISTORY extra files, so the first maintain tick
# compacts them and the second finds nothing to compact.
INGEST_USERS, INGEST_ZIPF, INGEST_BATCH, INGEST_SIGMA = 640, 1.6, 200, 0.15
HOT_USERS, HOT_HISTORY, MAINTAIN_EVERY = 8, 5, 2
# query: 256 users x 12 commits = 3072 files, one per user per commit.
QUERY_USERS, QUERY_ZIPF, QUERY_COMMITS, QUERY_EXTRA_ROWS = 256, 1.1, 12, 1500
QUERY_WIDTH_SHARE = 0.02  # median window, as a share of the time span
# admit: seed corpus and batch sizes, injected copy shares.
CORPUS_DOCS, ADMIT_BATCH, EXACT_SHARE, NEAR_SHARE = 800, 64, 0.10, 0.20
COMPACT_EVERY = 3


def n_ops(workload: str, seconds: float) -> int:
    return max(MIN_OPS[workload], round(seconds / NOMINAL_OP_S[workload]))


EVENT_ARROW = pa.schema([("user_id", pa.int32()), ("ts", pa.int64()),
                         ("event_id", pa.int64()), ("value", pa.float64()),
                         ("payload", pa.string())])


def arrow_bytes(pdf: pd.DataFrame) -> int:
    return pa.Table.from_pandas(pdf, preserve_index=False).nbytes


def tree_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, n))
               for d, _, names in os.walk(path) for n in names)


def data_files(root: str) -> dict[str, int]:
    out = {}
    for d, _, names in os.walk(os.path.join(root, "data")):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(d, n)
                out[p] = os.path.getsize(p)
    return out


def write_user_files(pdf: pd.DataFrame, staging: str, tag: str) -> list[str]:
    """One parquet file per user, ts-sorted, under ``user_id=<u>/`` —
    the layout a partitioned append writes, made with pyarrow so a
    thousand-file fixture costs about a millisecond per file."""
    pdf = pdf.sort_values(["user_id", "ts"], kind="stable")
    table = pa.Table.from_pandas(pdf, schema=EVENT_ARROW, preserve_index=False)
    users, starts, counts = np.unique(pdf.user_id.to_numpy(),
                                      return_index=True, return_counts=True)
    paths = []
    for u, a, n in zip(users, starts, counts):
        d = os.path.join(staging, f"user_id={u}")
        os.makedirs(d, exist_ok=True)
        p = os.path.join(d, f"{tag}.parquet")
        pq.write_table(table.slice(a, n), p)
        paths.append(p)
    return paths


def empty_event_table(spark, root: str):
    from iceberg_core_spark.table import IceTable

    return IceTable.create(spark, root, spark.createDataFrame([], EVENT_DDL),
                           partition_col="user_id", key_col="ts")


def instrument_manifest(tracer: Tracer):
    """Wrap ``Manifest.load``/``Manifest.commit`` in spans (traced runs
    only); returns the undo."""
    from iceberg_core_spark.table.manifest import Manifest

    load, commit = Manifest.load, Manifest.commit

    def traced_load(self, *a, **k):
        with tracer.span("manifest.load"):
            return load(self, *a, **k)

    def traced_commit(self, *a, **k):
        with tracer.span("manifest.commit"):
            return commit(self, *a, **k)

    Manifest.load, Manifest.commit = traced_load, traced_commit

    def undo():
        Manifest.load, Manifest.commit = load, commit
    return undo


def commit_bytes(tbl, snap) -> int:
    """Manifest bytes one commit wrote: its snapshot document, plus its
    sidecar when it has one."""
    man = tbl.manifest
    n = os.path.getsize(os.path.join(man.dir, f"snapshot-{snap.snapshot_id}.json"))
    if snap.files_ref:  # a file, or a directory when a Spark job wrote it
        side = man.sidecar_path(snap.files_ref)
        n += tree_bytes(side) if os.path.isdir(side) else os.path.getsize(side)
    return n


def regime(tbl) -> str:
    """``sidecar`` or ``inline`` — which manifest form the table's
    current snapshot uses, by ``Manifest.inline_max``."""
    from iceberg_core_spark.table.manifest import Manifest

    snap = tbl.manifest.load(load_files=False)
    if snap.files_ref:
        return "sidecar" if snap.files_count > Manifest.inline_max else "small-sidecar"
    return "inline" if len(snap.files) <= Manifest.inline_max else "big-inline"


class Run:
    """Shared op loop, bookkeeping and result assembly."""

    expected_regime = "sidecar"

    def __init__(self, spark, run_dir: str, seed: int, seconds: float,
                 trace: bool, t0: float, start_s: float):
        self.spark, self.sc = spark, spark.sparkContext
        self.run_dir, self.seed, self.trace = run_dir, seed, trace
        self.t0, self.start_s = t0, start_s
        self.n_ops = n_ops(self.name, seconds)
        self.tracer = Tracer(False)
        self.lat: list[float] = []
        self.lat_traced: list[float] = []
        self.lat_seq: list[int] = []  # ms, in op order, for the run line
        self.failed = 0
        self.problems: list[str] = []
        self.input_bytes = 0
        self.jobs: list[int] = []
        self.tasks: list[int] = []
        self.tick_s: list[float] = []

    # -- to override ---------------------------------------------------
    def build(self, d: str) -> None:
        """Generate inputs and build the fixture under ``d``."""
        raise NotImplementedError

    def op(self, i: int) -> object:
        """Timed operation ``i``; returns what ``check`` needs."""
        raise NotImplementedError

    def check(self, i: int, out: object) -> None:
        """Untimed: raise AssertionError on a wrong result."""

    def tick(self, k: int) -> bool:
        """Background work after the ``k``-th timed op, outside any
        latency sample; returns whether it ran."""
        return False

    def finish(self) -> None:
        """Untimed end-of-run oracles; raise AssertionError if wrong."""

    def layer_metrics(self) -> dict[str, float]:
        return {}

    def stored_bytes(self) -> int:
        raise NotImplementedError

    # -- op loop -------------------------------------------------------
    def _new_data_files(self) -> int:
        """Count the data files written since the last call, and add
        their bytes to ``written``."""
        now = data_files(self.root)
        new = [p for p in now if p not in self.files]
        self.written += sum(now[p] for p in new)
        self.files = now
        return len(new)

    def _assert_regime(self, when: str) -> None:
        got = regime(self.table)
        if got != self.expected_regime:
            raise AssertionError(
                f"{when}: manifest regime {got}, expected {self.expected_regime}")

    def _jobs_of(self, group: str) -> tuple[int, int]:
        st = self.sc.statusTracker()
        ids = st.getJobIdsForGroup(group)
        tasks = 0
        for j in ids:
            info = st.getJobInfo(j)
            for s in (info.stageIds if info else []):
                si = st.getStageInfo(s)
                tasks += si.numTasks if si else 0
        return len(ids), tasks

    def _one(self, i: int, timed: bool) -> None:
        traced = self.trace and timed and i % 2 == 0
        group = f"perfbench-op-{i}"
        # set on every op, so traced and untraced ops pay the same cost
        self.sc.setJobGroup(group, "perfbench op")
        self.tracer.enabled = traced
        t = time.perf_counter()
        try:
            with self.tracer.span("op", op=i):
                out = self.op(i)
            dt = time.perf_counter() - t
            self.tracer.enabled = False
            self.check(i, out)
            self._assert_regime(f"op {i}")
        except Exception as e:  # one failed op must not end the run
            self.tracer.enabled = False
            if not timed:
                raise
            self.failed += 1
            self.problems.append(f"op {i}: {type(e).__name__}: {e}")
            traceback.print_exc(file=sys.stderr)
            return
        if timed:
            (self.lat_traced if traced else self.lat).append(dt)
            self.lat_seq.append(round(dt * 1e3))
            if self.trace:
                j, k = self._jobs_of(group)
                self.jobs.append(j)
                self.tasks.append(k)

    def run(self) -> dict:
        t = time.perf_counter()
        self.build(os.path.join(self.run_dir, "fixture"))
        build_s = time.perf_counter() - t
        self._assert_regime("after setup")
        if self.trace:
            undo = instrument_manifest(self.tracer)
        warm = WARMUP_OPS[self.name]
        for i in range(warm):
            self._one(i, timed=False)
        start = time.perf_counter()
        setup_s = start - self.t0
        attempted = 0
        for i in range(warm, warm + self.n_ops):
            if time.perf_counter() - self.t0 > RUN_DEADLINE_S:
                print(f"perfbench: deadline hit after {attempted} ops",
                      file=sys.stderr)
                break
            attempted += 1
            self._one(i, timed=True)
            self.tracer.enabled = self.trace
            t = time.perf_counter()
            try:
                with self.tracer.span("tick", op=i):
                    ran = self.tick(i - warm + 1)
            except Exception as e:
                self.problems.append(f"tick {i}: {type(e).__name__}: {e}")
                traceback.print_exc(file=sys.stderr)
                ran = True
            self.tracer.enabled = False
            if ran:
                self.tick_s.append(time.perf_counter() - t)
                try:
                    self._assert_regime(f"tick after op {i}")
                except AssertionError as e:
                    self.problems.append(str(e))
        wall = time.perf_counter() - start
        if self.trace:
            undo()
        try:
            self.finish()
        except Exception as e:
            self.problems.append(f"final check: {type(e).__name__}: {e}")
            traceback.print_exc(file=sys.stderr)

        lat = self.lat + self.lat_traced
        done = len(lat)
        summ = latency_summary(lat) if lat else None
        e2e = {
            "setup_s": (setup_s, "s"),
            "op_p50_ms": (summ["p50_ms"] if summ else 0.0, "ms"),
            "op_tail_ms": (summ["tail_ms"] if summ else 0.0, "ms"),
            "ops_per_s": (done / wall if wall > 0 else 0.0, "1/s"),
            "stored_bytes_per_input_byte": (
                self.stored_bytes() / self.input_bytes, "ratio"),
        }
        info = {
            "workload": self.name, "ops": done, "attempted": attempted,
            "failed": self.failed,
            "failed_op_ratio": self.failed / max(1, attempted),
            "tail": (f"p{summ['tail_pct']:.1f} of {summ['n']} ops, "
                     f"{summ['beyond']} beyond") if summ else None,
            "op_ms": self.lat_seq,
            "ticks_ms": [round(t * 1e3) for t in self.tick_s],
            "build_s": build_s,
            "problems": self.problems[:10],
        }
        layers = {}
        if self.trace:
            layers = self._layers()
        return {"e2e": e2e, "layers": layers, "info": info,
                "correct": not self.problems and self.failed == 0,
                "attempted": max(1, attempted), "failed": self.failed}

    def _layers(self) -> dict:
        op_spans = [s for s in self.tracer.spans
                    if not _under_tick(s, self.tracer.spans)]
        n_traced = max(1, len(self.lat_traced))
        selfs = layer_self_times(op_spans)
        traced_p50 = (statistics.median(self.lat_traced) * 1e3
                      if self.lat_traced else 0.0)
        untraced_p50 = statistics.median(self.lat) * 1e3 if self.lat else 0.0
        def span_ms(name):
            return (_span_ms(op_spans, name), "ms")

        out = {
            "session.start_s": (self.start_s, "s"),
            "session.jobs_per_op": (_med(self.jobs), "count"),
            "session.tasks_per_op": (_med(self.tasks), "count"),
            "trace.op_p50_ms": (traced_p50, "ms"),
            "trace.overhead_ratio": (
                traced_p50 / untraced_p50 if untraced_p50 else 0.0, "ratio"),
            "bench.self_ms": (selfs.get("bench", 0.0) * 1e3 / n_traced, "ms"),
            "table.self_ms": (selfs.get("table", 0.0) * 1e3 / n_traced, "ms"),
            "manifest.self_ms": (
                selfs.get("manifest", 0.0) * 1e3 / n_traced, "ms"),
            "functions.self_ms": (
                selfs.get("functions", 0.0) * 1e3 / n_traced, "ms"),
            "table.append_ms": span_ms("table.append"),
            "table.replay_guard_ms": span_ms("table.replay_guard"),
            "table.query_plan_ms": span_ms("table.query_plan"),
            "table.scan_exec_ms": span_ms("table.scan_exec"),
            "manifest.load_ms": span_ms("manifest.load"),
            "manifest.commit_ms": span_ms("manifest.commit"),
            "functions.sync_ms": span_ms("functions.sync"),
            "functions.judge_ms": span_ms("functions.judge"),
        }
        for name in LAYER_DEFAULTS:
            out.setdefault(name, (0.0, LAYER_DEFAULTS[name]))
        for name, val in self.layer_metrics().items():
            out[name] = (val, LAYER_DEFAULTS[name])
        return out


# per-layer metrics a workload may fill in via layer_metrics(); 0 elsewhere
LAYER_DEFAULTS = {
    "table.files_per_commit": "count",
    "table.maintain_ms": "ms",
    "table.maintain_ticks": "count",
    "table.bytes_written_per_input_byte": "ratio",
    "table.files_scanned_per_query": "count",
    "table.files_pruned_ratio": "ratio",
    "table.rows_examined_per_row_returned": "ratio",
    "manifest.bytes_per_commit": "bytes",
    "manifest.sidecar_entries": "count",
    "functions.index_compact_ms": "ms",
    "functions.index_compact_ticks": "count",
    "functions.exact_dup_hits": "count",
    "functions.near_dup_recall": "ratio",
    "functions.index_bytes_per_corpus_byte": "ratio",
}


def _med(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _under_tick(s, spans) -> bool:
    while s.parent is not None:
        s = spans[s.parent]
    return s.name == "tick"


def _span_ms(spans, name: str) -> float:
    """Median over ops of the summed duration of ``name`` spans, in ms;
    0 when no op ran one."""
    by_op: dict[int, float] = defaultdict(float)
    for s in spans:
        if s.name == name:
            by_op[s.op] += s.end - s.start
    return statistics.median(by_op.values()) * 1e3 if by_op else 0.0


class Ingest(Run):
    """Micro-batch commits the way ``streaming.ingest`` commits a batch:
    replay guard, then a stamped append; ``maintain`` ticks between."""

    name = "ingest"

    def build(self, d: str) -> None:
        self.root = os.path.join(d, "events")
        stream = EventStream(self.seed, INGEST_USERS, INGEST_ZIPF,
                             INGEST_BATCH, INGEST_SIGMA)
        staging = os.path.join(d, "staging")
        hot = np.arange(HOT_USERS, dtype=np.int64)
        base = [stream.batch(n=INGEST_USERS,
                             users=np.arange(INGEST_USERS, dtype=np.int64))]
        for _ in range(HOT_HISTORY):
            b = stream.batch(n=4 * HOT_USERS, users=hot)
            base.append(b[b.user_id < HOT_USERS])
        paths = [p for k, b in enumerate(base)
                 for p in write_user_files(b, staging, f"base{k}")]
        base = pd.concat(base, ignore_index=True)
        self.table = empty_event_table(self.spark, self.root)
        self.table.add_files(paths)
        shutil.rmtree(staging)
        total = WARMUP_OPS[self.name] + self.n_ops
        self.batches = [stream.batch() for _ in range(total)]
        self.frames = [self.spark.createDataFrame(b, EVENT_DDL)
                       for b in self.batches]
        self.committed = [base.event_id.to_numpy()]
        self.input_bytes = arrow_bytes(base) + sum(
            arrow_bytes(b) for b in self.batches)
        self.files = data_files(self.root)
        self.written = 0
        self.commit_files: list[int] = []
        self.manifest_bytes: list[int] = []
        self.sidecar_entries: list[int] = []
        self.maintain_ms: list[float] = []

    def op(self, i: int):
        with self.tracer.span("table.replay_guard"):
            last = self.table.last_committed_batch(LINEAGE)
        if last is not None and i <= last:
            raise AssertionError(f"batch {i} skipped as a replay (last {last})")
        with self.tracer.span("table.append"):
            return self.table.append(self.frames[i], dedupe_identical_files=True,
                                     source_batch_id=i, source_lineage=LINEAGE)

    def check(self, i: int, snap) -> None:
        self.commit_files.append(self._new_data_files())
        self.manifest_bytes.append(commit_bytes(self.table, snap))
        self.sidecar_entries.append(snap.files_count or len(snap.files))
        if snap.source_batch_id != i:
            raise AssertionError(f"commit stamped {snap.source_batch_id}, not {i}")
        self.committed.append(self.batches[i].event_id.to_numpy())
        self.last_bid = i

    def tick(self, k: int) -> bool:
        if k % MAINTAIN_EVERY:
            return False
        from iceberg_core_spark.table.ice_table import MaintenancePolicy

        t = time.perf_counter()
        with self.tracer.span("table.maintain"):
            self.table.maintain(MaintenancePolicy())
        self.maintain_ms.append((time.perf_counter() - t) * 1e3)
        self._new_data_files()
        return True

    def finish(self) -> None:
        want = np.concatenate(self.committed)
        got = self.table.scan().select("event_id").toPandas().event_id.to_numpy()
        if len(got) != len(want) or id_checksum(got) != id_checksum(want):
            raise AssertionError(
                f"full scan: {len(got)} rows, expected {len(want)} "
                "(or event_id checksum differs)")
        # re-deliver the newest batch the way streaming.ingest would: the
        # guard must report it committed, so nothing is appended
        last = self.table.last_committed_batch(LINEAGE)
        if last != self.last_bid:
            raise AssertionError(
                f"replay guard reads {last}, newest batch {self.last_bid}")

    def stored_bytes(self) -> int:
        return tree_bytes(self.root)

    def layer_metrics(self) -> dict:
        return {
            "table.files_per_commit": _med(self.commit_files),
            "table.maintain_ms": _med(self.maintain_ms),
            "table.maintain_ticks": len(self.maintain_ms),
            "table.bytes_written_per_input_byte": self.written / self.input_bytes,
            "manifest.bytes_per_commit": _med(self.manifest_bytes),
            "manifest.sidecar_entries": _med(self.sidecar_entries),
        }


class Query(Run):
    """``IceTable.query(partition, lo, hi)``, the reference's one query
    shape, collected and checked against a NumPy oracle."""

    name = "query"

    def build(self, d: str) -> None:
        self.root = os.path.join(d, "events")
        stream = EventStream(self.seed, QUERY_USERS, QUERY_ZIPF, 0, 0.0)
        self.table = empty_event_table(self.spark, self.root)
        everyone = np.arange(QUERY_USERS, dtype=np.int64)
        staging = os.path.join(d, "staging")
        parts, paths = [], []
        for c in range(QUERY_COMMITS):
            b = stream.batch(n=QUERY_EXTRA_ROWS, users=everyone)
            parts.append(b)
            paths += write_user_files(b, staging, f"c{c:03d}")
        self.table.add_files(paths)
        shutil.rmtree(staging)
        rows = pd.concat(parts, ignore_index=True)
        self.input_bytes = sum(arrow_bytes(b) for b in parts)
        order = np.argsort(rows.user_id.to_numpy(), kind="stable")
        self.o_user = rows.user_id.to_numpy()[order]
        self.o_ts = rows.ts.to_numpy()[order]
        self.o_id = rows.event_id.to_numpy()[order]
        span = int(rows.ts.max() - rows.ts.min())
        self.windows = query_windows(
            self.seed + 1, WARMUP_OPS[self.name] + self.n_ops, QUERY_USERS,
            QUERY_ZIPF, int(rows.ts.min()), int(rows.ts.max()),
            span * QUERY_WIDTH_SHARE)
        self.total_files = self.table.file_count()
        self.scanned: list[int] = []
        self.examined = 0
        self.returned = 0

    def op(self, i: int):
        p, lo, hi = self.windows[i]
        with self.tracer.span("table.query_plan"):
            df = self.table.query(p, lo, hi)
        with self.tracer.span("table.scan_exec"):
            got = df.toPandas()
        return df, got

    def check(self, i: int, out) -> None:
        df, got = out
        p, lo, hi = self.windows[i]
        a, b = np.searchsorted(self.o_user, [p, p + 1])
        ts = self.o_ts[a:b]
        want = self.o_id[a:b][(ts >= lo) & (ts <= hi)]
        ids = got.event_id.to_numpy()
        if len(ids) != len(want) or id_checksum(ids) != id_checksum(want):
            raise AssertionError(
                f"query({p}, {lo}, {hi}): {len(ids)} rows, oracle {len(want)}")
        if self.trace:
            files = df.inputFiles()
            self.scanned.append(len(files))
            self.examined += sum(pq.ParquetFile(unquote(urlparse(f).path)).metadata.num_rows
                                 for f in files)
            self.returned += len(ids)

    def stored_bytes(self) -> int:
        return tree_bytes(self.root)

    def layer_metrics(self) -> dict:
        scanned = _med(self.scanned)
        return {
            "table.files_scanned_per_query": scanned,
            "table.files_pruned_ratio": 1.0 - scanned / self.total_files,
            "table.rows_examined_per_row_returned":
                self.examined / max(1, self.returned),
            "manifest.sidecar_entries": self.total_files,
        }


class Admit(Run):
    """LLM-pipeline admission, the ``stream_admit_to_table`` sequence by
    public calls: index sync, replay guard, judge, append the unique."""

    name = "admit"
    expected_regime = "inline"

    def build(self, d: str) -> None:
        from iceberg_core_spark.functions.dedup_incremental import AdmissionIndex
        from iceberg_core_spark.table import IceTable

        self.root = os.path.join(d, "docs")
        self.index_root = os.path.join(d, "index")
        docs = DocStream(self.seed)
        corpus = docs.seed_corpus(CORPUS_DOCS)
        self.table = IceTable.create(
            self.spark, self.root, self.spark.createDataFrame(corpus, DOC_DDL),
            key_col="doc_id")
        self.index = AdmissionIndex(self.spark, self.index_root)
        self.index.sync(self.table)
        total = WARMUP_OPS[self.name] + self.n_ops
        self.batches = [docs.batch(ADMIT_BATCH, EXACT_SHARE, NEAR_SHARE)
                        for _ in range(total)]
        self.frames = [self.spark.createDataFrame(b, DOC_DDL)
                       for b, _ in self.batches]
        self.input_bytes = arrow_bytes(corpus) + sum(
            arrow_bytes(b) for b, _ in self.batches)
        self.expected_ids = [corpus.doc_id.to_numpy()]
        self.files = data_files(self.root)
        self.written = 0
        self.commit_files: list[int] = []
        self.manifest_bytes: list[int] = []
        self.exact_hits = 0
        self.near_hits = 0
        self.near_injected = 0
        self.compact_ms: list[float] = []

    def op(self, i: int):
        from pyspark.sql import functions as F

        with self.tracer.span("functions.sync"):
            self.index.sync(self.table)
        with self.tracer.span("table.replay_guard"):
            last = self.table.last_committed_batch(LINEAGE)
        if last is not None and i <= last:
            raise AssertionError(f"batch {i} skipped as a replay (last {last})")
        batch = self.frames[i]
        with self.tracer.span("functions.judge"):
            verdicts = self.index.judge(batch).persist()
            got = verdicts.toPandas()
        try:
            with self.tracer.span("table.append"):
                admitted = batch.join(
                    verdicts.filter(F.col("verdict") == "unique").select("doc_id"),
                    "doc_id", "left_semi")
                snap = self.table.append(
                    admitted, dedupe_identical_files=True,
                    source_batch_id=i, source_lineage=LINEAGE)
        finally:
            verdicts.unpersist()
        return got, snap

    def check(self, i: int, out) -> None:
        got, snap = out
        docs, kind = self.batches[i]
        self.commit_files.append(self._new_data_files())
        self.manifest_bytes.append(commit_bytes(self.table, snap))
        v = dict(zip(got.doc_id, got.verdict))
        if sorted(v) != sorted(docs.doc_id):
            raise AssertionError(f"batch {i}: {len(v)} verdicts for {len(docs)} docs")
        ids = docs.doc_id.to_numpy()
        exact = {d for d in ids if v[d] == "exact_dup"}
        if exact != set(ids[kind == 1]):
            raise AssertionError(
                f"batch {i}: {len(exact)} exact_dup verdicts, "
                f"{int((kind == 1).sum())} injected exact copies")
        self.exact_hits += len(exact)
        near = ids[kind == 2]
        self.near_injected += len(near)
        self.near_hits += sum(v[d] == "near_dup" for d in near)
        self.expected_ids.append(
            np.array([d for d in ids if v[d] == "unique"], dtype=np.int64))

    def tick(self, k: int) -> bool:
        if k % COMPACT_EVERY:
            return False
        t = time.perf_counter()
        with self.tracer.span("functions.index_compact"):
            self.index.compact()
        self.compact_ms.append((time.perf_counter() - t) * 1e3)
        return True

    def finish(self) -> None:
        self.index.sync(self.table)
        if self.index.synced_snapshot() != self.table.manifest.current_snapshot_id():
            raise AssertionError(
                f"index synced to {self.index.synced_snapshot()}, table at "
                f"{self.table.manifest.current_snapshot_id()}")
        want = np.concatenate(self.expected_ids)
        got = self.table.scan().select("doc_id").toPandas().doc_id.to_numpy()
        if len(got) != len(want) or id_checksum(got) != id_checksum(want):
            raise AssertionError(
                f"corpus holds {len(got)} docs, seed + admitted = {len(want)}")

    def stored_bytes(self) -> int:
        return tree_bytes(self.root) + tree_bytes(self.index_root)

    def layer_metrics(self) -> dict:
        return {
            "table.files_per_commit": _med(self.commit_files),
            "manifest.bytes_per_commit": _med(self.manifest_bytes),
            "functions.index_compact_ms": _med(self.compact_ms),
            "functions.index_compact_ticks": len(self.compact_ms),
            "functions.exact_dup_hits": self.exact_hits,
            "functions.near_dup_recall": self.near_hits / max(1, self.near_injected),
            "functions.index_bytes_per_corpus_byte":
                tree_bytes(self.index_root) / tree_bytes(self.root),
        }


WORKLOADS = {w.name: w for w in (Ingest, Query, Admit)}
