"""Tests of the benchmark's own helpers (no Spark needed):

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from gen import DocStream, EventStream, query_windows  # noqa: E402
from metrics import (  # noqa: E402
    Span,
    Tracer,
    id_checksum,
    latency_summary,
    layer_self_times,
    quartile_spread,
    self_times,
    tail_rank,
)


# -- generators --------------------------------------------------------------

def _events(seed):
    s = EventStream(seed, n_users=64, zipf_s=1.4, batch_median=200,
                    batch_sigma=0.3)
    return [s.batch() for _ in range(3)] + [s.batch(n=5, users=np.arange(64))]


def test_event_stream_deterministic_per_seed():
    a, b, c = _events(7), _events(7), _events(8)
    for x, y in zip(a, b):
        assert x.equals(y)
    assert not all(x.equals(y) for x, y in zip(a, c) if len(x) == len(y))


def test_event_stream_ids_unique_and_forced_users_present():
    batches = _events(3)
    ids = np.concatenate([b.event_id.to_numpy() for b in batches])
    assert len(np.unique(ids)) == len(ids)
    assert set(batches[-1].user_id) == set(range(64))
    late = sum(int((np.diff(b.ts.to_numpy()) < 0).sum()) for b in batches)
    assert late > 0  # the out-of-order share shows up


def test_query_windows_deterministic_and_in_range():
    a = query_windows(5, 50, 32, 1.1, 1000, 10**6, 2e4)
    assert a == query_windows(5, 50, 32, 1.1, 1000, 10**6, 2e4)
    assert a != query_windows(6, 50, 32, 1.1, 1000, 10**6, 2e4)
    for p, lo, hi in a:
        assert 0 <= p < 32 and 1000 <= lo < hi


def test_doc_stream_deterministic_and_kinds():
    def run(seed):
        d = DocStream(seed)
        corpus = d.seed_corpus(200)
        return corpus, d.batch(100, 0.1, 0.2)

    (c1, (b1, k1)), (c2, (b2, k2)) = run(4), run(4)
    assert c1.equals(c2) and b1.equals(b2) and (k1 == k2).all()
    corpus = set(c1.text)
    for text, kind in zip(b1.text, k1):
        assert (text in corpus) == (kind == 1)


# -- tail rule ---------------------------------------------------------------

@pytest.mark.parametrize("n,idx,pct", [
    (100, 89, 90.0),   # p90: samples 91..100 lie beyond
    (40, 29, 75.0),
    (22, 11, 100 * 12 / 22),
    (21, 10, 100 * 11 / 21),  # too few for a tail: the upper median
    (4, 2, 75.0),
    (3, 1, 100 * 2 / 3),
    (1, 0, 100.0),
])
def test_tail_rank(n, idx, pct):
    assert tail_rank(n) == (idx, pytest.approx(pct))
    if n - idx - 1 < 10:
        assert idx == n // 2
    else:
        assert n - idx - 1 == 10


def test_tail_never_below_median():
    for n in range(1, 50):
        xs = sorted(range(n))
        s = latency_summary([x / 1000 for x in xs])
        assert s["tail_ms"] >= s["p50_ms"]


def test_latency_summary_counts_beyond():
    s = latency_summary([i / 1000 for i in range(1, 61)])  # 1..60 ms
    assert s["n"] == 60 and s["beyond"] == 10
    assert s["tail_ms"] == pytest.approx(50.0)
    assert s["p50_ms"] == pytest.approx(30.5)


def test_quartile_spread():
    assert quartile_spread([10.0] * 5) == 0.0
    xs = [1.0, 2.0, 3.0, 4.0, 5.0]
    assert quartile_spread(xs) == pytest.approx((4.5 - 1.5) / 3.0)


# -- checksums ---------------------------------------------------------------

def _reference_checksum(ids):
    mask = (1 << 64) - 1
    total = 0
    for v in ids:
        x = (int(v) + 0x9E3779B97F4A7C15) & mask
        x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & mask
        x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & mask
        total = (total + (x ^ (x >> 31))) & mask
    return total


def test_id_checksum_matches_reference_and_ignores_order():
    rng = np.random.default_rng(0)
    ids = rng.integers(-(2**62), 2**62, 500)
    assert id_checksum(ids) == _reference_checksum(ids)
    assert id_checksum(ids[::-1]) == id_checksum(ids)
    assert id_checksum(rng.permutation(ids)) == id_checksum(ids)


def test_id_checksum_detects_missing_extra_and_changed_ids():
    ids = np.arange(1000, dtype=np.int64)
    base = id_checksum(ids)
    assert id_checksum(ids[:-1]) != base
    assert id_checksum(np.append(ids, 5)) != base
    changed = ids.copy()
    changed[10] = 5000
    assert id_checksum(changed) != base
    assert id_checksum([]) == 0


# -- span self time ----------------------------------------------------------

def _span(i, parent, name, a, b):
    return Span(0, i, parent, name, a, b)


def test_self_time_subtracts_children():
    spans = [
        _span(0, None, "op", 0.0, 10.0),
        _span(1, 0, "table.append", 1.0, 7.0),
        _span(2, 1, "manifest.commit", 5.0, 6.0),
        _span(3, 0, "functions.judge", 7.0, 9.0),
    ]
    st = self_times(spans)
    assert st["op"] == pytest.approx(10 - 6 - 2)
    assert st["table.append"] == pytest.approx(6 - 1)
    assert st["manifest.commit"] == pytest.approx(1)
    assert st["functions.judge"] == pytest.approx(2)
    assert sum(st.values()) == pytest.approx(10.0)  # self times tile the root
    assert layer_self_times(spans) == pytest.approx(
        {"bench": 2.0, "table": 5.0, "manifest": 1.0, "functions": 2.0})


def test_self_time_overlapping_and_overhanging_children():
    spans = [
        _span(0, None, "op", 0.0, 10.0),
        _span(1, 0, "a.x", 2.0, 6.0),
        _span(2, 0, "a.y", 4.0, 8.0),    # overlaps a.x: union is [2, 8]
        _span(3, 0, "a.z", 9.0, 12.0),   # overhangs the parent: clipped
    ]
    assert self_times(spans)["op"] == pytest.approx(10 - 6 - 1)


def test_tracer_nesting_and_disabled():
    t = Tracer(True)
    with t.span("op", op=3):
        with t.span("table.append"):
            with t.span("manifest.commit"):
                pass
    names = [(s.name, s.parent, s.op) for s in t.spans]
    assert names == [("op", None, 3), ("table.append", 0, 3),
                     ("manifest.commit", 1, 3)]
    assert all(s.end >= s.start for s in t.spans)
    off = Tracer(False)
    with off.span("op", op=1):
        pass
    assert off.spans == []
