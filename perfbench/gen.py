"""Seeded input generators for the benchmark workloads.

Everything the code under test receives comes from here, as pandas
frames built from one ``numpy.random.Generator`` per stream. The same
seed gives byte-identical inputs; nothing here imports Spark.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

# Spark DDL of the event rows; user_id is the partition column, ts the key.
EVENT_DDL = "user_id int, ts bigint, event_id bigint, value double, payload string"
DOC_DDL = "doc_id bigint, text string"

TS_STEP = 1_000          # mean gap between consecutive events, in ts units
LATE_SHARE = 0.03        # share of events that arrive out of order
LATE_MAX = 200 * TS_STEP


def zipf_weights(n: int, s: float) -> np.ndarray:
    """Probabilities of a Zipf law with exponent ``s`` over ``n`` ranks."""
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return w / w.sum()


_HEX = np.frombuffer(b"0123456789abcdef", dtype=np.uint8)


def _payloads(rng: np.random.Generator, n: int) -> list[str]:
    lens = rng.integers(8, 40, n)
    raw = rng.integers(0, 16, int(lens.sum()))
    hexed = _HEX[raw].tobytes().decode("ascii")
    ends = np.cumsum(lens)
    return [hexed[e - k:e] for e, k in zip(ends, lens)]


class EventStream:
    """Micro-batches of click events: Zipf-skewed ``user_id`` over a
    fixed user count, log-normal batch sizes, ``ts`` advancing with a
    small share of late (out-of-order) events, unique ``event_id``."""

    def __init__(self, seed: int, n_users: int, zipf_s: float,
                 batch_median: int, batch_sigma: float):
        self.rng = np.random.default_rng(seed)
        self.n_users = n_users
        self.p = zipf_weights(n_users, zipf_s)
        self.batch_median = batch_median
        self.batch_sigma = batch_sigma
        self.next_id = 0
        self.clock = LATE_MAX

    def batch(self, n: int | None = None,
              users: np.ndarray | None = None) -> pd.DataFrame:
        """One batch; ``users`` (if given) is prepended to the Zipf draw
        so a batch can be forced to touch every user."""
        rng = self.rng
        if n is None:
            n = max(1, int(rng.lognormal(np.log(self.batch_median),
                                         self.batch_sigma)))
        u = rng.choice(self.n_users, n, p=self.p)
        if users is not None:
            u = np.concatenate([users, u])
        n = len(u)
        gaps = rng.exponential(TS_STEP, n)
        ts = self.clock + np.cumsum(gaps).astype(np.int64)
        self.clock = int(ts[-1]) + 1
        late = rng.random(n) < LATE_SHARE
        ts[late] -= rng.integers(1, LATE_MAX, int(late.sum()))
        ids = np.arange(self.next_id, self.next_id + n, dtype=np.int64)
        self.next_id += n
        return pd.DataFrame({
            "user_id": u.astype(np.int32),
            "ts": ts,
            "event_id": ids,
            "value": rng.random(n),
            "payload": _payloads(rng, n),
        })


def query_windows(seed: int, n: int, n_users: int, zipf_s: float,
                  ts_lo: int, ts_hi: int, median_width: float,
                  ) -> list[tuple[int, int, int]]:
    """``n`` (partition, lo, hi) range queries: Zipf-hot partitions and
    log-normal (single-mode) window widths, placed uniformly in time."""
    rng = np.random.default_rng(seed)
    parts = rng.choice(n_users, n, p=zipf_weights(n_users, zipf_s))
    widths = rng.lognormal(np.log(median_width), 0.5, n).astype(np.int64) + 1
    starts = rng.integers(ts_lo, np.maximum(ts_lo + 1, ts_hi - widths))
    return [(int(p), int(lo), int(lo + w))
            for p, lo, w in zip(parts, starts, widths)]


class DocStream:
    """Documents for admission: a seed corpus, then batches with known
    shares of exact copies, near copies (a few token substitutions of
    a corpus document, so 3-shingle Jaccard stays well above the 0.5
    admission threshold) and fresh documents."""

    def __init__(self, seed: int, vocab: int = 20_000,
                 tokens: tuple[int, int] = (60, 120)):
        self.rng = np.random.default_rng(seed)
        self.vocab = np.array([f"t{i}" for i in range(vocab)])
        self.tokens = tokens
        self.next_id = 0
        self.corpus: list[str] = []

    def _fresh(self) -> str:
        k = int(self.rng.integers(*self.tokens))
        return " ".join(self.vocab[self.rng.integers(0, len(self.vocab), k)])

    def _near(self, text: str) -> str:
        toks = text.split(" ")
        for i in self.rng.choice(len(toks), max(1, len(toks) // 50),
                                 replace=False):
            # a different token, or the "near" copy could be exact
            old = int(toks[i][1:])
            toks[i] = self.vocab[(old + self.rng.integers(1, len(self.vocab)))
                                 % len(self.vocab)]
        return " ".join(toks)

    def seed_corpus(self, n: int) -> pd.DataFrame:
        self.corpus = [self._fresh() for _ in range(n)]
        ids = np.arange(self.next_id, self.next_id + n, dtype=np.int64)
        self.next_id += n
        return pd.DataFrame({"doc_id": ids, "text": self.corpus})

    def batch(self, n: int, exact_share: float, near_share: float,
              ) -> tuple[pd.DataFrame, np.ndarray]:
        """(docs, kind) with kind 0 = fresh, 1 = exact copy, 2 = near
        copy, in fixed shares at seeded positions. Copies draw distinct seed-corpus documents, so no two
        documents of one batch are copies of each other."""
        n_exact, n_near = round(n * exact_share), round(n * near_share)
        kind = np.zeros(n, dtype=np.int8)
        kind[:n_exact] = 1
        kind[n_exact:n_exact + n_near] = 2
        self.rng.shuffle(kind)
        src = self.rng.choice(len(self.corpus), n, replace=False)
        texts = [self.corpus[s] if k == 1 else
                 self._near(self.corpus[s]) if k == 2 else self._fresh()
                 for k, s in zip(kind, src)]
        ids = np.arange(self.next_id, self.next_id + n, dtype=np.int64)
        self.next_id += n
        return pd.DataFrame({"doc_id": ids, "text": texts}), kind
