"""Seeded input generator for the benchmark workloads.

Every table is written in the fixture schemas (FIXTURES.md) with pyarrow, so
the engine sees only files. The same seed gives byte-identical inputs; the
size parameters only scale the tables, never change their shape.

- ``events``: keyed event stream with moderately skewed ``user_id``,
  unique microsecond timestamps across January 2024 (``event_id`` follows
  ``ts``) and full-precision values whose distribution shifts in the
  second half of the month (so the drift monitor has something to
  measure). Values on a cent grid would put about 20 per-user means a
  seed exactly on a ``round(avg(value), 4)`` half-way tie, where double
  arithmetic rounds either way in the engine and in its DuckDB oracle
  alike: unrounded values make every such result well defined.
- ``documents``: word-salad corpus in four stopword languages plus an
  undetectable one, with exact copies and edited near-duplicates of
  earlier documents (the dedup, decontamination and curation families).
- ``embeddings``: unit 64-d vectors around ten label centroids, with a
  share of lightly perturbed copies (near-duplicates for SemDeDup).
- serve state: a latest-per-key base table plus update batches whose
  expected latest row per key is computed here, independently of Spark.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

JAN_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in microseconds
MONTH_US = 31 * 86_400 * 1_000_000
DRIFT_CUTOFF_US = JAN_2024_US + 15 * 86_400 * 1_000_000  # 2024-01-16

EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])

TOPIC_WORDS = (
    "spark line small fast group customer part column order scan slow agg "
    "key window table merge vector join query row stream batch sort value "
    "hash filter big data dup index shard state feature label train model "
    "cache plan stage task record schema delta"
).split()
STOPWORDS = {
    "en": ("the", "a", "of", "and", "to", "is", "in", "it"),
    "de": ("der", "die", "das", "und", "ist", "ein", "nicht", "zu"),
    "es": ("el", "los", "las", "y", "es", "un", "una", "que"),
    "fr": ("le", "les", "et", "est", "une", "dans", "pour"),
    "zh": (),
}
LANGS = np.array(list(STOPWORDS))
LANG_P = np.array([0.45, 0.14, 0.14, 0.14, 0.13])
N_SOURCES = 20
EMB_DIM = 64
EMB_LABELS = 10


def _zipf_keys(rng: np.random.Generator, n: int, n_keys: int, a: float,
               offset: float) -> np.ndarray:
    """``n`` draws of keys ``0..n_keys-1`` with weight ``1/(rank+offset)^a``;
    rank order is shuffled so hot keys are spread over the id space."""
    w = 1.0 / (np.arange(n_keys) + offset) ** a
    ranks = rng.choice(n_keys, size=n, p=w / w.sum())
    return rng.permutation(n_keys)[ranks]


def _unique_sorted_us(rng: np.random.Generator, n: int, start: int,
                      span: int) -> np.ndarray:
    """``n`` distinct sorted microsecond instants from ``[start,
    start + span)``."""
    ts = np.unique(rng.integers(start, start + span, size=n + n // 8 + 16))
    while len(ts) < n:  # vanishingly rare: top up until unique count suffices
        ts = np.unique(np.concatenate(
            [ts, rng.integers(start, start + span, size=n)]))
    return np.sort(rng.choice(ts, size=n, replace=False))


def write_events(path: str, seed: int, n_events: int, n_users: int) -> None:
    rng = np.random.default_rng([seed, 1])
    ts = _unique_sorted_us(rng, n_events, JAN_2024_US, MONTH_US)
    users = _zipf_keys(rng, n_events, n_users, a=0.6, offset=50.0)
    scale = np.where(ts < DRIFT_CUTOFF_US, 45.0, 60.0)
    value = np.minimum(rng.gamma(2.0, scale), 600.0)
    types = EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n_events)]
    props = np.char.add(
        np.char.add('{"k": ', rng.integers(0, 100, n_events).astype(str)), "}"
    )
    t = pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(users, pa.int64()),
        "event_type": pa.array(types),
        "value": pa.array(value, pa.float64()),
        "props": pa.array(props),
    })
    pq.write_table(t, path)


def _doc_tokens(rng: np.random.Generator, lang: str) -> list[str]:
    n = int(rng.integers(20, 110))
    words = list(rng.choice(TOPIC_WORDS, size=n))
    stop = STOPWORDS[lang]
    if stop:
        for i in np.flatnonzero(rng.random(n) < 0.18):
            words[i] = stop[int(rng.integers(0, len(stop)))]
    return words


def _near_copy(rng: np.random.Generator, words: list[str]) -> list[str]:
    """Edit a few tokens and maybe trim the tail: Jaccard stays high."""
    out = list(words)
    for i in np.flatnonzero(rng.random(len(out)) < 0.06):
        out[i] = TOPIC_WORDS[int(rng.integers(0, len(TOPIC_WORDS)))]
    if rng.random() < 0.5:
        out = out[: max(12, len(out) - int(rng.integers(0, 6)))]
    return out


def write_documents(path: str, seed: int, n_docs: int) -> None:
    rng = np.random.default_rng([seed, 2])
    langs = LANGS[rng.choice(len(LANGS), size=n_docs, p=LANG_P)]
    texts: list[str] = []
    originals: list[int] = []  # copies are made of originals only: small
    for i in range(n_docs):    # star-shaped clusters, no long chains
        r = rng.random()
        if len(originals) >= 20 and r < 0.30:
            src = originals[int(rng.integers(0, len(originals)))]
            words = texts[src].split()
            # a fifth of the copies are exact, the rest edited
            text = " ".join(words if r < 0.06 else _near_copy(rng, words))
            texts.append(text)
            langs[i] = langs[src]
        else:
            originals.append(i)
            texts.append(" ".join(_doc_tokens(rng, str(langs[i]))))
    t = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(langs),
        "source": pa.array([f"src{i % N_SOURCES}" for i in range(n_docs)]),
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })
    pq.write_table(t, path)


def write_embeddings(path: str, seed: int, n_vecs: int) -> None:
    rng = np.random.default_rng([seed, 3])
    centers = rng.normal(size=(EMB_LABELS, EMB_DIM))
    labels = rng.integers(0, EMB_LABELS, n_vecs)
    vecs = centers[labels] + rng.normal(scale=1.2, size=(n_vecs, EMB_DIM))
    dup = np.flatnonzero(rng.random(n_vecs) < 0.15)
    dup = dup[dup >= 20]
    src = (rng.random(len(dup)) * dup).astype(int)
    vecs[dup] = vecs[src] + rng.normal(scale=0.05, size=(len(dup), EMB_DIM))
    labels[dup] = labels[src]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    t = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n_vecs * EMB_DIM + 1, EMB_DIM), pa.int32()),
            flat,
        ),
        "label": pa.array(labels, pa.int32()),
    })
    pq.write_table(t, path)


@dataclass
class ServeState:
    """The serving workload's inputs and the expected latest row per key.

    ``latest`` maps column name to a per-key array indexed by ``user_id``;
    :meth:`next_batch` draws an update batch, folds it into ``latest`` with
    the engine's latest-per-key rule ((ts, event_id) max wins) and returns it
    together with the keys a lookup client should read next.
    """

    seed: int
    n_keys: int
    batch_rows: int
    lookups: int
    latest: dict[str, np.ndarray] = field(default_factory=dict)
    next_event_id: int = 0
    clock_us: int = 0
    round_no: int = 0
    hot: np.ndarray = field(default_factory=lambda: np.empty(0, np.int64))

    def __post_init__(self) -> None:
        rng = np.random.default_rng([self.seed, 4])
        n = self.n_keys
        self.latest = {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": _unique_sorted_us(rng, n, JAN_2024_US, MONTH_US)[
                rng.permutation(n)],
            "user_id": np.arange(n, dtype=np.int64),
            "value": np.round(rng.gamma(2.0, 45.0, n), 2),
        }
        self.next_event_id = n
        self.clock_us = JAN_2024_US + MONTH_US
        w = 1.0 / (np.arange(n) + 10.0)
        self.weights = w / w.sum()
        self.key_of_rank = rng.permutation(n)
        self.hot = self.key_of_rank[: max(1, self.lookups)]

    def base_table(self) -> pa.Table:
        return self._table({c: v for c, v in self.latest.items()})

    @staticmethod
    def _table(cols: dict[str, np.ndarray]) -> pa.Table:
        return pa.table({
            "event_id": pa.array(cols["event_id"], pa.int64()),
            # the stream source's schema reads ts as TIMESTAMP (UTC instant)
            "ts": pa.array(cols["ts"], pa.timestamp("us", tz="UTC")),
            "user_id": pa.array(cols["user_id"], pa.int64()),
            "value": pa.array(cols["value"], pa.float64()),
        })

    def next_batch(self) -> tuple[pa.Table, list[int]]:
        rng = np.random.default_rng([self.seed, 5, self.round_no])
        self.round_no += 1
        m = self.batch_rows
        keys = self.key_of_rank[rng.choice(self.n_keys, size=m,
                                           p=self.weights)]
        span = 60 * 1_000_000
        ts = _unique_sorted_us(rng, m, self.clock_us, span)
        # a tenth arrive late: older than the stored row, so they must lose
        late = rng.random(m) < 0.1
        ts = np.where(late, ts - MONTH_US, ts)
        eid = self.next_event_id + np.arange(m, dtype=np.int64)
        self.next_event_id += m
        self.clock_us += span
        value = np.round(rng.gamma(2.0, 45.0, m), 2)
        batch = {"event_id": eid, "ts": ts, "user_id": keys, "value": value}
        # expected fold: per key, the max (ts, event_id) of batch ∪ state
        order = np.lexsort((eid, ts, keys))
        last = np.r_[keys[order][1:] != keys[order][:-1], True]
        win = order[last]
        k = keys[win]
        cur_ts, cur_id = self.latest["ts"][k], self.latest["event_id"][k]
        newer = (ts[win] > cur_ts) | (
            (ts[win] == cur_ts) & (eid[win] > cur_id))
        for c in ("event_id", "ts", "value"):
            self.latest[c][k[newer]] = batch[c][win][newer]
        half = self.lookups // 2
        pick = list(rng.choice(np.unique(keys), size=half, replace=False))
        pick += list(rng.choice(self.hot, size=self.lookups - half,
                                replace=False))
        return self._table(batch), [int(x) for x in pick]

    def expected(self, key: int) -> tuple[int, int, int, float]:
        return (int(self.latest["event_id"][key]), int(self.latest["ts"][key]),
                key, float(self.latest["value"][key]))


def write_parquet(table: pa.Table, path: str) -> None:
    """Write ``table`` so a directory listing never sees a partial file."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, f".{name}.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, path)
