"""Seeded input generator for the benchmark.

Every table keeps the F8 schema of the registry's test data (FIXTURES.md),
so each registry query's ``oracle_sql()`` twin applies unchanged:

- ``events(event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type
  VARCHAR, value DOUBLE, props VARCHAR)``: ``(user_id, ts)`` unique,
  ``event_id`` in global ``ts`` order, Zipf-skewed ``user_id``;
- ``documents(doc_id BIGINT, text VARCHAR, lang VARCHAR, source VARCHAR,
  n_chars BIGINT)`` with a stated share of planted exact and near
  duplicates;
- ``embeddings(vec_id BIGINT, embedding FLOAT[], label INT)``.

The same seed gives byte-identical tables. Each generator returns the
table plus a ``facts`` dict (key skew, duplicate share) that the run
reports next to its metrics.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["signup", "click", "error", "view", "purchase"])
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = np.array([0.41, 0.15, 0.15, 0.15, 0.14])
# the test corpus' 30-word vocabulary, widened with stems so that
# near-duplicate detection has real signal to separate
BASE_WORDS = (
    "query row stream the spark line small fast group customer batch sort "
    "value hash filter big data part column order scan a slow agg key "
    "window table merge vector join"
).split()
VOCAB = np.array(
    BASE_WORDS + [f"{w}{s}" for w in BASE_WORDS for s in ("s", "ed", "er", "ing")]
)
EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
MONTH_US = 30 * 86_400 * 1_000_000


def zipf_keys(rng: np.random.Generator, n: int, n_keys: int, s: float) -> np.ndarray:
    """``n`` draws over ``n_keys`` ids with P(rank k) ~ k^-s; ranks are
    shuffled onto ids so the hot keys are not the small ids."""
    p = 1.0 / np.arange(1, n_keys + 1) ** s
    p /= p.sum()
    ids = rng.permutation(n_keys).astype(np.int64)
    return ids[rng.choice(n_keys, size=n, p=p)]


def unique_ts(keys: np.ndarray, ts_us: np.ndarray) -> np.ndarray:
    """Nudge timestamps forward by 1 us until ``(key, ts)`` is unique."""
    ts_us = ts_us.copy()
    while True:
        order = np.lexsort((ts_us, keys))
        k, t = keys[order], ts_us[order]
        dup = (k[1:] == k[:-1]) & (t[1:] == t[:-1])
        if not dup.any():
            return ts_us
        ts_us[order[1:][dup]] += 1


def events_table(
    rng: np.random.Generator, n: int, n_keys: int, skew: float
) -> tuple[pa.Table, dict]:
    """``n`` events over a 30-day window, rows in ``ts`` order with
    ``event_id`` numbering that order."""
    keys = zipf_keys(rng, n, n_keys, skew)
    ts_us = unique_ts(keys, EPOCH_US + rng.integers(0, MONTH_US, size=n))
    order = np.lexsort((keys, ts_us))
    keys, ts_us = keys[order], ts_us[order]
    table = pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts_us, type=pa.timestamp("us")),
            "user_id": pa.array(keys),
            "event_type": pa.array(EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)]),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )
    counts = np.bincount(keys, minlength=n_keys)
    facts = {
        "events": n,
        "keys": int((counts > 0).sum()),
        "zipf_s": skew,
        "top_key_share": round(float(counts.max()) / max(n, 1), 4),
    }
    return table, facts


def documents_table(rng: np.random.Generator, n: int, dup_share: float) -> tuple[pa.Table, dict]:
    """``n`` documents; ``dup_share`` of them copy an earlier document,
    half verbatim (exact duplicates) and half with one word changed and
    one appended (near duplicates), interleaved among the originals."""
    n_dup = int(round(n * dup_share))
    n_base = n - n_dup
    lengths = rng.integers(8, 110, size=n_base)
    words = rng.choice(VOCAB, size=int(lengths.sum()))
    texts = [" ".join(ws) for ws in np.split(words, np.cumsum(lengths)[:-1])]
    exact = rng.random(n_dup) < 0.5
    for s, ex in zip(rng.integers(0, n_base, size=n_dup), exact):
        t = texts[s]
        if not ex:
            ws = t.split(" ")
            ws[int(rng.integers(0, len(ws)))] = str(rng.choice(VOCAB))
            ws.append("dup")
            t = " ".join(ws)
        texts.append(t)
    texts = [texts[i] for i in rng.permutation(n)]
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(LANGS[rng.choice(len(LANGS), size=n, p=LANG_P)]),
            "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)]),
            "n_chars": pa.array(np.fromiter((len(t) for t in texts), np.int64, n)),
        }
    )
    facts = {
        "docs": n,
        "dup_share": dup_share,
        "exact_dups": int(exact.sum()),
        "near_dups": int(n_dup - exact.sum()),
    }
    return table, facts


def embeddings_table(
    rng: np.random.Generator, n: int, dim: int = 64, n_labels: int = 10
) -> tuple[pa.Table, dict]:
    """``n`` unit vectors drawn around ``n_labels`` random centres."""
    centres = rng.normal(size=(n_labels, dim))
    labels = rng.integers(0, n_labels, size=n)
    vecs = centres[labels] + rng.normal(scale=0.8, size=(n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel())
    table = pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.ListArray.from_arrays(
                pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32)), flat
            ),
            "label": pa.array(labels.astype(np.int32)),
        }
    )
    return table, {"vectors": n, "dim": dim, "labels": n_labels}


def write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")
