"""Seeded input generators for the benchmark.

Every input is a pure function of ``(seed, size constants)``: the same
seed writes byte-identical parquet files.  Generators write only into the
directory they are given (the run's scratch directory); the program under
test receives the files, never the seed.

* :func:`write_topic` — an ``events.parquet`` topic in the fixture's
  events schema (``event_id, ts, user_id, event_type, value, props``),
  which the ``kafquack`` data source replays as Kafka messages
  (``offset = event_id``, ``partition = user_id % 4``).  ``user_id`` is
  Zipf-skewed, so the Kafka partitions are uneven.  A share of rows can
  be redelivered: a second copy of the same message (same offset) lands
  a little later in the log, the way a consumer-group rebalance replays
  uncommitted messages.
* :func:`write_corpus` — ``documents.parquet`` (word-soup texts with
  near-duplicate and exact-duplicate families plus boilerplate tails) and
  ``embeddings.parquet`` (Gaussian clusters; ``label`` is the cluster id).
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
EVENT_TYPE_WEIGHTS = (0.45, 0.3, 0.1, 0.05, 0.1)

VOCAB = (
    "a the data query table row column scan filter join agg group sort "
    "order window hash merge batch stream key value part line customer "
    "small big fast slow spark vector index shard cache plan stage task "
    "offset topic broker commit state sink source split record event "
    "field schema"
).split()
BOILERPLATE = (
    "subscribe to our newsletter for weekly updates",
    "all rights reserved reproduction without permission prohibited",
    "cookies help us deliver our services to you",
)
LANGS = ("en", "es", "zh", "de", "fr")
LANG_WEIGHTS = (0.44, 0.14, 0.14, 0.14, 0.14)
N_SOURCES = 20
EMBED_DIM = 64
N_CLUSTERS = 10


@dataclass(frozen=True)
class TopicSpec:
    rows: int  # distinct messages (offsets)
    row_groups: int
    user_skew: float  # Zipf exponent over N_USERS user ids
    redelivery_share: float  # redelivered copies / distinct messages
    n_users: int = 500
    max_redelivery_lag: int = 2000  # rows between a message and its replay


@dataclass(frozen=True)
class CorpusSpec:
    docs: int
    vectors: int


def _zipf_users(rng: np.random.Generator, n: int, users: int, s: float) -> np.ndarray:
    weights = 1.0 / np.arange(1, users + 1) ** s
    ids = rng.permutation(users)  # which user id is hot depends on the seed
    return ids[rng.choice(users, size=n, p=weights / weights.sum())].astype(np.int64)


def write_topic(out_dir: str, seed: int, spec: TopicSpec) -> dict:
    """Write ``out_dir/events.parquet``; return what the checks need to
    know about it (row counts, the redelivered offsets)."""
    rng = np.random.default_rng([seed, 1])
    n = spec.rows
    event_id = np.arange(n, dtype=np.int64)
    # mostly-increasing event time, ~0.25 s apart, jitter well inside the
    # streaming watermark delay (1 h) so no original arrives late
    gaps = rng.exponential(250_000, size=n).astype(np.int64)
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = t0 + np.cumsum(gaps) + rng.integers(0, 5_000_000, size=n)
    user_id = _zipf_users(rng, n, spec.n_users, spec.user_skew)
    event_type = np.asarray(EVENT_TYPES, dtype=object)[
        rng.choice(len(EVENT_TYPES), size=n, p=EVENT_TYPE_WEIGHTS)
    ]
    value = np.round(rng.gamma(2.0, 10.0, size=n), 2)
    props = np.char.add(
        np.char.add('{"k": ', rng.integers(0, 100, size=n).astype(str)), "}"
    ).astype(object)

    # redeliveries: copy r messages and place each copy `lag` rows later.
    # Only messages that carry a broker timestamp are redelivered: the
    # replay projection gives offsets divisible by 97 a NULL timestamp,
    # and watermark dedup has no event time to bound their state by.
    r = int(round(n * spec.redelivery_share))
    stamped = event_id[event_id % 97 != 0]
    dup_src = np.sort(rng.choice(stamped, size=r, replace=False)) if r else np.empty(0, np.int64)
    lag = rng.integers(1, spec.max_redelivery_lag + 1, size=r)
    rows = np.concatenate([event_id, dup_src])
    position = np.concatenate([event_id.astype(np.float64), dup_src + lag + 0.5])
    order = rows[np.argsort(position, kind="stable")]

    table = pa.table(
        {
            "event_id": pa.array(event_id[order]),
            "ts": pa.array(ts[order], type=pa.int64()).cast(pa.timestamp("us")),
            "user_id": pa.array(user_id[order]),
            "event_type": pa.array(event_type[order], type=pa.string()),
            "value": pa.array(value[order]),
            "props": pa.array(props[order], type=pa.string()),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(
        table,
        os.path.join(out_dir, "events.parquet"),
        row_group_size=math.ceil(len(table) / spec.row_groups),
    )
    return {"rows": len(table), "distinct": n, "redelivered": r}


def _doc_texts(rng: np.random.Generator, n: int) -> list[str]:
    zipf = 1.0 / np.arange(1, len(VOCAB) + 1) ** 0.8
    zipf /= zipf.sum()
    vocab = np.asarray(VOCAB, dtype=object)
    texts: list[list[str]] = []
    originals: list[int] = []  # copies are made of originals only: shallow clusters
    kinds = rng.choice(4, size=n, p=(0.72, 0.15, 0.03, 0.10))
    for i, kind in enumerate(kinds):
        if kind in (1, 2) and originals:
            toks = list(texts[originals[int(rng.integers(0, len(originals)))]])
            if kind == 1:  # near-duplicate: substitute ~6% of the tokens
                for j in rng.choice(len(toks), size=max(1, len(toks) // 16), replace=False):
                    toks[j] = vocab[rng.choice(len(vocab), p=zipf)]
        else:
            toks = list(vocab[rng.choice(len(vocab), size=int(rng.integers(20, 90)), p=zipf)])
            if kind == 3:
                toks += BOILERPLATE[int(rng.integers(0, len(BOILERPLATE)))].split()
            originals.append(i)
        texts.append(toks)
    return [" ".join(t) for t in texts]


def write_corpus(out_dir: str, seed: int, spec: CorpusSpec) -> dict:
    """Write ``documents.parquet`` and ``embeddings.parquet``."""
    rng = np.random.default_rng([seed, 2])
    texts = _doc_texts(rng, spec.docs)
    doc_id = np.arange(spec.docs, dtype=np.int64)
    docs = pa.table(
        {
            "doc_id": pa.array(doc_id),
            "text": pa.array(texts, type=pa.string()),
            "lang": pa.array(
                np.asarray(LANGS, dtype=object)[
                    rng.choice(len(LANGS), size=spec.docs, p=LANG_WEIGHTS)
                ],
                type=pa.string(),
            ),
            "source": pa.array([f"src{i % N_SOURCES}" for i in doc_id], type=pa.string()),
            "n_chars": pa.array(np.fromiter(map(len, texts), np.int64, spec.docs)),
        }
    )
    centers = rng.normal(0.0, 1.0, size=(N_CLUSTERS, EMBED_DIM))
    label = rng.integers(0, N_CLUSTERS, size=spec.vectors).astype(np.int32)
    vecs = (centers[label] + rng.normal(0.0, 0.35, size=(spec.vectors, EMBED_DIM))).astype(
        np.float32
    )
    emb = pa.table(
        {
            "vec_id": pa.array(np.arange(spec.vectors, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(label),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))
    return {"docs": spec.docs, "vectors": spec.vectors}
