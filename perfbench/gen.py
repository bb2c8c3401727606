"""Seeded input generators.

Everything a workload feeds the program is made here from ``--seed``
before any timing starts: the parquet tables, the serve workloads'
request streams and the streaming workload's micro-batch split. The same
seed gives byte-identical inputs; the generators use only numpy and
pyarrow, so they run without a Spark session.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
#: The corpus vocabulary of the registry's text family (BM25 and the
#: dedup shingles key on these words).
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
EMBED_DIM = 64
EMBED_LABELS = 10
#: 2024-01-01T00:00:00Z in epoch microseconds; events span 30 days.
EPOCH_START_US = 1_704_067_200_000_000
SPAN_US = 30 * 86_400 * 1_000_000
NOW_OFFSET_US = 5_000_000


@dataclass(frozen=True)
class Scale:
    """Row counts of one generated corpus (``sf`` is the label recorded
    with every result; the counts follow the ratios of the repository's
    sf0.1 test data)."""

    sf: float
    events: int
    users: int
    documents: int
    embeddings: int


SF01 = Scale(sf=0.1, events=100_000, users=1_500, documents=5_000, embeddings=2_000)


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """An independent generator per (seed, stream name), so adding a
    stream never shifts the draws of another."""
    return np.random.default_rng([seed, int.from_bytes(stream.encode()[:8].ljust(8, b"\0"), "little")])


def events_table(seed: int, scale: Scale) -> pa.Table:
    """The raw event log (the test data's ``events`` schema). The latest event sits
    on a whole second, so ``now = max(ts) + 5 s`` is a whole number of
    seconds and travels through a URL parameter exactly."""
    rng = rng_for(seed, "events")
    n = scale.events
    ts = np.sort(rng.integers(0, SPAN_US, n)) + EPOCH_START_US
    ts[-1] = -(-ts[-1] // 1_000_000) * 1_000_000
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, scale.users, n, dtype=np.int64)),
            "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)]),
            "value": pa.array(np.round(rng.uniform(0.01, 500.0, n), 2)),
            "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)]),
        }
    )


def documents_table(seed: int, scale: Scale) -> pa.Table:
    """Token documents over :data:`VOCAB`; one in twenty is a near
    duplicate of an earlier document (one word swapped for ``dup``)."""
    rng = rng_for(seed, "documents")
    texts: list[str] = []
    for i in range(scale.documents):
        if i > 0 and rng.random() < 0.05:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
        else:
            words = list(np.array(VOCAB)[rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))])
        texts.append(" ".join(words))
    n = scale.documents
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def embeddings_table(seed: int, scale: Scale) -> pa.Table:
    """Unit vectors clustered around one random centroid per label."""
    rng = rng_for(seed, "embeddings")
    n = scale.embeddings
    centroids = rng.normal(size=(EMBED_LABELS, EMBED_DIM))
    labels = rng.integers(0, EMBED_LABELS, n)
    vecs = centroids[labels] + rng.normal(scale=0.8, size=(n, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        }
    )


TABLES = {
    "events": events_table,
    "documents": documents_table,
    "embeddings": embeddings_table,
}


def write_tables(seed: int, scale: Scale, out_dir: str, names=tuple(TABLES)) -> dict[str, int]:
    """Write the named tables as ``<out_dir>/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name in names:
        table = TABLES[name](seed, scale)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows


def pinned_now_us(events: pa.Table) -> int:
    """The read instant every serve request pins: max(ts) + 5 s."""
    return int(pc.max(events["ts"]).value) + NOW_OFFSET_US


# -- serve request streams ---------------------------------------------------

#: Read route mix (share of reads): /dist, /nmostprobable, /get.
READ_MIX = (("dist", 0.4), ("nmost", 0.4), ("get", 0.2))
ZIPF_S = 1.1
N_DISTRIBUTIONS = 1000


def zipf_keys(rng: np.random.Generator, n: int, n_keys: int = N_DISTRIBUTIONS, s: float = ZIPF_S) -> np.ndarray:
    """``n`` draws of distribution names ``u<k>``; rank r has weight
    r**-s, and ranks map to keys through a seeded permutation so the hot
    keys differ per seed."""
    p = 1.0 / np.arange(1, n_keys + 1) ** s
    ranks = rng.choice(n_keys, n, p=p / p.sum())
    return rng.permutation(n_keys)[ranks]


def request_stream(seed: int, n: int, write_every: int = 0) -> list[dict]:
    """``n`` requests, each ``{"route", "distribution", "fields"}``.

    With ``write_every = k > 0`` request ``i`` is an ``/incr`` when
    ``i % k == k - 1`` (one in k), with 1-3 fields and N = 1; the rest
    follow :data:`READ_MIX`. ``/get`` names 1-3 fields, ``/nmostprobable``
    asks for N = 10.
    """
    rng = rng_for(seed, f"requests/{write_every}")
    keys = zipf_keys(rng, n)
    routes = rng.choice([r for r, _ in READ_MIX], n, p=[p for _, p in READ_MIX])
    n_fields = rng.integers(1, 4, n)
    out = []
    for i in range(n):
        route = "incr" if write_every and i % write_every == write_every - 1 else str(routes[i])
        fields = []
        if route in ("get", "incr"):
            fields = sorted(rng.choice(EVENT_TYPES, int(n_fields[i]), replace=False).tolist())
        out.append({"route": route, "distribution": f"u{keys[i]}", "fields": fields})
    return out


def batch_split(seed: int, n_rows: int, n_batches: int) -> np.ndarray:
    """Micro-batch index per row of a time-ordered log: contiguous runs,
    each cut at a seeded point within 1% of a batch of the even cut, so
    every batch is a later slice of time than the one before it and no
    row arrives behind the stream's watermark."""
    rng = rng_for(seed, "split")
    size = n_rows / n_batches
    cuts = [round(size * (k + rng.uniform(-0.01, 0.01))) for k in range(1, n_batches)]
    return np.searchsorted(cuts, np.arange(n_rows), side="right")
