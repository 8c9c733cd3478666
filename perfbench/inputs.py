"""Seeded inputs for the benchmark, generated by the benchmark's own code.

Nothing here imports the package under test, so a program change cannot
move the workload. Every table is a pure function of ``(seed, kind)``.

* ``sequences``: the F1 input shape ``(doc_id, tokens, n_tok, source)``.
  Doc lengths follow the F1 mix (80% U[64, 2048), 15% U[2048, 16384),
  5% U[16384, 65536), stratified), sources are Zipf(1.2) over 8 names, tokens are
  U[0, 50257) int32. Six pinned boundary docs (1, 63, 64, 65, 4096 and
  65536 tokens) lead the id space so ragged tails are always present.
* ``documents``, ``embeddings``, ``events``: the three tables the query mix
  reads, in the column layout the registry expects.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = 50257
SOURCES = ["web", "books", "code", "wiki", "forums", "papers", "news", "chat"]
BOUNDARY = [1, 63, 64, 65, 4096, 65536]

_SRC_P = 1.0 / np.arange(1, len(SOURCES) + 1) ** 1.2
_SRC_P /= _SRC_P.sum()

WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ["en", "es", "fr", "de", "zh"]
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]


def doc_lengths(seed: int, n_docs: int) -> np.ndarray:
    """Token count of every doc: pinned boundary docs, then the F1 mix.

    The mix is stratified (exactly 80/15/5% of the docs per length class,
    in seeded order), so the token total moves little between seeds."""
    rng = np.random.default_rng([seed, 1])
    n = n_docs - len(BOUNDARY)
    n_short, n_mid = round(0.80 * n), round(0.15 * n)
    n_long = n - n_short - n_mid
    lens = np.concatenate(
        [
            rng.integers(64, 2048, n_short),
            rng.integers(2048, 16384, n_mid),
            rng.integers(16384, 65536, n_long),
        ]
    )
    return np.concatenate([BOUNDARY, rng.permutation(lens)]).astype(np.int32)


def sequences_table(seed: int, n_docs: int) -> pa.Table:
    lens = doc_lengths(seed, n_docs)
    rng = np.random.default_rng([seed, 2])
    flat = rng.integers(0, VOCAB, int(lens.sum()), dtype=np.int32)
    offsets = np.concatenate([[0], np.cumsum(lens, dtype=np.int64)]).astype(np.int32)
    src = rng.choice(len(SOURCES), size=n_docs, p=_SRC_P)
    return pa.table(
        {
            "doc_id": pa.array([f"doc-{i:08d}" for i in range(n_docs)], pa.string()),
            "tokens": pa.ListArray.from_arrays(pa.array(offsets), pa.array(flat)),
            "n_tok": pa.array(lens, pa.int32()),
            "source": pa.array([SOURCES[s] for s in src], pa.string()),
        }
    )


def documents_table(seed: int, n_docs: int) -> pa.Table:
    """Short word-salad docs (10-100 words) over 20 equal sources.

    Every tenth doc repeats a span of an earlier doc, so substring dedup and
    decontamination find real overlaps."""
    rng = np.random.default_rng([seed, 3])
    # word counts spread evenly over 10..100, in seeded order
    n_words = rng.permutation(np.linspace(10, 100, n_docs).round().astype(int))
    texts: list[str] = []
    for i, k in enumerate(n_words):
        words = [WORDS[j] for j in rng.integers(0, len(WORDS), k)]
        if i % 10 == 9:
            donor = texts[int(rng.integers(0, i))].split()
            a = int(rng.integers(0, max(1, len(donor) - 8)))
            cut = int(rng.integers(0, k))
            words[cut:cut] = donor[a : a + 12]
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([LANGS[j] for j in rng.integers(0, len(LANGS), n_docs)]),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def embeddings_table(seed: int, n_vecs: int, dim: int = 64) -> pa.Table:
    rng = np.random.default_rng([seed, 4])
    centers = rng.normal(0.0, 1.0, (10, dim))
    label = rng.integers(0, 10, n_vecs)
    vec = (centers[label] + rng.normal(0.0, 1.5, (n_vecs, dim))).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True) * 4
    flat = pa.array(vec.ravel(), pa.float32())
    offsets = pa.array(np.arange(0, (n_vecs + 1) * dim, dim, dtype=np.int32))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(label.astype(np.int32)),
        }
    )


def events_table(seed: int, n_events: int, n_users: int, days: int) -> pa.Table:
    rng = np.random.default_rng([seed, 5])
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = days * 86_400_000_000
    ts = np.sort(t0 + rng.integers(0, span, n_events))
    value = np.round(rng.exponential(50.0, n_events), 2)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
            "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_events).astype(np.int64)),
            "event_type": pa.array([EVENT_TYPES[j] for j in rng.integers(0, 5, n_events)]),
            "value": pa.array(value, pa.float64()),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
        }
    )


def fingerprint(table: pa.Table) -> dict:
    """Rows, token total (when the table has ``n_tok``) and a content hash."""
    h = hashlib.sha256()
    for col in table.column_names:
        h.update(col.encode())
        for chunk in table.column(col).chunks:
            for buf in chunk.buffers():
                if buf is not None:
                    h.update(memoryview(buf))
    out = {"rows": table.num_rows, "sha256": h.hexdigest()[:16]}
    if "n_tok" in table.column_names:
        out["tokens"] = int(np.asarray(table.column("n_tok")).sum())
    return out


def write(table: pa.Table, path: str, n_files: int = 1) -> int:
    """Write ``table`` as ``n_files`` parquet parts under directory ``path``
    (several parts give the scan one task per part); returns bytes on disk."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)
    size = 0
    for k in range(n_files):
        f = os.path.join(path, f"part-{k:05d}.parquet")
        pq.write_table(table.slice(k * step, step), f)
        size += os.path.getsize(f)
    return size
