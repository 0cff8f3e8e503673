"""Seeded benchmark inputs. The same seed always writes the same files; the
engine only ever sees these files.

- sequences: `tokenlake.schema.generate_sequences` (the nine token-content
  profiles, one boosted to ~70% of rows), optionally with a doc_id prefix so
  batches appended to one table never share ids;
- documents: a `documents.parquet` shaped like the TPC-style documents
  table (doc_id, text, lang, source, n_chars), whose text is drawn from a
  small Zipf-weighted vocabulary. `sequences_from_documents` tokenizes it,
  so the real-text path of the engine's input runs without external data.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

VOCAB = (
    "a batch big column data fast filter group hash key line merge order "
    "part query row scan slow small sort spark stream table value window "
    "agg join index plan page chunk codec token dict range delta run bloom "
    "lake file block shard split"
).split()
LANGS = ("en", "zh", "fr", "es", "de")


def write_sequences(path: str, scale: float, seed: int, prefix: str = "") -> pa.Table:
    """Write (and return) the seeded sequences, doc_ids under `prefix`."""
    from tokenlake.schema import generate_sequences

    t = generate_sequences(scale=scale, seed=seed)
    if prefix:
        ids = pc.binary_join_element_wise(pa.scalar(prefix), t.column("doc_id"), "")
        t = t.set_column(0, "doc_id", ids)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    # small row groups keep the file splittable across scan tasks
    pq.write_table(t, path, row_group_size=8192)
    return t


def write_documents(sf_dir: str, n_docs: int, seed: int) -> None:
    rng = np.random.default_rng(np.random.SeedSequence([seed, 0xD0C5]))
    weights = 1.0 / np.arange(1, len(VOCAB) + 1)
    weights /= weights.sum()
    n_words = rng.integers(8, 96, size=n_docs)
    words = rng.choice(len(VOCAB), size=int(n_words.sum()), p=weights)
    vocab = np.array(VOCAB, dtype=object)
    bounds = np.concatenate([[0], np.cumsum(n_words)])
    text = [" ".join(vocab[words[bounds[i]:bounds[i + 1]]]) for i in range(n_docs)]
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(
        pa.table({
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(text, pa.string()),
            "lang": pa.array(np.array(LANGS, dtype=object)[rng.integers(0, len(LANGS), n_docs)]),
            "source": pa.array([f"src{i % 10}" for i in range(n_docs)]),
            "n_chars": pa.array([len(s) for s in text], pa.int64()),
        }),
        f"{sf_dir}/documents.parquet",
    )


def token_count(t: pa.Table) -> int:
    return int(pc.sum(t.column("n_tok")).as_py() or 0)
