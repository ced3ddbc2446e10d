"""Seeded input corpora for the benchmark workloads.

Each workload reads one ``documents.parquet`` in the contract's documents
schema (doc_id, text, lang, source, n_chars) written here from the workload
seed; kbspark sees only that file. Words are lowercase ``[a-z]`` strings
of 4-9 letters, so every word is a candidate entity title and the
DuckDB oracles (which invert kbspark's deterministic markup generator)
apply unchanged.

Two shapes:

- ``zipf``: tokens drawn Zipf(a) from a finite vocabulary — a head word
  carrying ~20% of all tokens, the head-entity skew of a real corpus.
- ``near_dup``: tokens drawn uniformly from the vocabulary, then a share
  of documents replaced by edited copies of earlier documents (each copy
  re-draws a share of its words) — the planted near-duplicates.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

_LETTERS = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype="S1")


def _vocabulary(rng: np.random.Generator, size: int) -> np.ndarray:
    """``size`` distinct lowercase words of 4-9 letters, in draw order."""
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < size:
        lengths = rng.integers(4, 10, size=size)
        letters = rng.integers(0, 26, size=int(lengths.sum()))
        ends = np.cumsum(lengths)
        blob = _LETTERS[letters].tobytes().decode()
        for end, n in zip(ends, lengths):
            w = blob[end - n:end]
            if w not in seen:
                seen.add(w)
                words.append(w)
                if len(words) == size:
                    break
    return np.array(words, dtype=object)


def make_corpus(path: str, seed: int, n_docs: int, words_per_doc: int,
                vocab_size: int, zipf_a: float | None = None,
                dup_share: float = 0.0, edit_share: float = 0.0) -> dict:
    """Write ``documents.parquet`` under ``path``; return its properties.

    The same arguments always give the same file."""
    rng = np.random.default_rng(seed)
    vocab = _vocabulary(rng, vocab_size)
    shape = (n_docs, words_per_doc)
    if zipf_a is None:
        idx = rng.integers(0, vocab_size, size=shape)
    else:
        p = np.arange(1, vocab_size + 1, dtype=float) ** -zipf_a
        idx = rng.choice(vocab_size, size=shape, p=p / p.sum())
    n_dup = int(round(n_docs * dup_share))
    if n_dup:
        # copies take the LAST n_dup doc ids; each copies an earlier doc
        src = rng.integers(0, n_docs - n_dup, size=n_dup)
        for j, s in enumerate(src):
            row = idx[s].copy()
            edit = rng.random(words_per_doc) < edit_share
            row[edit] = rng.integers(0, vocab_size, size=int(edit.sum()))
            idx[n_docs - n_dup + j] = row
    texts = [" ".join(vocab[r]) for r in idx]
    langs = np.array(["en", "de", "fr"], dtype=object)
    df = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": langs[rng.integers(0, 3, size=n_docs)],
        "source": [f"src{i % 7}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False),
                   os.path.join(path, "documents.parquet"))

    counts = np.bincount(idx.ravel(), minlength=vocab_size)
    return {
        "docs": n_docs,
        "words_per_doc": words_per_doc,
        "vocab_size": vocab_size,
        "vocabulary": "uniform" if zipf_a is None else f"zipf(a={zipf_a})",
        # every word has >= 4 letters, so each distinct word is a title
        "distinct_titles": int((counts > 0).sum()),
        "head_word_share": round(float(counts.max() / idx.size), 4),
        "near_dup_share": round(n_dup / n_docs, 4),
        "near_dup_edit_share": edit_share if n_dup else 0.0,
    }
