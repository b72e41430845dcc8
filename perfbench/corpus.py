"""Seeded synthetic ``documents`` table for the funnel workload.

Same columns as the repository's ``documents`` fixture (``doc_id, text,
lang, source, n_chars``; whitespace-joined lowercase words, 20-60 per doc).
The vocabulary has 2,000 words, so word 3-gram shingles rarely collide by
chance and the MinHash candidate set stays linear in the corpus (a
fixture-sized 31-word vocabulary makes every band bucket corpus-wide). On
top of that, the properties each funnel stage reacts to:

- every 17th doc is a near-duplicate of an earlier doc with two words
  changed (the MinHash cut removes most of them);
- every 29th doc is padding over a 2-9 letter alphabet, with character
  entropy on both sides of the entropy gate's cut;
- ``en`` holds ~40% of the docs and four other languages share the rest
  (the classifier's label and the temperature sampler's strata).

Built with numpy and pyarrow only, so generating the corpus starts no
Spark job.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB_SIZE = 2000
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
NEAR_DUP_EVERY = 17
LOW_ENTROPY_EVERY = 29


def _vocab() -> list[str]:
    """Fixed across seeds: the seed varies the documents, not the language."""
    rng = np.random.default_rng(20_000)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    return [
        "".join(letters[rng.integers(0, 26, size=int(rng.integers(2, 9)))])
        for _ in range(VOCAB_SIZE)
    ]


def make_documents(n_docs: int, seed: int) -> pa.Table:
    vocab = _vocab()
    rng = np.random.default_rng(seed)
    lengths = rng.integers(20, 61, size=n_docs)
    word_ids = rng.integers(0, VOCAB_SIZE, size=int(lengths.sum()))
    starts = np.concatenate(([0], np.cumsum(lengths)[:-1]))
    texts = [
        " ".join(vocab[w] for w in word_ids[s : s + n])
        for s, n in zip(starts, lengths)
    ]
    for i in range(NEAR_DUP_EVERY, n_docs, NEAR_DUP_EVERY):
        words = texts[int(rng.integers(0, i))].split()
        for pos in rng.integers(0, len(words), size=2):
            words[int(pos)] = vocab[int(rng.integers(0, VOCAB_SIZE))]
        texts[i] = " ".join(words)
    for i in range(LOW_ENTROPY_EVERY // 2, n_docs, LOW_ENTROPY_EVERY):
        # words over a 2-9 letter alphabet: about 1.3-3.3 bits/char, on both
        # sides of the gate's 3-bit cut, yet with distinct shingles, so the
        # padding docs are not near-duplicates of each other
        alphabet = "abcdefghi"[: int(rng.integers(2, 10))]
        n_words = int(rng.integers(20, 61))
        texts[i] = " ".join(
            "".join(alphabet[c] for c in rng.integers(0, len(alphabet), size=int(rng.integers(3, 9))))
            for _ in range(n_words)
        )
    langs = np.asarray(LANGS)[rng.choice(len(LANGS), size=n_docs, p=LANG_P)]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(langs.tolist()),
            "source": pa.array([f"src{i % 5}" for i in range(n_docs)]),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )


def write_documents(sf_dir: str, n_docs: int, seed: int) -> str:
    """Write ``<sf_dir>/documents.parquet`` (the layout ``load_table``
    reads) and return its path."""
    import os

    os.makedirs(sf_dir, exist_ok=True)
    path = os.path.join(sf_dir, "documents.parquet")
    pq.write_table(make_documents(n_docs, seed), path)
    return path
