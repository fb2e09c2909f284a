"""Seeded, documents-shaped inputs for the KG-build workloads.

Every table has the ``documents`` schema (doc_id, text, lang, source,
n_chars) that ``sources.pages.pages_from_documents`` wraps into pages,
so the program receives only these files. A batch is fully determined
by ``(seed, batch index)``; doc ids are disjoint across batches, so
every timed call sees urls no earlier call has seen.

* closed vocabulary: the sf0.1 documents distribution (30 words plus
  the ``dup`` marker, 10-100 tokens, en ~41% and zh/es/fr/de ~15%
  each, 5% marker docs);
* open vocabulary: filler words around entity tokens drawn
  log-uniformly (Zipf-like, P(rank <= r) = ln r / ln N) from an
  N-surface dictionary that :func:`open_vocab_scorer` scores.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = [
    "the", "fast", "key", "order", "sort", "table", "scan", "merge", "part",
    "window", "small", "hash", "join", "batch", "stream", "spark", "group",
    "query", "row", "data", "slow", "filter", "customer", "line", "value",
    "agg", "column", "big", "a", "vector",
]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]

#: open-vocabulary dictionary size and entity types
OPEN_SURFACES = 50_000
OPEN_TYPES = ["OP", "STRUCT", "EXEC", "ACTOR"]
#: filler words of open-vocabulary pages: none is a dictionary surface
OPEN_FILLER = ["the", "a", "fast", "small", "slow", "big"]

#: doc ids of batch b start at b * ID_STRIDE
ID_STRIDE = 1_000_000


def batch_rng(seed: int, batch: int) -> np.random.RandomState:
    return np.random.RandomState(np.uint32((seed * 1_000_003 + batch * 7_919) % 2**32))


def _table(ids: np.ndarray, texts: list[str], langs: np.ndarray,
           rng: np.random.RandomState) -> pa.Table:
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array([f"src{i % 20}" for i in rng.permutation(len(ids))], pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def closed_docs(seed: int, batch: int, n: int) -> pa.Table:
    rng = batch_rng(seed, batch)
    vocab = np.array(WORDS)
    lens = rng.randint(10, 101, size=n)
    texts = []
    for k in range(n):
        words = vocab[rng.randint(0, len(vocab), size=lens[k])]
        if rng.rand() < 0.05:
            words = np.concatenate([words, ["dup"]])
            rng.shuffle(words)
        texts.append(" ".join(words))
    # exact-duplicate texts at the sf0.1 rate (8 pairs per 5000 docs)
    for _ in range(max(1, round(n * 8 / 5000))):
        a, b = rng.randint(0, n, size=2)
        texts[b] = texts[a]
    langs = np.array(LANGS)[rng.choice(len(LANGS), size=n, p=LANG_P)]
    return _table(batch * ID_STRIDE + np.arange(n), texts, langs, rng)


def open_surface(rank: int) -> str:
    """Dictionary surface of 0-based ``rank``: 'ent' + base-26 letters."""
    s = ""
    r = rank
    while True:
        s = chr(97 + r % 26) + s
        r //= 26
        if r == 0:
            break
    return "ent" + s


def open_dictionary(n: int = OPEN_SURFACES) -> dict[str, str]:
    return {open_surface(i): OPEN_TYPES[i % len(OPEN_TYPES)] for i in range(n)}


def open_vocab_scorer():
    """Scorer factory for open-vocabulary pages; pickled by reference,
    so each Python worker builds the dictionary itself."""
    from qizner_spark.core.scoring import GazetteerScorer

    return GazetteerScorer(open_dictionary(), token_deli=" ")


def open_docs(seed: int, batch: int, n: int, min_len: int = 30, max_len: int = 50,
              entity_share: float = 0.5, n_surfaces: int = OPEN_SURFACES) -> pa.Table:
    rng = batch_rng(seed, batch)
    surfaces = np.array([open_surface(i) for i in range(n_surfaces)])
    filler = np.array(OPEN_FILLER)
    lens = rng.randint(min_len, max_len + 1, size=n)
    texts = []
    for k in range(n):
        m = lens[k]
        is_ent = rng.rand(m) < entity_share
        ranks = np.floor(np.exp(rng.rand(m) * np.log(n_surfaces))).astype(np.int64) - 1
        words = np.where(is_ent, surfaces[np.clip(ranks, 0, n_surfaces - 1)],
                         filler[rng.randint(0, len(filler), size=m)])
        texts.append(" ".join(words))
    langs = np.array(["en", "es", "fr", "de"])[rng.randint(0, 4, size=n)]
    return _table(batch * ID_STRIDE + np.arange(n), texts, langs, rng)


def write_docs(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return path
