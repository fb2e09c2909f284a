"""Deterministic synthetic embedding corpora for recall measurement.

The testdata embeddings are near-orthogonal random vectors — the
worst case for LSH and NOT the regime near-dup detection exists for.
This generator produces CLUSTERED corpora with a controlled
intra-cluster cosine, so the recall/cost tradeoff of the bucketed
retrieval family (ann_topk, embedding_near_dup_pairs) can be
measured where it matters: on data with actual neighbor structure
(BENCH/RECALL.md sweep; floors gated in tests/test_recall.py).

Tightness math: each member is ``c + s * g`` with ``c`` a unit-norm
cluster center and ``g`` iid standard normal. The expected cosine
between two members of the same cluster is ``1 / (1 + s^2 * dim)``,
so ``s = sqrt((1/t - 1) / dim)`` yields intra-cluster cosine ``~t``
(empirically within ±0.01 at dim 64).

Deterministic by construction (seeded RandomState, no ambient
randomness) — the bench sweep and the pytest gates see the identical
corpus.
"""

from __future__ import annotations

import numpy as np


#: the corpus shape: clusters, members per cluster, dimensions
N_CLUSTERS, PER_CLUSTER, DIM = 20, 25, 64


def clustered_embedding_matrix(tightness: float = 0.85) -> np.ndarray:
    """(N_CLUSTERS * PER_CLUSTER, DIM) float64 matrix (seed 11); rows
    are grouped by cluster (row i belongs to cluster i // PER_CLUSTER)."""
    rng = np.random.RandomState(11)
    centers = rng.randn(N_CLUSTERS, DIM)
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    s = float(np.sqrt((1.0 / tightness - 1.0) / DIM))
    blocks = [c + s * rng.randn(PER_CLUSTER, DIM) for c in centers]
    return np.vstack(blocks)
