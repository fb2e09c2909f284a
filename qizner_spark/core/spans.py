"""Span-target geometry: upper-triangle enumeration and score decode.

For a length-``n`` token sequence the span model scores every
contiguous span, enumerated ROW-MAJOR over the upper triangle with a
CLOSED end inside the enumeration: (0,0),(0,1),...,(0,n-1),(1,1),...,
(n-1,n-1) — ``n(n+1)/2`` spans total; ``+1`` is applied when emitting
mentions (end exclusive). This order is load-bearing: a scorer's
score rows and the decode must agree element-wise.

Reference parity:
  * enumeration + targets -> /root/reference/datautils.py:2125-2145
  * argmax decode         -> /root/reference/datautils.py:2155-2178
  * top-k decode          -> /root/reference/datautils.py:2180-2204
  * strict-threshold      -> /root/reference/datautils.py:2206-2231
  * sigmoid decode        -> /root/reference/datautils.py:2233-2262
                             (the production default; threshold 0.5,
                             train_ner.py:792 span_loss_type='sigmoid')
"""

from __future__ import annotations

from collections.abc import Mapping

import numpy as np

from qizner_spark.core.labels import Mention


def num_spans(n_tokens: int) -> int:
    return n_tokens * (n_tokens + 1) // 2


def span_indices(n_tokens: int) -> tuple[np.ndarray, np.ndarray]:
    """Row-major upper-triangle (start, end_closed) index arrays.

    ``np.triu_indices`` emits exactly the reference's row-major order
    (datautils.py:2140-2142, 2167).
    """
    starts, ends_closed = np.triu_indices(n_tokens)
    return starts, ends_closed


def _as_matrix(scores, n_tokens: int) -> np.ndarray:
    mat = np.asarray(scores)
    assert mat.shape[0] == num_spans(n_tokens), (mat.shape, n_tokens)
    return mat


def decode_argmax(
    scores, n_tokens: int, id2ent: Mapping[int, str], negative_set: frozenset | set | None = None
) -> list[Mention]:
    """Softmax decode: argmax class per span, drop spans whose argmax
    is in ``negative_set`` (default {0, 1} = PAD/O, matching the
    reference default). Parity: datautils.py:2155-2178."""
    if negative_set is None:
        negative_set = {0, 1}
    mat = _as_matrix(scores, n_tokens)
    ids = np.argmax(mat, axis=-1)
    probs = np.max(mat, axis=-1)
    starts, ends_closed = span_indices(n_tokens)
    keep = ~np.isin(ids, list(negative_set))
    return [
        (id2ent[int(c)], int(s), int(e) + 1, float(p))
        for c, s, e, p in zip(ids[keep], starts[keep], ends_closed[keep], probs[keep])
    ]


def decode_sigmoid(
    scores, n_tokens: int, id2ent: Mapping[int, str], threshold: float = 0.5
) -> list[Mention]:
    """Sigmoid decode (PRODUCTION DEFAULT): keep every (span, type)
    cell with prob >= threshold — multi-label per span. Output order
    follows np.where row-major over [span, ent], i.e. span-then-ent.
    Parity: datautils.py:2233-2262 (>= at 2253)."""
    mat = _as_matrix(scores, n_tokens)
    starts, ends_closed = span_indices(n_tokens)
    span_idx, ent_idx = np.where(mat >= threshold)
    return [
        (id2ent[int(c)], int(starts[i]), int(ends_closed[i]) + 1, float(mat[i, c]))
        for i, c in zip(span_idx, ent_idx)
    ]


def decode_topk(
    scores,
    n_tokens: int,
    id2ent: Mapping[int, str],
    negative_set: frozenset | set | None = None,
    top_k: int = 3,
    min_prob: float = 0.1,
) -> list[Mention]:
    """Per-span top-k decode: keep non-negative classes among the k
    best per span, with prob > min_prob and span length > 1.
    Parity: datautils.py:2180-2204."""
    if negative_set is None:
        negative_set = {0, 1}
    mat = _as_matrix(scores, n_tokens)
    starts, ends_closed = span_indices(n_tokens)
    top_ids = np.argsort(-mat, axis=-1)[:, :top_k]
    top_probs = np.take_along_axis(mat, top_ids, axis=-1)
    out: list[Mention] = []
    for i in range(mat.shape[0]):
        s, e = int(starts[i]), int(ends_closed[i])
        if e + 1 - s <= 1:
            continue
        for c, p in zip(top_ids[i].tolist(), top_probs[i].tolist()):
            if c not in negative_set and p > min_prob:
                out.append((id2ent[int(c)], s, e + 1, float(p)))
    return out


def decode_threshold(
    scores,
    n_tokens: int,
    id2ent: Mapping[int, str],
    negative_set: frozenset | set | None = None,
    threshold: float = 0.5,
) -> list[Mention]:
    """Strict-threshold decode over the full matrix: keep cells with
    score STRICTLY greater than threshold (note: > vs sigmoid's >=).
    Parity: datautils.py:2206-2231 (2221)."""
    if negative_set is None:
        negative_set = {0, 1}
    mat = _as_matrix(scores, n_tokens)
    starts, ends_closed = span_indices(n_tokens)
    span_idx, ent_idx = np.where(mat > threshold)
    out: list[Mention] = []
    for i, c in zip(span_idx, ent_idx):
        if int(c) not in negative_set:
            out.append((id2ent[int(c)], int(starts[i]), int(ends_closed[i]) + 1, float(mat[i, c])))
    return out
