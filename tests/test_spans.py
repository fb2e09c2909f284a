"""Span enumeration + decode tests (enumeration order is load-bearing)."""

import numpy as np

from qizner_spark.core.labels import mentions_to_span_dct
from qizner_spark.core.spans import (
    decode_argmax,
    decode_sigmoid,
    decode_threshold,
    decode_topk,
    num_spans,
    span_indices,
)

ID2ENT = {0: "O", 1: "PAD", 2: "PER", 3: "LOC"}
ENT2ID = {v: k for k, v in ID2ENT.items()}


def span_target_matrix(n_tokens, span_dct, ent2id, n_labels):
    """One-hot [n(n+1)/2, n_labels] float matrix for gold-replay
    scoring (FIXTURES.md F6): 1.0 at gold (span, type) cells;
    ``span_dct`` keys are EXCLUSIVE-end pairs."""
    mat = np.zeros((num_spans(n_tokens), n_labels), dtype=np.float32)
    starts, ends_closed = span_indices(n_tokens)
    flat = {(s, e - 1): ent2id[t] for (s, e), t in span_dct.items()}
    for idx, (i, j) in enumerate(zip(starts.tolist(), ends_closed.tolist())):
        lab = flat.get((i, j))
        if lab is not None:
            mat[idx, lab] = 1.0
    return mat


def test_enumeration_order_matches_reference():
    # datautils.py:2130: (0,0)-(0,1)-(0,2)-(0,3)-(0,4)-(1,1)-...-(4,4)
    starts, ends = span_indices(5)
    expected = [(i, j) for i in range(5) for j in range(i, 5)]
    assert list(zip(starts.tolist(), ends.tolist())) == expected
    assert num_spans(5) == 15


def test_gold_replay_roundtrip():
    """Gold one-hot scores -> sigmoid decode must reproduce gold
    exactly (FIXTURES.md F6)."""
    mentions = [("PER", 0, 2, 1.0), ("LOC", 3, 4, 1.0)]
    span_dct = mentions_to_span_dct(mentions)
    mat = span_target_matrix(5, span_dct, ENT2ID, len(ID2ENT))
    decoded = decode_sigmoid(mat, 5, ID2ENT)
    assert sorted(decoded) == sorted(mentions)


def test_sigmoid_threshold_inclusive():
    mat = np.zeros((num_spans(3), 4), dtype=np.float32)
    mat[0, 2] = 0.5   # exactly at threshold -> kept (>=)
    mat[1, 3] = 0.4999  # below -> dropped
    out = decode_sigmoid(mat, 3, ID2ENT)
    assert out == [("PER", 0, 1, 0.5)]


def test_sigmoid_multilabel_span():
    mat = np.zeros((num_spans(3), 4), dtype=np.float32)
    mat[2, 2] = 0.9
    mat[2, 3] = 0.6  # same span, two labels -> both kept
    out = decode_sigmoid(mat, 3, ID2ENT)
    assert sorted(out) == [("LOC", 0, 3, 0.6000000238418579), ("PER", 0, 3, 0.8999999761581421)]


def test_argmax_negative_set():
    mat = np.zeros((num_spans(3), 4), dtype=np.float32)
    mat[0, 0] = 0.9  # argmax 'O' -> dropped
    mat[1, 2] = 0.8
    mat[1, 0] = 0.1
    out = decode_argmax(mat, 3, ID2ENT)
    assert out == [("PER", 0, 2, 0.800000011920929)]


def test_threshold_strict():
    mat = np.zeros((num_spans(3), 4), dtype=np.float32)
    mat[0, 2] = 0.5  # NOT > 0.5 -> dropped (strict)
    mat[1, 2] = 0.6
    out = decode_threshold(mat, 3, ID2ENT)
    assert out == [("PER", 0, 2, 0.6000000238418579)]


def test_topk_len_and_prob_filters():
    mat = np.zeros((num_spans(3), 4), dtype=np.float32)
    mat[0, 2] = 0.99  # span (0,0): length 1 -> excluded
    mat[1, 2] = 0.5   # span (0,1): kept
    mat[1, 3] = 0.05  # below min_prob 0.1 -> dropped
    out = decode_topk(mat, 3, ID2ENT)
    assert out == [("PER", 0, 2, 0.5)]


def test_targets_and_decode_agree_elementwise():
    """Encode->decode consistency across the same enumeration."""
    rng = np.random.RandomState(7)
    n = 9
    mat = rng.rand(num_spans(n), 4).astype(np.float32) * 0.49  # all below thr
    gold = [("PER", 1, 4, 1.0), ("LOC", 4, 9, 1.0), ("PER", 0, 1, 1.0)]
    for t, s, e, p in gold:
        # flat index of span (s, e-1) in row-major upper triangle
        starts, ends = span_indices(n)
        idx = int(np.where((starts == s) & (ends == e - 1))[0][0])
        mat[idx, ENT2ID[t]] = p
    out = decode_sigmoid(mat, n, ID2ENT)
    assert sorted(out) == sorted(gold)
