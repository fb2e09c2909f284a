"""CRF Viterbi decode (numpy) + seq-arch prediction assembly.

The sequence-labeling architecture decodes BIO tag ids with Viterbi
over emission + transition scores, then extracts entities and attaches
the MEAN per-token emission-softmax probability of the decoded tags
over the span, rounded to 4 decimals.

Reference parity:
  * Viterbi max-product recursion + backtrace
        -> /root/reference/modules.py:1504-1579
  * decode assembly (mean emission softmax prob, round 4)
        -> /root/reference/train_ner.py:463-475
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

import numpy as np

from qizner_spark.core.labels import Mention, bio_decode


def viterbi_decode(
    emissions: np.ndarray,
    transitions: np.ndarray,
    start_transitions: np.ndarray | None = None,
    end_transitions: np.ndarray | None = None,
) -> list[int]:
    """Best tag-id path for one sequence.

    emissions: [L, T] float; transitions[i, j] = score of i -> j.
    Parity: modules.py:1504-1579 (single-sequence, mask all-ones).
    """
    em = np.asarray(emissions, dtype=np.float64)
    length, n_tags = em.shape
    trans = np.asarray(transitions, dtype=np.float64)
    start = np.zeros(n_tags) if start_transitions is None else np.asarray(start_transitions)
    end = np.zeros(n_tags) if end_transitions is None else np.asarray(end_transitions)

    score = start + em[0]
    history = np.empty((max(length - 1, 0), n_tags), dtype=np.int64)
    for i in range(1, length):
        # next_score[prev, cur] = score[prev] + trans[prev, cur] + em[i, cur]
        next_score = score[:, None] + trans + em[i][None, :]
        history[i - 1] = np.argmax(next_score, axis=0)
        score = np.max(next_score, axis=0)
    score = score + end

    best_last = int(np.argmax(score))
    path = [best_last]
    for i in range(length - 2, -1, -1):
        path.append(int(history[i][path[-1]]))
    path.reverse()
    return path


def _softmax(x: np.ndarray, axis: int = -1) -> np.ndarray:
    x = x - np.max(x, axis=axis, keepdims=True)
    e = np.exp(x)
    return e / np.sum(e, axis=axis, keepdims=True)


def assemble_seq_predictions(
    emissions: np.ndarray, tag_ids: Sequence[int], id2tag: Mapping[int, str]
) -> list[Mention]:
    """Viterbi ids -> BIO tags -> entities with mean emission-softmax
    prob of the decoded tag over the span tokens, rounded to 4.
    Parity: train_ner.py:463-475."""
    probs = _softmax(np.asarray(emissions, dtype=np.float64), axis=-1)
    token_prob = probs[np.arange(len(tag_ids)), list(tag_ids)]
    tags = [id2tag[t] for t in tag_ids]
    out: list[Mention] = []
    for ent_type, start, end in bio_decode(tags):
        mean_prob = round(float(np.mean(token_prob[start:end])), 4)
        out.append((ent_type, start, end, mean_prob))
    return out


def bio_transition_matrix(tags: Sequence[str], forbid: float = -1e4) -> np.ndarray:
    """A hard BIO-consistency transition matrix: I-X reachable only
    from B-X/I-X; everything else 0. Used by the deterministic
    sandbox scorer (the learned CRF supplies this in production)."""
    n = len(tags)
    trans = np.zeros((n, n), dtype=np.float64)
    for j, tj in enumerate(tags):
        if tj.startswith("I-"):
            typ = tj[2:]
            for i, ti in enumerate(tags):
                if ti not in (f"B-{typ}", f"I-{typ}"):
                    trans[i, j] = forbid
    return trans


def bio_start_transitions(tags: Sequence[str], forbid: float = -1e4) -> np.ndarray:
    """Start scores forbidding I-* as the first tag (the reference
    CRF learns start_transitions; this is the hard-constraint
    equivalent for the deterministic sandbox scorer)."""
    return np.array([forbid if t.startswith("I-") else 0.0 for t in tags], dtype=np.float64)
