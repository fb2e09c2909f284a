"""Pluggable span scorers + candidate-span pruning.

The learned BERT scorer (reference modules.py Bert_Span) is NOT
portable to this sandbox (no torch); the scorer is therefore an
interface with three deterministic implementations:

  * :class:`GoldReplayScorer`   — tests: 1.0 at gold (span, type)
    cells; the full pipeline must then reproduce gold exactly
    (P = R = F1 = 1 under E1). FIXTURES.md F6.
  * :class:`GazetteerScorer`    — production-shaped determinism: spans
    whose surface form is in a broadcast alias dictionary score a
    stable pseudo-probability >= 0.5. This is the flagship scorer for
    benchmarks (dictionary NER over webtext).
  * :class:`HashBiaffineScorer` — exercises the real model compute
    shape without torch: hashed token embeddings -> start/end heads ->
    scaled dot-product span interaction (reference 'self_attn'
    default, modules.py:627-631; head size 50 hard-coded at
    modules.py:370-380) -> sigmoid -> full [n(n+1)/2, E] matrix.

Candidate-span pruning mirrors the reference ``fast_predict`` path:
threshold adjacent-token link scores and keep only spans whose entire
interior passes — a predicate-pushdown-style optimization.

Reference parity:
  * span interaction (scaled dot product)  -> modules.py:627-631, 741-745
  * upper-triangle extraction              -> modules.py:688-698
  * link score (shifted elementwise product)/sqrt(h)
                                           -> modules.py:532-549
  * fast_predict span pruning              -> modules.py:810-896, 1782-1855
"""

from __future__ import annotations

import zlib
from collections.abc import Mapping, Sequence

import numpy as np

from qizner_spark.core.labels import Mention
from qizner_spark.core.spans import span_indices

HEAD_SIZE = 50  # reference hard-codes hidden 50 (modules.py:370-380)


def stable_hash(s: str, seed: int = 0) -> int:
    """Deterministic 32-bit string hash (crc32 — stable across
    processes/runs, unlike Python's salted ``hash``)."""
    return zlib.crc32(s.encode("utf-8"), seed) & 0xFFFFFFFF


def pseudo_prob(s: str, lo: float = 0.5, hi: float = 1.0, seed: int = 7) -> float:
    """Stable pseudo-probability in [lo, hi) derived from a surface
    string — gives the pipeline non-degenerate, reproducible scores."""
    return lo + (hi - lo) * (stable_hash(s, seed) % 100_000) / 100_000.0


class GoldReplayScorer:
    """scores(tokens, gold) -> mentions with prob 1.0 (identity)."""

    def score_mentions(self, tokens: Sequence[str], gold: Sequence[Mention]) -> list[Mention]:
        return [(t, s, e, 1.0) for t, s, e, *_ in gold]


class GazetteerScorer:
    """Dictionary span scorer: any contiguous token span whose joined
    surface matches an alias-dictionary entry scores a stable pseudo
    probability in [0.5, 1). Spans are scanned only up to the longest
    dictionary entry (O(n * k) instead of O(n^2)) — the same
    candidate-restriction idea as the reference fast path (M17).
    """

    def __init__(self, alias: Mapping[str, str], token_deli: str = " "):
        self.alias = dict(alias)
        self.token_deli = token_deli
        self.max_len = max((len(m.split(token_deli)) if token_deli else len(m) for m in alias), default=1)
        if token_deli == "":
            self.max_len = max((len(m) for m in alias), default=1)
        # surface -> (type, prob) precomputed once per scorer: the
        # dictionary is bounded, so the crc32 pseudo-prob never needs
        # recomputing per candidate span (it was ~25% of the scan)
        self._hits = {m: (t, pseudo_prob(m)) for m, t in self.alias.items()}

    def score_mentions(self, tokens: Sequence[str], gold: Sequence[Mention] = ()) -> list[Mention]:
        hits = self._hits
        if self.max_len == 1:
            # single-token dictionary: plain enumerate, no slicing/join
            return [
                (tp[0], s, s + 1, tp[1])
                for s, tok in enumerate(tokens)
                if (tp := hits.get(tok)) is not None
            ]
        out: list[Mention] = []
        n = len(tokens)
        for s in range(n):
            for e in range(s + 1, min(s + self.max_len, n) + 1):
                surface = self.token_deli.join(tokens[s:e])
                tp = hits.get(surface)
                if tp is not None:
                    out.append((tp[0], s, e, tp[1]))
        return out


def _mix_uniform(keys: np.ndarray, ctr: np.ndarray) -> np.ndarray:
    """SplitMix64-style avalanche over a (key, counter) grid -> top 53
    bits -> uniform [0, 1) float64. 0-d array constants + explicit
    ufuncs: numpy 1.26's scalar-typed `arr >> np.uint64(k)` operator
    path is ~200x slower than the array-typed ufunc loop (measured
    4.8 s vs 0.03 s on 12.8M elems)."""
    c1 = np.asarray(0x9E3779B97F4A7C15, dtype=np.uint64)
    c2 = np.asarray(0xBF58476D1CE4E5B9, dtype=np.uint64)
    c3 = np.asarray(0x94D049BB133111EB, dtype=np.uint64)
    z = np.multiply(keys, c1) + np.multiply(ctr, c2)
    z ^= np.right_shift(z, np.asarray(30, dtype=np.uint64))
    z = np.multiply(z, c2)
    z ^= np.right_shift(z, np.asarray(27, dtype=np.uint64))
    z = np.multiply(z, c3)
    z ^= np.right_shift(z, np.asarray(31, dtype=np.uint64))
    u = np.right_shift(z, np.asarray(11, dtype=np.uint64)).astype(np.float64)
    u *= 1.0 / (1 << 53)
    return u


def _hash_embed_batch(tokens: Sequence[str], dim: int) -> np.ndarray:
    """[len(tokens), dim] float32 STANDARD-NORMAL embeddings in one
    numpy pass: counter-hash uniforms -> Box-Muller. Normality matters
    (not just determinism): span logits are dot products of projected
    embeddings, and the decode-threshold tuning of the scaling bench
    assumes Gaussian-tailed scores (a bounded uniform embedding makes
    long blanket spans dominate the flatten and collapses the triple
    density). Deterministic across processes; no RandomState objects
    on the hot path."""
    keys = np.fromiter(
        (stable_hash(t) for t in tokens), dtype=np.uint64, count=len(tokens)
    )[:, None]
    ctr = np.arange(1, dim + 1, dtype=np.uint64)[None, :]
    u1 = _mix_uniform(keys, ctr)
    u2 = _mix_uniform(keys, ctr + np.asarray(dim, dtype=np.uint64))
    z = np.sqrt(-2.0 * np.log1p(-u1)) * np.cos(2.0 * np.pi * u2)
    return z.astype(np.float32)


class HashBiaffineScorer:
    """Deterministic dense scorer with the reference compute shape.

    Token embeddings are seeded from stable hashes; start/end heads
    are fixed random projections (one per entity type); span score =
    sigmoid(start_h . end_h / sqrt(h)) — the reference 'self_attn'
    interaction (modules.py:627-631). Produces the FULL upper-triangle
    score matrix (M8, row-major) so the decode path and bench exercise
    the true O(n^2 * E) data volume.
    """

    def __init__(self, ent_types: Sequence[str], dim: int = 64, seed: int = 42,
                 interact_type: str = "self_attn"):
        rng = np.random.RandomState(seed)
        self.ent_types = list(ent_types)
        self.dim = dim
        n_ent = len(self.ent_types)
        self.w_start = rng.randn(n_ent, dim, HEAD_SIZE).astype(np.float32) * 0.1
        self.w_end = rng.randn(n_ent, dim, HEAD_SIZE).astype(np.float32) * 0.1
        self.interaction = Interaction(interact_type, n_ent, HEAD_SIZE, rng)
        self._memo: dict[str, np.ndarray] = {}

    _MEMO_CAP = 100_000  # ~25 MB at dim 64 — bounded per worker

    def embed(self, tokens: Sequence[str]) -> np.ndarray:
        """Token embeddings from a VECTORIZED counter hash (SplitMix64
        mix over a [token, dim] grid -> uniform -> unit-variance
        symmetric floats). The old per-token ``RandomState``
        construction dominated the dense path's wall clock; this runs
        one numpy pass over the miss set and memoizes per instance
        (token frequency is Zipf, so the cache absorbs the bulk)."""
        n = len(tokens)
        out = np.empty((n, self.dim), dtype=np.float32)
        miss_tok: list[str] = []
        miss_idx: list[int] = []
        memo = self._memo
        for i, tok in enumerate(tokens):
            v = memo.get(tok)
            if v is not None:
                out[i] = v
            else:
                miss_tok.append(tok)
                miss_idx.append(i)
        if miss_tok:
            vecs = _hash_embed_batch(miss_tok, self.dim)
            cache = len(memo) < self._MEMO_CAP
            for j, (tok, i) in enumerate(zip(miss_tok, miss_idx)):
                out[i] = vecs[j]
                if cache:
                    memo[tok] = vecs[j]
        return out

    def heads(self, tokens: Sequence[str],
              x: np.ndarray | None = None) -> tuple[np.ndarray, np.ndarray]:
        """per-entity start/end head vectors: ([e,n,h], [e,n,h]).
        Pass a precomputed ``x`` to avoid re-running embed (the
        per-token RandomState construction dominates)."""
        if x is None:
            x = self.embed(tokens)  # [n, d]
        hs = np.einsum("nd,edh->enh", x, self.w_start)
        he = np.einsum("nd,edh->enh", x, self.w_end)
        return hs, he

    def score_matrix(self, tokens: Sequence[str]) -> np.ndarray:
        """[n(n+1)/2, n_ent] sigmoid scores in row-major span order."""
        hs, he = self.heads(tokens)
        logits = self.interaction.matrix(hs, he)  # [e, n, n]
        starts, ends = span_indices(len(tokens))
        tri = logits[:, starts, ends].T  # [n_spans, e] upper triangle, row-major
        return 1.0 / (1.0 + np.exp(-tri))


class Interaction:
    """Span start/end interaction — the reference's user-selectable
    ``interact_type`` knob (train_ner.py:787):

    * ``self_attn`` (M5, default): scaled dot product
      (modules.py:627-631);
    * ``biaffine`` (M6): bilinear with bias-augmented hiddens,
      start^T W end per entity (modules.py:59-108; the reference
      zero-inits W — here seeded uniform so the stand-in is
      non-degenerate);
    * ``add_attn`` (M7): tanh(start + end) . v (modules.py:111-139);
    * ``simple_concat`` (M7): [start; end] . v, computed DECOMPOSED as
      start.v1 + end.v2 — no [e,n,n,h] tensor ever materializes
      (modules.py:142-168);
    * ``complex_concat`` (M7): [s; e; s-e; s*e] . v, decomposed to
      s.(v1+v3) + e.(v2-v3) + weighted-dot(s, e*v4)
      (modules.py:170-211).

    ``matrix`` scores all n^2 pairs ([e,n,h] -> [e,n,n]); ``pairs``
    scores gathered (start, end) lists ([e,s,h] -> [s,e]) — the
    fast-predict path. Both views agree elementwise (pytest parity).
    """

    TYPES = ("self_attn", "biaffine", "add_attn", "simple_concat", "complex_concat")

    def __init__(self, interact_type: str, n_ent: int, head_size: int,
                 rng: np.random.RandomState):
        if interact_type not in self.TYPES:
            raise ValueError(f"interact_type must be one of {self.TYPES}, got {interact_type!r}")
        self.kind = interact_type
        h = head_size
        self.h = h
        if interact_type == "biaffine":
            self.w = (rng.uniform(-0.1, 0.1, size=(n_ent, h + 1, h + 1))).astype(np.float32)
        elif interact_type == "add_attn":
            self.v = rng.uniform(-0.1, 0.1, size=h).astype(np.float32)
        elif interact_type == "simple_concat":
            self.v = rng.uniform(-0.1, 0.1, size=2 * h).astype(np.float32)
        elif interact_type == "complex_concat":
            self.v = rng.uniform(-0.1, 0.1, size=4 * h).astype(np.float32)

    @staticmethod
    def _bias(t: np.ndarray) -> np.ndarray:
        return np.concatenate([t, np.ones_like(t[..., :1])], axis=-1)

    def matrix(self, hs: np.ndarray, he: np.ndarray) -> np.ndarray:
        """[e,n,h] x [e,m,h] -> logits [e,n,m] (n=start, m=end)."""
        if self.kind == "self_attn":
            return np.einsum("enh,emh->enm", hs, he) / np.sqrt(self.h)
        if self.kind == "biaffine":
            return np.einsum("eni,eij,emj->enm", self._bias(hs), self.w, self._bias(he))
        if self.kind == "add_attn":
            return np.tanh(hs[:, :, None, :] + he[:, None, :, :]) @ self.v
        if self.kind == "simple_concat":
            a = hs @ self.v[: self.h]   # [e,n]
            b = he @ self.v[self.h :]   # [e,m]
            return a[:, :, None] + b[:, None, :]
        # complex_concat: s.(v1+v3) + e.(v2-v3) + (s*e).v4
        h = self.h
        v1, v2, v3, v4 = self.v[:h], self.v[h : 2 * h], self.v[2 * h : 3 * h], self.v[3 * h :]
        a = hs @ (v1 + v3)
        b = he @ (v2 - v3)
        cross = np.einsum("enh,emh->enm", hs * v4, he)
        return a[:, :, None] + b[:, None, :] + cross

    def pairs(self, hs_s: np.ndarray, he_e: np.ndarray) -> np.ndarray:
        """Gathered spans: [e,s,h] x [e,s,h] -> logits [s,e]."""
        if self.kind == "self_attn":
            return np.einsum("esh,esh->se", hs_s, he_e) / np.sqrt(self.h)
        if self.kind == "biaffine":
            return np.einsum("esi,eij,esj->se", self._bias(hs_s), self.w, self._bias(he_e))
        if self.kind == "add_attn":
            return (np.tanh(hs_s + he_e) @ self.v).T
        if self.kind == "simple_concat":
            return (hs_s @ self.v[: self.h] + he_e @ self.v[self.h :]).T
        h = self.h
        v1, v2, v3, v4 = self.v[:h], self.v[h : 2 * h], self.v[2 * h : 3 * h], self.v[3 * h :]
        return (hs_s @ (v1 + v3) + he_e @ (v2 - v3)
                + np.einsum("esh,esh->es", hs_s * v4, he_e)).T


class PrunedBiaffineScorer:
    """The reference ``fast_predict`` path (O1/M17) on top of
    :class:`HashBiaffineScorer`: compute adjacency link scores from
    the token embeddings, keep only spans whose ENTIRE interior
    passes ``link_threshold``, and run the expensive interaction only
    on survivors — the model-side predicate pushdown. With
    ``link_threshold = -inf`` it is exactly the dense path.
    Parity: modules.py:810-896 (survivor gather), 225-286
    (fast_decode), train_ner.py:634-643 (assembly)."""

    def __init__(self, ent_types, dim: int = 64, seed: int = 42,
                 link_threshold: float = 0.0, decode_threshold: float = 0.5,
                 interact_type: str = "self_attn"):
        self.dense = HashBiaffineScorer(ent_types, dim=dim, seed=seed,
                                        interact_type=interact_type)
        self.ent_types = list(ent_types)
        self.link_threshold = link_threshold
        self.decode_threshold = decode_threshold

    def score_mentions(self, tokens, gold=()):
        n = len(tokens)
        if n == 0:
            return []
        x = self.dense.embed(tokens)
        links = link_scores(x)
        starts, ends, mask = prune_spans(n, links, self.link_threshold)
        if starts.size == 0:
            return []
        # score ONLY survivor spans: gather start/end head vectors
        # (reuse the embedding computed for link scores — embed is
        # the dominant cost and must not run twice per segment)
        hs, he = self.dense.heads(tokens, x=x)
        logits = self.dense.interaction.pairs(hs[:, starts, :], he[:, ends, :])
        probs = 1.0 / (1.0 + np.exp(-logits))
        span_idx, ent_idx = np.where(probs >= self.decode_threshold)
        return [
            (self.ent_types[int(c)], int(starts[i]), int(ends[i]) + 1, float(probs[i, c]))
            for i, c in zip(span_idx, ent_idx)
        ]


class GazetteerSeqScorer:
    """Sequence-labeling (BIO + CRF/Viterbi) twin of the gazetteer
    scorer: emissions favor ``B-<type>`` at dictionary tokens and 'O'
    elsewhere; decoding runs the numpy Viterbi (M16) with hard BIO
    transition constraints and attaches the mean emission-softmax
    prob (I2). Exercises the reference's seq arch end to end
    (modules.py:1122-1146 forward, train_ner.py:463-475 assembly).
    Single-token dictionary entries only (BIO seq path)."""

    def __init__(self, alias: dict, strength: float = 5.0):
        from qizner_spark.core.viterbi import bio_start_transitions, bio_transition_matrix

        self.alias = {k: v for k, v in alias.items() if " " not in k}
        types = sorted(set(self.alias.values()))
        self.tags = ["O"] + [f"{p}-{t}" for t in types for p in ("B", "I")]
        self.tag2id = {t: i for i, t in enumerate(self.tags)}
        self.id2tag = dict(enumerate(self.tags))
        self.trans = bio_transition_matrix(self.tags)
        self.start = bio_start_transitions(self.tags)
        self.strength = strength

    def score_mentions(self, tokens, gold=()):
        from qizner_spark.core.viterbi import assemble_seq_predictions, viterbi_decode

        n = len(tokens)
        if n == 0:
            return []
        em = np.zeros((n, len(self.tags)), dtype=np.float64)
        for i, tok in enumerate(tokens):
            t = self.alias.get(tok)
            if t is not None:
                em[i, self.tag2id[f"B-{t}"]] = self.strength
            else:
                em[i, self.tag2id["O"]] = self.strength
        path = viterbi_decode(em, self.trans, self.start)
        return assemble_seq_predictions(em, path, self.id2tag)


# ---------------------------------------------------------------------------
# Link scores + candidate-span pruning (M9 / M17)
# ---------------------------------------------------------------------------

def link_scores(embeddings: np.ndarray) -> np.ndarray:
    """Adjacent-token link logits: elementwise product of shifted
    embeddings summed over the hidden dim, scaled by 1/sqrt(h) — the
    reference ``fast_impl`` (modules.py:538-547). Returns [n-1]."""
    x = np.asarray(embeddings)
    if x.shape[0] < 2:
        return np.zeros(0, dtype=x.dtype)
    return (x[:-1] * x[1:]).sum(axis=-1) / np.sqrt(x.shape[-1])


def prune_spans(
    n_tokens: int, links: np.ndarray, link_threshold: float = 0.0
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Keep only spans whose ENTIRE interior link run passes the
    threshold (length-1 spans always survive) — vectorized with a
    prefix sum over failed links instead of the reference's cumprod
    trick (modules.py:1782-1855). Returns (starts, ends_closed,
    survivor_mask over the row-major enumeration)."""
    starts, ends = span_indices(n_tokens)
    bad = np.concatenate([[0], np.cumsum(np.asarray(links) < link_threshold)])
    # interior links of span (s, e_closed) are positions s .. e_closed-1
    n_bad = bad[ends] - bad[starts]
    mask = n_bad == 0
    return starts[mask], ends[mask], mask
