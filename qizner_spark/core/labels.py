"""Label-space transforms: BIO <-> spans, flattening, dedupe, type maps.

Mentions are long-form tuples ``(ent_type, start, end)`` (end
EXCLUSIVE, token indices) optionally extended with a probability:
``(ent_type, start, end, prob)``. This long/relational form is the
engine's native mention representation (one DataFrame row per
mention); the reference's ``ent_dct`` map-of-lists is supported via
:func:`mentions_to_ent_dct` / :func:`ent_dct_to_mentions`.

Reference parity (semantics, not code):
  * BIO encode with 'prev' overlap strategy  -> /root/reference/datautils.py:1705-1731
  * BIO/IO decode                            -> /root/reference/datautils.py:1915-1978
  * prob-greedy flatten                      -> /root/reference/datautils.py:1733-1759
  * prob+length-greedy flatten               -> /root/reference/datautils.py:1778-1806
  * mention dedupe                           -> /root/reference/datautils.py:1818-1829
  * type convert/merge                       -> /root/reference/datautils.py:1863-1913
  * adjacency link labels                    -> /root/reference/datautils.py:2147-2153
"""

from __future__ import annotations

from collections import defaultdict
from collections.abc import Iterable, Mapping, Sequence

Mention = tuple  # (ent_type, start, end[, prob, ...])


# ---------------------------------------------------------------------------
# ent_dct <-> long form
# ---------------------------------------------------------------------------

def ent_dct_to_mentions(ent_dct: Mapping[str, Iterable[Sequence]]) -> list[Mention]:
    """Reference ``ent_dct`` ({type: [[start, end, *extra], ...]}) -> long form.
    Parity: datautils.py:1831-1844 (the ent_dct pivots)."""
    out: list[Mention] = []
    for ent_type, positions in ent_dct.items():
        for pos in positions:
            out.append((ent_type, *pos))
    return out


def mentions_to_ent_dct(mentions: Iterable[Mention]) -> dict[str, list[list]]:
    """Long form -> reference ``ent_dct`` shape (insertion-ordered).
    Parity: datautils.py:1831-1844 (the ent_dct pivots)."""
    dct: dict[str, list[list]] = defaultdict(list)
    for ent_type, *rest in mentions:
        dct[ent_type].append(list(rest))
    return dict(dct)


def mentions_to_span_dct(mentions: Iterable[Mention]) -> dict[tuple[int, int], str]:
    """(start, end) -> ent_type inverted index.

    Later mentions overwrite earlier ones on span collision, matching
    the reference dict-build order (datautils.py:1831-1837).
    """
    return {(m[1], m[2]): m[0] for m in mentions}


# ---------------------------------------------------------------------------
# BIO encode (L1) / decode (L2)
# ---------------------------------------------------------------------------

def bio_encode(n_tokens: int, mentions: Iterable[Mention]) -> list[str]:
    """Mentions -> BIO tags with the reference 'prev' overlap strategy.

    Order candidates by end DESC then start ASC (both stable), then
    greedily keep a mention only if its start is >= the previous kept
    mention's (exclusive) end. Equal starts therefore prefer the
    longest mention. Invalid spans leave tags untouched.
    Parity: datautils.py:1705-1731 (+ assign at 1695-1702).
    """
    tags = ["O"] * n_tokens
    cands = [(m[0], m[1], m[2]) for m in mentions]
    cands.sort(key=lambda m: m[2], reverse=True)
    cands.sort(key=lambda m: m[1])
    prev_end = 0
    for ent_type, start, end in cands:
        if start >= prev_end:
            if start < end and start >= 0 and end <= n_tokens:
                tags[start:end] = [f"B-{ent_type}"] + [f"I-{ent_type}"] * (end - start - 1)
            prev_end = end
    return tags


def _greedy_assign(n_tokens: int, ordered: Iterable[Mention]) -> list[str]:
    """Assign mentions onto an all-'O' tag array, first-come wins,
    only when every covered position is still 'O'
    (datautils.py:1754-1757)."""
    tags = ["O"] * n_tokens
    for ent_type, start, end, *_ in ordered:
        if all(t == "O" for t in tags[start:end]):
            if start < end and start >= 0 and end <= n_tokens:
                tags[start:end] = [f"B-{ent_type}"] + [f"I-{ent_type}"] * (end - start - 1)
    return tags


def bio_decode(tags: Sequence[str], schema: str = "IOB") -> list[Mention]:
    """BIO ('IOB') or IO tags -> mentions, end exclusive.

    IOB: 'B-X' opens (flushing any open entity); 'I-X' extends only if
    the type matches the open entity, else it is DROPPED (including
    I-after-O); any other tag flushes. IO: contiguous equal non-'O'
    runs. Open entity flushed at end of sequence.
    Parity: datautils.py:1915-1978.
    """
    out: list[Mention] = []
    cur_type: str | None = None
    cur_start = -1
    last = -1

    def flush() -> None:
        nonlocal cur_type
        if cur_type is not None:
            out.append((cur_type, cur_start, last + 1))
            cur_type = None

    if schema == "IOB":
        for i, tag in enumerate(tags):
            if tag.startswith("B"):
                flush()
                cur_type, cur_start, last = tag[2:], i, i
            elif tag.startswith("I"):
                if cur_type is not None and tag[2:] == cur_type:
                    last = i
            else:
                flush()
        flush()
    elif schema == "IO":
        for i, tag in enumerate(tags):
            if tag != "O":
                if cur_type is None:
                    cur_type, cur_start, last = tag, i, i
                elif tag != cur_type:
                    flush()
                    cur_type, cur_start, last = tag, i, i
                else:
                    last = i
            else:
                flush()
        flush()
    else:
        raise NotImplementedError(f"unknown tag schema {schema!r}")
    return out


# ---------------------------------------------------------------------------
# Nested -> flat greedy flattening (L9/L10/L11/L12)
# ---------------------------------------------------------------------------

def flatten_by_prob(n_tokens: int, mentions: Iterable[Mention]) -> list[Mention]:
    """Nested mentions -> flat, highest probability first (stable:
    equal-prob mentions keep input order). A mention missing its prob
    scores as its LENGTH. Probabilities are re-attached to the
    surviving flat mentions. Parity: datautils.py:1733-1775.
    """
    scored = []
    for m in mentions:
        ent_type, start, end = m[0], m[1], m[2]
        prob = m[3] if len(m) > 3 else float(end - start)
        scored.append((ent_type, start, end, prob))
    ordered = sorted(scored, key=lambda m: m[3], reverse=True)
    tags = _greedy_assign(n_tokens, ordered)
    prob_of = {(m[0], m[1], m[2]): m[3] for m in scored}
    return [(t, s, e, prob_of[(t, s, e)]) for t, s, e in bio_decode(tags)]


def flatten_by_prob_then_length(
    n_tokens: int, mentions: Iterable[Mention], set_prob: float | None = None
) -> list[Mention]:
    """Static flatten variant: prob DESC, tie -> LONGER mention first
    (explicit length sort — differs from :func:`flatten_by_prob`'s
    insertion-order tie-break). Parity: datautils.py:1778-1806
    (length sort at 1792, prob sort at 1793).
    """
    scored = []
    for m in mentions:
        ent_type, start, end = m[0], m[1], m[2]
        prob = set_prob if set_prob is not None else m[3]
        scored.append((ent_type, start, end, prob))
    ordered = sorted(scored, key=lambda m: m[2] - m[1], reverse=True)
    ordered = sorted(ordered, key=lambda m: m[3], reverse=True)
    tags = _greedy_assign(n_tokens, ordered)
    prob_of = {(m[0], m[1], m[2]): m[3] for m in scored}
    return [(t, s, e, prob_of[(t, s, e)]) for t, s, e in bio_decode(tags)]


def flatten_gold(n_tokens: int, mentions: Iterable[Mention]) -> list[Mention]:
    """Flatten gold mentions via BIO round-trip (encode L1 then decode
    L2) — the reference's ``flat_ent_dct``. Parity: datautils.py:1808-1816."""
    return bio_decode(bio_encode(n_tokens, mentions))


# ---------------------------------------------------------------------------
# Dedupe / type maps / filters (L13-L17)
# ---------------------------------------------------------------------------

def dedupe_mentions(mentions: Iterable[Mention]) -> list[Mention]:
    """Drop duplicate (ent_type, start, end), keeping the FIRST
    occurrence (order preserved). Parity: datautils.py:1818-1829."""
    seen: set[tuple] = set()
    out = []
    for m in mentions:
        key = (m[0], m[1], m[2])
        if key not in seen:
            seen.add(key)
            out.append(m)
    return out


def convert_types(
    mentions: Iterable[Mention], mapping: Mapping[str, str], keep_unmapped: bool = True
) -> list[Mention]:
    """Rename/merge entity types then dedupe per (type, start, end) —
    merged types can collide. Parity: datautils.py:1863-1913
    (ent_type_convert / aggre_ent_type)."""
    out = []
    for m in mentions:
        if m[0] in mapping:
            out.append((mapping[m[0]], *m[1:]))
        elif keep_unmapped:
            out.append(m)
    return dedupe_mentions(out)


def filter_by_types(mentions: Iterable[Mention], types: Iterable[str], keep: bool = True) -> list[Mention]:
    """Keep (or drop) mentions whose type is in ``types``.
    Parity: datautils.py:1439-1462."""
    type_set = set(types)
    return [m for m in mentions if (m[0] in type_set) == keep]


def filter_by_prefix(mentions: Iterable[Mention], prefix: str) -> list[Mention]:
    """Keep mentions whose type starts with ``prefix``.
    Parity: datautils.py:1452-1462."""
    return [m for m in mentions if m[0].startswith(prefix)]


def add_mentions(base: Iterable[Mention], extra: Iterable[Mention]) -> list[Mention]:
    """Union with (type, start, end) dedupe, base-first.
    Parity: datautils.py:1475-1489."""
    return dedupe_mentions(list(base) + list(extra))
