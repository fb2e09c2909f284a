"""Mention detection: the batched-inference stage as one mapInPandas.

The reference's raw-text entry point (predict_sents,
/root/reference/train_ner.py:657-719) chains tokenize (T1/T2/T4) ->
segment (D3) -> batch (M1) -> score (M2..M8) -> decode (L5/L6) ->
merge segments (D5) -> flatten (L10). Here the WHOLE chain runs
inside a single Arrow-batched ``mapInPandas``:

* documents are independent, so segments of a document never leave
  the Python worker that tokenized it — the reference's segment-merge
  shuffle (groupBy(url)) disappears entirely: segments carry their
  token offset (``doc_offset``) and mentions are emitted in document
  coordinates directly;
* the scorer is a PER-WORKER SINGLETON (built once per executor
  process from a broadcast factory), mirroring per-partition model
  load for transformer inference at scale;
* no per-row Python<->JVM crossings: one Arrow batch in, one long-form
  mention frame out (input_hint mandate).

Output is the long-form mentions table — one row per mention — which
downstream joins/aggregations prefer over the reference's
map-of-lists (SURVEY.md §1.6).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    FloatType, IntegerType, StringType, StructField, StructType,
)

from qizner_spark.core.labels import Mention, dedupe_mentions, flatten_by_prob
from qizner_spark.core.segment import segment
from qizner_spark.core.spans import decode_sigmoid

MENTIONS_SCHEMA = StructType(
    [
        StructField("doc_key", StringType()),
        StructField("lang", StringType()),
        StructField("ent_type", StringType()),
        StructField("start", IntegerType()),
        StructField("end", IntegerType()),
        StructField("mention", StringType()),
        StructField("prob", FloatType()),
    ]
)

def _get_scorer(factory: Callable[[], object]) -> object:
    """Per-worker scorer singleton (reference: model loaded once, not
    per batch — the mapInPandas analog of per-partition model load).

    The scorer is memoized ON the deserialized factory object: the
    closure shipped to a python worker is deserialized once per stage
    and reused across that stage's tasks, so the scorer is built once
    per worker per stage — and never aliased across different
    factories (an id()-keyed dict could collide after GC recycles
    addresses, silently reusing the WRONG model)."""
    scorer = getattr(factory, "_qizner_scorer", None)
    if scorer is None:
        scorer = factory()
        try:
            factory._qizner_scorer = scorer
        except AttributeError:
            pass  # unsettable callables rebuild per batch (still correct)
    return scorer


def _tokenize(text: str, lang: str) -> tuple[list[str], str]:
    """Language routing: ZH -> per-char tokens, deli '' (T1); other ->
    whitespace words, deli ' ' (T2 pre-split). Raw mixed text goes
    through zheng_process upstream when offset maps are needed."""
    if lang == "zh":
        return list(text), ""
    return text.split(" "), " "


def detect_mentions(
    docs: DataFrame,
    scorer_factory: Callable[[], object],
    key_col: str = "url",
    text_col: str = "text",
    lang_col: str | None = "lang",
    tokens_col: str | None = None,
    gold_col: str | None = None,
    max_seg_len: int = 512,
    prefix_context_len: int = 0,
    threshold: float = 0.5,
    flat: bool = True,
    passthrough_cols: list[str] | None = None,
) -> DataFrame:
    """docs -> long-form mentions DataFrame.

    The scorer (built once per worker from ``scorer_factory``) either
    exposes ``score_mentions(tokens[, gold]) -> [(type, s, e, prob)]``
    (sparse path: gazetteer / gold replay / pruned fast-predict) or
    ``score_matrix(tokens) -> [n(n+1)/2, E]`` + ``ent_types`` (dense
    path, decoded with the reference default sigmoid>=0.5 — L6).

    ``flat=True`` applies the probability-greedy flatten (L10) the
    reference uses for flat corpora (train_ner.py:841,863,945).

    ``max_seg_len`` / ``prefix_context_len`` mirror QizNER's segment
    split config: segments of at most that many tokens, each later
    piece prefixed by that much overlap context (datautils.py:1371-1422,
    via :func:`~qizner_spark.core.segment.segment`).

    ``passthrough_cols`` are carried from the input row onto every
    emitted mention (provenance: warc_ts, domain, ...). Carrying them
    through the Arrow pass costs a few copied values per row and
    REMOVES a downstream shuffle join back to the pages table — at
    10^12 docs that join is a full re-shuffle of the mention table.
    """
    passthrough_cols = list(passthrough_cols or [])
    clash = {f.name for f in MENTIONS_SCHEMA.fields} & set(passthrough_cols)
    if clash:
        # appending these to MENTIONS_SCHEMA would create duplicate
        # field names and the dict-keyed assembly below would silently
        # overwrite the detection output column
        raise ValueError(
            f"passthrough_cols collide with detection output fields: {sorted(clash)}; "
            "rename the input column(s) before detect_mentions"
        )
    cols = [key_col, text_col]
    if lang_col:
        cols.append(lang_col)
    if tokens_col:
        cols.append(tokens_col)
    if gold_col:
        cols.append(gold_col)
    cols += [c for c in passthrough_cols if c not in cols]
    narrow = docs.select(*cols)
    in_types = {f.name: f.dataType for f in narrow.schema.fields}
    out_schema = StructType(
        MENTIONS_SCHEMA.fields
        + [StructField(c, in_types[c]) for c in passthrough_cols]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        scorer = _get_scorer(scorer_factory)
        dense = hasattr(scorer, "score_matrix")
        for pdf in batches:
            out: dict[str, list] = {f.name: [] for f in out_schema.fields}
            for row in pdf.itertuples(index=False):
                rowd = row._asdict()
                text = rowd[text_col]
                lang = rowd.get(lang_col, "en") if lang_col else "en"
                if tokens_col and rowd.get(tokens_col) is not None:
                    tokens = list(rowd[tokens_col])
                    deli = "" if lang == "zh" else " "
                else:
                    tokens, deli = _tokenize(text, lang)
                gold: list[Mention] = []
                if gold_col and rowd.get(gold_col) is not None:
                    gold = [
                        (e["ent_type"], int(e["start"]), int(e["end"]))
                        for e in rowd[gold_col]
                    ]

                doc_mentions: list[Mention] = []
                for seg in segment(tokens, gold, max_size=max_seg_len,
                                   prefix_context_len=prefix_context_len):
                    if dense:
                        mat = scorer.score_matrix(seg.tokens)
                        id2ent = dict(enumerate(scorer.ent_types))
                        found = decode_sigmoid(mat, len(seg.tokens), id2ent, threshold)
                    else:
                        found = scorer.score_mentions(seg.tokens, seg.mentions)
                    off = seg.doc_offset
                    doc_mentions.extend(
                        (t, s + off, e + off, p) for t, s, e, p in found
                    )
                # overlap regions / repeated context can duplicate spans
                doc_mentions = dedupe_mentions(doc_mentions)
                if flat:
                    doc_mentions = flatten_by_prob(len(tokens), doc_mentions)

                key = str(rowd[key_col])
                for t, s, e, p in doc_mentions:
                    out["doc_key"].append(key)
                    out["lang"].append(lang)
                    out["ent_type"].append(t)
                    out["start"].append(int(s))
                    out["end"].append(int(e))
                    out["mention"].append(deli.join(tokens[s:e]))
                    out["prob"].append(float(p))
                    for c in passthrough_cols:
                        out[c].append(rowd[c])
            frame = pd.DataFrame({k: v for k, v in out.items()
                                  if k not in passthrough_cols})
            for c in passthrough_cols:
                # keep the INPUT dtype: an all-empty batch otherwise
                # infers float64 and Arrow refuses double->timestamp
                frame[c] = pd.Series(out[c], dtype=pdf[c].dtype)
            yield frame

    return narrow.mapInPandas(run, schema=out_schema)


RAW_MENTIONS_SCHEMA = StructType(
    [
        StructField("doc_key", StringType()),
        StructField("ent_type", StringType()),
        StructField("raw_start", IntegerType()),
        StructField("raw_end", IntegerType()),
        StructField("mention", StringType()),    # token-space surface
        StructField("raw_slice", StringType()),  # raw_text[raw_start:raw_end]
        StructField("prob", FloatType()),
    ]
)


def detect_mentions_raw(
    docs: DataFrame,
    scorer_factory: Callable[[], object],
    key_col: str = "doc_id",
) -> DataFrame:
    """Raw-text detection through the ZHENG offset machinery (T4/D8):
    zheng_process builds tokens + raw<->token offset maps from the
    VERBATIM raw string (byte-identity invariant, reference
    datautils.py:3084-3175), the scorer runs in token space, and
    mentions_to_raw (datautils.py:3177-3185) restores raw character
    offsets. Reference convention: dropped whitespace back-fills the
    raw2char map from the RIGHT (datautils.py:3144-3147), so a
    non-initial token's first raw offset is the separator BEFORE it —
    ``raw_slice`` carries that leading whitespace; ``raw_end`` is the
    token text's own end.
    """
    from qizner_spark.core.tokenize import mentions_to_raw, zheng_process

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        scorer = _get_scorer(scorer_factory)
        for pdf in batches:
            out: dict[str, list] = {f.name: [] for f in RAW_MENTIONS_SCHEMA.fields}
            for key, text in zip(pdf[key_col], pdf["text"]):
                z = zheng_process(text)
                found = scorer.score_mentions(z.tokens, z.mentions)
                raw = mentions_to_raw(found, z.char2raw)
                for (t, s, e, p), (_, rs, re_, _) in zip(found, raw):
                    out["doc_key"].append(str(key))
                    out["ent_type"].append(t)
                    out["raw_start"].append(int(rs))
                    out["raw_end"].append(int(re_))
                    out["mention"].append(" ".join(z.tokens[s:e]))
                    out["raw_slice"].append(z.raw_text[rs:re_])
                    out["prob"].append(float(p))
            yield pd.DataFrame(out)

    return docs.select(key_col, "text").mapInPandas(run, schema=RAW_MENTIONS_SCHEMA)
