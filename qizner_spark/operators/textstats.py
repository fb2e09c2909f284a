"""Text analysis for training-data pipelines — ALL native expressions
(whole-stage codegen; zero Python in the row path):

  * language ID (non-ASCII-ratio n-gram-free heuristic)
  * quality scoring (length / punctuation / stopword / digit ratios)
  * token counting (whitespace + BPE-ish subword estimate)
  * document fingerprinting (normalized md5)

Each helper returns a Column so they compose into any projection.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

STOPWORDS = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it"]


def token_count_col(text_col: str = "text") -> Column:
    # size(split(text, ' ')) == #spaces + 1, counted with translate —
    # a single O(n) char scan instead of a regex split + array
    # materialization (same integer for every input, incl. "" -> 1
    # and repeated spaces, which split keeps as empty tokens)
    return (
        F.length(F.col(text_col))
        - F.length(F.translate(F.col(text_col), " ", ""))
        + F.lit(1)
    )


def subword_count_col(text_col: str = "text") -> Column:
    """BPE-ish token estimate: each word contributes ceil(len(word)/4)
    pieces (mirrors the wordpiece stub)."""
    return F.expr(
        f"aggregate(transform(split({text_col}, ' '), w -> int(ceil(length(w) / 4.0D))),"
        f" 0, (acc, x) -> acc + x)"
    )


def non_ascii_ratio_col(text_col: str = "text") -> Column:
    ascii_only = F.length(F.regexp_replace(F.col(text_col), r"[^\x00-\x7F]", ""))
    return (F.length(F.col(text_col)) - ascii_only) / F.greatest(
        F.length(F.col(text_col)), F.lit(1)
    )


def lang_id_col(text_col: str = "text") -> Column:
    """'zh' when the non-ASCII character ratio exceeds 0.3, else
    'en' — the deterministic sandbox heuristic (production swaps a
    fastText-style model into the same column slot)."""
    return F.when(non_ascii_ratio_col(text_col) > 0.3, F.lit("zh")).otherwise(F.lit("en"))


def punct_ratio_col(text_col: str = "text") -> Column:
    # count of punctuation chars == length - length(translate(punct
    # removed)): same integer as the old keep-only regexp_replace,
    # without the per-char java.util.regex machinery
    kept = F.length(F.col(text_col)) - F.length(
        F.translate(F.col(text_col), ".,;:!?'\"()[]{}-", "")
    )
    return kept / F.greatest(F.length(F.col(text_col)), F.lit(1))


def digit_ratio_col(text_col: str = "text") -> Column:
    kept = F.length(F.col(text_col)) - F.length(
        F.translate(F.col(text_col), "0123456789", "")
    )
    return kept / F.greatest(F.length(F.col(text_col)), F.lit(1))


def stopword_ratio_col(text_col: str = "text") -> Column:
    arr = ", ".join(f"'{w}'" for w in STOPWORDS)
    return F.expr(
        f"size(filter(split(lower({text_col}), ' '), w -> array_contains(array({arr}), w)))"
    ) / F.greatest(token_count_col(text_col), F.lit(1))


def mean_word_len_col(text_col: str = "text") -> Column:
    # sum of word lengths over a single-space split == total non-space
    # chars (empty tokens from repeated spaces contribute 0), so the
    # lambda-aggregate over the split array reduces to one translate
    return F.length(F.translate(F.col(text_col), " ", "")) / F.greatest(
        token_count_col(text_col), F.lit(1)
    )


def quality_score_col(text_col: str = "text") -> Column:
    """[0, 1] heuristic: long-enough docs with some stopwords, low
    punctuation/digit noise, and sane word lengths score high —
    standard webtext quality-filter shape (C4/Gopher-style rules)."""
    len_component = F.least(token_count_col(text_col) / F.lit(50.0), F.lit(1.0))
    stop_component = F.least(stopword_ratio_col(text_col) * 5.0, F.lit(1.0))
    punct_penalty = F.least(punct_ratio_col(text_col) * 5.0, F.lit(1.0))
    digit_penalty = F.least(digit_ratio_col(text_col) * 5.0, F.lit(1.0))
    wl = mean_word_len_col(text_col)
    wl_component = F.when((wl >= 3.0) & (wl <= 10.0), F.lit(1.0)).otherwise(F.lit(0.5))
    return F.round(
        0.35 * len_component + 0.25 * stop_component + 0.2 * wl_component
        + 0.1 * (1.0 - punct_penalty) + 0.1 * (1.0 - digit_penalty),
        6,
    )


def fingerprint_col(text_col: str = "text") -> Column:
    """Stable document fingerprint: md5 of lower-cased,
    whitespace-collapsed text (the exact-dedup key)."""
    return F.md5(F.lower(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " ")))


def tfidf_top_terms(docs: DataFrame, k: int = 3) -> DataFrame:
    """Top-``k`` TF-IDF terms per (doc_id, text) document — the classic corpus-level
    keyword extractor a training-data pipeline runs for topic
    filtering / diversity sampling (no reference analog; SURVEY §2.10
    beyond-reference family).

    Fully declarative and scale-shaped: one explode -> per-doc term
    counts (map-side combined) -> document-frequency aggregate on the
    term key -> unhinted tf⋈df join (the vocabulary of an open corpus
    is Zipfian-unbounded: AQE broadcasts the df side exactly when it
    is genuinely small) -> per-doc top-k window. The corpus size
    joins in as a broadcast 1-row aggregate, keeping the plan fully
    lazy (no driver-side count action). IDF = ln((1+N)/(1+df))
    (smoothed); output carries the integer (tf, df) evidence columns,
    so the hashable surface is engine-exact while the float only
    drives the ranking."""
    from pyspark.sql import Window

    # Establish the doc partitioning BEFORE the explode: one exchange
    # of the narrow doc rows (id + text) then satisfies the tf
    # aggregation (doc_id ⊆ its keys), the df re-attach join's probe
    # side, AND the final per-doc top-k window — the exploded token
    # table (tokens x docs rows) itself never shuffles (guide §2.4;
    # previously the plan exchanged the token-level table twice: once
    # keyed (doc, term) for tf, once keyed doc for the window).
    toks = docs.select(F.col("doc_id"), F.col("text")) \
        .repartition(F.col("doc_id")) \
        .select(F.col("doc_id"), F.explode(F.split(F.col("text"), " ")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.groupBy().agg(F.count(F.lit(1)).alias("_n"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.col("tf") * F.log((F.lit(1) + F.col("_n"))
                                / (F.lit(1) + F.col("df"))),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf"), F.asc("term")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("doc_id", "rnk", "term", "tf", "df")
    )
