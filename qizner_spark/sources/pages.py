"""Common-Crawl-style pages table: generation + text extraction.

The pipeline input is the ``input_hint`` table
``(url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang
STRING)`` (BASELINE.json; Iceberg in production, parquet here). Two
deterministic generators:

  * :func:`pages_from_documents` — wraps the driver's ``documents``
    parquet (doc_id, text, lang, source, n_chars) into pages; url
    carries the source as a domain so hot-domain skew is realistic.
  * :func:`synthetic_pages` — arbitrary-scale seeded generator built
    ENTIRELY from native column expressions over ``spark.range`` (no
    python in the row path, no driver-side data) for benchmarks.

Text extraction back out of ``html`` must be BYTE-IDENTICAL to the
``text`` column per url — the per-row invariant of BASELINE.json.
Everything here is whole-stage-codegen-friendly (no UDFs).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

HTML_PREFIX = "<html><body>"
HTML_SUFFIX = "</body></html>"

# The documents tables draw from this closed 31-token vocabulary
# (TESTDATA.md; verified against /root/testdata/sf*/documents.parquet).
VOCAB = [
    "join", "hash", "row", "batch", "scan", "customer", "column", "filter",
    "small", "slow", "merge", "order", "vector", "line", "data", "table",
    "agg", "value", "key", "stream", "window", "spark", "a", "part",
    "group", "big", "sort", "query", "fast", "the", "dup",
]


def wrap_html(text_col: Column) -> Column:
    return F.encode(F.concat(F.lit(HTML_PREFIX), text_col, F.lit(HTML_SUFFIX)), "UTF-8")


def extract_text_col(html_name: str = "html") -> Column:
    """html BINARY -> extracted text, byte-identical to the wrapped
    payload: decode UTF-8 then strip the fixed envelope. Substring
    arithmetic (not regex) so arbitrary payload characters — regex
    metachars, newlines — round-trip exactly."""
    decoded = f"decode({html_name}, 'UTF-8')"
    return F.expr(
        f"substring({decoded}, {len(HTML_PREFIX) + 1}, "
        f"length({decoded}) - {len(HTML_PREFIX) + len(HTML_SUFFIX)})"
    )


def pages_from_documents(spark: SparkSession, sf_dir: str,
                         widen: bool = False) -> DataFrame:
    """documents.parquet -> pages(url, warc_ts, html, text, lang).

    url embeds the source as the domain (webtext skew: a few hot
    domains dominate); warc_ts is a deterministic function of doc_id.

    ``widen=False`` default: callers routinely take pages.limit(n)
    slices, and a round-robin exchange under a limit makes the
    selected rows action-dependent. ``widen=True`` (the full-corpus
    pipeline entry) repartitions the narrow DOCUMENT rows up to the
    session parallelism BEFORE the html wrap, so on an under-split
    sandbox parquet the wrap + extraction + validation all run wide
    (guide §2.5 "fix input skew at the source") — and because the
    html column is synthesized AFTER the exchange, the html-never-
    shuffles invariant holds by construction. On pre-split production
    layouts the widen is a planning-time no-op. (A real crawl table
    already stores html; there this generator and its widen don't
    exist — the scan itself is split.)"""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    if widen:
        from qizner_spark.session import ensure_scan_parallelism

        docs = ensure_scan_parallelism(docs)
    return docs.select(
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com/doc/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        (F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id") * 60)).alias("warc_ts"),
        wrap_html(F.col("text")).alias("html"),
        F.col("text"),
        F.col("lang"),
    )


def _sql_vocab_array() -> str:
    inner = ", ".join(f"'{w}'" for w in VOCAB)
    return f"array({inner})"


def synthetic_pages(spark: SparkSession, n_pages: int, words_per_page: int = 60) -> DataFrame:
    """Seeded arbitrary-scale pages — pure native expressions.

    Each page's text is ``words_per_page`` vocabulary words chosen by
    a per-(page, position) multiplicative hash (seed 42); ~30% of
    pages land on domain 0 of 20 (hot-key skew to exercise
    AQE/salting). Scales to any ``n_pages`` with zero driver-side
    data movement.
    """
    seed, n_domains, hot_per_mille = 42, 20, 300
    base = spark.range(n_pages).withColumnRenamed("id", "page_id")
    word_expr = (
        f"array_join(transform(sequence(0, {words_per_page - 1}), i -> "
        f"element_at({_sql_vocab_array()}, "
        f"1 + int((page_id * 2654435761 + i * 40503 + {seed}) % {len(VOCAB)}))), ' ')"
    )
    domain_expr = (
        f"CASE WHEN (page_id * 1103515245 + {seed}) % 1000 < {hot_per_mille} THEN 0 "
        f"ELSE 1 + int((page_id * 69069 + {seed}) % {n_domains - 1}) END"
    )
    lang_expr = "CASE WHEN (page_id * 48271) % 5 = 0 THEN 'zh' ELSE 'en' END"
    return (
        base.withColumn("text", F.expr(word_expr))
        .withColumn("domain", F.expr(domain_expr))
        .select(
            F.concat(
                F.lit("https://src"), F.col("domain").cast("string"),
                F.lit(".example.com/p/"), F.col("page_id").cast("string"),
            ).alias("url"),
            F.timestamp_seconds(F.lit(1700000000) + F.col("page_id") % 86400).alias("warc_ts"),
            wrap_html(F.col("text")).alias("html"),
            F.col("text"),
            F.expr(lang_expr).alias("lang"),
        )
    )
