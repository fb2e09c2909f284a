"""Incremental KG construction over a continuously-landing crawl.

The reference is strictly batch (SURVEY.md §2.9: no streaming ops) and
the north_rule's resumability is satisfied with snapshot anti-joins
(plans/checkpoint.py). :func:`stream_kg_increments` (the
``kg_stream_increments`` query) streams only the per-document stage:
file-source pages -> the Arrow detection pass (mapInPandas works
unchanged on streaming DataFrames) -> a parquet mention staging sink,
exactly-once via the streaming checkpoint. The corpus-global rest of
the DAG runs as a batch compaction over the accumulated sink.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.types import (
    BinaryType, StringType, StructField, StructType, TimestampType,
)

PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("html", BinaryType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
    ]
)


def stream_kg_increments(
    spark: SparkSession,
    input_dir: str,
    work_dir: str,
    scorer_factory=None,
    assemble_kw: dict | None = None,
) -> dict:
    """Incremental KG construction over a continuously-landing crawl,
    with batch-identical output BY CONSTRUCTION.

    The DAG splits on a principled line (see
    :func:`qizner_spark.plans.pipeline.assemble_kg`): mention
    detection is per-document and ~all of the compute at 10^12 docs,
    so it streams — each micro-batch (one landed file per trigger)
    runs the Arrow detection pass on newly-landed pages only and APPENDS to a mention staging sink
    (exactly-once via the streaming checkpoint; a restart never
    re-scores processed pages). Everything downstream (alias
    dictionary, linking, co-mention graph, canonicalization, triple
    assembly) aggregates ACROSS documents, so it runs as the periodic
    compaction pass over the ACCUMULATED sink. Because detection is a
    pure per-row function and the compaction reads the full mention
    set, streaming-then-compacting emits exactly the triples the
    batch DAG emits on the same pages — hash-verified end-to-end by
    the ``kg_stream_increments`` driver oracle (which is literally
    the ``kg_triples`` batch oracle).

    Returns the compaction's :class:`~qizner_spark.plans.pipeline.KGStages`
    (``"triples"``, ...) with ``"mentions"`` and ``"n_batches"`` added;
    ``n_batches`` counts non-empty micro-batches (tests pin > 1 so the
    increment path is actually exercised). The caller calls
    ``release()`` once done with the stages."""
    import posixpath

    from qizner_spark.plans.pipeline import assemble_kg, page_mentions

    mentions_dir = posixpath.join(work_dir, "mentions")
    checkpoint_dir = posixpath.join(work_dir, "_stream_checkpoint")

    pages = spark.readStream.schema(PAGES_SCHEMA) \
        .option("maxFilesPerTrigger", 1).parquet(input_dir)
    # the batch DAG's own per-page step
    _, mentions = page_mentions(pages, scorer_factory)
    # availableNow: process every file that has landed, then stop;
    # exactly-once via the streaming checkpoint
    q = (
        mentions.writeStream.format("parquet")
        .option("path", mentions_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    n_batches = sum(
        1 for p in q.recentProgress if (p.get("numInputRows") or 0) > 0
    )
    accumulated = spark.read.parquet(mentions_dir)
    # no persist: the staging sink IS the materialization — each
    # compaction branch re-scans cheap columnar parquet, exactly the
    # production staging-table pattern build_kg documents.
    stages = assemble_kg(accumulated, **(assemble_kw or {}))
    stages.update(mentions=accumulated, n_batches=n_batches)
    return stages
