"""Streaming mention detection over a growing pages directory.

The reference is strictly batch (SURVEY.md §2.9: no streaming ops) and
the north_rule's resumability is satisfied with snapshot anti-joins
(plans/checkpoint.py); this module additionally exposes the detection
stage as a Structured Streaming flow for continuously-landing crawls:
file-source pages -> stateless detection (mapInPandas works unchanged
on streaming DataFrames) -> parquet sink with exactly-once via the
streaming checkpoint. Watermarking is unnecessary: detection is
stateless per document.
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


def _start_parquet_sink(df, output_dir: str, checkpoint_dir: str):
    """Append ``df`` to a parquet sink under an ``availableNow``
    trigger: the query processes every file that has landed, then
    stops. Exactly-once via ``checkpoint_dir``; returns the
    StreamingQuery."""
    return (
        df.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def stream_detect_mentions(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    scorer_factory=None,
):
    """Start the streaming detection job; returns the StreamingQuery,
    which stops once it has processed what has landed."""
    from qizner_spark.operators.mentions import detect_mentions
    from qizner_spark.plans.pipeline import default_scorer_factory, extract_pages_text

    pages = spark.readStream.schema(PAGES_SCHEMA).parquet(input_dir)
    docs = extract_pages_text(pages, validate=False)
    mentions = detect_mentions(
        docs, scorer_factory or default_scorer_factory,
        key_col="url", text_col="text", lang_col="lang",
    )
    return _start_parquet_sink(mentions, output_dir, checkpoint_dir)


def stream_sessionize_events(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    gap_seconds: int = 1800,
    watermark: str = "0 seconds",
    max_files_per_trigger: int | None = None,
):
    """CUSTOM STATEFUL streaming operator via applyInPandasWithState:
    per-user sessionization at a ``gap_seconds`` inactivity gap — the
    streaming twin of the batch ``events_sessions`` query (which uses
    a lag window; no built-in streaming operator expresses 'gap-based
    session with running totals', so this is the documented
    applyInPandasWithState use case).

    Event-time-correct semantics: state per user is the LIST of open
    candidate sessions (parallel arrays of start/last/n/total). Each
    incoming event opens a singleton session; candidates are then
    interval-merged (two sessions fuse when their gap is <=
    ``gap_seconds``). A session is EMITTED only once the watermark
    has passed ``last + gap`` — at that point no in-watermark event
    can still extend it, so emission is final (append-mode). Closing
    eagerly on a gap observed mid-stream would be wrong across
    micro-batches: file order is not event-time order, and a
    straggler from a later file could belong to an already-emitted
    session (or worse, be silently absorbed into the next one).

    The remaining caveat is Spark's own watermark contract: rows
    older than the watermark are dropped BEFORE they reach this
    function, so set ``watermark`` to the real out-of-orderness
    bound of the feed; and the trailing open session per user emits
    only once a later event pushes the watermark past it.

    CHECKPOINT COMPATIBILITY: round 3 changed the state schema from
    scalar (start, last, n, total) to the parallel-array candidate
    lists above. Streaming state is schema-bound — a query restarted
    from a checkpoint written by the pre-round-3 sessionizer will
    fail or misread its state; use a FRESH ``checkpoint_dir`` (and
    reprocess the source) when upgrading across that boundary.
    """
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        ArrayType, DoubleType, LongType, StructField as SF, StructType as ST,
    )

    out_schema = ST([
        SF("user_id", LongType()), SF("session_start", LongType()),
        SF("session_end", LongType()), SF("n_events", LongType()),
        SF("total_value", DoubleType()),
    ])
    state_schema = ST([
        SF("starts", ArrayType(LongType())), SF("lasts", ArrayType(LongType())),
        SF("ns", ArrayType(LongType())), SF("totals", ArrayType(DoubleType())),
    ])

    def fn(key, pdfs, state):
        (user,) = key
        if state.exists:
            starts, lasts, ns, tots = (list(x) for x in state.get)
        else:
            starts, lasts, ns, tots = [], [], [], []
        if not state.hasTimedOut:
            pdf = pd.concat(list(pdfs))
            for ts, val in zip(pdf["ts"], pdf["value"]):
                t = int(pd.Timestamp(ts).timestamp())
                starts.append(t)
                lasts.append(t)
                ns.append(1)
                tots.append(float(val))
            # interval-merge candidates in start order: a straggler
            # lands in (or bridges) exactly the session(s) it belongs
            # to, regardless of arrival order
            order = sorted(range(len(starts)), key=lambda i: (starts[i], lasts[i]))
            m: tuple[list, list, list, list] = ([], [], [], [])
            for i in order:
                if m[0] and starts[i] - m[1][-1] <= gap_seconds:
                    m[1][-1] = max(m[1][-1], lasts[i])
                    m[2][-1] += ns[i]
                    m[3][-1] += tots[i]
                else:
                    for lst, v in zip(m, (starts[i], lasts[i], ns[i], tots[i])):
                        lst.append(v)
            starts, lasts, ns, tots = m
        # emit every session the watermark has sealed: no in-watermark
        # event can be within gap of it anymore, so it cannot grow
        wm = state.getCurrentWatermarkMs() // 1000
        sessions = []
        keep: tuple[list, list, list, list] = ([], [], [], [])
        for s0, last, n, tot in zip(starts, lasts, ns, tots):
            if last + gap_seconds < wm:
                sessions.append((user, s0, last, n, tot))
            else:
                for lst, v in zip(keep, (s0, last, n, tot)):
                    lst.append(v)
        if keep[0]:
            state.update(tuple(keep))
            # revisit as soon as the watermark can seal the oldest
            # still-open session ( > current wm by construction)
            state.setTimeoutTimestamp((min(keep[1]) + gap_seconds + 1) * 1000)
        elif state.exists:
            state.remove()
        yield pd.DataFrame(
            sessions,
            columns=["user_id", "session_start", "session_end", "n_events", "total_value"],
        )

    reader = spark.readStream.schema(
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string"
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    events = (
        reader.parquet(input_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
    )
    sessions = events.groupBy("user_id").applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.EventTimeTimeout
    )
    return _start_parquet_sink(sessions, output_dir, checkpoint_dir)


def stream_windowed_entity_counts(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    scorer_factory=None,
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
):
    """STATEFUL streaming: per-entity-type mention counts in
    event-time (warc_ts) windows with a late-data watermark.

    pages stream -> detection (stateless Arrow UDF, event time rides
    through as a passthrough column — no stream-stream join) ->
    watermark + windowed count. Append mode emits a window only after
    the watermark passes it — the standard late-data-safe pattern for
    continuously-landing crawl data.
    """
    from pyspark.sql import functions as F

    from qizner_spark.operators.mentions import detect_mentions
    from qizner_spark.plans.pipeline import default_scorer_factory, extract_pages_text

    pages = spark.readStream.schema(PAGES_SCHEMA).parquet(input_dir)
    docs = extract_pages_text(pages, validate=False)
    timed = detect_mentions(
        docs,
        scorer_factory or default_scorer_factory,
        key_col="url", text_col="text", lang_col="lang",
        passthrough_cols=["warc_ts"],
    )
    counts = (
        timed.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window_duration), "ent_type")
        .agg(F.count(F.lit(1)).alias("n_mentions"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "ent_type", "n_mentions",
        )
    )
    return _start_parquet_sink(counts, output_dir, checkpoint_dir)


def stream_kg_increments(
    spark: SparkSession,
    input_dir: str,
    work_dir: str,
    scorer_factory=None,
    max_files_per_trigger: int | None = 1,
    assemble_kw: dict | None = None,
) -> dict:
    """Incremental KG construction over a continuously-landing crawl,
    with batch-identical output BY CONSTRUCTION.

    The DAG splits on a principled line (see
    :func:`qizner_spark.plans.pipeline.assemble_kg`): mention
    detection is per-document and ~all of the compute at 10^12 docs,
    so it streams — each micro-batch runs the Arrow detection pass on
    newly-landed pages only and APPENDS to a mention staging sink
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

    from pyspark.sql import functions as F

    from qizner_spark.operators.mentions import detect_mentions
    from qizner_spark.plans.pipeline import (
        assemble_kg, default_scorer_factory, extract_pages_text,
    )

    mentions_dir = posixpath.join(work_dir, "mentions")
    checkpoint_dir = posixpath.join(work_dir, "_stream_checkpoint")

    reader = spark.readStream.schema(PAGES_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    pages = reader.parquet(input_dir)
    # identical per-row prep to the batch DAG: byte-identity check,
    # html dropped, warc_ts provenance riding through the Arrow pass
    docs = extract_pages_text(pages).where(F.col("extract_ok") == 1) \
        .drop("extract_ok")
    mentions = detect_mentions(
        docs, scorer_factory or default_scorer_factory,
        key_col="url", text_col="text", lang_col="lang",
        passthrough_cols=["warc_ts"],
    ).withColumnRenamed("doc_key", "url")
    q = _start_parquet_sink(mentions, mentions_dir, checkpoint_dir)
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


def stream_dedup_pages(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    watermark: str = "1 hour",
    max_files_per_trigger: int | None = None,
):
    """Streaming EXACT dedup of a continuously-landing crawl:
    ``dropDuplicatesWithinWatermark`` on the normalized-text digest
    (the same key as the batch ``exact_dedup`` operator), so repeat
    fetches of the same content arriving within the watermark window
    are dropped exactly once ACROSS micro-batches while the dedup
    state stays BOUNDED — plain streaming dropDuplicates keys state
    forever (unbounded at crawl scale); the watermark variant evicts
    keys once event time passes them, which is the only state policy
    that survives 10^12 documents. Duplicates farther apart than the
    watermark re-admit (downstream batch MinHash/exact dedup over the
    sink remains the global pass — this stage is the cheap in-flight
    filter that keeps them out of the expensive detection stage).

    Emits the surviving pages (html dropped, text kept) plus their
    ``text_key`` digest; exactly-once via the streaming checkpoint.
    """
    from pyspark.sql import functions as F

    reader = spark.readStream.schema(PAGES_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    pages = reader.parquet(input_dir)
    keyed = (
        pages.select("url", "warc_ts", "text", "lang")
        .withColumn(
            "text_key",
            F.md5(F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "))),
        )
        .withWatermark("warc_ts", watermark)
        .dropDuplicatesWithinWatermark(["text_key"])
    )
    return _start_parquet_sink(keyed, output_dir, checkpoint_dir)
