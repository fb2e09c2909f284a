"""The flagship end-to-end KG-construction DAG.

Spark translation of the reference raw-text entry point
(predict_sents, /root/reference/train_ner.py:657-719) extended with
the KG stages (north_star):

    pages(url, warc_ts, html, text, lang)          # scan
      -> extract_text (byte-identical per url)     # native exprs
      -> DROP html (column pruning before any shuffle)
      -> detect_mentions                           # one mapInPandas:
             tokenize (T1/T2) -> segment (D3) -> score -> decode (L6)
             -> in-worker segment merge (D5, NO shuffle) -> flatten (L10)
      -> (url, entity) rollup, linked by projection # ent_pre, cached
      -> co-mention pairs per url                  # capped sorted array,
                                                   # operators.pairs.ordered_pairs
      -> connected components (driver union-find or large/small-star)
      -> triples (subj, pred, obj, url, warc_ts, prob)

Shuffle inventory (the whole point at 100 TB):
  1. the ``ent_pre`` rollup: one map-side-combined groupBy plus one
     repartition(url), shared by every downstream consumer;
  2. the CC edge probe (distinct edges) — and, on graphs above the
     driver threshold, O(log n) bounded large/small-star rounds;
  3. the components re-attach (see the comments in ``assemble_kg``);
  4. final write, partitioned by bucket(subj).
The html binary never crosses a stage boundary. Everything before
detection is whole-stage codegen; detection is one Arrow pass.

Cache ownership: :func:`build_kg` and :func:`assemble_kg` return a
:class:`KGStages` — the named stages plus the DataFrames the build
persisted and, on the large-graph path, the local checkpoint its
component map reads. The caller calls ``release()`` once every action over the
stages has run (:func:`~qizner_spark.plans.checkpoint.run_resumable`
does so in a ``finally``). Spark matches a cached plan by the root
paths it reads, not by their file listing, so a cache left behind
would serve a stale listing to the next build over the same path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from qizner_spark.gazetteer import GAZETTEER_FULL
from qizner_spark.operators.linking import build_alias_dictionary, link_mentions
from qizner_spark.operators.mentions import detect_mentions
from qizner_spark.operators.pairs import ordered_pairs
from qizner_spark.sources.pages import extract_text_col, pages_from_documents


def default_scorer_factory():
    from qizner_spark.core.scoring import GazetteerScorer
    from qizner_spark.gazetteer import GAZETTEER_FULL as GAZ

    return GazetteerScorer(GAZ, token_deli=" ")


def extract_pages_text(pages: DataFrame) -> DataFrame:
    """html -> text with the byte-identity invariant enforced IN the
    plan: rows whose extraction mismatches the stored text are routed
    to an error flag column (kept 0 at all times in tests). The heavy
    html column is dropped immediately after."""
    out = pages.withColumn("extracted", extract_text_col("html")).withColumn(
        "extract_ok", (F.col("extracted") == F.col("text")).cast("int")
    )
    return out.select("url", "warc_ts", F.col("extracted").alias("text"), "lang", "extract_ok")


def page_mentions(pages: DataFrame, scorer_factory, **detect_kw) -> tuple[DataFrame, DataFrame]:
    """The per-page detection step of the batch and the streaming
    build, defined once so they cannot drift: html -> text, pages that
    fail the byte-identity check dropped, then the Arrow detection
    pass keyed by url. Returns ``(docs, mentions)``.

    A batch source is widened
    (:func:`~qizner_spark.session.ensure_scan_parallelism`) when
    it is under-split (single-row-group sandbox parquet: guide §2.5
    "one huge unsplittable file"), so the Arrow detection pass uses
    every core — placed AFTER the html drop so only the narrow
    extracted columns ever cross the exchange, and after any
    caller-side limit so row selection stays deterministic. At
    production layouts (input pre-split >= parallelism) it's a
    no-op; a streaming source has no partitions to count and is not
    widened.

    Provenance (warc_ts) rides THROUGH the Arrow pass on every
    mention row instead of a join back to the pages table: a
    passthrough value costs bytes in the mention rows; the join it
    replaces is a full mention-table shuffle at 10^12 docs.
    ``detect_kw`` goes to
    :func:`~qizner_spark.operators.mentions.detect_mentions`."""
    from qizner_spark.session import ensure_scan_parallelism

    docs = extract_pages_text(pages).where(F.col("extract_ok") == 1).drop("extract_ok")
    if not docs.isStreaming:
        docs = ensure_scan_parallelism(docs)
    mentions = detect_mentions(
        docs, scorer_factory or default_scorer_factory, key_col="url", text_col="text",
        lang_col="lang", passthrough_cols=["warc_ts"], **detect_kw,
    ).withColumnRenamed("doc_key", "url")
    return docs, mentions


# Per-doc distinct-entity ceiling for the co-mention pair
# enumeration. A document of k distinct entities emits k(k-1)/2 pairs
# from one url group, so the hot-KEY salting in operators/graph.py
# cannot reach it: one spammy page with 10^4 distinct entities would
# emit 5x10^7 pairs from a single row group — an unfixable one-task
# straggler at 10^12 docs. 1000 bounds any document at <=500k pairs
# while being far above the entity count of any real page. Capped-out
# entities still exist downstream (CC treats them as singletons) —
# they just stop minting pairs.
DEFAULT_MAX_ENTITIES_PER_DOC = 1000


class KGStages(dict):
    """The KG build's named stages (``stages["triples"]``, ...) and the
    owner of the caches the build persisted (``mentions``, ``ent_pre``
    and, on the large-graph path, ``pre_canon``) and of the local
    checkpoint the distributed component map reads (``checkpointed``:
    the maps whose checkpoints it frees). A ``dict`` so stage lookups
    and ``**stages`` read as before; ``release()`` frees every owned
    cache and checkpoint, after the last action over the stages."""

    def __init__(self, stages: dict, persisted: list[DataFrame],
                 checkpointed: list[DataFrame]):
        super().__init__(stages)
        self.persisted = persisted
        self.checkpointed = checkpointed

    def release(self) -> None:
        from qizner_spark.operators.graph import unpersist_checkpoints

        for df in self.persisted:
            df.unpersist()
        for df in self.checkpointed:
            unpersist_checkpoints(df)
        self.persisted, self.checkpointed = [], []


def build_kg(
    spark: SparkSession,
    pages: DataFrame,
    scorer_factory=None,
    max_seg_len: int = 512,
    decode_threshold: float = 0.5,
    salt_buckets: int | None = None,
    broadcast_alias: bool = False,
    max_entities_per_doc: int = DEFAULT_MAX_ENTITIES_PER_DOC,
) -> KGStages:
    """Run the full DAG; returns every intermediate plus ``triples``.

    The mentions table is materialized once (MEMORY_AND_DISK) under
    its own job, so every reader — the ``ent_pre`` rollup, the public
    ``alias``/``linked`` stages, a caller's count — shares one run of
    the Arrow detection stage. Production equivalent: write mentions
    to a staging Iceberg table between phases. The returned
    :class:`KGStages` owns that cache — call ``release()`` when done.

    ``broadcast_alias`` (default False): the mention-surface
    vocabulary of an open corpus is Zipfian-unbounded, so the public
    ``linked`` stage's join is unhinted by default (AQE decides); True
    force-broadcasts a KNOWN-bounded curated dictionary (see
    :func:`~qizner_spark.operators.linking.link_mentions`). The
    triples link by projection and do not read it."""
    from pyspark import StorageLevel

    docs, mentions = page_mentions(pages, scorer_factory, max_seg_len=max_seg_len,
                                   threshold=decode_threshold)
    mentions = mentions.persist(StorageLevel.MEMORY_AND_DISK)
    # Materialization BARRIER (round 6): build the cache under one
    # controlled job before anything references it. Concurrent stage
    # futures otherwise race to materialize the same uncached
    # relation — Spark stages coordinate per cached PARTITION only
    # after one writer finishes, so the whole detection pass ran 2-3x
    # inside one job (observed as multiple 64-task documents-scan
    # stages in one kg action). Production analog: writing the
    # staging table IS this barrier.
    mentions.count()

    assembled = assemble_kg(
        mentions, salt_buckets=salt_buckets,
        broadcast_alias=broadcast_alias,
        max_entities_per_doc=max_entities_per_doc,
    )
    return KGStages({"docs": docs, "mentions": mentions, **assembled},
                    [mentions, *assembled.persisted], assembled.checkpointed)


def _capped_entities(rollup: DataFrame, cap: int, *payload: str) -> DataFrame:
    """``(url, _e)``: per url, the ``cap`` entities with the highest
    ``_rank_prob`` (ties: entity_id ASC) as ``(entity_id, *payload)``
    structs, re-sorted on entity_id for :func:`ordered_pairs`. The
    sort on (-prob, entity_id) structs + slice keeps exactly the rows
    a row_number window over that key keeps, and the array is bounded
    by ``cap`` (task memory) whatever the document's entity count."""
    fields = ("entity_id", *payload)
    kept = ", ".join(f"s.{c} AS {c}" for c in fields)
    ranked = F.array_sort(F.collect_list(
        F.struct((-F.col("_rank_prob")).alias("_nrp"), *fields)
    ))
    return rollup.groupBy("url").agg(ranked.alias("_r")).select(
        "url",
        F.expr(f"array_sort(transform(slice(_r, 1, {cap}), s -> struct({kept})))").alias("_e"),
    )


def assemble_kg(
    mentions: DataFrame,
    salt_buckets: int | None = None,
    broadcast_alias: bool = False,
    max_entities_per_doc: int = DEFAULT_MAX_ENTITIES_PER_DOC,
) -> KGStages:
    """Corpus-GLOBAL compaction half of the KG DAG — alias dictionary
    -> linking -> co-mention edges -> connected components -> triple
    assembly — over an already-materialized mention table.

    Factored out of :func:`build_kg` so the incremental path shares it
    verbatim. The split line is principled, not convenience: mention
    DETECTION is per-document (embarrassingly incremental — stream it
    micro-batch by micro-batch into an append sink; it is also ~all
    of the compute at 10^12 docs), while everything here aggregates
    ACROSS documents (the alias dictionary, the co-mention graph,
    canonicalization) and must recompute over the accumulated mention
    table — the periodic compaction pass of a continuously-landing
    crawl. Streaming detection + this over the sink is therefore
    identical to the batch DAG by construction (hash-verified
    end-to-end by the ``kg_stream_increments`` driver oracle).

    Shuffle inventory (round-6 restructure): every triple branch and
    the CC edge build are re-aggregations of ONE shared
    (url, entity_id, mention, ent_type)-level rollup (``ent_pre``):

      * the groupBy collapses the k repeat-mentions of an entity
        inside a document map-side BEFORE anything shuffles (guide
        §2.3 "aggregate before you shuffle" — detection emits whole
        documents per partition, so the partial aggregate removes the
        duplication at the source);
      * one repartition(url) then establishes the partitioning every
        downstream consumer needs — branch groupBys (url-superset
        keys), the per-url capped entity arrays, the co-mention pair
        enumeration and its pair-fold groupBy all plan ZERO further
        exchanges;
      * ``ent_pre`` is persisted (the returned :class:`KGStages` owns
        it): the eager CC phase and the triples action both read it, and (measured, round 6) per-branch column
        pruning otherwise specializes each branch's copy of the
        subtree so exchange reuse NEVER fires — the previous
        "shared" canon exchange really ran four times, shuffling the
        full mention table once per branch.

    prob/warc_ts fold exactly (min/max are order-independent), so the
    triples are hash-identical to the mention-level formulation —
    oracle-verified by the kg_triples / kg_triples_full /
    kg_triples_seq / kg_stream_increments driver queries."""
    alias = build_alias_dictionary(mentions)
    linked = link_mentions(mentions, alias, broadcast_alias=broadcast_alias)

    from pyspark import StorageLevel

    from qizner_spark.operators.graph import DEFAULT_SALT_BUCKETS
    from qizner_spark.operators.linking import entity_id_col

    # Round 6 (revised): the rollup links by PROJECTION, not join.
    # assemble_kg always builds its dictionary from this very mention
    # table, so the link join is an identity attach of the
    # deterministic slug (see entity_id_col: every (mention, ent_type)
    # key matches, and the id is unique per key, so frequency
    # tie-breaking cannot pick a different value) — skipping it
    # removes a full mention-cache scan + aggregation + broadcast
    # build from the hot path. Verified row-identical via the
    # kg-family oracles; the public ``alias``/``linked`` stages (and
    # ``broadcast_alias``) are untouched for callers that link
    # against EXTERNAL dictionaries.
    ent_pre = (
        mentions.withColumn("entity_id", entity_id_col())
        .groupBy("url", "entity_id", "mention", "ent_type")
        .agg(
            F.min("warc_ts").alias("warc_ts"),
            F.min("prob").alias("prob"),
            F.max("prob").alias("_rp"),
        )
        .repartition(F.col("url"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # NO count() barrier here (round 6, revised): the connected-
    # components probe below is the first job to reference this cache,
    # and its plan references it exactly ONCE (edges -> distinct is a
    # shuffle, whose map stage scans and therefore populates EVERY
    # ent_pre partition before the reduce/limit runs) — a single
    # writer, so the concurrent-futures race the other barriers guard
    # against cannot occur, and the probe job doubles as the barrier.
    # Co-mention pair enumeration (round 6, array form): pairs come
    # from a per-url SORTED, CAPPED ENTITY ARRAY expanded by
    # ordered_pairs instead of a per-url self-join. The rollup is
    # url-partitioned, so the groupBy(url) plans no exchange, and
    # there is no join hash table and no second derivation of the
    # probe side. Row identity: "a before b" in the entity_id-sorted
    # distinct array IS the a.entity_id < b.entity_id join predicate.
    ent_url = ent_pre.groupBy("url", "entity_id").agg(
        F.max("_rp").alias("_rank_prob")
    )
    edges = ordered_pairs(
        _capped_entities(ent_url, max_entities_per_doc), "_e", "url"
    ).select(F.col("a.entity_id").alias("src"), F.col("b.entity_id").alias("dst"), "url")
    from qizner_spark.operators.graph import connected_components

    comp = connected_components(
        edges.select("src", "dst"),
        salt_buckets=salt_buckets if salt_buckets is not None else DEFAULT_SALT_BUCKETS,
    )
    # full node -> canonical map (isolated entities are their own
    # component) — the public stages entry, same rows assign_components
    # produces, built from the single probe above instead of a second
    # connected_components run.
    components = (
        ent_pre.select(F.col("entity_id").cast("string").alias("node")).distinct()
        .join(comp, "node", "left")
        .withColumn("component", F.coalesce("component", F.col("node")))
        .withColumnRenamed("node", "entity_id")
        .withColumnRenamed("component", "canonical_id")
    )

    if comp.isLocal():
        # Common path: the component map was solved by driver-side
        # union-find, so the canonicalized rollup needs NO second
        # persist and NO count barrier: every triple branch
        # re-attaches canonical ids against the already-cached
        # ent_pre inside the one triples action (concurrent subtree
        # reads of a FULLY materialized cache are safe — the race is
        # only on population). Two sequential jobs replace the
        # previous four.
        # The map is broadcast by its bound: union-find ran only
        # because the distinct edge set fit under ``driver_threshold``,
        # so it holds at most 2 x ``driver_threshold`` nodes. The hint
        # states that bound in the plan instead of leaving the choice
        # to the local relation's size estimate against
        # ``autoBroadcastJoinThreshold``, which a large map can exceed.
        cmap = F.broadcast(comp.withColumnRenamed("node", "entity_id")
                               .withColumnRenamed("component", "_canon"))
        pre_canon = (
            ent_pre.join(cmap, "entity_id", "left")
            .withColumn("canonical_id", F.coalesce("_canon", F.col("entity_id")))
            .drop("_canon")
        )
        persisted = [ent_pre]
    else:
        # Large-graph path: the distributed CC output has no usable
        # size statistics, so the initial components join plans as a
        # sort-merge join — without a single materialization EVERY
        # branch would re-plan that join, re-derive the components
        # subtree, and re-exchange the cached rollup on entity_id
        # before AQE could convert anything (measured round 6: three
        # extra shuffle map-stages of the rollup per triples action).
        # The explicit repartition inside the cached plan guarantees
        # the cache reports url hash-partitioning at EVERY scale, so
        # the branch aggregations, the pair enumeration and the
        # pair-fold groupBy all plan zero further exchanges. The join
        # is unhinted: the canonical-entity map is unbounded on an
        # open corpus, and AQE broadcasts it only when it is small.
        pre_canon = (
            ent_pre.join(components, "entity_id")
            .repartition(F.col("url"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        # materialization barrier — the triples action otherwise races
        # FOUR concurrent references (three branches + the cap rollup)
        # into an uncached relation
        pre_canon.count()
        persisted = [ent_pre, pre_canon]

    # Branch-local aggregation replaces a global dropDuplicates over
    # the unioned triples: each branch groups on ITS OWN key while the
    # rows are still narrow, so nothing re-shuffles after the union.
    # prob = min of contributing mention probs (FIXTURES.md F5);
    # min-of-mins over the rollup == min over mention rows.
    # Round 6 (revised): the type and alias branches FUSE into one
    # GROUPING SETS aggregation — one scan of the canonicalized
    # rollup and one aggregation operator instead of two of each,
    # with grouping() disambiguating the two sets (verified
    # row-identical by exceptAll both ways and ~30% faster at sf1.0:
    # 1.32 -> 0.92 s for the two branches). Every grouping set
    # contains url, so the url-clustered input still satisfies the
    # aggregation with zero exchanges.
    gs = pre_canon.groupingSets(
        [["url", "canonical_id", "ent_type"], ["url", "canonical_id", "mention"]],
        "url", "canonical_id", "ent_type", "mention",
    ).agg(
        F.min("warc_ts").alias("warc_ts"), F.min("prob").alias("prob"),
        F.grouping("ent_type").alias("_g"),
    )
    type_alias_triples = gs.select(
        F.col("canonical_id").alias("subj"),
        F.when(F.col("_g") == 0, F.lit("type")).otherwise(F.lit("alias")).alias("pred"),
        F.when(F.col("_g") == 0, F.col("ent_type")).otherwise(F.col("mention")).alias("obj"),
        "url", "warc_ts", "prob",
    )
    # co-mention edge triples: the SAME pair enumeration as the CC
    # edges (_capped_entities re-ranks the canonicalized rollup on the
    # identical (max prob DESC, entity_id ASC) key, so the kept entity
    # set matches the edges' row for row), endpoints rewritten to
    # canonical ids (north_star: CC runs over the co-mention graph
    # itself, so co-mentioned entities often share a component —
    # subj == obj is then an intra-cluster edge). The only aggregation
    # is the per-url canonical-pair fold, and its key set contains url
    # — still no exchange.
    ent_doc = pre_canon.groupBy("url", "entity_id", "canonical_id").agg(
        F.min("warc_ts").alias("warc_ts"),
        F.min("prob").alias("prob"),
        F.max("_rp").alias("_rank_prob"),
    )
    # per-pair (a.warc_ts, least(a.prob, b.prob)) is the a<b
    # self-join's payload exactly, so the (url, subj, obj) min/min
    # fold is hash-identical to the join formulation
    pairs = ordered_pairs(
        _capped_entities(ent_doc, max_entities_per_doc, "canonical_id", "warc_ts", "prob"),
        "_e", "url",
    ).select(
        "url",
        F.col("a.canonical_id").alias("subj"), F.col("b.canonical_id").alias("obj"),
        F.col("a.warc_ts").alias("warc_ts"), F.least("a.prob", "b.prob").alias("prob"),
    )
    canon_edges = (
        pairs.groupBy("url", "subj", "obj")
        .agg(F.min("warc_ts").alias("warc_ts"), F.min("prob").alias("prob"))
        .select("subj", F.lit("mentioned_with").alias("pred"),
                F.col("obj"), "url", "warc_ts", "prob")
    )
    triples = type_alias_triples.unionByName(canon_edges)
    return KGStages({
        "alias": alias,
        "linked": linked,
        "edges": edges,
        "components": components,
        "triples": triples,
    }, persisted, [comp])


def build_kg_from_sf_dir(spark: SparkSession, sf_dir: str, **kw) -> KGStages:
    # widen=True: the full-corpus entry takes no limit slices, so the
    # narrow document rows repartition BEFORE the html wrap — the
    # wrap/extract/validate projections run at full parallelism on an
    # under-split sandbox layout instead of inside the single scan
    # task (see pages_from_documents; build_kg's own widen then
    # becomes a planning-time no-op).
    return build_kg(spark, pages_from_documents(spark, sf_dir, widen=True), **kw)
