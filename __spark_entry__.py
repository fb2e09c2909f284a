"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship KG-construction DAG (SURVEY.md
§3.3) over /root/testdata/sf0.001 and returns the triples DataFrame.
``queries()`` exposes one entry per implemented operator family from
SURVEY.md §2 (+ the training-data-pipeline ops); ``oracle_sql()``
pairs each SQL-expressible one with DuckDB SQL over the same parquet.

Column names are aligned between both sides; computed doubles are
rounded identically (the driver hashes values after sorting columns
by name).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from qizner_spark.gazetteer import (
    GAZETTEER_FULL,
    GAZETTEER_SINGLE,
    SUPER_TYPES,
    gazetteer_sql_values,
)

SF0001 = "/root/testdata/sf0.001"


def _gaz_prob_values(gaz: dict[str, str] | None = None) -> str:
    """Gazetteer VALUES with the exact detection pseudo-probability
    per surface (6-dp decimals: pseudo_prob is 0.5 + k/200000 with
    k < 100000, so the literal is exact)."""
    from qizner_spark.core.scoring import pseudo_prob

    rows = ", ".join(
        f"('{m}', '{t}', {pseudo_prob(m):.6f})"
        for m, t in sorted((gaz or GAZETTEER_SINGLE).items())
    )
    return f"(VALUES {rows}) AS gazp(mention, ent_type, prob)"


def _seq_prob_const() -> float:
    """The BIO/Viterbi path's per-mention probability on the single-
    token gazetteer is a CONSTANT: every dictionary hit gets emission
    ``strength`` at its B-tag and the I2 assembly attaches the mean
    (here: single-token) emission-softmax prob rounded to 4. Extract
    it by scoring one surface through the real scorer so the oracle
    literal reproduces the exact numpy float path (a closed-form
    e^s/(e^s+K-1) differs in the last ulp from the max-subtracted
    softmax the scorer actually computes)."""
    from qizner_spark.core.scoring import GazetteerSeqScorer

    scorer = GazetteerSeqScorer(GAZETTEER_SINGLE)
    surface = next(iter(sorted(GAZETTEER_SINGLE)))
    return scorer.score_mentions([surface])[0][3]


def _gaz_seqprob_values() -> str:
    """Gazetteer VALUES carrying the seq path's constant prob."""
    p = _seq_prob_const()
    rows = ", ".join(
        f"('{m}', '{t}', {p!r})" for m, t in sorted(GAZETTEER_SINGLE.items())
    )
    return f"(VALUES {rows}) AS gazp(mention, ent_type, prob)"


def _kgram_spans_sql(key: str, gaz: dict[str, str]) -> str:
    """CTE fragment: all contiguous k-gram spans (k = 1..max surface
    length) of a token-list CTE ``t({key}, warc?, toks)`` that match
    the gazetteer — the SQL mirror of GazetteerScorer.score_mentions
    (scan bounded by the longest dictionary surface, M17-style).
    Expects the enclosing WITH to define ``t``; emits ``cand`` and
    ``spans``. Extra provenance columns on ``t`` must be listed in
    ``key`` (comma-joined)."""
    max_k = max(len(m.split(" ")) for m in gaz)
    ks = ", ".join(f"({k})" for k in range(1, max_k + 1))
    return f"""
        cand AS (SELECT {key}, i, k,
                        array_to_string(list_slice(toks, i + 1, i + k), ' ') AS mention
                 FROM (SELECT {key}, toks, k,
                              unnest(generate_series(0, len(toks) - k)) AS i
                       FROM t CROSS JOIN (VALUES {ks}) kk(k))),
        spans AS (SELECT c.*, gazp.ent_type, CAST(gazp.prob AS DOUBLE) AS prob,
                         c.i AS s, c.i + c.k AS e
                  FROM cand c JOIN {_gaz_prob_values(gaz)} USING (mention))"""


def _greedy_flatten_sql(part: str) -> str:
    """CTE fragment: the reference prob-greedy flatten (L9/L10,
    datautils.py:1733-1775) as a rank-ordered recursion. Rank = prob
    DESC then (start, end) ASC — exactly flatten_by_prob's stable
    sort, whose tie order is detection's (start, end) emission order.
    Step r keeps span #r iff it overlaps no already-kept interval;
    kept starts/ends ride as two lockstep lists (multiple unnest()s
    zip positionally in DuckDB). Emits ``ranked``/``greedy``/``fin``/
    ``kept`` partitioned by ``part``; join ``spans`` to ``kept`` on
    (part, s, e) to recover the surviving mentions."""
    return f"""
        ranked AS (SELECT *, row_number() OVER (PARTITION BY {part}
                                                ORDER BY prob DESC, s, e) AS rnk
                   FROM spans),
        greedy AS (
            SELECT {part}, 0 AS rnk, CAST([] AS BIGINT[]) AS ks, CAST([] AS BIGINT[]) AS ke
            FROM (SELECT DISTINCT {part} FROM ranked)
            UNION ALL
            SELECT r.{part}, r.rnk,
                   CASE WHEN len(list_filter(list_zip(g.ks, g.ke),
                                             p -> p[1] < r.e AND r.s < p[2])) = 0
                        THEN list_append(g.ks, r.s) ELSE g.ks END,
                   CASE WHEN len(list_filter(list_zip(g.ks, g.ke),
                                             p -> p[1] < r.e AND r.s < p[2])) = 0
                        THEN list_append(g.ke, r.e) ELSE g.ke END
            FROM greedy g JOIN ranked r ON r.{part} = g.{part} AND r.rnk = g.rnk + 1),
        fin AS (SELECT {part}, ks, ke FROM greedy
                QUALIFY row_number() OVER (PARTITION BY {part} ORDER BY rnk DESC) = 1),
        kept AS (SELECT {part}, unnest(ks) AS s, unnest(ke) AS e FROM fin)"""


# md5 hex-prefix integers — computable identically in Python
# (int(md5(s).hexdigest()[:8], 16)) and DuckDB; the base hash of the
# whole fuzzy-dedup family (qizner_spark/operators/dedup.py)
def _md5_32_sql(s: str) -> str:
    return f"CAST(concat('0x', substr(md5({s}), 1, 8)) AS BIGINT)"


def _md5_hi_lo_sql(s: str) -> tuple[str, str]:
    return (
        f"CAST(concat('0x', substr(md5({s}), 1, 8)) AS BIGINT)",
        f"CAST(concat('0x', substr(md5({s}), 9, 8)) AS BIGINT)",
    )


def _minhash_oracle_sql(shingles: str, num_hashes: int = 64, bands: int = 16,
                        threshold: float = 0.5) -> str:
    """All-pairs signature-Jaccard estimate, gated on sharing >= 1
    LSH band (exact slice equality) — the same OUTPUT as the Spark
    banded-join path, enumerated oracle-style."""
    from qizner_spark.operators.dedup import minhash_coeffs

    a, b = minhash_coeffs(num_hashes)
    a_lst = "[" + ", ".join(str(int(x)) for x in a) + "]"
    b_lst = "[" + ", ".join(str(int(x)) for x in b) + "]"
    rpb = num_hashes // bands
    return f"""
        WITH sh AS ({shingles}),
        hs AS (SELECT doc_id,
                      list_transform(sh, s -> {_md5_32_sql('s')}) AS h
               FROM sh),
        sigs AS (SELECT doc_id,
                        list_transform(list_zip({a_lst}, {b_lst}), p ->
                            list_min(list_transform(h, x ->
                                (p[1] * x + p[2]) % 2305843009213693951))) AS sig
                 FROM hs),
        pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.sig AS sa, b.sig AS sb
                  FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id),
        est AS (SELECT id_a, id_b,
                       CAST(len(list_filter(list_zip(sa, sb), p -> p[1] = p[2])) AS DOUBLE)
                           / {num_hashes} AS e,
                       len(list_filter(generate_series(0, {bands - 1}), bb ->
                           list_slice(sa, bb * {rpb} + 1, bb * {rpb} + {rpb})
                             = list_slice(sb, bb * {rpb} + 1, bb * {rpb} + {rpb}))) AS n_bands
                FROM pairs)
        SELECT id_a, id_b, round(e, 6) AS est_jaccard
        FROM est WHERE e >= {threshold} AND n_bands > 0
    """


def _simhash_oracle_sql(max_hamming: int = 10) -> str:
    """md5 64-bit token hashes (hi/lo 32-bit halves) -> bit-majority
    simhash -> all-pairs Hamming filter. The Spark chunk blocking is
    lossless, so no blocking condition is needed here."""
    hi, lo = _md5_hi_lo_sql("w")
    vote = (
        "list_sum(list_transform(generate_series(0, 31), b -> "
        "CASE WHEN 2 * len(list_filter({h}, x -> (x >> b) & 1 = 1)) >= n "
        "THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END))"
    )
    return f"""
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        h AS (SELECT doc_id, len(toks) AS n,
                     list_transform(toks, w -> {hi}) AS his,
                     list_transform(toks, w -> {lo}) AS los
              FROM t),
        halves AS (SELECT doc_id,
                          {vote.format(h='los')} AS lo32,
                          {vote.format(h='his')} AS hi32
                   FROM h),
        sig AS (SELECT doc_id,
                       CAST(CASE WHEN u >= CAST(9223372036854775808 AS HUGEINT)
                                 THEN u - CAST(18446744073709551616 AS HUGEINT)
                                 ELSE u END AS BIGINT) AS simhash
                FROM (SELECT doc_id,
                             CAST(hi32 AS HUGEINT) * 4294967296 + lo32 AS u
                      FROM halves))
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
        FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
    """


def _hyperplane_bucket_sql(vec: str, dim: int = 64, n_planes: int = 4, seed: int = 23) -> str:
    """DuckDB mirror of similarity.hyperplane_signature: the same
    seeded plane matrix, inlined as repr'd double literals (repr
    round-trips exactly, so both engines parse the same doubles)."""
    import numpy as np

    planes = np.random.RandomState(seed).randn(n_planes, dim)
    terms = []
    for p in range(n_planes):
        arr = ", ".join(repr(x) for x in planes[p])
        dot = f"list_sum(list_transform(list_zip({vec}, [{arr}]), p -> p[1] * p[2]))"
        terms.append(f"(CASE WHEN {dot} >= 0 THEN {1 << p} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


# per-doc distinct-entity cap for every co-mention pairing (the
# O(k^2) per-doc pair bound; see plans/pipeline.py
# DEFAULT_MAX_ENTITIES_PER_DOC). 12 BITES at sf0.01 — ~370 of 425
# pages carry more than 12 distinct entities — so the capped path is
# what the oracles actually hash-verify. Shared by the kg_triples
# oracles (rank: max prob DESC, entity_id ASC) and the relational
# comention/CC demos (no prob -> rank degenerates to mention ASC).
COMENTION_CAP = 12

# the hash_sample cutoff, shared verbatim by the Spark filter and the
# DuckDB oracle (lexicographic hex compare == numeric compare)
from qizner_spark.operators.sampling import md5_threshold as _md5_threshold_fn
_md5_threshold_01 = _md5_threshold_fn(0.1)

# the flagship oracle's page synthesis (mirrors sources/pages.py) and
# its linking->CC->triple tail — shared verbatim by the single-token
# (kg_triples) and full-gazetteer (kg_triples_full) oracles; both
# engines' chains differ ONLY in how ``linked`` mentions are produced
_KG_PAGES_SQL = """pages AS (
                SELECT 'https://' || source || '.example.com/doc/' || CAST(doc_id AS VARCHAR) AS url,
                       1700000000 + doc_id * 60 AS warc_ts, text
                FROM documents WHERE lang <> 'zh')"""

_KG_TAIL_SQL = f"""ent_rank AS (
                SELECT url, entity_id,
                       row_number() OVER (
                           PARTITION BY url
                           ORDER BY max(prob) DESC, entity_id ASC) AS rn
                FROM linked GROUP BY url, entity_id),
            per_doc AS (SELECT url, entity_id FROM ent_rank
                        WHERE rn <= {COMENTION_CAP}),
            edges AS (SELECT DISTINCT a.entity_id AS src, b.entity_id AS dst
                      FROM per_doc a JOIN per_doc b
                      ON a.url = b.url AND a.entity_id < b.entity_id),
            sym AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
            nodes AS (SELECT DISTINCT entity_id AS node FROM linked),
            reach AS (
                SELECT node, node AS comp FROM nodes
                UNION
                SELECT s.dst AS node, r.comp FROM reach r JOIN sym s ON s.src = r.node),
            comp AS (SELECT node AS entity_id, min(comp) AS canonical_id FROM reach GROUP BY node),
            canon AS (SELECT l.*, c.canonical_id FROM linked l JOIN comp c USING (entity_id)),
            t_type AS (
                SELECT canonical_id AS subj, 'type' AS pred, ent_type AS obj, url,
                       min(warc_ts) AS warc_ts, round(min(prob), 6) AS prob
                FROM canon GROUP BY url, canonical_id, ent_type),
            t_alias AS (
                SELECT canonical_id AS subj, 'alias' AS pred, mention AS obj, url,
                       min(warc_ts) AS warc_ts, round(min(prob), 6) AS prob
                FROM canon GROUP BY url, canonical_id, mention),
            ent_doc AS (
                SELECT c.url, c.entity_id, c.canonical_id,
                       min(c.warc_ts) AS warc_ts, min(c.prob) AS prob
                FROM canon c JOIN per_doc p
                ON c.url = p.url AND c.entity_id = p.entity_id
                GROUP BY c.url, c.entity_id, c.canonical_id),
            t_edge AS (
                SELECT a.canonical_id AS subj, 'mentioned_with' AS pred,
                       b.canonical_id AS obj, a.url AS url,
                       min(a.warc_ts) AS warc_ts,
                       round(min(least(a.prob, b.prob)), 6) AS prob
                FROM ent_doc a JOIN ent_doc b
                ON a.url = b.url AND a.entity_id < b.entity_id
                GROUP BY a.url, a.canonical_id, b.canonical_id)
            SELECT subj, pred, obj, url, warc_ts, prob FROM t_type
            UNION ALL SELECT subj, pred, obj, url, warc_ts, prob FROM t_alias
            UNION ALL SELECT subj, pred, obj, url, warc_ts, prob FROM t_edge"""


# ---------------------------------------------------------------------------
# shared builders
# ---------------------------------------------------------------------------

def _documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents scan, widened to the session's parallelism: the
    sandbox generator writes ONE parquet row group, which would pin
    every Arrow pass / explode / regex projection downstream to a
    single task (guide §2.5 input skew). At production layouts (input
    pre-split >= cores) the helper is a pure no-op."""
    from qizner_spark.session import ensure_scan_parallelism

    return ensure_scan_parallelism(spark.read.parquet(f"{sf_dir}/documents.parquet"))


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from qizner_spark.session import ensure_scan_parallelism

    return ensure_scan_parallelism(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NOT widened via ensure_scan_parallelism: every events query
    # immediately re-keys (user_id window / groupBy), so a round-robin
    # exchange would just shuffle the table twice — measured 1.2 s ->
    # 2.3 s on events_sessions at sf1.0. The narrow native scan is
    # cheap even single-task; the keyed exchange parallelizes the rest.
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _gazetteer_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        sorted(GAZETTEER_SINGLE.items()), ["mention", "ent_type"]
    )


def _ner_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational gazetteer NER: posexplode tokens + broadcast
    dictionary join — the no-UDF scale path (S1+E5 composition)."""
    docs = _documents(spark, sf_dir)
    toks = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "mention")
    )
    return toks.join(F.broadcast(_gazetteer_df(spark)), "mention").select(
        "doc_id", "pos", "mention", "ent_type"
    )

_NER_TOKS_SQL = (
    "SELECT doc_id, unnest(string_split(text, ' ')) AS mention, "
    "unnest(generate_series(0, len(string_split(text, ' ')) - 1)) AS pos FROM documents"
)

_NER_SQL = f"""
WITH toks AS ({_NER_TOKS_SQL})
SELECT t.doc_id, t.pos, t.mention, gaz.ent_type
FROM toks t JOIN {gazetteer_sql_values()} USING (mention)
"""


def _gazetteer_mentions(spark: SparkSession, sf_dir: str, factory) -> DataFrame:
    """The documents' unflattened mentions from the Arrow detection
    operator with the scorer ``factory`` builds, in ``_ner_mentions``'
    (doc_id, pos, mention, ent_type) shape."""
    from qizner_spark.operators.mentions import detect_mentions

    out = detect_mentions(
        _documents(spark, sf_dir), factory, key_col="doc_id", text_col="text",
        lang_col=None, flat=False,
    )
    return out.select(
        F.col("doc_key").cast("long").alias("doc_id"),
        F.col("start").alias("pos"),
        "mention",
        "ent_type",
    )


def _ner_mentions_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same semantics through the Arrow detection operator (T1/T2 ->
    D3 segment -> gazetteer score -> decode inside one mapInPandas)."""
    return _gazetteer_mentions(spark, sf_dir, _kg_single_factory)


def _ner_seq_crf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BIO + CRF/Viterbi sequence path (M14/M16 + I2 assembly) — same
    emitted mentions as the span path on this dictionary."""
    return _gazetteer_mentions(spark, sf_dir, _kg_seq_factory)


def _alias_dictionary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5 mention<->type frequency dictionary."""
    from qizner_spark.operators.linking import build_alias_dictionary

    return build_alias_dictionary(_ner_mentions(spark, sf_dir)).select(
        "mention", "ent_type", "entity_id", "freq"
    )


def _entity_linking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alias join (unhinted: AQE broadcasts the dictionary when its
    runtime size is small) + per-entity rollup."""
    from qizner_spark.operators.linking import build_alias_dictionary, link_mentions

    mentions = _ner_mentions(spark, sf_dir).withColumn("url", F.col("doc_id").cast("string"))
    alias = build_alias_dictionary(mentions)
    linked = link_mentions(mentions, alias)
    return linked.groupBy("entity_id").agg(
        F.count(F.lit(1)).alias("n_mentions"),
        F.countDistinct("doc_id").alias("n_docs"),
    )


def _unlabeled_occurrences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary diagnostic (reference 没有标注 counter,
    datautils.py:2390-2404): per surface, total corpus substring
    occurrences vs labeled mentions. ONE Aho-Corasick pass per
    document — runtime independent of dictionary size."""
    from qizner_spark.operators.linking import (
        build_alias_dictionary,
        count_unlabeled_occurrences,
    )

    docs = _documents(spark, sf_dir)
    alias = build_alias_dictionary(_ner_mentions(spark, sf_dir))
    return count_unlabeled_occurrences(docs, alias)


def _type_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L15 type merge: OP/EXEC -> OPERATOR, STRUCT -> SCHEMA."""
    m = _ner_mentions(spark, sf_dir)
    expr = F.col("ent_type")
    for k, v in sorted(SUPER_TYPES.items()):
        expr = F.when(F.col("ent_type") == k, F.lit(v)).otherwise(expr)
    return m.withColumn("super_type", expr).groupBy("super_type").agg(
        F.count(F.lit(1)).alias("n_mentions"),
        F.countDistinct("mention").alias("n_surfaces"),
    )


def _eval_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 exact-span eval: deterministic gold/pred perturbations of
    the gazetteer mentions -> per-type tp/fp/fn + P/R/F1."""
    from qizner_spark.operators.evalops import evaluate_mentions_by_type

    m = _ner_mentions(spark, sf_dir).withColumn("sel", (F.col("doc_id") * 31 + F.col("pos")) % 100)
    base = m.select(
        F.col("doc_id").cast("string").alias("doc_key"), "ent_type",
        F.col("pos").alias("start"), (F.col("pos") + 1).alias("end"), "sel",
    )
    gold = base.where(F.col("sel") % 5 != 0).drop("sel")
    pred = base.where(F.col("sel") % 7 != 0).drop("sel")
    out = evaluate_mentions_by_type(pred, gold)
    return out.select(
        "ent_type", "tp", "fp", "fn", "num_preds", "num_golds",
        F.round("precision", 6).alias("precision"),
        F.round("recall", 6).alias("recall"),
        F.round("f1", 6).alias("f1"),
    )


def _eval_tables(spark: SparkSession, sf_dir: str):
    """Deterministic gold/pred/pred2 mention tables for the eval-family
    queries (same perturbation scheme as _eval_prf; pred2 is a second
    'run' for E4; pred rotates types on sel%11 rows so E6's confusion
    matrix has off-diagonal mass)."""
    m = _ner_mentions(spark, sf_dir).withColumn("sel", (F.col("doc_id") * 31 + F.col("pos")) % 100)
    base = m.select(
        F.col("doc_id").cast("string").alias("doc_key"), "ent_type",
        F.col("pos").alias("start"), (F.col("pos") + 1).alias("end"), "sel",
    )
    gold = base.where(F.col("sel") % 5 != 0).drop("sel")
    rotate = (
        F.when(F.col("ent_type") == "OP", "EXEC")
        .when(F.col("ent_type") == "EXEC", "STRUCT")
        .when(F.col("ent_type") == "STRUCT", "ACTOR")
        .otherwise("OP")
    )
    pred = base.where(F.col("sel") % 7 != 0).withColumn(
        "ent_type", F.when(F.col("sel") % 11 == 0, rotate).otherwise(F.col("ent_type"))
    ).drop("sel")
    # run1 (pred2) = gold minus ~1% of rows: most docs replay gold
    # exactly, so E4's "run1 perfect, run2 not" set is non-trivial
    pred2 = base.where((F.col("sel") % 5 != 0) & (F.col("sel") != 97)).drop("sel")
    return gold, pred, pred2


_EVAL_TABLES_SQL = """
            base AS (SELECT CAST(t.doc_id AS VARCHAR) AS doc_key, gaz.ent_type,
                            t.pos AS start, t.pos + 1 AS "end",
                            (t.doc_id * 31 + t.pos) %% 100 AS sel
                     FROM toks t JOIN %s USING (mention)),
            gold AS (SELECT doc_key, ent_type, start, "end" FROM base WHERE sel %% 5 != 0),
            pred AS (SELECT doc_key,
                            CASE WHEN sel %% 11 = 0 THEN
                                 CASE ent_type WHEN 'OP' THEN 'EXEC'
                                               WHEN 'EXEC' THEN 'STRUCT'
                                               WHEN 'STRUCT' THEN 'ACTOR'
                                               ELSE 'OP' END
                                 ELSE ent_type END AS ent_type,
                            start, "end"
                     FROM base WHERE sel %% 7 != 0),
            pred2 AS (SELECT doc_key, ent_type, start, "end" FROM base
                      WHERE sel %% 5 != 0 AND sel != 97)
"""


def _eval_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E6 confusion matrix over boundary-exact matches."""
    from qizner_spark.operators.evalops import confusion_matrix_df

    gold, pred, _ = _eval_tables(spark, sf_dir)
    return confusion_matrix_df(pred, gold)


def _eval_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E7 set-op diagnostics: one labeled count per set operator."""
    from functools import reduce

    from qizner_spark.operators.evalops import mention_set_ops

    gold, pred, _ = _eval_tables(spark, sf_dir)
    d = mention_set_ops(pred, gold)
    labeled = [df.groupBy().agg(F.count(F.lit(1)).alias("n")).select(
        F.lit(k).alias("set_op"), "n") for k, df in sorted(d.items())]
    return reduce(lambda a, b: a.unionByName(b), labeled)


def _eval_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 run-vs-run: docs where run1 (pred2) matches gold exactly but
    run2 (pred) does not."""
    from qizner_spark.operators.evalops import compare_runs_df

    gold, pred, pred2 = _eval_tables(spark, sf_dir)
    return compare_runs_df(pred2, pred, gold)


def _per_doc_entity_array(spark: SparkSession, sf_dir: str,
                          cap: int | None = COMENTION_CAP) -> DataFrame:
    """Capped per-doc DISTINCT entity set as ONE native projection:
    ``slice(sort_array(array_intersect(tokens, gazetteer)), 1, cap)``.

    The relational gazetteer mentions have no prob column, so the KG
    pipeline's cap rank (max prob DESC, entity_id ASC) degenerates to
    entity_id ASC — exactly the sorted array's first ``cap`` elements
    (``_COMENTION_SQL``'s row_number window encodes the same rank).
    The projection replaces a token explode + dictionary join + url
    exchange + groupBy + rank window (four shuffling operators over
    the token/mention tables) with a zero-shuffle narrow projection
    (guide §2.4 "remove shuffles outright"); the closed gazetteer
    inlines as an array literal. The sorted distinct array is the
    input :func:`~qizner_spark.operators.pairs.ordered_pairs` expects.
    Only valid for the PROBLESS relational demos — the kg_* DAGs rank
    by detection prob and keep the operator path."""
    gaz = ", ".join(f"'{m}'" for m in sorted(GAZETTEER_SINGLE))
    ents = f"sort_array(array_intersect(array_distinct(split(text, ' ')), array({gaz})))"
    if cap is not None:
        ents = f"slice({ents}, 1, {cap})"
    return _documents(spark, sf_dir).select(
        F.col("doc_id").alias("url"), F.expr(ents).alias("_ents")
    )


def _comention_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-mention pair counting over the capped per-doc entity set
    (no prob column -> rank degenerates to entity_id ASC, i.e. the
    first COMENTION_CAP mentions alphabetically per doc). Pairs per
    doc are distinct by construction, so the count per (src, dst) is
    the distinct-doc count."""
    from qizner_spark.operators.pairs import ordered_pairs

    return (
        ordered_pairs(_per_doc_entity_array(spark, sf_dir), "_ents")
        .groupBy(F.col("a").alias("src"), F.col("b").alias("dst"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )

def _entity_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity similarity by shared-document Jaccard over the SAME
    capped per-doc entity set the co-mention edge build uses (KG
    read path: "which entities co-occur in largely the same docs")."""
    from qizner_spark.operators.graph import cooccurrence_jaccard

    return cooccurrence_jaccard(_per_doc_entity_array(spark, sf_dir), "_ents")


_COMENTION_SQL = f"""
WITH toks AS ({_NER_TOKS_SQL}),
m0 AS (SELECT DISTINCT t.doc_id, t.mention
       FROM toks t JOIN {gazetteer_sql_values()} USING (mention)),
r AS (SELECT doc_id, mention,
             row_number() OVER (PARTITION BY doc_id ORDER BY mention) AS rn
      FROM m0),
m AS (SELECT doc_id, mention FROM r WHERE rn <= {COMENTION_CAP})
SELECT a.mention AS src, b.mention AS dst, count(*) AS n_docs
FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.mention < b.mention
GROUP BY 1, 2
"""

CC_EDGE_THRESHOLD = 325  # splits the sf0.01 co-mention graph non-trivially


def _connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonicalization: large-star/small-star CC over strong
    co-mention edges; oracle is a recursive CTE."""
    from qizner_spark.operators.graph import assign_components

    edges = _comention_edges(spark, sf_dir).where(F.col("n_docs") >= CC_EDGE_THRESHOLD)
    # node universe = every gazetteer surface occurring anywhere
    # (UNcapped — isolated / capped-out entities stay singletons)
    nodes = _per_doc_entity_array(spark, sf_dir, cap=None) \
        .select(F.explode("_ents").alias("node")).distinct()
    return assign_components(nodes, edges.select("src", "dst"))


def _exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # direct read (no ensure_scan_parallelism): this query is one md5
    # projection + a two-level count aggregate — the partial aggregate
    # collapses everything in the scan task, so a round-robin widen
    # would shuffle the full text column to save sub-100ms of native
    # hashing (measured: the widen cost 0.78 s -> ~1.1 s at sf1.0)
    from qizner_spark.operators.textstats import fingerprint_col

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(fingerprint_col().alias("text_key")).groupBy().agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("text_key").alias("n_distinct"),
    ).select("n_docs", "n_distinct", (F.col("n_docs") - F.col("n_distinct")).alias("n_dup_docs"))


def _combine_by_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D7 group-merge: one row per distinct text."""
    from qizner_spark.operators.textstats import fingerprint_col

    docs = _documents(spark, sf_dir)
    return docs.select(fingerprint_col().alias("text_key"), "doc_id", "n_chars").groupBy("text_key").agg(
        F.min("doc_id").alias("canonical_id"),
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


def _ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from qizner_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(_documents(spark, sf_dir), threshold=0.2, k=3)


def _token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from qizner_spark.operators.textstats import subword_count_col, token_count_col

    return _documents(spark, sf_dir).select(
        "doc_id",
        token_count_col("text").alias("n_tokens"),
        subword_count_col("text").alias("n_subwords"),
    )


def _lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from qizner_spark.operators.textstats import lang_id_col, non_ascii_ratio_col

    return _documents(spark, sf_dir).select(
        "doc_id",
        lang_id_col("text").alias("lang_pred"),
        F.round(non_ascii_ratio_col("text"), 6).alias("non_ascii_ratio"),
    )


def _quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from qizner_spark.operators.textstats import (
        mean_word_len_col, punct_ratio_col, quality_score_col, stopword_ratio_col,
    )

    return _documents(spark, sf_dir).select(
        "doc_id",
        F.round(stopword_ratio_col("text"), 6).alias("stopword_ratio"),
        F.round(punct_ratio_col("text"), 6).alias("punct_ratio"),
        F.round(mean_word_len_col("text"), 6).alias("mean_word_len"),
        quality_score_col("text").alias("quality"),
    )


def _fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from qizner_spark.operators.textstats import fingerprint_col

    return _documents(spark, sf_dir).select("doc_id", fingerprint_col("text").alias("fingerprint"))


def _negative_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 deterministic variant: keep all positives (docs mentioning
    'spark') + hash-selected negatives (reference uses random.sample;
    multiplicative hashing makes it oracle-checkable)."""
    docs = _documents(spark, sf_dir)
    is_pos = F.array_contains(F.split("text", " "), "spark")
    keep_neg = (F.col("doc_id") * 2654435761) % 10 < 3
    return (
        docs.select("doc_id", is_pos.cast("int").alias("is_positive"), keep_neg.alias("kn"))
        .where((F.col("is_positive") == 1) | F.col("kn"))
        .select("doc_id", "is_positive")
    )


def _similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from qizner_spark.operators.similarity import brute_force_topk

    emb = _embeddings(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < 5)
    return brute_force_topk(emb, queries, k=10).select("query_id", "nbr_id", "rank")


def _events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function demo (SURVEY §2.9 windows): sessionize events
    per user at a 30-minute gap."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts")
    # ts is TIMESTAMP_NTZ; session tz is UTC so the epoch matches
    # DuckDB's epoch() on the same values
    epoch = F.col("ts").cast("timestamp").cast("long")
    gap = epoch - F.lag(epoch).over(w)
    sess = ev.withColumn("new_sess", (gap.isNull() | (gap > 1800)).cast("int"))
    # total_value: sum in DECIMAL so the result is order-independent
    # (double summation differs in the last digit across partition
    # orders/engines), then back to double for the hash compare.
    return sess.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("new_sess").alias("n_sessions"),
        F.round(F.sum(F.col("value").cast("decimal(18,6)")), 3)
        .cast("double").alias("total_value"),
    )


def _events_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF JOIN (time-series): each click attaches the user's
    latest purchase at-or-before it. Spark lacks the primitive; the
    operator is the union+window formulation (two key shuffles, no
    range-join pair explosion). Oracle: DuckDB's native ASOF JOIN."""
    from qizner_spark.operators.relational import asof_join_backward

    ev = _events(spark, sf_dir)
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "ts"
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts",
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("purchase_value"),
    )
    out = asof_join_backward(clicks, purchases, on="user_id", ts_col="ts",
                             tiebreak="purchase_id")
    return out.select(
        "click_id", "user_id",
        F.coalesce("purchase_id", F.lit(-1)).alias("purchase_id"),
        F.coalesce("purchase_value", F.lit(-1.0)).alias("purchase_value"),
    )


def _events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup (user x event_type -> user -> grand total)
    — the hypertable-rollup shape on the events table."""
    ev = _events(spark, sf_dir)
    return (
        ev.rollup("user_id", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")), 3)
            .cast("double").alias("total_value"),
        )
        .select(
            F.coalesce("user_id", F.lit(-1)).alias("user_id"),
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            "n_events", "total_value",
        )
    )


def _q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: the fact table joins a broadcast dimension
    chain (region -> nation) while the fact-fact joins shuffle."""
    region = spark.read.parquet(f"{sf_dir}/region.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    supplier = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    n_asia = nation.join(
        F.broadcast(region.where(F.col("r_name") == "ASIA")),
        nation["n_regionkey"] == F.col("r_regionkey"),
    ).select("n_nationkey", "n_name")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(customer, orders["o_custkey"] == customer["c_custkey"])
        .join(supplier, li["l_suppkey"] == supplier["s_suppkey"])
        .where(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(n_asia), F.col("s_nationkey") == F.col("n_nationkey"))
        .where(
            (F.col("o_orderdate") >= F.lit("1996-01-01"))
            & (F.col("o_orderdate") < F.lit("1997-01-01"))
        )
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


def _order_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi/anti-join coverage (SURVEY §2.9 set-ops at relational
    level): per market segment, customers WITH at least one order
    (left_semi) vs customers with NONE (left_anti). Both joins keep
    the probe side narrow — no payload duplication, no row blow-up;
    the anti-join is the same shape the resume path uses
    (plans/checkpoint.py pending_only)."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet") \
        .select(F.col("o_custkey").alias("c_custkey"))
    with_orders = cust.join(orders, "c_custkey", "left_semi") \
        .groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("n_with_orders"))
    without = cust.join(orders, "c_custkey", "left_anti") \
        .groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("n_without_orders"))
    return (
        cust.groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("n_customers"))
        .join(with_orders, "c_mktsegment", "left")
        .join(without, "c_mktsegment", "left")
        .select(
            "c_mktsegment", "n_customers",
            F.coalesce("n_with_orders", F.lit(0)).alias("n_with_orders"),
            F.coalesce("n_without_orders", F.lit(0)).alias("n_without_orders"),
        )
    )


def _top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-N (window rank per key — q3_topk is GLOBAL
    top-k; this is the per-key variant): each customer's 2 highest
    orders by price. One shuffle on the window key; rank/key output
    only (floats stay out of the hash)."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 2)
        .select("o_custkey", "rnk", "o_orderkey")
    )


def _tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus keyword extraction: top-3 TF-IDF terms per document.
    Output carries only INTEGER evidence columns (tf, df) + the rank
    — the float score drives ordering only, keeping the hash surface
    engine-exact."""
    from qizner_spark.operators.textstats import tfidf_top_terms

    return tfidf_top_terms(_documents(spark, sf_dir), k=3)


def _comention_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative graph algorithm as a DataFrame loop: 3 PageRank
    rounds over the capped co-mention graph (damping 0.85). The
    oracle unrolls the same three iterations as chained CTEs with
    bit-identical float arithmetic ((1.0 - 0.85)/n, not a 0.15
    literal — they differ in the last ulp). Global rank window is
    fine at 24 nodes; at scale rank per partition or top-k."""
    from qizner_spark.operators.graph import pagerank
    from qizner_spark.operators.pairs import ordered_pairs

    edges = ordered_pairs(_per_doc_entity_array(spark, sf_dir), "_ents") \
        .select(F.col("a").alias("src"), F.col("b").alias("dst")).distinct()
    pr = pagerank(edges, damping=0.85, iterations=3)
    w = Window.orderBy(F.desc("pr"), F.asc("node"))
    return pr.select(
        "node", F.round("pr", 6).alias("pr")
    ).withColumn("rnk", F.row_number().over(w))


def _q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (bidirectional nation-pair trade volume by
    year): two independent broadcast-dim chains (supplier->nation,
    customer->nation) hang off the fact-fact l⋈o shuffle join; the
    OR'd pair filter lands AFTER both dims attach. Exercises the
    multi-dimension snowflake the KG provenance queries take at
    warehouse scale."""
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    supplier = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    supp_n = supplier.join(
        F.broadcast(nation), supplier["s_nationkey"] == nation["n_nationkey"]
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    cust_n = customer.join(
        F.broadcast(nation), customer["c_nationkey"] == nation["n_nationkey"]
    ).select("c_custkey", F.col("n_name").alias("cust_nation"))
    pair = (
        ((F.col("supp_nation") == "NATION_13") & (F.col("cust_nation") == "NATION_19"))
        | ((F.col("supp_nation") == "NATION_19") & (F.col("cust_nation") == "NATION_13"))
    )
    # supp_n/cust_n stay UNHINTED: supplier/customer scale with SF
    # (only the 25-row nation dim above is force-broadcast); AQE
    # broadcasts them at sandbox scale, shuffles them at warehouse
    # scale — the broadcast-guard doctrine everywhere in this repo
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust_n, orders["o_custkey"] == cust_n["c_custkey"])
        .join(supp_n, li["l_suppkey"] == supp_n["s_suppkey"])
        .where(pair)
        .where((F.col("l_shipdate") >= F.lit("1996-01-01"))
               & (F.col("l_shipdate") < F.lit("1999-01-01")))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(
                F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount")))
                      .cast("decimal(18,6)")), 2
            ).cast("double").alias("revenue"),
        )
    )


def _cumulative_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running total per customer (ROWS UNBOUNDED PRECEDING window)
    — the cumulative-aggregate shape. DECIMAL inside the window sum:
    windowed float sums are evaluated in engine-specific association
    order (segment trees vs running), decimal is order-exact."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.asc("o_orderdate"), F.asc("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey", "o_orderkey",
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,6)")).over(w), 2)
        .cast("double").alias("cum_spend"),
    )


def _events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: long events -> one row per user cohort with one count
    column per event type. The value list is EXPLICIT, so no extra
    distinct pass runs to discover columns (at 10^12 rows that
    discovery scan is a full extra job)."""
    ev = _events(spark, sf_dir)
    types = ["click", "error", "purchase", "signup", "view"]
    return (
        ev.withColumn("cohort", F.pmod(F.col("user_id"), F.lit(10)))
        .groupBy("cohort")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .na.fill(0, types)
    )


def _order_value_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution stats per segment: exact interpolated median
    (percentile_cont semantics) + sample stddev. Rounding absorbs
    engine summation-order noise; the mean is derived from an exact
    DECIMAL sum so it hashes identically."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    # unhinted: the customer dim is NOT bounded at warehouse scale
    # (15M x SF rows) — AQE broadcasts it exactly when it fits
    joined = orders.join(cust.select("c_custkey", "c_mktsegment"),
                         orders["o_custkey"] == F.col("c_custkey"))
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,6)")).alias("_sum"),
            # interpolate over integer CENTS: the two-middle-values
            # midpoint is then exact in double for BOTH engines —
            # interpolating raw doubles differs in the last ulp
            # ((a+b)/2 vs a+(b-a)*0.5) and flips a rounding boundary
            F.round(
                F.expr("percentile(cast(round(o_totalprice * 100) as bigint), 0.5)")
                / 100, 2
            ).alias("median_price"),
            F.round(F.stddev_samp("o_totalprice"), 2).alias("stddev_price"),
        )
        .select(
            "c_mktsegment", "n_orders",
            F.round(F.col("_sum").cast("double") / F.col("n_orders"), 4)
            .alias("avg_price"),
            "median_price", "stddev_price",
        )
    )


def _min_price_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmin join-back (TPC-H Q2 shape, lineitem standing in for
    partsupp): per part, the supplier(s) quoting the minimum price.
    The groupBy and the join-back share the l_partkey key, so the
    aggregation's exchange is reused by the join — one shuffle of the
    fact table total; min over stored doubles is a SELECTION (no
    arithmetic), so the equality filter is engine-exact. Supplier and
    part dims stay unhinted (AQE broadcasts them when genuinely
    small)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet") \
        .select("l_partkey", "l_suppkey", "l_extendedprice")
    supplier = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    minp = li.groupBy("l_partkey").agg(
        F.min("l_extendedprice").alias("min_price")
    )
    best = (
        li.join(minp, "l_partkey")
        .where(F.col("l_extendedprice") == F.col("min_price"))
        .select("l_partkey", "l_suppkey", "min_price")
        .distinct()
    )
    return (
        best.join(part, best["l_partkey"] == part["p_partkey"])
        .join(supplier, best["l_suppkey"] == supplier["s_suppkey"])
        .select(
            "p_partkey", "p_name", "s_name",
            F.round(F.col("min_price") * 100).cast("long").alias("min_price_cents"),
        )
    )


def _stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based stratified sampling — the
    training-data-pipeline op for per-language/per-domain corpus
    subsampling where the sample must be STABLE under reprocessing
    (random seeds drift across partitionings; an md5 rank never
    does): keep the ceil(10%) lowest-hashed rows per stratum. One
    exchange on the stratum key serves both windows (unordered count
    + ordered row_number).

    REGIME NOTE: the rank window puts an entire stratum in one task —
    exact, and right for bounded strata (eval sets, per-corpus
    splits). The 10^12-row path is ``hash_sample`` /
    :func:`qizner_spark.operators.sampling.hash_threshold_sample`
    (pure narrow md5-cutoff filter, ~frac per stratum, no sort)."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    w_n = Window.partitionBy("o_orderpriority")
    w_rn = Window.partitionBy("o_orderpriority").orderBy(
        F.col("_h").asc(), F.col("o_orderkey").asc()
    )
    return (
        orders.select(
            "o_orderkey", "o_orderpriority",
            F.md5(F.col("o_orderkey").cast("string")).alias("_h"),
        )
        .withColumn("_n", F.count(F.lit(1)).over(w_n))
        .withColumn("rnk", F.row_number().over(w_rn))
        .where(F.col("rnk") <= F.ceil(F.col("_n") * F.lit(0.1)))
        .select("o_orderpriority", "rnk", "o_orderkey")
    )


def _hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sampling SCALE PATH as a driver query: md5-cutoff filter
    (no shuffle, no sort, no per-stratum state — every stratum lands
    at ~frac automatically). Oracle = the identical md5 string
    compare in DuckDB; both engines hash the same decimal string, so
    the kept set is bit-identical."""
    from qizner_spark.operators.sampling import hash_threshold_sample

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return hash_threshold_sample(orders, "o_orderkey", 0.1).select(
        "o_orderpriority", "o_orderkey"
    )


def _priority_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum quantile buckets: ntile(4) within each order
    priority (deterministic total order: price then key), then
    per-bucket counts and exact integer-cents sums. The window
    PARTITIONS on the stratum key — never a global single-partition
    sort, which is the ntile anti-pattern at scale.

    REGIME NOTE: a stratum window is still ONE task's sort — exact
    ntile is for bounded strata. A stratum too large for one task
    needs sketch boundaries instead (``percentile_approx`` per
    stratum, then bucketize by comparison, no sort); no query asks
    for that path, so the engine does not carry it."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").asc(), F.col("o_orderkey").asc()
    )
    return (
        orders.select(
            "o_orderpriority",
            F.ntile(4).over(w).alias("quartile"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("_cents"),
        )
        .groupBy("o_orderpriority", "quartile")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("_cents").alias("sum_cents"),
            F.min("_cents").alias("min_cents"),
            F.max("_cents").alias("max_cents"),
        )
    )


def _q1_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def _q6_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape — the canonical PREDICATE-PUSHDOWN query: all
    four filters are scan-level conjuncts that must reach the parquet
    reader as PushedFilters (locked by
    tests/test_plan_shape.py::test_q6_filters_reach_the_scan), so at
    10^12 rows row groups outside the date/discount/quantity ranges
    never leave the files. Revenue terms are cast DECIMAL(18,6)
    before the sum — order-independent addition, so the result is
    bit-stable under any partitioning (a raw double sum flips its
    last ulp with partition count)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    term = (F.col("l_extendedprice") * F.col("l_discount")).cast("decimal(18,6)")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
            & (F.col("l_discount") >= 0.05) & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(term), 2).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def _q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape — aggregate-of-aggregate histogram: per-
    customer order counts (LEFT join keeps zero-order customers as
    count 0), then the distribution of those counts. Two groupBys
    where the second input is |customers| rows of two ints — the
    histogram stage is negligible at any scale; the left join is the
    only real shuffle and both sides are key-partitioned."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    per_cust = (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


def _q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape — HAVING-subquery join: aggregate lineitem to
    per-order totals FIRST (map-side-combined groupBy collapses ~4-7
    rows per key before any join), filter to the rare heavy orders,
    then join back to orders/customer. The selective aggregate-then-
    join ordering is the point at scale: joining first would carry
    every lineitem row through the orders join only to discard >97%
    at the HAVING. Quantities are integral doubles, so the sums are
    exact and cast to BIGINT losslessly."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").cast("bigint").alias("total_qty"))
        .where(F.col("total_qty") > 200)
    )
    return (
        big.join(orders, big["l_orderkey"] == orders["o_orderkey"])
        .select(
            F.col("o_custkey").alias("c_custkey"),
            F.col("o_orderkey"),
            F.col("total_qty"),
        )
    )


def _q3_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust.where(F.col("c_mktsegment") == "BUILDING")),
              orders["o_custkey"] == F.col("c_custkey"))
        .groupBy("l_orderkey")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


# ------- fuzzy dedup / ANN family (md5-prefix hashing = oracle-able) -------

def _minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark import StorageLevel

    from qizner_spark.operators.dedup import minhash_dedup_pairs, minhash_signatures

    # the pair plan reads the signatures three times (cache ownership:
    # see minhash_dedup_pairs)
    sigs = minhash_signatures(_documents(spark, sf_dir)).persist(StorageLevel.MEMORY_AND_DISK)
    sigs.count()
    _rotate_persisted("minhash_dedup", sigs.unpersist)
    return minhash_dedup_pairs(sigs, threshold=0.5)


def _simhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from qizner_spark.operators.dedup import simhash_near_pairs, simhash_signatures

    return simhash_near_pairs(simhash_signatures(_documents(spark, sf_dir)), max_hamming=10)


def _embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Testdata embeddings are near-orthogonal (max pair cosine ~0.51
    at sf0.01), so the threshold sits where real candidate pairs
    exist; planted-duplicate semantics are pytest-verified."""
    from qizner_spark.operators.dedup import embedding_near_dup_pairs

    emb = _embeddings(spark, sf_dir)
    return embedding_near_dup_pairs(emb, threshold=0.35, dim=64, n_planes=4)


def _ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from qizner_spark.operators.similarity import ann_topk

    emb = _embeddings(spark, sf_dir)
    # rank only: cosine's last ulp may differ between engines; the
    # 5-row query set meets ann_topk's bounded-queries precondition
    return ann_topk(emb, emb.where(F.col("vec_id") < 5), k=10, n_planes=4, dim=64) \
        .select("query_id", "nbr_id", "rank")


def _ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall GATE for the approximate retrieval family: hits@10 of
    the LSH multiprobe ANN against the exact brute-force top-10, per
    query over 50 queries. Measures the approximation's QUALITY, not
    just its spec — the analog of the reference's
    predict-vs-fast_predict quality sweep (train_ner.py:1136-1191).
    Probe depth 3 is the recall>=0.9 configuration ON THIS
    near-orthogonal testdata (full recall/cost sweep:
    BENCH/RECALL.md); planted near-dups reach recall ~1 at depth 1
    (tests/test_recall.py)."""
    from qizner_spark.operators.similarity import ann_topk, brute_force_topk

    emb = _embeddings(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < 50)
    ann = ann_topk(emb, queries, k=10, n_planes=4, dim=64,
                   multiprobe_bits=3).select("query_id", "nbr_id")
    exact = brute_force_topk(emb, queries, k=10).select("query_id", "nbr_id")
    hits = exact.join(ann, ["query_id", "nbr_id"]).groupBy("query_id").agg(
        F.count(F.lit(1)).alias("hits_at_10")
    )
    return (
        exact.select("query_id").distinct()
        .join(hits, "query_id", "left")
        .select("query_id", F.coalesce("hits_at_10", F.lit(0)).alias("hits_at_10"))
    )


def _near_dup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pair recall of the hyperplane-bucketed near-dup candidate rule
    against the EXACT cosine-threshold pair set (one summary row:
    n_exact / n_candidates / n_hits)."""
    from qizner_spark.operators.dedup import embedding_near_dup_pairs
    from qizner_spark.operators.similarity import exact_cosine_pairs

    emb = _embeddings(spark, sf_dir)
    exact = exact_cosine_pairs(emb, threshold=0.35).select("id_a", "id_b")
    cand = embedding_near_dup_pairs(emb, threshold=0.35, dim=64, n_planes=4,
                                    max_hamming=3).select("id_a", "id_b")
    hit = exact.join(cand, ["id_a", "id_b"])
    return exact.agg(F.count(F.lit(1)).alias("n_exact")).crossJoin(
        cand.agg(F.count(F.lit(1)).alias("n_candidates"))
    ).crossJoin(hit.agg(F.count(F.lit(1)).alias("n_hits")))


def _multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow decode UDF -> scalar columns only: the driver's
    canonicalizer sorts a pandas frame, so ARRAY columns (unhashable
    lists) crash it — project the 16 histogram bins as int columns."""
    from qizner_spark.operators.multimodal import N_BINS, attach_fake_media, extract_features

    feats = extract_features(attach_fake_media(_documents(spark, sf_dir)))
    bins = [F.element_at("counts", i + 1).alias(f"bin{i:02d}") for i in range(N_BINS)]
    return feats.select("media_id", "kind", *bins, "width", "height")


def _raw_offset_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4/D8 at the driver surface: raw text -> zheng_process offset
    maps -> token-space gazetteer detection -> mentions_to_raw
    restores raw character offsets; raw_slice re-reads the verbatim
    raw string at those offsets (byte-identity witness)."""
    from qizner_spark.operators.mentions import detect_mentions_raw

    out = detect_mentions_raw(
        _documents(spark, sf_dir), _kg_single_factory, key_col="doc_id"
    )
    return out.select(
        F.col("doc_key").cast("long").alias("doc_id"),
        "ent_type", "raw_start", "raw_end", "mention", "raw_slice",
        F.round(F.col("prob").cast("double"), 6).alias("prob"),
    )


def _full_gaz_factory():
    from qizner_spark.core.scoring import GazetteerScorer

    return GazetteerScorer(GAZETTEER_FULL, token_deli=" ")


def _detect_full(spark: SparkSession, sf_dir: str, flat: bool) -> DataFrame:
    """FULL-gazetteer detection (multi-token surfaces -> true span
    enumeration, L3/L6) through the Arrow operator; ``flat`` toggles
    the prob-greedy flatten (L10)."""
    from qizner_spark.operators.mentions import detect_mentions

    out = detect_mentions(
        _documents(spark, sf_dir), _full_gaz_factory,
        key_col="doc_id", text_col="text", lang_col=None, flat=flat,
    )
    return out.select(
        F.col("doc_key").cast("long").alias("doc_id"),
        "start", "end", "mention", "ent_type",
        F.round(F.col("prob").cast("double"), 6).alias("prob"),
    )


def _full_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-token span detection BEFORE flattening: overlapping
    nested spans are all emitted (e.g. 'hash', 'join', 'hash join')."""
    return _detect_full(spark, sf_dir, flat=False)


def _flat_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-token detection AFTER the prob-greedy flatten: the
    surviving spans are mutually non-overlapping per document."""
    return _detect_full(spark, sf_dir, flat=True)


#: release callbacks for the caches of the PREVIOUS invocation of each
#: repeatable query, run on the next call. The engine's persists (the
#: KG build's ``KGStages``, the dedup signatures) are caller-owned; a
#: long-lived session re-running queries (bench sweeps, notebooks)
#: would otherwise accumulate cached blocks until LRU pressure. This
#: releases MEMORY between invocations — it never carries results
#: across runs (each call rebuilds its plan from the parquet inputs).
_PERSIST_REGISTRY: dict[str, Callable[[], None]] = {}


def _rotate_persisted(key: str, release: Callable[[], None]) -> None:
    previous = _PERSIST_REGISTRY.get(key)
    if previous is not None:
        try:
            previous()
        except Exception:
            pass  # session gone / already released
    _PERSIST_REGISTRY[key] = release


def _kg_single_factory():
    from qizner_spark.core.scoring import GazetteerScorer

    return GazetteerScorer(GAZETTEER_SINGLE, token_deli=" ")


def _kg_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship DAG with the SINGLE-token gazetteer: every stage
    (detection, linking, co-mention, CC, triple assembly) is then
    SQL-expressible, so the whole chain gets a DuckDB oracle.
    warc_ts -> epoch long and prob -> rounded double for engine-
    neutral hashing."""
    return _kg_build_triples(spark, sf_dir, _kg_single_factory, "kg_triples")


def _kg_build_triples(spark: SparkSession, sf_dir: str, factory, reg_key: str) -> DataFrame:
    from qizner_spark.plans.pipeline import build_kg_from_sf_dir

    # broadcast_alias=True: the dictionary is the bounded curated
    # gazetteer, so the public ``linked`` stage may force-broadcast it.
    # The triples do not read that join (they link by projection, see
    # assemble_kg), so the flag leaves this query's plan unchanged.
    stages = build_kg_from_sf_dir(spark, sf_dir, scorer_factory=factory,
                                  broadcast_alias=True,
                                  max_entities_per_doc=COMENTION_CAP)
    _rotate_persisted(reg_key, stages.release)
    return stages["triples"].select(
        "subj", "pred", "obj", "url",
        F.col("warc_ts").cast("long").alias("warc_ts"),
        F.round(F.col("prob").cast("double"), 6).alias("prob"),
    )


def _kg_triples_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship DAG with the FULL gazetteer (multi-token surfaces ->
    true span detection + prob-greedy flattening, L3/L6/L10). Oracled
    end-to-end: k-gram dictionary spans + the recursive greedy-flatten
    CTE feed the same linking/CC/triple chain as kg_triples."""
    return _kg_build_triples(spark, sf_dir, None, "kg_triples_full")


def _kg_seq_factory():
    from qizner_spark.core.scoring import GazetteerSeqScorer

    return GazetteerSeqScorer(GAZETTEER_SINGLE)


def _kg_triples_seq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star parity: the reference's SECOND model family — BIO
    sequence labeling with CRF/Viterbi decoding (M14/M16 + I2
    assembly) — driving the SAME end-to-end KG DAG as the span path.
    Detection swaps scorer families inside the one mapInPandas;
    every downstream stage (linking, co-mention, CC, triple assembly)
    is untouched — the pipeline is detection-family agnostic by
    construction. Mention prob is the seq path's mean
    emission-softmax constant (see ``_seq_prob_const``), so the
    oracle is the kg_triples SQL over seq-prob gazetteer VALUES."""
    return _kg_build_triples(spark, sf_dir, _kg_seq_factory, "kg_triples_seq")


def _entity_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The KG READ path: per (canonical entity, predicate), the
    triple count, distinct source-doc and distinct-object counts, and
    first/last observation — the rollup a downstream KG consumer runs
    against the triple table (recomputed through the DAG here so the
    driver can verify it standalone; in production it reads the
    materialized sink). One groupBy keyed on subj+pred — subj is the
    sink's partition bucket key, so at scale the rollup is
    partition-local until the final combine. Oracle: the kg_triples
    batch SQL wrapped as a subquery."""
    t = _kg_triples(spark, sf_dir)
    return t.groupBy("subj", "pred").agg(
        F.count(F.lit(1)).alias("n_triples"),
        F.countDistinct("url").alias("n_docs"),
        F.countDistinct("obj").alias("n_objects"),
        F.min("warc_ts").alias("first_seen"),
        F.max("warc_ts").alias("last_seen"),
    )


def _kg_stream_increments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL-equals-batch, hash-verified: the pages table lands
    as three single-file parquet drops, Structured Streaming
    (maxFilesPerTrigger=1) runs the per-document detection stage one
    micro-batch per drop appending to a mention staging sink
    exactly-once, and the corpus-global compaction (assemble_kg:
    alias -> link -> co-mention -> CC -> triples) runs over the
    ACCUMULATED sink. The oracle is LITERALLY the kg_triples batch
    oracle — the streaming path must reproduce the batch DAG
    bit-for-bit (same gazetteer scorer, the same per-page detection
    step, same per-doc entity cap)."""
    import os
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    from qizner_spark.sources.pages import pages_from_documents
    from qizner_spark.streaming.pipeline import stream_kg_increments

    work = tempfile.mkdtemp(prefix="qizner_kg_stream_")
    input_dir = os.path.join(work, "pages_in")
    os.makedirs(input_dir)
    pdf = pages_from_documents(spark, sf_dir).toPandas() \
        .sort_values("url", kind="mergesort").reset_index(drop=True)
    tbl = pa.Table.from_pandas(pdf, preserve_index=False)
    ts_idx = tbl.schema.get_field_index("warc_ts")
    tbl = tbl.set_column(
        ts_idx, "warc_ts", tbl.column("warc_ts").cast(pa.timestamp("us"))
    )
    n_files = 3
    for b in range(n_files):
        part = tbl.take(list(range(b, tbl.num_rows, n_files)))
        path = os.path.join(input_dir, f"drop-{b}.parquet")
        pq.write_table(part, path)
        os.utime(path, (1_000_000 + b * 10, 1_000_000 + b * 10))
    out = stream_kg_increments(
        spark, input_dir, work, scorer_factory=_kg_single_factory,
        assemble_kw=dict(broadcast_alias=True,
                         max_entities_per_doc=COMENTION_CAP),
    )
    _rotate_persisted("kg_stream_increments", out.release)
    return out["triples"].select(
        "subj", "pred", "obj", "url",
        F.col("warc_ts").cast("long").alias("warc_ts"),
        F.round(F.col("prob").cast("double"), 6).alias("prob"),
    )


# ---------------------------------------------------------------------------
# contract
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full KG-construction DAG on sf0.001 -> triples."""
    return _kg_triples_full(spark, SF0001)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # NER / label space (S1, T1/T2, L6, M16, I2)
        "ner_mentions": _ner_mentions,
        "ner_mentions_udf": _ner_mentions_udf,
        "ner_seq_crf": _ner_seq_crf,
        # KG stages (E5, linking, L15, CC)
        "alias_dictionary": _alias_dictionary,
        "entity_linking": _entity_linking,
        "unlabeled_occurrences": _unlabeled_occurrences,
        "type_convert": _type_convert,
        "comention_edges": _comention_edges,
        "entity_jaccard": _entity_jaccard,
        "connected_components": _connected_components,
        # evaluation (E1, E4, E6, E7)
        "eval_prf": _eval_prf,
        "eval_confusion": _eval_confusion,
        "eval_set_ops": _eval_set_ops,
        "eval_compare": _eval_compare,
        # dedup family (L13/D7 + fuzzy)
        "exact_dedup": _exact_dedup,
        "combine_by_text": _combine_by_text,
        "ngram_jaccard": _ngram_jaccard,
        "minhash_dedup": _minhash_dedup,
        "simhash_dedup": _simhash_dedup,
        "embedding_near_dup": _embedding_near_dup,
        # similarity search
        "similarity_topk": _similarity_topk,
        "ann_topk": _ann_topk,
        # recall gates: approximate retrieval vs its exact baseline
        "ann_recall": _ann_recall,
        "near_dup_recall": _near_dup_recall,
        # text analysis
        "token_counts": _token_counts,
        "lang_id": _lang_id,
        "quality_scores": _quality,
        "doc_fingerprints": _fingerprints,
        # sampling (P1)
        "negative_sample": _negative_sample,
        # relational view (§2.9: aggs, joins, windows, top-k,
        # as-of join, rollup)
        "events_sessions": _events_sessions,
        "events_asof": _events_asof,
        "events_rollup": _events_rollup,
        "q1_pricing": _q1_pricing,
        "q3_topk": _q3_topk,
        "q6_forecast": _q6_forecast,
        "q13_order_distribution": _q13_order_distribution,
        "q18_large_orders": _q18_large_orders,
        "q5_region_revenue": _q5_region_revenue,
        "order_coverage": _order_coverage,
        "top_orders_per_customer": _top_orders_per_customer,
        "q7_nation_volume": _q7_nation_volume,
        "cumulative_revenue": _cumulative_revenue,
        "events_pivot": _events_pivot,
        "order_value_stats": _order_value_stats,
        "min_price_supplier": _min_price_supplier,
        "stratified_sample": _stratified_sample,
        "hash_sample": _hash_sample,
        "priority_quartiles": _priority_quartiles,
        "tfidf_top_terms": _tfidf_top_terms,
        "comention_pagerank": _comention_pagerank,
        # multi-token span detection + prob-greedy flatten (L3/L10)
        "full_mentions": _full_mentions,
        "flat_mentions": _flat_mentions,
        # raw-text offset maps (T4/D8)
        "raw_offset_mentions": _raw_offset_mentions,
        # multimodal + flagship
        "multimodal_features": _multimodal_features,
        "kg_triples": _kg_triples,
        "kg_triples_full": _kg_triples_full,
        "kg_triples_seq": _kg_triples_seq,
        "kg_stream_increments": _kg_stream_increments,
        "entity_summary": _entity_summary,
    }


def oracle_sql() -> dict[str, str]:
    gaz = gazetteer_sql_values()
    toks = _NER_TOKS_SQL
    norm = "md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))"
    shingles = (
        "SELECT doc_id, list_distinct(list_transform("
        "  generate_series(0, greatest(len(string_split(text,' ')) - 3, 0)),"
        "  i -> array_to_string(list_slice(string_split(text,' '), i + 1, i + 3), ' '))) AS sh "
        "FROM documents"
    )
    sql = {
        "ner_mentions": _NER_SQL,
        "ner_mentions_udf": _NER_SQL,
        "ner_seq_crf": _NER_SQL,
        "alias_dictionary": f"""
            WITH toks AS ({toks}),
            m AS (SELECT t.doc_id, t.mention, gaz.ent_type FROM toks t JOIN {gaz} USING (mention))
            SELECT mention, ent_type,
                   'kb:' || ent_type || ':' || lower(mention) AS entity_id,
                   count(*) AS freq
            FROM m GROUP BY 1, 2
        """,
        "entity_linking": f"""
            WITH toks AS ({toks}),
            m AS (SELECT t.doc_id, t.mention, gaz.ent_type FROM toks t JOIN {gaz} USING (mention))
            SELECT 'kb:' || ent_type || ':' || lower(mention) AS entity_id,
                   count(*) AS n_mentions, count(DISTINCT doc_id) AS n_docs
            FROM m GROUP BY 1
        """,
        "unlabeled_occurrences": f"""
            WITH toks AS ({toks}),
            m AS (SELECT t.doc_id, t.mention FROM toks t JOIN {gaz} USING (mention)),
            labeled AS (SELECT mention, count(*) AS labeled FROM m GROUP BY 1),
            tot AS (SELECT l.mention,
                           CAST(sum((length(d.text) - length(replace(d.text, l.mention, '')))
                                    // length(l.mention)) AS BIGINT) AS total_occurrences
                    FROM (SELECT DISTINCT mention FROM labeled) l
                    CROSS JOIN documents d
                    GROUP BY 1)
            SELECT l.mention,
                   coalesce(t.total_occurrences, 0) AS total_occurrences,
                   l.labeled,
                   coalesce(t.total_occurrences, 0) - l.labeled AS unlabeled
            FROM labeled l LEFT JOIN tot t USING (mention)
        """,
        "type_convert": f"""
            WITH toks AS ({toks}),
            m AS (SELECT t.doc_id, t.mention, gaz.ent_type FROM toks t JOIN {gaz} USING (mention))
            SELECT CASE WHEN ent_type IN ('OP', 'EXEC') THEN 'OPERATOR'
                        WHEN ent_type = 'STRUCT' THEN 'SCHEMA'
                        ELSE ent_type END AS super_type,
                   count(*) AS n_mentions, count(DISTINCT mention) AS n_surfaces
            FROM m GROUP BY 1
        """,
        "eval_prf": f"""
            WITH toks AS ({toks}),
            m AS (SELECT t.doc_id, t.pos, gaz.ent_type, (t.doc_id * 31 + t.pos) % 100 AS sel
                  FROM toks t JOIN {gaz} USING (mention)),
            gold AS (SELECT doc_id, pos, ent_type FROM m WHERE sel % 5 != 0),
            pred AS (SELECT doc_id, pos, ent_type FROM m WHERE sel % 7 != 0),
            j AS (SELECT coalesce(p.ent_type, gd.ent_type) AS ent_type,
                         CASE WHEN p.doc_id IS NOT NULL THEN 1 ELSE 0 END AS in_pred,
                         CASE WHEN gd.doc_id IS NOT NULL THEN 1 ELSE 0 END AS in_gold
                  FROM pred p FULL OUTER JOIN gold gd
                  ON p.doc_id = gd.doc_id AND p.pos = gd.pos AND p.ent_type = gd.ent_type),
            c AS (SELECT ent_type,
                         cast(sum(in_pred * in_gold) AS DOUBLE) AS tp,
                         cast(sum(in_pred * (1 - in_gold)) AS DOUBLE) AS fp,
                         cast(sum((1 - in_pred) * in_gold) AS DOUBLE) AS fn
                  FROM j GROUP BY 1)
            SELECT ent_type, tp, fp, fn, tp + fp AS num_preds, tp + fn AS num_golds,
                   round(tp / (tp + fp + 1e-10), 6) AS precision,
                   round(tp / (tp + fn + 1e-10), 6) AS recall,
                   round((2.0 * (tp / (tp + fp + 1e-10)) * (tp / (tp + fn + 1e-10)))
                         / ((tp / (tp + fp + 1e-10)) + (tp / (tp + fn + 1e-10)) + 1e-10), 6) AS f1
            FROM c
        """,
        "eval_confusion": f"""
            WITH toks AS ({toks}),
            {_EVAL_TABLES_SQL % gaz}
            SELECT coalesce(g.ent_type, 'O') AS gold_type,
                   coalesce(p.ent_type, 'O') AS pred_type,
                   count(*) AS n
            FROM pred p FULL OUTER JOIN gold g
            ON p.doc_key = g.doc_key AND p.start = g.start AND p."end" = g."end"
            GROUP BY 1, 2
        """,
        "eval_set_ops": f"""
            WITH toks AS ({toks}),
            {_EVAL_TABLES_SQL % gaz}
            SELECT 'a_only' AS set_op, count(*) AS n
            FROM (SELECT * FROM pred EXCEPT SELECT * FROM gold)
            UNION ALL SELECT 'b_only', count(*)
            FROM (SELECT * FROM gold EXCEPT SELECT * FROM pred)
            UNION ALL SELECT 'intersect', count(*)
            FROM (SELECT * FROM pred INTERSECT SELECT * FROM gold)
            UNION ALL SELECT 'union', count(*)
            FROM (SELECT * FROM pred UNION SELECT * FROM gold)
        """,
        "eval_compare": f"""
            WITH toks AS ({toks}),
            {_EVAL_TABLES_SQL % gaz},
            f1 AS (SELECT coalesce(p.doc_key, g.doc_key) AS doc_key,
                          CASE WHEN p.doc_key IS NOT NULL THEN 1 ELSE 0 END AS in_pred,
                          CASE WHEN g.doc_key IS NOT NULL THEN 1 ELSE 0 END AS in_gold
                   FROM pred2 p FULL OUTER JOIN gold g
                   ON p.doc_key = g.doc_key AND p.ent_type = g.ent_type
                      AND p.start = g.start AND p."end" = g."end"),
            f2 AS (SELECT coalesce(p.doc_key, g.doc_key) AS doc_key,
                          CASE WHEN p.doc_key IS NOT NULL THEN 1 ELSE 0 END AS in_pred,
                          CASE WHEN g.doc_key IS NOT NULL THEN 1 ELSE 0 END AS in_gold
                   FROM pred p FULL OUTER JOIN gold g
                   ON p.doc_key = g.doc_key AND p.ent_type = g.ent_type
                      AND p.start = g.start AND p."end" = g."end"),
            ok1 AS (SELECT doc_key, sum(CASE WHEN in_pred != in_gold THEN 1 ELSE 0 END) = 0 AS ok
                    FROM f1 GROUP BY doc_key),
            ok2 AS (SELECT doc_key, sum(CASE WHEN in_pred != in_gold THEN 1 ELSE 0 END) = 0 AS ok
                    FROM f2 GROUP BY doc_key)
            SELECT ok1.doc_key
            FROM ok1 LEFT JOIN ok2 ON ok1.doc_key = ok2.doc_key
            WHERE ok1.ok AND NOT coalesce(ok2.ok, FALSE)
        """,
        "comention_edges": _COMENTION_SQL,
        "entity_jaccard": f"""
            WITH toks AS ({toks}),
            m0 AS (SELECT DISTINCT t.doc_id, t.mention
                   FROM toks t JOIN {gaz} USING (mention)),
            r AS (SELECT doc_id, mention,
                         row_number() OVER (PARTITION BY doc_id ORDER BY mention) AS rn
                  FROM m0),
            m AS (SELECT doc_id, mention FROM r WHERE rn <= {COMENTION_CAP}),
            sizes AS (SELECT mention, count(*) AS n FROM m GROUP BY 1),
            inter AS (SELECT a.mention AS src, b.mention AS dst,
                             count(*) AS n_common
                      FROM m a JOIN m b
                        ON a.doc_id = b.doc_id AND a.mention < b.mention
                      GROUP BY 1, 2)
            SELECT i.src, i.dst, i.n_common,
                   sa.n AS n_src, sb.n AS n_dst,
                   round(i.n_common / (sa.n + sb.n - i.n_common), 6) AS jaccard
            FROM inter i
            JOIN sizes sa ON i.src = sa.mention
            JOIN sizes sb ON i.dst = sb.mention
        """,
        "connected_components": f"""
            WITH RECURSIVE toks AS ({toks}),
            m0 AS (SELECT DISTINCT t.doc_id, t.mention
                   FROM toks t JOIN {gaz} USING (mention)),
            r AS (SELECT doc_id, mention,
                         row_number() OVER (PARTITION BY doc_id ORDER BY mention) AS rn
                  FROM m0),
            m AS (SELECT doc_id, mention FROM r WHERE rn <= {COMENTION_CAP}),
            e AS (SELECT a.mention AS src, b.mention AS dst, count(*) AS n_docs
                  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.mention < b.mention
                  GROUP BY 1, 2 HAVING count(*) >= {CC_EDGE_THRESHOLD}),
            sym AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
            nodes AS (SELECT DISTINCT mention AS node FROM m0),
            reach AS (
                SELECT node, node AS comp FROM nodes
                UNION
                SELECT s.dst AS node, r.comp
                FROM reach r JOIN sym s ON s.src = r.node
            )
            SELECT node, min(comp) AS component FROM reach GROUP BY node
        """,
        "exact_dedup": f"""
            SELECT count(*) AS n_docs, count(DISTINCT {norm}) AS n_distinct,
                   count(*) - count(DISTINCT {norm}) AS n_dup_docs
            FROM documents
        """,
        "combine_by_text": f"""
            -- CAST: bare sum() over integers is HUGEINT in DuckDB
            -- (float64 via pandas) vs Spark's BIGINT -> driver hash miss
            SELECT {norm} AS text_key, min(doc_id) AS canonical_id,
                   count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
            FROM documents GROUP BY 1
        """,
        "ngram_jaccard": f"""
            WITH sh AS ({shingles}),
            sizes AS (SELECT doc_id, len(sh) AS n_sh FROM sh),
            ex AS (SELECT doc_id, unnest(sh) AS shingle FROM sh),
            common AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
                       FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                       GROUP BY 1, 2)
            SELECT c.id_a, c.id_b,
                   round(cast(c.n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - c.n_common), 6) AS jaccard
            FROM common c
            JOIN sizes sa ON sa.doc_id = c.id_a
            JOIN sizes sb ON sb.doc_id = c.id_b
            WHERE cast(c.n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - c.n_common) >= 0.2
        """,
        "token_counts": """
            SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
                   cast(list_sum(list_transform(string_split(text, ' '),
                        w -> cast(ceil(length(w) / 4.0) AS INT))) AS INT) AS n_subwords
            FROM documents
        """,
        "lang_id": r"""
            SELECT doc_id,
                   CASE WHEN cast(length(text) - length(regexp_replace(text, '[^\x00-\x7F]', '', 'g')) AS DOUBLE)
                             / greatest(length(text), 1) > 0.3
                        THEN 'zh' ELSE 'en' END AS lang_pred,
                   round(cast(length(text) - length(regexp_replace(text, '[^\x00-\x7F]', '', 'g')) AS DOUBLE)
                         / greatest(length(text), 1), 6) AS non_ascii_ratio
            FROM documents
        """,
        "quality_scores": r"""
            WITH base AS (
                SELECT doc_id, text,
                    len(string_split(text, ' ')) AS n_tok,
                    cast(len(list_filter(string_split(lower(text), ' '),
                         w -> list_contains(['the','a','an','and','or','of','to','in','is','it'], w))) AS DOUBLE)
                        / greatest(len(string_split(text, ' ')), 1) AS stop_ratio,
                    cast(length(regexp_replace(text, '[^.,;:!?''"()\[\]{}-]', '', 'g')) AS DOUBLE)
                        / greatest(length(text), 1) AS punct_ratio,
                    cast(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
                        / greatest(length(text), 1) AS digit_ratio,
                    cast(list_sum(list_transform(string_split(text, ' '), w -> length(w))) AS DOUBLE)
                        / greatest(len(string_split(text, ' ')), 1) AS mwl
                FROM documents)
            SELECT doc_id,
                   round(stop_ratio, 6) AS stopword_ratio,
                   round(punct_ratio, 6) AS punct_ratio,
                   round(mwl, 6) AS mean_word_len,
                   round(0.35 * least(n_tok / 50.0, 1.0)
                         + 0.25 * least(stop_ratio * 5.0, 1.0)
                         + 0.2 * (CASE WHEN mwl >= 3.0 AND mwl <= 10.0 THEN 1.0 ELSE 0.5 END)
                         + 0.1 * (1.0 - least(punct_ratio * 5.0, 1.0))
                         + 0.1 * (1.0 - least(digit_ratio * 5.0, 1.0)), 6) AS quality
            FROM base
        """,
        "doc_fingerprints": f"SELECT doc_id, {norm} AS fingerprint FROM documents",
        "negative_sample": """
            SELECT doc_id,
                   CASE WHEN list_contains(string_split(text, ' '), 'spark') THEN 1 ELSE 0 END AS is_positive
            FROM documents
            WHERE list_contains(string_split(text, ' '), 'spark')
               OR (doc_id * 2654435761) % 10 < 3
        """,
        "similarity_topk": """
            WITH v AS (SELECT vec_id, list_transform(embedding, x -> cast(x AS DOUBLE)) AS v
                       FROM embeddings),
            n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM v),
            q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n WHERE vec_id < 5),
            scored AS (
                SELECT q.query_id, c.vec_id AS nbr_id,
                       list_sum(list_transform(list_zip(q.qv, c.v),
                                p -> p[1] * p[2])) / (q.qn * c.nrm) AS cosine
                FROM q, n c WHERE c.vec_id != q.query_id),
            ranked AS (SELECT query_id, nbr_id,
                              row_number() OVER (PARTITION BY query_id
                                                 ORDER BY cosine DESC, nbr_id ASC) AS rank
                       FROM scored)
            SELECT query_id, nbr_id, rank FROM ranked WHERE rank <= 10
        """,
        "events_sessions": """
            WITH g AS (SELECT user_id, value, ts,
                              epoch(ts) - lag(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS gap
                       FROM events)
            SELECT user_id, count(*) AS n_events,
                   CAST(sum(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
                   CAST(round(sum(CAST(value AS DECIMAL(18,6))), 3) AS DOUBLE) AS total_value
            FROM g GROUP BY user_id
        """,
        # as-of join: DuckDB's NATIVE ASOF JOIN is the oracle for the
        # Spark union+window formulation (inclusive backward match)
        "events_asof": """
            WITH c AS (SELECT event_id AS click_id, user_id, ts
                       FROM events WHERE event_type = 'click'),
            p AS (SELECT user_id, ts, event_id AS purchase_id, value
                  FROM events WHERE event_type = 'purchase')
            SELECT c.click_id, c.user_id,
                   coalesce(p.purchase_id, -1) AS purchase_id,
                   coalesce(p.value, -1.0) AS purchase_value
            FROM c ASOF LEFT JOIN p
            ON c.user_id = p.user_id AND c.ts >= p.ts
        """,
        "events_rollup": """
            SELECT coalesce(user_id, -1) AS user_id,
                   coalesce(event_type, 'ALL') AS event_type,
                   count(*) AS n_events,
                   CAST(round(sum(CAST(value AS DECIMAL(18,6))), 3) AS DOUBLE) AS total_value
            FROM events GROUP BY ROLLUP (user_id, event_type)
        """,
        "q5_region_revenue": """
            SELECT n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   count(*) AS n_lineitems
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
              AND c_nationkey = s_nationkey
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1997-01-01'
            GROUP BY n_name
        """,
        "order_coverage": """
            WITH seg AS (SELECT c_mktsegment, count(*) AS n_customers
                         FROM customer GROUP BY 1),
            w AS (SELECT c_mktsegment, count(*) AS n_with_orders
                  FROM customer c
                  WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
                  GROUP BY 1),
            wo AS (SELECT c_mktsegment, count(*) AS n_without_orders
                   FROM customer c
                   WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
                   GROUP BY 1)
            SELECT s.c_mktsegment, s.n_customers,
                   coalesce(w.n_with_orders, 0) AS n_with_orders,
                   coalesce(wo.n_without_orders, 0) AS n_without_orders
            FROM seg s
            LEFT JOIN w USING (c_mktsegment)
            LEFT JOIN wo USING (c_mktsegment)
        """,
        "top_orders_per_customer": """
            SELECT o_custkey, rnk, o_orderkey FROM (
                SELECT o_custkey, o_orderkey,
                       row_number() OVER (PARTITION BY o_custkey
                                          ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
                FROM orders)
            WHERE rnk <= 2
        """,
        "tfidf_top_terms": f"""
            WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                          FROM documents),
            tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
            dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
            nn AS (SELECT count(*) AS n FROM documents),
            scored AS (
                SELECT t.doc_id, t.term, t.tf, d.df,
                       t.tf * ln((1 + (SELECT n FROM nn)) * 1.0 / (1 + d.df)) AS tfidf
                FROM tf t JOIN dfreq d USING (term))
            SELECT doc_id, rnk, term, tf, df FROM (
                SELECT doc_id, term, tf, df,
                       row_number() OVER (PARTITION BY doc_id
                                          ORDER BY tfidf DESC, term ASC) AS rnk
                FROM scored)
            WHERE rnk <= 3
        """,
        "comention_pagerank": f"""
            WITH toks AS ({{toks}}),
            m0 AS (SELECT DISTINCT t.doc_id, t.mention
                   FROM toks t JOIN {{gaz}} USING (mention)),
            r AS (SELECT doc_id, mention,
                         row_number() OVER (PARTITION BY doc_id ORDER BY mention) AS rn
                  FROM m0),
            m AS (SELECT doc_id, mention FROM r WHERE rn <= {COMENTION_CAP}),
            e AS (SELECT DISTINCT a.mention AS src, b.mention AS dst
                  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.mention < b.mention),
            sym AS (SELECT src AS u, dst AS v FROM e
                    UNION SELECT dst, src FROM e),
            nodes AS (SELECT DISTINCT u AS node FROM sym),
            deg AS (SELECT u, count(*) AS deg FROM sym GROUP BY 1),
            nn AS (SELECT count(*) AS n FROM nodes),
            p0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS pr FROM nodes),
            p1 AS (SELECT n2.node,
                          (1.0 - 0.85) / (SELECT n FROM nn)
                          + 0.85 * coalesce(sum(p.pr / d.deg), 0) AS pr
                   FROM nodes n2
                   LEFT JOIN sym s ON s.v = n2.node
                   LEFT JOIN p0 p ON p.node = s.u
                   LEFT JOIN deg d ON d.u = s.u
                   GROUP BY n2.node),
            p2 AS (SELECT n2.node,
                          (1.0 - 0.85) / (SELECT n FROM nn)
                          + 0.85 * coalesce(sum(p.pr / d.deg), 0) AS pr
                   FROM nodes n2
                   LEFT JOIN sym s ON s.v = n2.node
                   LEFT JOIN p1 p ON p.node = s.u
                   LEFT JOIN deg d ON d.u = s.u
                   GROUP BY n2.node),
            p3 AS (SELECT n2.node,
                          (1.0 - 0.85) / (SELECT n FROM nn)
                          + 0.85 * coalesce(sum(p.pr / d.deg), 0) AS pr
                   FROM nodes n2
                   LEFT JOIN sym s ON s.v = n2.node
                   LEFT JOIN p2 p ON p.node = s.u
                   LEFT JOIN deg d ON d.u = s.u
                   GROUP BY n2.node)
            SELECT node, round(pr, 6) AS pr,
                   CAST(row_number() OVER (ORDER BY pr DESC, node ASC) AS BIGINT) AS rnk
            FROM p3
        """.format(toks=toks, gaz=gaz),
        "q7_nation_volume": """
            WITH sn AS (SELECT s_suppkey, n_name AS supp_nation
                        FROM supplier JOIN nation ON s_nationkey = n_nationkey),
            cn AS (SELECT c_custkey, n_name AS cust_nation
                   FROM customer JOIN nation ON c_nationkey = n_nationkey)
            SELECT supp_nation, cust_nation,
                   CAST(year(l_shipdate) AS BIGINT) AS l_year,
                   count(*) AS n_lines,
                   CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                                       AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN cn ON o_custkey = c_custkey
            JOIN sn ON l_suppkey = s_suppkey
            WHERE ((supp_nation = 'NATION_13' AND cust_nation = 'NATION_19')
                   OR (supp_nation = 'NATION_19' AND cust_nation = 'NATION_13'))
              AND l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1999-01-01'
            GROUP BY 1, 2, 3
        """,
        "cumulative_revenue": """
            SELECT o_custkey, o_orderkey,
                   CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6)))
                              OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderdate ASC, o_orderkey ASC
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW), 2) AS DOUBLE) AS cum_spend
            FROM orders
        """,
        "events_pivot": """
            SELECT user_id % 10 AS cohort,
                   CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS click,
                   CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS error,
                   CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase,
                   CAST(count(*) FILTER (event_type = 'signup') AS BIGINT) AS signup,
                   CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS view
            FROM events GROUP BY 1
        """,
        "order_value_stats": """
            SELECT c_mktsegment, count(*) AS n_orders,
                   round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
                         / count(*), 4) AS avg_price,
                   round(quantile_cont(CAST(round(o_totalprice * 100) AS BIGINT), 0.5)
                         / 100, 2) AS median_price,
                   round(stddev_samp(o_totalprice), 2) AS stddev_price
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY 1
        """,
        # argmin join-back: suppliers achieving the per-part minimum
        # price (min over stored doubles = selection, engine-exact)
        "min_price_supplier": """
            WITH li AS (SELECT l_partkey, l_suppkey, l_extendedprice FROM lineitem),
            mn AS (SELECT l_partkey, min(l_extendedprice) AS min_price
                   FROM li GROUP BY l_partkey),
            best AS (SELECT DISTINCT li.l_partkey, li.l_suppkey, mn.min_price
                     FROM li JOIN mn ON li.l_partkey = mn.l_partkey
                                    AND li.l_extendedprice = mn.min_price)
            SELECT p.p_partkey, p.p_name, s.s_name,
                   CAST(round(b.min_price * 100) AS BIGINT) AS min_price_cents
            FROM best b
            JOIN part p ON b.l_partkey = p.p_partkey
            JOIN supplier s ON b.l_suppkey = s.s_suppkey
        """,
        # deterministic md5-rank stratified sample: ceil(10%) lowest
        # hashes per stratum (identical md5 hex both engines)
        "stratified_sample": """
            WITH keyed AS (
                SELECT o_orderkey, o_orderpriority,
                       md5(CAST(o_orderkey AS VARCHAR)) AS h,
                       count(*) OVER (PARTITION BY o_orderpriority) AS n,
                       row_number() OVER (PARTITION BY o_orderpriority
                                          ORDER BY md5(CAST(o_orderkey AS VARCHAR)),
                                                   o_orderkey) AS rnk
                FROM orders)
            SELECT o_orderpriority, CAST(rnk AS BIGINT) AS rnk, o_orderkey
            FROM keyed WHERE rnk <= ceil(n * 0.1)
        """,
        # scale-path sampler: identical md5 hex cutoff in both engines
        "hash_sample": f"""
            SELECT o_orderpriority, o_orderkey
            FROM orders
            WHERE md5(CAST(o_orderkey AS VARCHAR)) < '{_md5_threshold_01}'
        """,
        # per-stratum ntile(4) buckets over a deterministic total
        # order; exact integer-cents aggregates
        "priority_quartiles": """
            WITH q AS (
                SELECT o_orderpriority,
                       CAST(ntile(4) OVER (PARTITION BY o_orderpriority
                                           ORDER BY o_totalprice, o_orderkey) AS INT)
                           AS quartile,
                       CAST(round(o_totalprice * 100) AS BIGINT) AS cents
                FROM orders)
            SELECT o_orderpriority, quartile, count(*) AS n_orders,
                   CAST(sum(cents) AS BIGINT) AS sum_cents,
                   min(cents) AS min_cents, max(cents) AS max_cents
            FROM q GROUP BY 1, 2
        """,
        "q1_pricing": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY 1, 2
        """,
        # Q6: decimal-cast terms -> order-independent sum -> round ->
        # double, mirrored exactly on the Spark side
        "q6_forecast": """
            SELECT CAST(round(sum(CAST(l_extendedprice * l_discount
                                        AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue,
                   count(*) AS n_items
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate <  TIMESTAMP '1997-01-01'
              AND l_discount >= 0.05 AND l_discount <= 0.07
              AND l_quantity < 24
        """,
        # Q13: aggregate-of-aggregate histogram (LEFT join keeps
        # zero-order customers)
        "q13_order_distribution": """
            WITH per_cust AS (
                SELECT c_custkey, count(o_orderkey) AS c_count
                FROM customer LEFT JOIN orders ON c_custkey = o_custkey
                GROUP BY c_custkey)
            SELECT c_count, count(*) AS custdist
            FROM per_cust GROUP BY c_count
        """,
        # Q18: aggregate-then-join (HAVING subquery)
        "q18_large_orders": """
            WITH big AS (
                SELECT l_orderkey, CAST(sum(l_quantity) AS BIGINT) AS total_qty
                FROM lineitem GROUP BY 1 HAVING total_qty > 200)
            SELECT o_custkey AS c_custkey, o_orderkey, total_qty
            FROM big JOIN orders ON l_orderkey = o_orderkey
        """,
        "q3_topk": """
            SELECT l_orderkey,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
            GROUP BY l_orderkey
            ORDER BY revenue DESC, l_orderkey ASC
            LIMIT 10
        """,
        # minhash: same universal-hash coefficients inlined; band
        # membership checked by literal 4-element slice equality (the
        # Spark side joins on the band string's xxhash64 — identical
        # semantics modulo 64-bit collisions)
        "minhash_dedup": _minhash_oracle_sql(shingles),
        # simhash: md5 64-bit token hashes -> per-bit majority vote;
        # chunk blocking is lossless (max_hamming+1 chunks), so the
        # oracle is the plain all-pairs Hamming filter
        "simhash_dedup": _simhash_oracle_sql(),
        # embedding near-dup: same seeded hyperplanes -> candidate iff
        # buckets within Hamming 1, exact cosine filter on candidates
        "embedding_near_dup": f"""
            WITH v AS (SELECT vec_id AS id,
                              list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                       FROM embeddings),
            n AS (SELECT id, v,
                         sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm,
                         {_hyperplane_bucket_sql("v")} AS bucket
                  FROM v)
            SELECT a.id AS id_a, b.id AS id_b,
                   round(list_sum(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2]))
                         / (a.nrm * b.nrm), 6) AS cosine
            FROM n a JOIN n b
            ON a.id < b.id
               AND bit_count(xor(CAST(a.bucket AS BIGINT), CAST(b.bucket AS BIGINT))) <= 1
            WHERE list_sum(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2]))
                  / (a.nrm * b.nrm) >= 0.35
        """,
        # ann_topk: bucket + 1-bit multiprobe candidates -> exact
        # cosine rank within candidates (rank ties broken by nbr_id)
        "ann_topk": f"""
            WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                       FROM embeddings),
            n AS (SELECT vec_id, v,
                         sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm,
                         {_hyperplane_bucket_sql("v")} AS bucket
                  FROM v),
            q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn, bucket AS qb
                  FROM n WHERE vec_id < 5),
            scored AS (
                SELECT q.query_id, c.vec_id AS nbr_id,
                       list_sum(list_transform(list_zip(q.qv, c.v), p -> p[1] * p[2]))
                           / (q.qn * c.nrm) AS cosine
                FROM q JOIN n c
                ON bit_count(xor(CAST(q.qb AS BIGINT), CAST(c.bucket AS BIGINT))) <= 1
                   AND c.vec_id != q.query_id),
            ranked AS (SELECT query_id, nbr_id,
                              row_number() OVER (PARTITION BY query_id
                                                 ORDER BY cosine DESC, nbr_id ASC) AS rank
                       FROM scored)
            SELECT query_id, nbr_id, rank FROM ranked WHERE rank <= 10
        """,
        "ann_recall": f"""
            WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                       FROM embeddings),
            n AS (SELECT vec_id, v,
                         sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm,
                         {_hyperplane_bucket_sql("v")} AS bucket
                  FROM v),
            q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn, bucket AS qb
                  FROM n WHERE vec_id < 50),
            exact_scored AS (
                SELECT q.query_id, c.vec_id AS nbr_id,
                       list_sum(list_transform(list_zip(q.qv, c.v), p -> p[1] * p[2]))
                           / (q.qn * c.nrm) AS cosine
                FROM q JOIN n c ON c.vec_id != q.query_id),
            exact_top AS (
                SELECT query_id, nbr_id FROM (
                    SELECT query_id, nbr_id,
                           row_number() OVER (PARTITION BY query_id
                                              ORDER BY cosine DESC, nbr_id ASC) AS rank
                    FROM exact_scored) WHERE rank <= 10),
            ann_scored AS (
                SELECT q.query_id, c.vec_id AS nbr_id,
                       list_sum(list_transform(list_zip(q.qv, c.v), p -> p[1] * p[2]))
                           / (q.qn * c.nrm) AS cosine
                FROM q JOIN n c
                ON bit_count(xor(CAST(q.qb AS BIGINT), CAST(c.bucket AS BIGINT))) <= 3
                   AND c.vec_id != q.query_id),
            ann_top AS (
                SELECT query_id, nbr_id FROM (
                    SELECT query_id, nbr_id,
                           row_number() OVER (PARTITION BY query_id
                                              ORDER BY cosine DESC, nbr_id ASC) AS rank
                    FROM ann_scored) WHERE rank <= 10),
            hits AS (SELECT e.query_id, count(*) AS hits_at_10
                     FROM exact_top e JOIN ann_top a USING (query_id, nbr_id)
                     GROUP BY 1)
            SELECT qq.query_id, coalesce(h.hits_at_10, 0) AS hits_at_10
            FROM (SELECT DISTINCT query_id FROM exact_top) qq
            LEFT JOIN hits h USING (query_id)
        """,
        "near_dup_recall": f"""
            WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                       FROM embeddings),
            n AS (SELECT vec_id, v,
                         sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm,
                         {_hyperplane_bucket_sql("v")} AS bucket
                  FROM v),
            exact AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
                      FROM n a JOIN n b ON a.vec_id < b.vec_id
                      WHERE list_sum(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2]))
                            / (a.nrm * b.nrm) >= 0.35),
            cand AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
                     FROM n a JOIN n b
                     ON a.vec_id < b.vec_id
                        AND bit_count(xor(CAST(a.bucket AS BIGINT), CAST(b.bucket AS BIGINT))) <= 3
                     WHERE list_sum(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2]))
                           / (a.nrm * b.nrm) >= 0.35)
            SELECT (SELECT count(*) FROM exact) AS n_exact,
                   (SELECT count(*) FROM cand) AS n_candidates,
                   (SELECT count(*) FROM exact JOIN cand USING (id_a, id_b)) AS n_hits
        """,
        # the WHOLE flagship chain (pages synthesis -> gazetteer
        # detection -> alias linking -> per-url co-mention edges ->
        # connected components -> three triple branches) as one query.
        # zh pages char-tokenize and never match the word gazetteer,
        # so only lang <> 'zh' pages produce mentions.
        "kg_triples": f"""
            WITH RECURSIVE
            {_KG_PAGES_SQL},
            toks AS (SELECT url, warc_ts, unnest(string_split(text, ' ')) AS mention FROM pages),
            linked AS (
                SELECT t.url, t.warc_ts, t.mention, gazp.ent_type,
                       CAST(gazp.prob AS DOUBLE) AS prob,
                       'kb:' || gazp.ent_type || ':' || lower(t.mention) AS entity_id
                FROM toks t JOIN {_gaz_prob_values()} USING (mention)),
            {_KG_TAIL_SQL}
        """,
        # the BIO/Viterbi detection family through the identical KG
        # tail: same mention set on the single-token dictionary, seq
        # constant prob (see _seq_prob_const)
        "kg_triples_seq": f"""
            WITH RECURSIVE
            {_KG_PAGES_SQL},
            toks AS (SELECT url, warc_ts, unnest(string_split(text, ' ')) AS mention FROM pages),
            linked AS (
                SELECT t.url, t.warc_ts, t.mention, gazp.ent_type,
                       CAST(gazp.prob AS DOUBLE) AS prob,
                       'kb:' || gazp.ent_type || ':' || lower(t.mention) AS entity_id
                FROM toks t JOIN {_gaz_seqprob_values()} USING (mention)),
            {_KG_TAIL_SQL}
        """,
        # the same chain with the FULL (multi-token) gazetteer: k-gram
        # span candidates bounded by the longest surface, then the
        # prob-greedy flatten as a rank-ordered recursion, then the
        # identical linking/CC/triple tail
        "kg_triples_full": f"""
            WITH RECURSIVE
            {_KG_PAGES_SQL},
            t AS (SELECT url, warc_ts, string_split(text, ' ') AS toks FROM pages),
            {_kgram_spans_sql("url, warc_ts", GAZETTEER_FULL)},
            {_greedy_flatten_sql("url")},
            linked AS (
                SELECT sp.url, sp.warc_ts, sp.mention, sp.ent_type, sp.prob,
                       'kb:' || sp.ent_type || ':' || lower(sp.mention) AS entity_id
                FROM spans sp JOIN kept kp
                ON sp.url = kp.url AND sp.s = kp.s AND sp.e = kp.e),
            {_KG_TAIL_SQL}
        """,
        # multi-token detection BEFORE flattening: every dictionary
        # k-gram span, nested/overlapping included (L3 enumeration)
        "full_mentions": f"""
            WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
            {_kgram_spans_sql("doc_id", GAZETTEER_FULL)}
            SELECT doc_id, s AS start, e AS "end", mention, ent_type,
                   round(prob, 6) AS prob
            FROM spans
        """,
        # raw-offset restoration (T4/D8). Reference convention
        # (datautils.py:3138-3158): dropped whitespace back-fills the
        # raw2char map from the RIGHT, so a token's first raw offset
        # is the separator BEFORE it (leading space, except the first
        # token); raw_end is the token's own text end.
        "raw_offset_mentions": f"""
            WITH toks AS (SELECT doc_id, text,
                                 unnest(string_split(text, ' ')) AS mention,
                                 unnest(generate_series(0, len(string_split(text, ' ')) - 1)) AS pos
                          FROM documents),
            offs AS (SELECT doc_id, text, mention, pos,
                            CAST(coalesce(sum(length(mention) + 1) OVER (
                                PARTITION BY doc_id ORDER BY pos
                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS INT)
                                AS word_start
                     FROM toks)
            SELECT o.doc_id, gazp.ent_type,
                   CAST(o.word_start - CASE WHEN o.pos > 0 THEN 1 ELSE 0 END AS INT) AS raw_start,
                   CAST(o.word_start + length(o.mention) AS INT) AS raw_end,
                   o.mention,
                   substr(o.text, o.word_start - CASE WHEN o.pos > 0 THEN 1 ELSE 0 END + 1,
                          length(o.mention) + CASE WHEN o.pos > 0 THEN 1 ELSE 0 END) AS raw_slice,
                   round(CAST(gazp.prob AS DOUBLE), 6) AS prob
            FROM offs o JOIN {_gaz_prob_values()} USING (mention)
        """,
        # ... and AFTER: the recursive greedy flatten keeps a span iff
        # it overlaps no higher-ranked kept span (L10)
        "flat_mentions": f"""
            WITH RECURSIVE
            t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
            {_kgram_spans_sql("doc_id", GAZETTEER_FULL)},
            {_greedy_flatten_sql("doc_id")}
            SELECT sp.doc_id, sp.s AS start, sp.e AS "end", sp.mention, sp.ent_type,
                   round(sp.prob, 6) AS prob
            FROM spans sp JOIN kept kp
            ON sp.doc_id = kp.doc_id AND sp.s = kp.s AND sp.e = kp.e
        """,
        # fake decoder = byte histogram of the UTF-8 text payload; the
        # texts are ASCII so codepoints == bytes (unicode(c) per char)
        "multimodal_features": f"""
            WITH m AS (
                SELECT doc_id AS media_id,
                       (['image', 'audio', 'video'])[1 + CAST(doc_id % 3 AS INT)] AS kind,
                       list_transform(string_split(text, ''), c -> unicode(c)) AS bts,
                       strlen(text) AS n
                FROM documents)
            SELECT media_id, kind,
                   {", ".join(f"CAST(len(list_filter(bts, b -> b // 16 = {k})) AS INT) AS bin{k:02d}" for k in range(16))},
                   CAST(greatest(CAST(floor(sqrt(n)) AS BIGINT), 1) AS INT) AS width,
                   CAST(greatest(n // greatest(CAST(floor(sqrt(n)) AS BIGINT), 1), 1) AS INT) AS height
            FROM m
        """,
    }
    # the streaming-incremental flagship must reproduce the batch DAG
    # bit-for-bit, so its oracle IS the batch oracle
    sql["kg_stream_increments"] = sql["kg_triples"]
    # KG read path: per-entity rollup over the batch oracle's triples
    sql["entity_summary"] = f"""
        SELECT subj, pred, count(*) AS n_triples,
               CAST(count(DISTINCT url) AS BIGINT) AS n_docs,
               CAST(count(DISTINCT obj) AS BIGINT) AS n_objects,
               min(warc_ts) AS first_seen, max(warc_ts) AS last_seen
        FROM ({sql["kg_triples"]}) t
        GROUP BY subj, pred
    """
    return sql
