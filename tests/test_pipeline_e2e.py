"""End-to-end: gold-replay perfect F1 on REAL reference eval sets +
the full KG DAG over the synthetic pages table.

The gold-replay test operationalizes BASELINE.md's "P/R >= 0.95 vs
reference" without torch: the learned scorer is pluggable, and the
deterministic decode/segment/merge/eval machinery (which defines the
emitted spans) must reproduce gold EXACTLY when fed gold scores
(SURVEY.md §5)."""

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import REFERENCE_CORPORA
from qizner_spark.core.scoring import GoldReplayScorer
from qizner_spark.operators.evalops import (
    evaluate_mentions_by_type,
    evaluate_mentions_df,
)
from qizner_spark.operators.mentions import detect_mentions
from qizner_spark.plans.checkpoint import run_resumable
from qizner_spark.plans.pipeline import build_kg_from_sf_dir
from qizner_spark.sources.corpus import read_corpus_jsonl
from qizner_spark.sources.pages import pages_from_documents

needs_ref = pytest.mark.skipif(
    not os.path.exists(f"{REFERENCE_CORPORA}/conll03/test.jsonl"),
    reason="reference corpora not available",
)


def gold_df(corpus):
    return corpus.select(
        F.col("doc_id").cast("string").alias("doc_key"),
        F.explode("entities").alias("e"),
    ).select("doc_key", "e.ent_type", "e.start", "e.end")


def replay_f1(spark, corpus, lang, flat):
    corpus = corpus.withColumn("lang", F.lit(lang))
    pred = detect_mentions(
        corpus,
        GoldReplayScorer,
        key_col="doc_id",
        text_col="text",
        lang_col="lang",
        tokens_col="tokens",
        gold_col="entities",
        flat=flat,
    )
    return evaluate_mentions_df(pred, gold_df(corpus)).first()


@needs_ref
class TestGoldReplay:
    def test_conll03_flat_en(self, spark):
        corpus = read_corpus_jsonl(
            spark, f"{REFERENCE_CORPORA}/conll03/test.jsonl", token_deli=" "
        ).limit(400)
        m = replay_f1(spark, corpus, "en", flat=True)
        assert m["precision"] > 0.9999 and m["recall"] > 0.9999

    def test_cluener_zh(self, spark):
        corpus = read_corpus_jsonl(
            spark, f"{REFERENCE_CORPORA}/cluener/dev.jsonl", token_deli=""
        ).limit(400)
        m = replay_f1(spark, corpus, "zh", flat=True)
        assert m["precision"] > 0.9999 and m["recall"] > 0.9999

    def test_ace04_nested(self, spark):
        """Nested corpus evaluated UNFLATTENED (reference args.flat=False
        for ace04, train_ner.py:880)."""
        corpus = read_corpus_jsonl(
            spark, f"{REFERENCE_CORPORA}/ace04/test.jsonl", token_deli=" "
        ).limit(200)
        m = replay_f1(spark, corpus, "en", flat=False)
        assert m["precision"] > 0.9999 and m["recall"] > 0.9999

    def test_onto_flat(self, spark):
        corpus = read_corpus_jsonl(
            spark, f"{REFERENCE_CORPORA}/onto/dev.jsonl", token_deli=" "
        ).limit(200)
        m = replay_f1(spark, corpus, "en", flat=True)
        assert m["precision"] > 0.9999 and m["recall"] > 0.9999

    def test_genia_nested(self, spark):
        corpus = read_corpus_jsonl(
            spark, f"{REFERENCE_CORPORA}/genia/dev.jsonl", token_deli=" "
        ).limit(200)
        m = replay_f1(spark, corpus, "en", flat=False)
        assert m["precision"] > 0.9999 and m["recall"] > 0.9999

    def test_per_type_breakdown(self, spark):
        corpus = read_corpus_jsonl(
            spark, f"{REFERENCE_CORPORA}/conll03/test.jsonl", token_deli=" "
        ).limit(100).withColumn("lang", F.lit("en"))
        pred = detect_mentions(
            corpus, GoldReplayScorer, key_col="doc_id", text_col="text",
            lang_col="lang", tokens_col="tokens", gold_col="entities",
        )
        rows = evaluate_mentions_by_type(pred, gold_df(corpus)).collect()
        assert len(rows) >= 3
        assert all(r["f1"] > 0.9999 for r in rows)


@pytest.fixture(scope="module")
def kg_stages(spark, sf_dir):
    stages = build_kg_from_sf_dir(spark, sf_dir)
    for name in ("mentions", "components", "triples"):
        stages[name] = stages[name].cache()
    yield stages
    stages.release()


class TestKgPipeline:
    def test_flagship_dag(self, kg_stages):
        triples = kg_stages["triples"]
        assert [f.name for f in triples.schema.fields] == [
            "subj", "pred", "obj", "url", "warc_ts", "prob",
        ]
        n = triples.count()
        assert n > 0
        preds = {r["pred"] for r in triples.select("pred").distinct().collect()}
        assert preds == {"type", "alias", "mentioned_with"}

    def test_mentions_match_gazetteer(self, kg_stages):
        surfaces = {r["mention"] for r in kg_stages["mentions"].select("mention").distinct().collect()}
        from qizner_spark.gazetteer import GAZETTEER_FULL
        assert surfaces and surfaces <= set(GAZETTEER_FULL)

    def test_canonicalization_groups_comentioned(self, kg_stages):
        comp = kg_stages["components"]
        # every linked entity got a canonical id
        assert comp.where(F.col("canonical_id").isNull()).count() == 0

    def test_resumable_metrics_row(self, spark, sf_dir, tmp_path):
        sink, mpath = str(tmp_path / "triples"), str(tmp_path / "metrics")
        m = run_resumable(spark, pages_from_documents(spark, sf_dir), sink,
                          metrics_path=mpath)
        assert m["n_pending"] > 0 and m["n_new_triples"] > 0 and m["wall_sec"] > 0
        back = spark.read.parquet(sink)
        assert back.count() == m["n_new_triples"]
        assert "subj_bucket" in back.columns
        rows = spark.read.json(mpath).collect()
        assert len(rows) == 1
        assert rows[0]["run_id"] == m["run_id"]
        assert rows[0]["n_new_triples"] == m["n_new_triples"]


class TestComentionCap:
    """max_entities_per_doc bounds the O(k^2) per-doc pair enumeration
    of ``assemble_kg`` — the spammy-page fixture the round-4 verdict
    asked for: one url with 10^3 distinct entities must emit a bounded
    pair set."""

    @staticmethod
    def _mentions(spark, rows):
        # (url, surface, prob) -> the mention table assemble_kg reads;
        # entity_id is the kb:<type>:<surface> slug, so entity order
        # follows surface order
        return spark.createDataFrame(
            [(u, m, "ENT", p, 0) for u, m, p in rows],
            "url string, mention string, ent_type string, prob double, warc_ts long",
        )

    @staticmethod
    def _edges(mentions, cap):
        from qizner_spark.plans.pipeline import assemble_kg

        stages = assemble_kg(mentions, max_entities_per_doc=cap)
        rows = stages["edges"].collect()
        stages.release()
        return rows

    @staticmethod
    def _kept(rows):
        return {e.removeprefix("kb:ENT:") for r in rows for e in (r["src"], r["dst"])}

    @pytest.fixture(scope="class")
    def spammy_mentions(self, spark):
        # one spammy url with 1000 distinct entities (prob encodes a
        # known ranking) + one normal url with 5
        rows = [("u_spam", f"e{i:04d}", 0.5 + (999 - i) / 2000.0)
                for i in range(1000)]
        rows += [("u_ok", f"e{i:04d}", 0.9) for i in range(5)]
        return self._mentions(spark, rows)

    def test_capped_pair_count_bounded(self, spark, spammy_mentions):
        per_url = {}
        for r in self._edges(spammy_mentions, 50):
            per_url[r["url"]] = per_url.get(r["url"], 0) + 1
        assert per_url["u_spam"] == 50 * 49 // 2       # capped: C(50,2)
        assert per_url["u_ok"] == 5 * 4 // 2           # under cap: untouched

    def test_cap_keeps_top_prob_entities(self, spark, spammy_mentions):
        rows = self._edges(spammy_mentions.where(F.col("url") == "u_spam"), 10)
        # prob is strictly decreasing in entity index -> top-10 = e0000..e0009
        assert self._kept(rows) == {f"e{i:04d}" for i in range(10)}

    def test_prob_tie_breaks_on_entity_id(self, spark):
        tied = self._mentions(spark, [("u", f"e{i}", 0.7) for i in range(6)])
        assert self._kept(self._edges(tied, 3)) == {"e0", "e1", "e2"}


def test_triple_sink_partition_pruning(spark, sf_dir, tmp_path):
    """The run_resumable sink (run_id=/subj_bucket= layout) must prune
    at read time: a bucket-filtered scan shows the predicate in
    PartitionFilters (so at 10^12 triples a single-entity provenance
    lookup reads 1/64 of the files), and partition pruning composes
    with column pruning (ReadSchema carries only the projected
    columns)."""
    path = str(tmp_path / "sink")
    run_resumable(spark, pages_from_documents(spark, sf_dir), path)
    back = spark.read.parquet(path)
    q = back.where(F.col("subj_bucket") == 7).select("subj", "obj")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    # the bucket predicate must be IN the partition filters, not a
    # post-scan filter over all files
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "subj_bucket" in pf
    assert "ReadSchema" in plan
    rs = plan.split("ReadSchema: ", 1)[1].splitlines()[0]
    assert "url" not in rs and "warc_ts" not in rs  # column pruning
