"""Text-analysis + multimodal plumbing tests."""

import pytest
from pyspark.sql import functions as F

from qizner_spark.operators.multimodal import (
    attach_fake_media,
    decode_fake,
    extract_features,
)
from qizner_spark.operators.textstats import (
    digit_ratio_col,
    fingerprint_col,
    lang_id_col,
    mean_word_len_col,
    non_ascii_ratio_col,
    punct_ratio_col,
    quality_score_col,
    stopword_ratio_col,
    subword_count_col,
    token_count_col,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over a lazy dog and runs to the river"),
        (1, "中文文本测试内容这里是汉字"),
        (2, "x"),
        (3, "1234 5678 9999 !!!! ????"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


class TestTextProfile:
    def test_token_counts(self, spark, docs):
        rows = {r["doc_id"]: r for r in docs.select(
            "doc_id", token_count_col().alias("n_tokens"),
            subword_count_col().alias("n_subwords")).collect()}
        assert rows[0]["n_tokens"] == 14
        assert rows[2]["n_tokens"] == 1
        assert rows[0]["n_subwords"] >= rows[0]["n_tokens"]

    def test_lang_id(self, spark, docs):
        rows = {r["doc_id"]: r["lang_pred"] for r in docs.select(
            "doc_id", lang_id_col().alias("lang_pred")).collect()}
        assert rows[0] == "en" and rows[1] == "zh"

    def test_quality_ordering(self, spark, docs):
        rows = {r["doc_id"]: r["quality"] for r in docs.select(
            "doc_id", quality_score_col().alias("quality")).collect()}
        # fluent english > single char, digit/punct noise
        assert rows[0] > rows[2]
        assert rows[0] > rows[3]

    def test_fingerprint_normalization(self, spark):
        d = spark.createDataFrame(
            [(0, "Hello  World"), (1, " hello world "), (2, "other")], ["doc_id", "text"]
        )
        fps = {r["doc_id"]: r["fingerprint"] for r in d.select(
            "doc_id", fingerprint_col().alias("fingerprint")).collect()}
        assert fps[0] == fps[1] != fps[2]

    def test_all_native_no_python(self, spark, docs):
        cols = [token_count_col, subword_count_col, non_ascii_ratio_col,
                lang_id_col, punct_ratio_col, digit_ratio_col,
                stopword_ratio_col, mean_word_len_col, quality_score_col,
                fingerprint_col]
        profile = docs.select(*(f().alias(f.__name__) for f in cols))
        plan = profile._jdf.queryExecution().executedPlan().toString()
        assert "EvalPython" not in plan

    def test_on_testdata(self, spark, sf_dir):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        prof = docs.select(quality_score_col().alias("quality"))
        assert prof.count() == docs.count()
        assert prof.where(F.col("quality") < 0).count() == 0
        assert prof.where(F.col("quality") > 1).count() == 0


class TestMultimodal:
    def test_media_schema_and_determinism(self, spark, docs):
        m1 = attach_fake_media(docs).collect()
        m2 = attach_fake_media(docs).collect()
        assert sorted(r["media_id"] for r in m1) == [0, 1, 2, 3]
        assert {r["kind"] for r in m1} <= {"image", "audio", "video"}
        assert m1 == m2

    def test_features(self, spark, docs):
        media = attach_fake_media(docs)
        feats = extract_features(media).collect()
        assert len(feats) == 4
        for r in feats:
            assert len(r["feature"]) == 16
            assert abs(sum(r["feature"]) - 1.0) < 1e-5
            assert r["width"] >= 1 and r["height"] >= 1

    def test_decode_fake_deterministic(self):
        a = decode_fake(b"hello world", "image")
        b = decode_fake(b"hello world", "image")
        assert (a[0] == b[0]).all() and a[1:] == b[1:]


class TestTfidf:
    def test_top_terms_rank_and_evidence(self, spark):
        from qizner_spark.operators.textstats import tfidf_top_terms

        docs = spark.createDataFrame(
            [(1, "rare common common"), (2, "common common common"),
             (3, "unique common filler")],
            ["doc_id", "text"])
        rows = tfidf_top_terms(docs, k=1).collect()
        top = {r["doc_id"]: (r["term"], r["tf"], r["df"]) for r in rows}
        # 'common' appears in every doc -> idf ln(4/4)=0 -> never top
        assert top[1] == ("rare", 1, 1)
        assert top[3][0] in ("unique", "filler")  # both df=1 tf=1; term asc
        assert top[3][0] == "filler"
        # doc 2 has only zero-idf terms; rank-1 row still exists
        assert top[2][0] == "common"

    def test_k_bounds_output(self, spark):
        from pyspark.sql import functions as F

        from qizner_spark.operators.textstats import tfidf_top_terms

        docs = spark.createDataFrame(
            [(i, "a b c d e f g h") for i in range(5)], ["doc_id", "text"])
        out = tfidf_top_terms(docs, k=3)
        per_doc = out.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
        assert per_doc.where(F.col("n") > 3).count() == 0
