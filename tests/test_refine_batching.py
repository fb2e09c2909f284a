"""E6 confusion matrix, the P1 negative-sampling query and the
hash-threshold sampling scale path."""

import pytest
from pyspark.sql import functions as F


class TestConfusionAndReport:
    def test_confusion_matrix(self, spark):
        from qizner_spark.operators.evalops import confusion_matrix_df

        gold = spark.createDataFrame(
            [("d1", "PER", 0, 2), ("d1", "LOC", 3, 4), ("d2", "ORG", 0, 1)],
            ["doc_key", "ent_type", "start", "end"],
        )
        pred = spark.createDataFrame(
            [("d1", "PER", 0, 2), ("d1", "ORG", 3, 4), ("d2", "ORG", 5, 6)],
            ["doc_key", "ent_type", "start", "end"],
        )
        cm = {(r["gold_type"], r["pred_type"]): r["n"] for r in confusion_matrix_df(pred, gold).collect()}
        assert cm[("PER", "PER")] == 1
        assert cm[("LOC", "ORG")] == 1   # boundary match, type confusion
        assert cm[("ORG", "O")] == 1     # missed gold
        assert cm[("O", "ORG")] == 1     # spurious pred


class TestSampling:
    def test_negative_sample_ratio(self, spark, sf_dir):
        """P1 ``negative_sample`` query: every positive is kept, and the
        negatives are the deterministic hash-selected ~3/10."""
        import __spark_entry__ as em

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
        pos = {r["doc_id"] for r in docs.collect() if "spark" in r["text"].split(" ")}
        neg = {r["doc_id"] for r in docs.collect()} - pos
        out = {r["doc_id"]: r["is_positive"] for r in em._negative_sample(spark, sf_dir).collect()}
        assert pos and neg
        assert {d for d, p in out.items() if p == 1} == pos  # all positives kept
        kept_neg = {d for d, p in out.items() if p == 0}
        assert kept_neg == {d for d in neg if (d * 2654435761) % 10 < 3}
        assert 0.2 * len(neg) <= len(kept_neg) <= 0.4 * len(neg)


class TestScalePathSampling:
    """The sort-free 10^12-row variant of stratified sampling (regime
    split documented on the exact driver query stratified_sample)."""

    def test_md5_threshold_constant(self):
        from qizner_spark.operators.sampling import md5_threshold

        assert md5_threshold(0.0) == "0" * 32
        assert len(md5_threshold(0.1)) == 32
        # monotone in frac, and ~frac of hex space
        assert md5_threshold(0.1) < md5_threshold(0.5) < md5_threshold(0.9)
        assert md5_threshold(0.5)[0] == "8"
        # frac=1.0 must keep EVERYTHING: 'g' sorts above every hex
        # digest (the naive 33-digit->32 truncation meant a 1/16 cut)
        assert md5_threshold(1.0) == "g"
        assert "f" * 32 < md5_threshold(1.0)
        with pytest.raises(ValueError):
            md5_threshold(1.5)

    def test_hash_sample_frac_one_is_identity(self, spark):
        from qizner_spark.operators.sampling import hash_threshold_sample

        df = spark.range(500)
        assert hash_threshold_sample(df, "id", 1.0).count() == 500

    def test_hash_sample_nested_subsets(self):
        """Monotone subset property (pure python replica of the SQL
        semantics): the kept set at a smaller frac is a SUBSET of the
        kept set at any larger frac — enlarging a sample never churns
        rows already sampled, the property that makes hash sampling
        safe to re-run at a new rate mid-pipeline."""
        import hashlib

        from qizner_spark.operators.sampling import md5_threshold

        keys = [str(i) for i in range(5000)]
        digests = {k: hashlib.md5(k.encode()).hexdigest() for k in keys}
        kept = {
            frac: {k for k in keys if digests[k] < md5_threshold(frac)}
            for frac in (0.01, 0.1, 0.33, 0.5, 0.9, 1.0)
        }
        fracs = sorted(kept)
        assert kept[1.0] == set(keys)
        for lo, hi in zip(fracs, fracs[1:]):
            assert kept[lo] <= kept[hi], f"{lo} not subset of {hi}"
            assert len(kept[lo]) < len(kept[hi])

    def test_hash_sample_fraction_and_determinism(self, spark):
        from qizner_spark.operators.sampling import hash_threshold_sample

        df = spark.range(20000).withColumn(
            "stratum", (F.col("id") % 4).cast("string")
        )
        kept = hash_threshold_sample(df, "id", 0.1)
        per_stratum = {
            r["stratum"]: r["n"]
            for r in kept.groupBy("stratum").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        # Binomial(5000, 0.1): every stratum within +-4 sigma of 500
        for s, n in per_stratum.items():
            assert 415 <= n <= 585, f"stratum {s}: {n}"
        # deterministic under repartitioning (the whole point vs rand)
        a = sorted(r["id"] for r in kept.collect())
        b = sorted(
            r["id"]
            for r in hash_threshold_sample(df.repartition(17), "id", 0.1).collect()
        )
        assert a == b
