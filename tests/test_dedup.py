"""Dedup family tests: exact (the fingerprint key), n-gram Jaccard,
MinHash+LSH, SimHash, embedding cosine — approximate methods
validated against exact."""

import pytest
from pyspark.sql import functions as F

from qizner_spark.operators.dedup import (
    embedding_near_dup_pairs,
    lsh_candidate_pairs,
    minhash_dedup_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_near_pairs,
    simhash_signatures,
)
from qizner_spark.operators.textstats import fingerprint_col

BASE = "the quick brown fox jumps over the lazy dog near the river bank today"
NEAR = "the quick brown fox jumps over the lazy dog near the river bank now"   # 1 word differs
FAR = "completely different content about spark query engines and shuffles"


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, BASE), (1, BASE), (2, "  THE  quick brown fox jumps over the lazy dog near the river bank today "),
        (3, NEAR), (4, FAR), (5, "another unrelated short text"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


class TestExact:
    """Exact dedup is a hash-groupBy on ``fingerprint_col``, the key the
    ``exact_dedup`` and ``combine_by_text`` queries group on."""

    def test_groups(self, spark, docs):
        groups = (
            docs.select("doc_id", fingerprint_col().alias("text_key"))
            .groupBy("text_key")
            .agg(F.min("doc_id").alias("canonical_id"),
                 F.sort_array(F.collect_list("doc_id")).alias("doc_ids"))
            .where(F.size("doc_ids") > 1)
            .collect()
        )
        assert len(groups) == 1
        g = groups[0]
        # 0, 1 identical; 2 identical after normalization (case+ws)
        assert g["canonical_id"] == 0 and g["doc_ids"] == [0, 1, 2]

    def test_deduplicate(self, spark, docs):
        kept = (
            docs.select(fingerprint_col().alias("text_key"), "doc_id")
            .groupBy("text_key")
            .agg(F.min("doc_id").alias("doc_id"))
        )
        ids = {r["doc_id"] for r in kept.collect()}
        assert ids == {0, 3, 4, 5}


class TestNgramJaccard:
    def test_exact_pairs(self, spark, docs):
        pairs = ngram_jaccard_pairs(docs, threshold=0.5, k=3).collect()
        got = {(r["id_a"], r["id_b"]) for r in pairs}
        assert (0, 1) in got            # identical
        assert (0, 3) in got and (1, 3) in got  # near-dup
        assert all(4 not in p and 5 not in p for p in got)

    def test_identical_jaccard_is_one(self, spark, docs):
        pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
                 ngram_jaccard_pairs(docs, threshold=0.5, k=3).collect()}
        assert pairs[(0, 1)] == pytest.approx(1.0)


class TestMinhash:
    def test_signature_shape_and_determinism(self, spark, docs):
        s1 = {r["doc_id"]: r["sig"] for r in minhash_signatures(docs, num_hashes=32).collect()}
        s2 = {r["doc_id"]: r["sig"] for r in minhash_signatures(docs, num_hashes=32).collect()}
        assert s1 == s2
        assert all(len(v) == 32 for v in s1.values())
        assert s1[0] == s1[1]  # identical text -> identical signature

    def test_lsh_finds_near_dups(self, spark, docs):
        sigs = minhash_signatures(docs, num_hashes=64)
        pairs = minhash_dedup_pairs(sigs, threshold=0.5)
        got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
        assert (0, 1) in got and (0, 3) in got

    def test_lsh_agrees_with_exact_jaccard(self, spark, docs):
        """Candidate verification: every LSH pair at est>=0.5 must be a
        true >=0.35 Jaccard pair (estimator tolerance), and the exact
        >=0.8 pairs must all be found."""
        est = {(r["id_a"], r["id_b"]): r["est_jaccard"]
               for r in minhash_dedup_pairs(minhash_signatures(docs), 0.5).collect()}
        exact_hi = {(r["id_a"], r["id_b"]) for r in ngram_jaccard_pairs(docs, 0.8).collect()}
        exact_lo = {(r["id_a"], r["id_b"]) for r in ngram_jaccard_pairs(docs, 0.35).collect()}
        assert exact_hi <= set(est)
        assert set(est) <= exact_lo

    def test_band_bucketing_no_crossjoin(self, spark, docs):
        sigs = minhash_signatures(docs)
        cands = lsh_candidate_pairs(sigs).count()
        n = docs.count()
        assert cands < n * (n - 1) / 2  # strictly fewer than all pairs

    def test_more_bands_than_hashes_rejected(self, spark, docs):
        """bands > num_hashes leaves every band empty: each doc would
        hash "" per band and all pairs would become candidates."""
        sigs = minhash_signatures(docs, num_hashes=64)
        with pytest.raises(ValueError, match="bands=128"):
            lsh_candidate_pairs(sigs, bands=128, num_hashes=64)
        with pytest.raises(ValueError):
            lsh_candidate_pairs(sigs, bands=128)  # num_hashes inferred


class TestSimhash:
    def test_near_pairs(self, spark, docs):
        sigs = simhash_signatures(docs)
        pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in
                 simhash_near_pairs(sigs, max_hamming=8).collect()}
        assert pairs.get((0, 1)) == 0       # identical
        assert (0, 3) in pairs              # near-dup within 8 bits
        assert (0, 4) not in pairs

    def test_near_pairs_persist_nothing(self, spark, docs):
        """The pair plan reads the signatures once, so the operator
        caches nothing behind the caller's back."""
        jsc = spark.sparkContext._jsc
        before = jsc.getPersistentRDDs().size()
        simhash_near_pairs(simhash_signatures(docs), max_hamming=3).collect()
        assert jsc.getPersistentRDDs().size() == before

    def test_signature_deterministic(self, spark, docs):
        a = {r["doc_id"]: r["simhash"] for r in simhash_signatures(docs).collect()}
        b = {r["doc_id"]: r["simhash"] for r in simhash_signatures(docs).collect()}
        assert a == b

    def test_chunk_blocking_is_lossless(self, spark, docs):
        """max_hamming+1 chunk blocking must equal the ALL-PAIRS
        Hamming filter (pigeonhole guarantee) — the old fixed 4x16
        scheme silently missed distances 4+."""
        from itertools import combinations

        sigs = {r["doc_id"]: r["simhash"] for r in simhash_signatures(docs).collect()}
        for h in (3, 10, 20):
            want = {
                (a, b): bin((sigs[a] ^ sigs[b]) & ((1 << 64) - 1)).count("1")
                for a, b in combinations(sorted(sigs), 2)
            }
            want = {k: v for k, v in want.items() if v <= h}
            got = {(r["id_a"], r["id_b"]): r["hamming"] for r in
                   simhash_near_pairs(simhash_signatures(docs), max_hamming=h).collect()}
            assert got == want, f"max_hamming={h}"


class TestEmbeddingNearDup:
    def test_pairs(self, spark):
        rows = [
            (0, [1.0, 0.0, 0.0]),
            (1, [0.999, 0.04, 0.0]),   # ~cos 0.999
            (2, [0.0, 1.0, 0.0]),
        ]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        pairs = embedding_near_dup_pairs(emb, threshold=0.95)
        got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
        assert got == {(0, 1)}

    def test_on_testdata(self, spark, sf_dir):
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        pairs = embedding_near_dup_pairs(emb.limit(100), threshold=0.99)
        # must run without error; self-pairs excluded by id_a < id_b
        assert pairs.where(F.col("id_a") >= F.col("id_b")).count() == 0

    def test_planted_clusters_found_with_bucketed_plan(self, spark):
        """Planted near-duplicate clusters (cosine ~0.9999) must ALL
        be recovered through the LSH-bucketed path, and the physical
        plan must stay an equi-join (no cartesian fallback)."""
        import numpy as np

        rng = np.random.RandomState(5)
        base = rng.randn(8, 16)
        rows, expected, vid = [], set(), 0
        for i in range(8):
            for j in range(3):  # 3 near-copies per cluster
                v = base[i] + rng.randn(16) * 0.01
                v = v / np.linalg.norm(v)
                rows.append((vid + j, [float(x) for x in v]))
            expected |= {(vid, vid + 1), (vid, vid + 2), (vid + 1, vid + 2)}
            vid += 3
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        pairs = embedding_near_dup_pairs(emb, threshold=0.99, dim=16)
        got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
        assert got == expected
        plan = pairs._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
