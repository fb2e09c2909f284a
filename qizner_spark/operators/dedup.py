"""Near-dup deduplication family: n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine.

Exact dedup needs no operator here: it is one hash groupBy on
:func:`~qizner_spark.operators.textstats.fingerprint_col` (no text
column in the shuffle — only a 128-bit digest + id; the
``exact_dedup`` and ``combine_by_text`` queries).

Scale design:
  * candidate generation keeps pair enumeration within buckets, never
    a full cross join: LSH band buckets and SimHash chunk buckets are
    grouped into sorted per-bucket arrays expanded by
    :func:`~qizner_spark.operators.pairs.ordered_pairs`; the
    embedding near-dup path probes hyperplane buckets by equi-join;
  * signatures are computed in ONE Arrow pass with numpy (vectorized
    crc32-seeded universal hashing — stable across workers, unlike
    Python ``hash``);
  * verification (exact Jaccard / cosine / Hamming) runs only on
    bucket-collision candidates;
  * the pair operators build plans and persist nothing: a caller
    whose plan reads the signatures more than once (MinHash reads
    them three times) persists them and owns that cache.

The reference's near-dup doc merge is D7/combine_by_text
(/root/reference/datautils.py:2106-2123) and dedupe E7
(/root/reference/datautils.py:447-547) — exact-key forms; the fuzzy
family generalizes them for webtext training pipelines.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import ArrayType, LongType, StructField, StructType

from qizner_spark.operators.pairs import ordered_pairs

MERSENNE = (1 << 61) - 1
#: the MinHash shape: hashes per signature, LSH bands over them
NUM_HASHES, BANDS = 64, 16


_MD5_CACHE_MAX = 1_000_000


def _md5_int(s: str, n_hex: int, _cache: dict = {}) -> int:
    """Integer from the first ``n_hex`` md5 hex chars — the base hash
    for shingles/tokens. Chosen over crc32 because DuckDB computes the
    IDENTICAL value (CAST('0x' || substr(md5(s),1,n) AS BIGINT)), so
    every downstream signature is oracle-checkable.

    Worker-local memo: shingle/token frequencies are Zipfian in web
    text, so hot surfaces hash once per worker (cache cleared past
    _MD5_CACHE_MAX entries — bounded memory)."""
    key = (n_hex, s)
    v = _cache.get(key)
    if v is None:
        if len(_cache) >= _MD5_CACHE_MAX:
            _cache.clear()
        v = _cache[key] = int(hashlib.md5(s.encode("utf-8")).hexdigest()[:n_hex], 16)
    return v


def _md5_32(s: str) -> int:
    return _md5_int(s, 8)


def _md5_64_signed(s: str) -> int:
    """Signed 64-bit (two's complement) — DuckDB: hi/lo halves."""
    u = _md5_int(s, 16)
    return u - (1 << 64) if u >= (1 << 63) else u


# ---------------------------------------------------------------------------
# word shingles (native) + exact n-gram Jaccard
# ---------------------------------------------------------------------------

def word_shingles_col(k: int) -> F.Column:
    """k-word shingles of ``text`` as a native expression (no UDF):
    slide over the split token array."""
    return F.expr(
        f"array_distinct(transform("
        f"  sequence(0, greatest(size(split(text, ' ')) - {k}, 0)),"
        f"  i -> array_join(slice(split(text, ' '), i + 1, {k}), ' ')))"
    )


def ngram_jaccard_pairs(docs: DataFrame, threshold: float = 0.8, k: int = 3) -> DataFrame:
    """EXACT Jaccard over k-word shingles: explode -> self-join on
    shingle -> |A∩B| / (|A|+|B|-|A∩B|). Ground truth for the
    approximate variants; at 100 TB run it only on LSH candidates —
    here it doubles as the DuckDB-checkable oracle query."""
    sh = docs.select("doc_id", word_shingles_col(k).alias("sh"))
    sizes = sh.select("doc_id", F.size("sh").alias("n_sh"))
    ex = sh.select("doc_id", F.explode("sh").alias("shingle"))
    a, b = ex.alias("a"), ex.alias("b")
    common = (
        a.join(b, F.col("a.shingle") == F.col("b.shingle"))
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        common.join(sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("n_sh", "n_a"), "id_a")
        .join(sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("n_sh", "n_b"), "id_b")
        .withColumn("jaccard", F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def _shingle_hashes(text: str, k: int) -> np.ndarray:
    toks = text.split(" ")
    if len(toks) < k:
        shingles = [" ".join(toks)]
    else:
        shingles = {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}
    return np.fromiter((_md5_32(s) for s in shingles), dtype=np.int64)


def minhash_coeffs(num_hashes: int = NUM_HASHES) -> tuple[np.ndarray, np.ndarray]:
    """Universal-hash coefficients (seed 13). Bounded < 2^30 so
    a*h + b with a 32-bit base hash stays < 2^62: exact in numpy
    int64 AND DuckDB BIGINT (no silent wraparound on either side)."""
    rng = np.random.RandomState(13)
    a = rng.randint(1, 1 << 30, size=num_hashes).astype(np.int64)
    b = rng.randint(0, 1 << 30, size=num_hashes).astype(np.int64)
    return a, b


def minhash_signatures(docs: DataFrame, num_hashes: int = NUM_HASHES, k: int = 3) -> DataFrame:
    """(doc_id, sig ARRAY<LONG>[num_hashes]) of each doc's ``text`` in
    one Arrow pass. Universal hashing (a*h + b) mod p over md5-prefix
    shingle hashes — deterministic across workers, runs, and engines."""
    a, b = minhash_coeffs(num_hashes)
    schema = StructType([StructField("doc_id", LongType()), StructField("sig", ArrayType(LongType()))])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            sigs = []
            for text in pdf["text"]:
                h = _shingle_hashes(text, k)  # [S]
                # [num_hashes, S] -> min over shingles. Per-doc small
                # matrices beat one batch-wide matrix here (round-6
                # measurement: a [H, batch-shingles] formulation costs
                # a >200 MB working set and loses cache residency for
                # zero arithmetic savings).
                m = (a[:, None] * h[None, :] + b[:, None]) % MERSENNE
                sigs.append(m.min(axis=1).tolist())
            yield pd.DataFrame({"doc_id": pdf["doc_id"].astype("int64"), "sig": sigs})

    return docs.select("doc_id", "text").mapInPandas(run, schema=schema)


def lsh_candidate_pairs(
    signatures: DataFrame, bands: int = 16, num_hashes: int | None = None
) -> DataFrame:
    """Band the signature, bucket within (band, band-hash): docs
    sharing any band become candidates — never a global cross join.

    Round-6 shape: ONE groupBy of the banded table into sorted
    per-bucket doc-id arrays, then :func:`ordered_pairs` — instead of
    the (band, bh) self-join, which exchanged the banded table TWICE
    (once per join side) and built a per-bucket hash table to produce
    the identical pair set. "a before b" in a sorted array IS the
    a.doc_id < b.doc_id join predicate, so the output is
    row-identical. The pair COUNT per bucket is k^2/2 in both forms —
    a mega-bucket means a mega-duplicate-cluster, which upstream
    exact dedup should collapse before LSH either way.

    ``bands`` must not exceed ``num_hashes``: a band of zero rows
    hashes the empty string for every doc, which would put the whole
    corpus in one bucket per band (all pairs as candidates).

    Pass ``num_hashes`` to keep the plan fully lazy; inferring it
    runs a driver-side ``first()`` action mid-plan (fallback only)."""
    if num_hashes is None:
        num_hashes = int(signatures.select(F.size("sig").alias("n")).first()["n"])
    rows_per_band = num_hashes // bands
    if rows_per_band == 0:
        raise ValueError(
            f"bands={bands} > num_hashes={num_hashes}: every band would be "
            "empty and bucket the whole corpus together"
        )
    banded = signatures.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, {bands - 1}), b -> "
                f"named_struct('band', b, 'bh', xxhash64(array_join("
                f"slice(sig, b * {rows_per_band} + 1, {rows_per_band}), '_'))))"
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bh")
    buckets = (
        banded.groupBy("band", "bh")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("_ids"))
        .where(F.size("_ids") > 1)
    )
    return ordered_pairs(buckets, "_ids").select(
        F.col("a").alias("id_a"), F.col("b").alias("id_b")
    ).distinct()


def minhash_dedup_pairs(signatures: DataFrame, threshold: float = 0.8) -> DataFrame:
    """LSH candidates over ``signatures`` (the :func:`minhash_signatures`
    output, ``NUM_HASHES`` long) in ``BANDS`` bands, verified by the
    SIGNATURE Jaccard estimate (fraction of agreeing minhashes).
    Builds a plan and runs no job.

    CACHE OWNERSHIP: the plan reads ``signatures`` THREE times
    (banding + both verification sides), so the caller persists them
    and materializes the cache (e.g. ``count()``) before the first
    action, then unpersists once done. Otherwise every reference
    re-runs the shingle/md5/minhash Arrow pass, and concurrent stages
    race to populate an unmaterialized cache. The production analog
    is a staging table of signatures between phases."""
    cands = lsh_candidate_pairs(signatures, BANDS, num_hashes=NUM_HASHES)
    sa = signatures.withColumnRenamed("doc_id", "id_a").withColumnRenamed("sig", "sig_a")
    sb = signatures.withColumnRenamed("doc_id", "id_b").withColumnRenamed("sig", "sig_b")
    return (
        cands.join(sa, "id_a").join(sb, "id_b")
        .withColumn(
            "est_jaccard",
            F.expr(
                "aggregate(zip_with(sig_a, sig_b, (x, y) -> if(x = y, 1, 0)), 0, (acc, v) -> acc + v)"
            ) / F.size("sig_a"),
        )
        .where(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", F.round("est_jaccard", 6).alias("est_jaccard"))
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash): 64-bit SimHash of each doc's ``text`` over
    unigram token hashes (bit-majority vote), vectorized in numpy.
    Token hash = md5 64-bit prefix, identically
    computable in DuckDB (hi/lo hex halves), so signatures and pairs
    are oracle-checkable."""
    schema = StructType([StructField("doc_id", LongType()), StructField("simhash", LongType())])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bit_idx = np.arange(64, dtype=np.uint64)
        for pdf in batches:
            out = []
            for text in pdf["text"]:
                toks = text.split(" ")
                h64 = np.fromiter(
                    (_md5_64_signed(t) for t in toks), dtype=np.int64
                ).astype(np.uint64)  # two's complement view
                bits = (h64[:, None] >> bit_idx[None, :]) & np.uint64(1)  # [T, 64]
                votes = bits.sum(axis=0) * 2 >= len(toks)
                sig = int((votes.astype(np.uint64) << bit_idx).sum())
                out.append(sig - (1 << 64) if sig >= (1 << 63) else sig)  # to signed long
            yield pd.DataFrame({"doc_id": pdf["doc_id"].astype("int64"), "simhash": out})

    return docs.select("doc_id", "text").mapInPandas(run, schema=schema)


def simhash_chunk_bounds(max_hamming: int) -> list[tuple[int, int]]:
    """(shift, width) per blocking chunk of the 64-bit simhash. With
    ``max_hamming + 1`` chunks, any pair within the distance shares
    >= 1 exact chunk (pigeonhole) — so blocking never drops a
    qualifying pair. The old fixed 4x16-bit scheme silently missed
    distances 4+."""
    n_bits = 64
    if max_hamming >= n_bits:
        # distance >= n_bits admits EVERY pair (even bitwise
        # complements share no chunk) — no blocking scheme can cover
        # it; callers wanting all-pairs should not use LSH blocking
        raise ValueError(
            f"max_hamming={max_hamming} >= n_bits={n_bits}: pigeonhole "
            "blocking cannot guarantee recall; use an all-pairs join"
        )
    # floor of 2 keeps every chunk <= 32 bits (a 64-bit mask literal
    # overflows LONG); 2 chunks still block distance-0 pairs correctly
    n_chunks = max(min(max_hamming + 1, n_bits), 2)
    bounds = []
    for c in range(n_chunks):
        lo = c * n_bits // n_chunks
        hi = (c + 1) * n_bits // n_chunks
        bounds.append((lo, hi - lo))
    return bounds


def simhash_near_pairs(signatures: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs with Hamming distance <= max_hamming. Blocking:
    ``max_hamming + 1`` bit-chunks — a qualifying pair shares at least
    one chunk exactly, so the bucketed join is lossless AND never a
    cross join. Output therefore equals the all-pairs filter.

    Builds a plan and runs no job. The plan reads ``signatures``
    once (one scan under the bucket exchange), so it needs no cache;
    a caller that persists the signatures for other reasons owns
    that cache."""
    chunk_exprs = ", ".join(
        f"named_struct('chunk', {c}, 'val', shiftright(simhash, {lo}) & {(1 << width) - 1}L)"
        for c, (lo, width) in enumerate(simhash_chunk_bounds(max_hamming))
    )
    chunked = signatures.select(
        "doc_id", "simhash",
        F.explode(F.expr(f"array({chunk_exprs})")).alias("cc"),
    ).select("doc_id", "simhash", "cc.chunk", "cc.val")
    # bucket-grouped pair enumeration (round 6): same rewrite as
    # lsh_candidate_pairs — ONE exchange of the chunked table into
    # sorted per-bucket (doc_id, simhash) arrays expanded by
    # ordered_pairs, instead of the two-sided chunk self-join. Sorted
    # structs lead with doc_id, so "a before b" IS the
    # a.doc_id < b.doc_id predicate; rows are identical.
    buckets = (
        chunked.groupBy("chunk", "val")
        .agg(F.sort_array(F.collect_list(F.struct("doc_id", "simhash"))).alias("_ds"))
        .where(F.size("_ds") > 1)
    )
    return (
        ordered_pairs(buckets, "_ds")
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
            .cast("int").alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# Embedding cosine near-dup
# ---------------------------------------------------------------------------

def embedding_near_dup_pairs(
    emb: DataFrame, threshold: float = 0.95, dim: int | None = None, n_planes: int = 4,
    max_hamming: int = 1,
) -> DataFrame:
    """(vec_id, embedding) rows -> pairs with cosine >= threshold,
    candidate-blocked by random
    hyperplane LSH: exact cosine is verified only for pairs whose
    sign-bit buckets are within Hamming distance ``max_hamming`` (the
    symmetric form of ann_topk's multiprobe). The join is an
    equi-join on the probe bucket, never a cross join — the 100 TB
    shape. True near-dups (cosine ~1) agree on every plane w.h.p.
    (recall ~1 at max_hamming=1, tests/test_recall.py); recall for
    BORDERLINE pairs grows with max_hamming at the measured
    candidate-fraction cost in BENCH/RECALL.md.

    Pass ``dim`` to keep the plan lazy (else a first() infers it)."""
    from qizner_spark.operators.similarity import (
        hyperplane_signature,
        probe_masks,
        with_norm,
    )

    if dim is None:
        dim = len(emb.select("embedding").first()[0])
    v = hyperplane_signature(
        with_norm(emb.select(F.col("vec_id").alias("id"), "embedding")), dim, n_planes, "v",
    ).select("id", "v", "norm", "bucket")
    # each row also probes its bit-flip buckets; pair (a, b) with
    # hamming(bucket_a, bucket_b) <= max_hamming meets on b's bucket
    probes = [F.col("bucket")] + [
        F.col("bucket").bitwiseXOR(F.lit(m))
        for m in probe_masks(n_planes, max_hamming)
    ]
    a = v.withColumn("probe", F.explode(F.array(*probes))).alias("a")
    b = v.alias("b")
    dot = "aggregate(zip_with(a.v, b.v, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"
    return (
        a.join(b, F.col("a.probe") == F.col("b.bucket"))
        .where(F.col("a.id") < F.col("b.id"))
        .withColumn("cosine", F.expr(dot) / (F.col("a.norm") * F.col("b.norm")))
        .where(F.col("cosine") >= threshold)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                F.round("cosine", 6).alias("cosine"))
        .dropDuplicates(["id_a", "id_b"])
    )
