"""Similarity search over embedding tables: ``vec_id`` plus an
``embedding`` column (ARRAY<FLOAT>).

* :func:`brute_force_topk` — exact cosine top-k: broadcast the (small)
  query set against the corpus, dot products in native
  zip_with/aggregate expressions (JVM-side, codegen), per-query top-k
  via window rank. The baseline.
* :func:`ann_topk` — LSH-bucketed approximate variant: random
  hyperplane sign signatures put vectors into buckets; candidates are
  scored only within colliding buckets (multi-probe over single-bit
  flips covers neighbors across a plane boundary). The 100 TB path:
  bucket-join instead of cross-join.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window, functions as F

#: the hyperplanes' RandomState seed (the DuckDB oracles inline the
#: same planes)
HYPERPLANE_SEED = 23
#: exact_cosine_pairs broadcasts one side: it refuses larger inputs
MAX_EXACT_ROWS = 100_000


def _as_double(vec_col: str) -> str:
    return f"transform({vec_col}, x -> cast(x as double))"


def with_norm(df: DataFrame) -> DataFrame:
    return df.withColumn("v", F.expr(_as_double("embedding"))).withColumn(
        "norm", F.expr("sqrt(aggregate(transform(v, x -> x * x), 0D, (acc, x) -> acc + x))")
    )


def brute_force_topk(corpus: DataFrame, queries: DataFrame, k: int = 10) -> DataFrame:
    """Exact cosine top-k per query. The query side is broadcast —
    the corpus never shuffles; ties broken by neighbor id for
    determinism."""
    c = with_norm(corpus.select(F.col("vec_id").alias("nbr_id"), "embedding")) \
        .select("nbr_id", F.col("v").alias("cv"), F.col("norm").alias("cn"))
    q = with_norm(queries.select(F.col("vec_id").alias("query_id"), "embedding")) \
        .select("query_id", F.col("v").alias("qv"), F.col("norm").alias("qn"))
    dot = "aggregate(zip_with(qv, cv, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"
    scored = (
        c.join(F.broadcast(q))
        .where(F.col("nbr_id") != F.col("query_id"))
        .withColumn("cosine", F.expr(dot) / (F.col("qn") * F.col("cn")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("nbr_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "nbr_id", F.round("cosine", 6).alias("cosine"), "rank")
    )


def exact_cosine_pairs(emb: DataFrame, threshold: float) -> DataFrame:
    """ALL pairs with cosine >= threshold, computed exactly by
    broadcasting one side — the ground-truth twin of
    :func:`brute_force_topk`, used as the RECALL oracle for the
    LSH-bucketed candidate rules (embedding_near_dup / ann_topk).
    Deliberately O(n^2): measurement-only at bounded n (asserted),
    never a scale path."""
    n = emb.count()
    if n > MAX_EXACT_ROWS:
        raise ValueError(
            f"exact_cosine_pairs is a recall-measurement baseline; {n} rows "
            f"> {MAX_EXACT_ROWS} would broadcast an unbounded side"
        )
    a = with_norm(emb.select(F.col("vec_id").alias("id_a"), "embedding")) \
        .select("id_a", F.col("v").alias("av"), F.col("norm").alias("an"))
    b = with_norm(emb.select(F.col("vec_id").alias("id_b"), "embedding")) \
        .select("id_b", F.col("v").alias("bv"), F.col("norm").alias("bn"))
    dot = "aggregate(zip_with(av, bv, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"
    return (
        a.join(F.broadcast(b))
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", F.expr(dot) / (F.col("an") * F.col("bn")))
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
    )


def hyperplane_signature(df: DataFrame, dim: int, n_planes: int = 8,
                         vec_col: str = "embedding") -> DataFrame:
    """Sign-bit LSH signature as a NATIVE expression: the seeded
    hyperplane matrix is inlined as array literals, the dot products
    run in codegen. Adds ``bucket`` (int in [0, 2^n_planes))."""
    rng = np.random.RandomState(HYPERPLANE_SEED)
    planes = rng.randn(n_planes, dim)
    terms = []
    for p in range(n_planes):
        arr = ", ".join(f"{x!r}D" for x in planes[p])
        dot = (
            f"aggregate(zip_with({_as_double(vec_col)}, array({arr}), (x, y) -> x * y),"
            f" 0D, (acc, x) -> acc + x)"
        )
        terms.append(f"(CASE WHEN {dot} >= 0 THEN {1 << p} ELSE 0 END)")
    return df.withColumn("bucket", F.expr(" + ".join(terms)).cast("int"))


def probe_masks(n_planes: int, bits: int) -> list[int]:
    """All non-zero XOR masks with popcount <= bits: the query visits
    every bucket within Hamming distance ``bits`` of its own."""
    from itertools import combinations

    masks = []
    for b in range(1, bits + 1):
        for idxs in combinations(range(n_planes), b):
            m = 0
            for i in idxs:
                m |= 1 << i
            masks.append(m)
    return masks


def ann_topk(
    corpus: DataFrame, queries: DataFrame, k: int = 10, n_planes: int = 6,
    multiprobe_bits: int = 1, dim: int | None = None,
) -> DataFrame:
    """Approximate top-k: score only candidates within Hamming
    distance ``multiprobe_bits`` of the query's LSH bucket. Recall
    grows with multiprobe_bits (and falls with n_planes); the scored
    pair count drops from |Q|x|C| to bucket-local. The measured
    recall/scan-fraction tradeoff on near-orthogonal embeddings is
    recorded in BENCH/RECALL.md and gated by the ``ann_recall``
    driver query + tests/test_recall.py.

    Pass ``dim`` to keep the plan fully lazy (else a driver-side
    first() action infers it mid-plan).

    PRECONDITION: the query set is bounded-small (a fixed probe list,
    a user search batch). The query side of the bucket join is
    broadcast, and the multiprobe explode multiplies it by
    ``1 + |probe_masks(n_planes, multiprobe_bits)|`` rows BEFORE the
    join, so it must fit a broadcast that many times over. Self-ANN
    over an unbounded corpus (queries = corpus) is out of contract:
    there the broadcast is a driver OOM — block by bucket instead
    (:func:`~qizner_spark.operators.dedup.embedding_near_dup_pairs`).
    """
    if dim is None:
        dim = len(corpus.select("embedding").first()[0])
    c = hyperplane_signature(
        with_norm(corpus.select(F.col("vec_id").alias("nbr_id"), "embedding")), dim, n_planes,
    ).select("nbr_id", F.col("v").alias("cv"), F.col("norm").alias("cn"), "bucket")
    q = hyperplane_signature(
        with_norm(queries.select(F.col("vec_id").alias("query_id"), "embedding")), dim, n_planes,
    ).select("query_id", F.col("v").alias("qv"), F.col("norm").alias("qn"), "bucket")
    # multi-probe: query also visits buckets at Hamming distance <= bits
    probes = [F.col("bucket")] + [
        F.col("bucket").bitwiseXOR(F.lit(m))
        for m in probe_masks(n_planes, multiprobe_bits)
    ]
    q_side = F.broadcast(q.withColumn("probe", F.explode(F.array(*probes))))
    dot = "aggregate(zip_with(qv, cv, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"
    scored = (
        c.join(q_side, c["bucket"] == q_side["probe"])
        .where(F.col("nbr_id") != F.col("query_id"))
        .withColumn("cosine", F.expr(dot) / (F.col("qn") * F.col("cn")))
        .dropDuplicates(["query_id", "nbr_id"])
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("nbr_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "nbr_id", F.round("cosine", 6).alias("cosine"), "rank")
    )
