"""Dataset shaping: splits, K-fold, stratified negative sampling.

Reference parity:
  * ratio split / KFold -> /root/reference/datautils.py:388-424,
    /root/reference/train_ner.py:1031-1067
  * negative sampling (all positives + ratio x |pos| negatives)
    -> /root/reference/datautils.py:2416-2436
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def ratio_split(df: DataFrame, weights: list[float], seed: int = 42) -> list[DataFrame]:
    """Seeded train/dev/test split (P3) — Spark's randomSplit."""
    return df.randomSplit(weights, seed=seed)


def kfold(df: DataFrame, k: int, key_col: str, fold: int) -> tuple[DataFrame, DataFrame]:
    """Deterministic K-fold by hashed key: (train, heldout) for one
    fold. Hash-mod instead of sklearn's index KFold so the assignment
    is stable under any row order/partitioning (P3 at scale)."""
    fold_col = F.pmod(F.xxhash64(F.col(key_col)), F.lit(k))
    with_fold = df.withColumn("_fold", fold_col)
    train = with_fold.where(F.col("_fold") != fold).drop("_fold")
    heldout = with_fold.where(F.col("_fold") == fold).drop("_fold")
    return train, heldout


def negative_sample(
    df: DataFrame, is_positive: F.Column, ratio: float = 1.0, seed: int = 42
) -> DataFrame:
    """P1: keep ALL positives + ~ratio x |positives| random negatives
    (fraction from exact counts, like the reference's random.sample of
    the negative pool, datautils.py:2425-2433).

    Fully LAZY plan: the class counts are a 1-row aggregate broadcast
    back via crossJoin instead of a driver-side collect, so the
    operator composes into larger plans without forcing an action
    (the scan runs twice — counts + filter — exactly like the eager
    version, but scheduling stays with Catalyst)."""
    tagged = df.withColumn("_pos", is_positive.cast("int"))
    counts = tagged.groupBy().agg(
        F.sum("_pos").alias("_n_pos"),
        F.sum(1 - F.col("_pos")).alias("_n_neg"),
    )
    frac = F.least(F.lit(ratio) * F.col("_n_pos") / F.col("_n_neg"), F.lit(1.0))
    keep = (
        (F.col("_pos") == 1)
        | (F.col("_n_neg") == 0) | (F.col("_n_pos") == 0)  # degenerate: keep all
        | (F.rand(seed) < frac)
    )
    return (
        tagged.crossJoin(F.broadcast(counts))
        .where(keep)
        .drop("_pos", "_n_pos", "_n_neg")
    )


def md5_threshold(frac: float) -> str:
    """32-hex-digit cutoff c with P[md5(key) < c] = ~frac under a
    uniform digest: lexicographic compare of equal-length lowercase
    hex IS numeric compare, and any engine's md5 of the same bytes
    matches — so the kept set is reproducible in plain SQL.

    frac=1.0 returns "g": every hex digit sorts below 'g', so the
    ``md5(key) < c`` filter keeps ALL rows (a 32-hex cutoff cannot —
    the all-'f' digest would be excluded; worse, truncating the
    33-digit int(16**32) to 32 digits silently meant a 1/16 cutoff)."""
    if not 0.0 <= frac <= 1.0:
        raise ValueError(f"frac must be in [0, 1], got {frac}")
    cut = int(frac * 16**32)
    if cut >= 16**32:
        return "g"
    return format(cut, "x").zfill(32)


def hash_threshold_sample(
    df: DataFrame, key_col: str, frac: float
) -> DataFrame:
    """The 10^12-row stratified-sampling SCALE PATH: keep rows whose
    md5(key) falls below the ``frac`` cutoff — a pure NARROW filter.
    No shuffle, no sort, no per-stratum state; every stratum is
    sampled at ~frac automatically (Binomial(n_s, frac) per stratum,
    relative error O(1/sqrt(frac*n_s)) — negligible at webtext
    stratum sizes). Deterministic under any partitioning or
    reprocessing, unlike seeded rand().

    Regime split vs the exact windowed sampler (driver query
    ``stratified_sample``): exact ceil(frac*n) per stratum needs a
    per-stratum rank, and a rank window puts an ENTIRE stratum in one
    task — correct only while every stratum fits a single task. Use
    the exact variant for bounded strata (eval sets, per-corpus
    splits), this one at corpus scale.
    """
    return df.where(
        F.md5(F.col(key_col).cast("string")) < F.lit(md5_threshold(frac))
    )


def quantile_buckets_approx(
    df: DataFrame,
    strata_col: str,
    value_col: str,
    n_buckets: int = 4,
    accuracy: int = 10000,
    bucket_col: str = "bucket",
    broadcast_bounds: bool = False,
) -> DataFrame:
    """The per-stratum quantile-bucket SCALE PATH: per-stratum
    boundary estimates from ``percentile_approx`` (a map-side-
    combinable sketch — ONE narrow aggregation pass, error bounded by
    1/accuracy of rank), broadcast the |strata| x (n_buckets-1)
    boundary table back, and bucketize by comparison in a second
    narrow pass.

    Regime split vs exact ntile (driver query ``priority_quartiles``):
    ntile's window partitions on the stratum key, so one stratum =
    one task's total sort — exact, but only while strata are
    single-task sized. This variant never sorts. Agreement contract:
    bucketing here is VALUE-based — all rows tying on a boundary
    value land in the same bucket, where rank-based ntile force-
    splits ties to equalize bucket sizes. On tie-free values the two
    disagree only within 1/accuracy rank of a boundary (one bucket
    off); on heavily tied values (constant columns, sentinel spikes)
    they diverge arbitrarily and the value-based assignment is the
    semantically right one for data bucketing (equal values belong
    together). NULL stratum keys are kept (null-safe join below) and
    bucketize among themselves, matching the window path's behavior
    of treating NULL as its own partition.

    ``broadcast_bounds`` (default False): the boundary table is
    |strata| x (n_buckets-1) values — bounded for priority-like
    strata, UNBOUNDED for domain-/url-like strata, so the re-attach
    join is UNHINTED by default (AQE broadcasts exactly when runtime
    stats say the side is genuinely small — same doctrine as
    ``broadcast_alias``). Pass True only for a KNOWN-bounded stratum
    dimension.
    """
    probs = [i / n_buckets for i in range(1, n_buckets)]
    bounds = df.groupBy(strata_col).agg(
        F.percentile_approx(value_col, probs, accuracy).alias("_bounds")
    ).withColumnRenamed(strata_col, "_qb_stratum")
    if broadcast_bounds:
        bounds = F.broadcast(bounds)
    bucket = F.lit(1) + F.aggregate(
        F.col("_bounds"),
        F.lit(0),
        lambda acc, b: acc + F.when(F.col(value_col) > b, 1).otherwise(0),
    )
    # null-safe equality: the groupBy above produces a NULL-stratum
    # group, and a plain equi-join would silently DROP every
    # NULL-stratum row (NULL != NULL)
    return (
        df.join(bounds, F.col(strata_col).eqNullSafe(F.col("_qb_stratum")))
        .withColumn(bucket_col, bucket)
        .drop("_bounds", "_qb_stratum")
    )
