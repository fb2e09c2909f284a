"""Deterministic hash-threshold sampling (the stratified-sample scale path).

The exact per-stratum sampler is the ``stratified_sample`` query's
rank window; this module holds its sort-free variant for strata too
large for one task: :func:`hash_threshold_sample` keeps rows whose
md5(key) falls below :func:`md5_threshold` — reproducible in plain
SQL, which is how the DuckDB oracle checks it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


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
