"""Relational operators Spark's DataFrame API lacks as primitives.

:func:`asof_join_backward` — the time-series as-of join (attach to
each left row the latest right row at-or-before its timestamp, per
key). Spark has no ASOF JOIN; the naive formulation
``l.ts >= r.ts`` is a non-equi join that plans as
BroadcastNestedLoopJoin and enumerates |L|x|R| pairs per key. The
scale-correct shape used here:

    UNION the two tagged sides
      -> ONE window sort per key over the union
      -> last(payload, ignorenulls) carries the most recent right
         row forward onto every later left row
      -> filter back to left rows.

Cost: both sides shuffle ONCE on the key (the same partitioning a
shuffled equi-join would need) + a per-key sort — O(n log n) per key,
no pair enumeration, no broadcast of an unbounded side. Ties at equal
timestamps resolve right-before-left, i.e. the match is INCLUSIVE
(right.ts == left.ts matches), which is DuckDB/pandas
``merge_asof(direction='backward')`` semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def asof_join_backward(
    left: DataFrame,
    right: DataFrame,
    on: str,
    ts_col: str = "ts",
    tiebreak: str | None = None,
) -> DataFrame:
    """Left rows + the latest right payload with right.ts <= left.ts.

    The payload is every right column but the key and ts; its columns
    keep their names, so rename on the right side beforehand if
    they collide with left columns. Left rows with no prior right row
    carry nulls. ``tiebreak`` optionally orders right rows that share
    a timestamp (last one wins deterministically; must be a payload
    column).

    The payload travels as ONE struct through a single
    ``last(ignorenulls)`` window, so every attached column comes from
    the SAME right row even when a right row legitimately carries
    NULL in one payload field (per-column ``last`` would mix fields
    from different right rows)."""
    from pyspark.sql.types import StructField, StructType

    payload = [c for c in right.columns if c not in (on, ts_col)]
    clash = set(payload) & set(left.columns)
    if clash:
        raise ValueError(f"payload columns collide with left columns: {sorted(clash)}")
    if tiebreak and tiebreak not in payload:
        raise ValueError(f"tiebreak column {tiebreak!r} must be in the payload")

    right_types = {f.name: f.dataType for f in right.schema.fields}
    left_types = {f.name: f.dataType for f in left.schema.fields}
    payload_t = StructType([StructField(p, right_types[p]) for p in payload])

    l2 = left.select(
        *left.columns,
        F.lit(None).cast(payload_t).alias("_asof_p"),
        F.lit(1).alias("_is_left"),
    )
    r2 = right.select(
        *[
            (F.col(c) if c in (on, ts_col) else F.lit(None).cast(left_types[c])).alias(c)
            for c in left.columns
        ],
        F.struct(*payload).alias("_asof_p"),
        F.lit(0).alias("_is_left"),
    )
    u = l2.unionByName(r2)
    order = [F.col(ts_col).asc(), F.col("_is_left").asc()]
    if tiebreak:
        # right rows sharing a timestamp: make "last wins"
        # deterministic (after _is_left so equal-ts rights still sort
        # before lefts — inclusive match preserved)
        order.append(
            F.when(F.col("_is_left") == 0, F.col("_asof_p").getField(tiebreak))
            .asc_nulls_first()
        )
    w = (
        Window.partitionBy(on)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    u = u.withColumn("_asof_p", F.last("_asof_p", ignorenulls=True).over(w))
    return u.where(F.col("_is_left") == 1).select(
        *left.columns,
        *[F.col("_asof_p").getField(p).alias(p) for p in payload],
    )
