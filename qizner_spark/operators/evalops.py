"""Exact-span evaluation as relational operators (E1/E4/E6/E7).

The reference's per-doc set arithmetic (datautils.py:2614-2777)
becomes a full-outer join of pred and gold mention tables on
(doc_key, ent_type, start, end) followed by one aggregation — the
scalable form: no per-doc python, mention tables shuffle once on the
join key, AQE handles hot documents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

EPS = 1e-10

def _prf_cols():
    return (
        (F.col("tp") / (F.col("tp") + F.col("fp") + F.lit(EPS))).alias("precision"),
        (F.col("tp") / (F.col("tp") + F.col("fn") + F.lit(EPS))).alias("recall"),
    )


def _with_f1(df: DataFrame) -> DataFrame:
    return df.withColumn(
        "f1",
        (2.0 * F.col("precision") * F.col("recall"))
        / (F.col("precision") + F.col("recall") + F.lit(EPS)),
    )


def _match_flags(pred: DataFrame, gold: DataFrame) -> DataFrame:
    cols = ["doc_key", "ent_type", "start", "end"]
    p = pred.select(*cols).dropDuplicates().withColumn("in_pred", F.lit(1))
    g = gold.select(*cols).dropDuplicates().withColumn("in_gold", F.lit(1))
    return p.join(g, on=cols, how="full_outer").select(
        "doc_key",
        "ent_type",
        F.coalesce("in_pred", F.lit(0)).alias("in_pred"),
        F.coalesce("in_gold", F.lit(0)).alias("in_gold"),
    )


def _counts(flags: DataFrame, group: list[str]) -> DataFrame:
    def total(flag):
        # a sum over no rows is null; the reference counts 0
        return F.coalesce(F.sum(flag), F.lit(0)).cast("double")

    agg = flags.groupBy(*group) if group else flags.groupBy()
    return agg.agg(
        total(F.col("in_pred") * F.col("in_gold")).alias("tp"),
        total(F.col("in_pred") * (1 - F.col("in_gold"))).alias("fp"),
        total((1 - F.col("in_pred")) * F.col("in_gold")).alias("fn"),
    )


def evaluate_mentions_df(pred: DataFrame, gold: DataFrame) -> DataFrame:
    """Micro P/R/F1 over exact (type, start, end) matches — one row.
    Parity: datautils.py:2639-2702 (set semantics, epsilon 1e-10)."""
    counts = _counts(_match_flags(pred, gold), [])
    return _with_f1(
        counts.select(
            "tp", "fp", "fn",
            (F.col("tp") + F.col("fp")).alias("num_preds"),
            (F.col("tp") + F.col("fn")).alias("num_golds"),
            *_prf_cols(),
        )
    )


def evaluate_mentions_by_type(pred: DataFrame, gold: DataFrame) -> DataFrame:
    """Per-type breakdown (the reference's detail_stat)."""
    counts = _counts(_match_flags(pred, gold), ["ent_type"])
    return _with_f1(
        counts.select(
            "ent_type", "tp", "fp", "fn",
            (F.col("tp") + F.col("fp")).alias("num_preds"),
            (F.col("tp") + F.col("fn")).alias("num_golds"),
            *_prf_cols(),
        )
    )


def compare_runs_df(run1: DataFrame, run2: DataFrame, gold: DataFrame) -> DataFrame:
    """Docs where run1 matches gold exactly but run2 does not (E4,
    datautils.py:2790-2815): per-doc aggregation of match flags."""

    def doc_ok(pred: DataFrame) -> DataFrame:
        flags = _match_flags(pred, gold)
        return flags.groupBy("doc_key").agg(
            (F.sum((F.col("in_pred") != F.col("in_gold")).cast("int")) == 0).alias("ok")
        )

    ok1 = doc_ok(run1).withColumnRenamed("ok", "run1_ok")
    ok2 = doc_ok(run2).withColumnRenamed("ok", "run2_ok")
    return (
        ok1.join(ok2, ["doc_key"], "full_outer")
        .where(F.col("run1_ok") & ~F.coalesce("run2_ok", F.lit(False)))
        .select("doc_key")
    )


def confusion_matrix_df(pred: DataFrame, gold: DataFrame) -> DataFrame:
    """E6: confusion counts over BOUNDARY-exact matches — join pred
    and gold mentions on (doc, start, end) (type NOT in the key), then
    crosstab gold type vs predicted type. Unmatched golds count
    against 'O' predictions and vice versa (the reference's two-pointer
    alignment, datautils.py:2282-2306, relationally)."""
    p = pred.select("doc_key", "start", "end", F.col("ent_type").alias("pred_type")).dropDuplicates()
    g = gold.select("doc_key", "start", "end", F.col("ent_type").alias("gold_type")).dropDuplicates()
    j = p.join(g, ["doc_key", "start", "end"], "full_outer").select(
        F.coalesce("gold_type", F.lit("O")).alias("gold_type"),
        F.coalesce("pred_type", F.lit("O")).alias("pred_type"),
    )
    return j.groupBy("gold_type", "pred_type").agg(F.count(F.lit(1)).alias("n"))


def mention_set_ops(a: DataFrame, b: DataFrame) -> dict[str, DataFrame]:
    """E7 diagnostics as native set operators."""
    cols = ["doc_key", "ent_type", "start", "end"]
    a_, b_ = a.select(cols).dropDuplicates(), b.select(cols).dropDuplicates()
    return {
        "intersect": a_.intersect(b_),
        "a_only": a_.exceptAll(b_),
        "b_only": b_.exceptAll(a_),
        "union": a_.union(b_).dropDuplicates(),
    }
