"""``ordered_pairs`` against the a<b self-join it replaces.

The reference exists only here: explode each group's sorted distinct
array back to (key, element) rows, self-join on the key and keep
``a < b``. The two must agree as multisets, on empty, single, pair,
random-size and one large (>= 2000) group, and on struct elements."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from qizner_spark.operators.pairs import ordered_pairs


def _groups(spark, sizes, seed=7):
    """(g, arr): group g holds a sorted distinct sample of sizes[g]
    ints drawn from a range wider than the group."""
    rng = random.Random(seed)
    rows = [(g, sorted(rng.sample(range(4 * n + 1), n))) for g, n in enumerate(sizes)]
    return spark.createDataFrame(rows, "g int, arr array<int>")


def _self_join_pairs(groups):
    m = groups.select("g", F.explode("arr").alias("v"))
    a, b = m.alias("x"), m.alias("y")
    return a.join(b, "g").where(F.col("x.v") < F.col("y.v")).select(
        "g", F.col("x.v").alias("a"), F.col("y.v").alias("b")
    )


def _same_multiset(got, ref):
    assert got.count() == ref.count()
    assert got.exceptAll(ref).count() == 0
    assert ref.exceptAll(got).count() == 0


class TestOrderedPairs:
    def test_small_groups_exact(self, spark):
        df = spark.createDataFrame(
            [(0, []), (1, [5]), (2, [3, 9]), (3, [1, 2, 4]), (4, None)],
            "g int, arr array<int>",
        )
        got = sorted(tuple(r) for r in ordered_pairs(df, "arr", "g").collect())
        assert got == [(2, 3, 9), (3, 1, 2), (3, 1, 4), (3, 2, 4)]

    def test_output_columns(self, spark):
        df = spark.createDataFrame([("u", 1, [1, 2])], "k string, w int, arr array<int>")
        assert ordered_pairs(df, "arr", "k", "w").columns == ["k", "w", "a", "b"]
        assert ordered_pairs(df, "arr").columns == ["a", "b"]

    def test_matches_self_join_random_sizes(self, spark):
        rng = random.Random(11)
        sizes = [0, 1, 2] + [rng.randint(0, 40) for _ in range(40)]
        groups = _groups(spark, sizes)
        got = ordered_pairs(groups, "arr", "g")
        _same_multiset(got, _self_join_pairs(groups))
        assert got.count() == sum(n * (n - 1) // 2 for n in sizes)

    def test_matches_self_join_large_group(self, spark):
        sizes = [2000, 3, 0]
        groups = _groups(spark, sizes, seed=3)
        got = ordered_pairs(groups, "arr", "g")
        _same_multiset(got, _self_join_pairs(groups))
        assert got.where(F.col("g") == 0).count() == 2000 * 1999 // 2

    def test_struct_elements(self, spark):
        rows = [
            ("u1", [("e1", 0.9), ("e2", 0.5), ("e3", 0.7)]),
            ("u2", [("e2", 0.1), ("e4", 0.2)]),
            ("u3", [("e5", 0.3)]),
        ]
        df = spark.createDataFrame(
            rows, "url string, ents array<struct<id:string, p:double>>"
        ).select("url", F.array_sort("ents").alias("ents"))
        got = ordered_pairs(df, "ents", "url").select(
            "url", F.col("a.id").alias("a"), F.col("b.id").alias("b"),
            F.least("a.p", "b.p").alias("p"),
        )
        m = df.select("url", F.explode("ents").alias("e")).select("url", "e.id", "e.p")
        x, y = m.alias("x"), m.alias("y")
        ref = x.join(y, "url").where(F.col("x.id") < F.col("y.id")).select(
            "url", F.col("x.id").alias("a"), F.col("y.id").alias("b"),
            F.least("x.p", "y.p").alias("p"),
        )
        _same_multiset(got, ref)
        assert got.count() == 3 + 1

