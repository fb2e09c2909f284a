"""E1/E4 eval semantics tests (FIXTURES.md F8 E1 case), run on the
relational operators in operators/evalops.py."""

import pytest

from qizner_spark.core.scoring import GazetteerScorer, GoldReplayScorer
from qizner_spark.operators.evalops import (
    EPS,
    compare_runs_df,
    evaluate_mentions_by_type,
    evaluate_mentions_df,
)

_COLS = "doc_key string, ent_type string, start int, end int"


def _mentions(spark, docs):
    """{doc_key: [(ent_type, start, end[, prob]), ...]} -> mention table."""
    rows = [(d, m[0], m[1], m[2]) for d, ms in docs.items() for m in ms]
    return spark.createDataFrame(rows, _COLS)


def _micro(spark, gold, pred):
    return evaluate_mentions_df(_mentions(spark, pred), _mentions(spark, gold)).first()


class TestEvaluate:
    def test_perfect(self, spark):
        m = _micro(spark, {"d0": [("A", 0, 2)]}, {"d0": [("A", 0, 2, 0.9)]})
        assert m["precision"] == pytest.approx(1.0, abs=1e-9)
        assert m["recall"] == pytest.approx(1.0, abs=1e-9)
        assert m["f1"] == pytest.approx(1.0, abs=1e-9)

    def test_fp_only(self, spark):
        m = _micro(spark, {}, {"d0": [("A", 0, 2, 0.9)]})
        assert m["tp"] == 0 and m["fp"] == 1 and m["fn"] == 0
        assert m["precision"] == pytest.approx(0.0, abs=1e-9)

    def test_fn_only(self, spark):
        m = _micro(spark, {"d0": [("A", 0, 2)]}, {})
        assert m["fn"] == 1
        assert m["recall"] == pytest.approx(0.0, abs=1e-9)

    def test_empty_both(self, spark):
        m = _micro(spark, {}, {})
        assert m["tp"] == 0 and m["fp"] == 0 and m["fn"] == 0
        assert m["precision"] == pytest.approx(0.0, abs=1e-9)
        assert m["recall"] == pytest.approx(0.0, abs=1e-9)
        assert m["f1"] == pytest.approx(0.0, abs=1e-9)

    def test_mixed_and_per_type(self, spark):
        gold = {"d0": [("A", 0, 2), ("B", 3, 4)], "d1": [("A", 1, 2)]}
        pred = {"d0": [("A", 0, 2, 1.0), ("B", 5, 6, 1.0)],
                "d1": [("A", 1, 2, 1.0), ("A", 4, 5, 1.0)]}
        m = _micro(spark, gold, pred)
        assert m["tp"] == 2 and m["fp"] == 2 and m["fn"] == 1
        # reference formulas with eps=1e-10
        assert m["precision"] == pytest.approx(2 / (4 + EPS))
        per_type = {r["ent_type"]: r for r in evaluate_mentions_by_type(
            _mentions(spark, pred), _mentions(spark, gold)).collect()}
        a, b = per_type["A"], per_type["B"]
        assert a["tp"] == 2 and a["fp"] == 1 and a["fn"] == 0
        assert b["tp"] == 0 and b["fp"] == 1 and b["fn"] == 1
        assert a["num_preds"] == 3 and a["num_golds"] == 2

    def test_duplicate_preds_collapse(self, spark):
        m = _micro(spark, {"d0": [("A", 0, 2)]},
                   {"d0": [("A", 0, 2, 0.9), ("A", 0, 2, 0.8)]})
        assert m["tp"] == 1 and m["fp"] == 0

    def test_gold_replay_gives_perfect_f1(self, spark):
        """Identity-score decode must yield P=R=1 under E1 (SURVEY §5)."""
        scorer = GoldReplayScorer()
        gold = {"d0": [("PER", 0, 2), ("LOC", 3, 4)], "d1": [("ORG", 1, 5)]}
        pred = {d: scorer.score_mentions(["w"] * 6, g) for d, g in gold.items()}
        m = _micro(spark, gold, pred)
        assert m["f1"] == pytest.approx(1.0, abs=1e-9)


class TestCompareRuns:
    def test_reports_run2_regressions(self, spark):
        gold = {d: [("A", 0, 2)] for d in ("d0", "d1", "d2")}
        run1 = {"d0": [("A", 0, 2, 1)], "d1": [("A", 0, 2, 1)], "d2": [("B", 0, 2, 1)]}
        # d0 both right; d1 run2 wrong; d2 run1 wrong -> skipped
        run2 = {"d0": [("A", 0, 2, 1)], "d1": [("A", 1, 2, 1)], "d2": [("A", 1, 2, 1)]}
        diffs = compare_runs_df(_mentions(spark, run1), _mentions(spark, run2),
                                _mentions(spark, gold)).collect()
        assert [r["doc_key"] for r in diffs] == ["d1"]


class TestGazetteer:
    def test_multiword_and_prob_range(self):
        scorer = GazetteerScorer({"new york": "LOC", "york": "LOC"})
        out = scorer.score_mentions(["i", "love", "new", "york"])
        spans = {(t, s, e) for t, s, e, _ in out}
        assert spans == {("LOC", 2, 4), ("LOC", 3, 4)}
        assert all(0.5 <= m[3] < 1.0 for m in out)

    def test_deterministic(self):
        s1 = GazetteerScorer({"spark": "TECH"}).score_mentions(["spark"])
        s2 = GazetteerScorer({"spark": "TECH"}).score_mentions(["spark"])
        assert s1 == s2

    def test_zh_no_delimiter(self):
        scorer = GazetteerScorer({"台湾": "address"}, token_deli="")
        out = scorer.score_mentions(list("走的是台湾的"))
        assert [(m[0], m[1], m[2]) for m in out] == [("address", 3, 5)]
