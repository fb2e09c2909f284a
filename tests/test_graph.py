"""Connected-components + linking operator tests."""

import os

import pytest
from pyspark.sql import functions as F

from qizner_spark.operators.graph import assign_components, connected_components
from qizner_spark.operators.linking import (
    build_alias_dictionary,
    count_unlabeled_occurrences,
    link_mentions,
)


def cc_dict(spark, edges, threshold):
    df = spark.createDataFrame(edges, ["src", "dst"])
    return {
        r["node"]: r["component"]
        for r in connected_components(df, driver_threshold=threshold).collect()
    }


# threshold=0 forces the DISTRIBUTED large-star/small-star path;
# the big default takes the driver union-find fast path — both must
# produce identical results.
@pytest.mark.parametrize("threshold", [0, 200_000], ids=["distributed", "unionfind"])
class TestConnectedComponents:
    def test_chain(self, spark, threshold):
        comp = cc_dict(spark, [("b", "c"), ("c", "d"), ("a", "b")], threshold)
        assert comp == {"a": "a", "b": "a", "c": "a", "d": "a"}

    def test_two_components(self, spark, threshold):
        comp = cc_dict(spark, [("a", "b"), ("x", "y"), ("y", "z")], threshold)
        assert comp["a"] == comp["b"] == "a"
        assert comp["x"] == comp["y"] == comp["z"] == "x"

    def test_cycle_and_cross_edges(self, spark, threshold):
        comp = cc_dict(spark, [("1", "2"), ("2", "3"), ("3", "1"), ("3", "4"), ("9", "4")], threshold)
        assert set(comp.values()) == {"1"}

    def test_star_hub(self, spark, threshold):
        edges = [("hub", f"n{i:03d}") for i in range(50)]
        comp = cc_dict(spark, edges, threshold)
        assert set(comp.values()) == {"hub"}  # 'hub' < 'n000'
        assert len(comp) == 51


def test_component_map_plan_names_its_path(spark):
    """The map shows which path solved it: the driver union-find map
    is a local relation with real size statistics, also when there
    are no edges; the distributed map is not local."""
    chain = spark.createDataFrame([("a", "b"), ("b", "c")], "src string, dst string")
    for edges in (chain, chain.limit(0)):
        comp = connected_components(edges)
        assert comp.isLocal()
        stats = comp._jdf.queryExecution().optimizedPlan().stats()
        assert int(stats.sizeInBytes()) < 2**63 - 1
    assert not connected_components(chain, driver_threshold=0).isLocal()


def test_salted_equals_unsalted_on_skewed_hub(spark, monkeypatch):
    """Explicit skew salting (north_rule): a hub node with ~200
    neighbors plus chained tails. The salted distributed path
    (salt_buckets=16), the window path (salt_buckets=1), and the
    driver union-find must all emit identical components."""
    from qizner_spark.operators import graph

    edges = [("hub", f"n{i:03d}") for i in range(200)]           # star skew
    edges += [(f"n{i:03d}", f"n{i:03d}x") for i in range(0, 200, 7)]  # tails
    edges += [("za", "zb"), ("zb", "zc")]                        # separate comp
    df = spark.createDataFrame(edges, ["src", "dst"])
    # HOT_THRESHOLD=10 FORCES the hub (200 rows) onto the salted hot
    # path while the tail keys stay cold — both code paths exercised
    monkeypatch.setattr(graph, "HOT_THRESHOLD", 10)
    salted = {
        (r["node"], r["component"])
        for r in connected_components(df, driver_threshold=0, salt_buckets=16).collect()
    }
    window = {
        (r["node"], r["component"])
        for r in connected_components(df, driver_threshold=0, salt_buckets=1).collect()
    }
    unionfind = {
        (r["node"], r["component"])
        for r in connected_components(df, driver_threshold=10**6).collect()
    }
    assert salted == window == unionfind
    comps = {c for _, c in salted}
    assert comps == {"hub", "za"}  # min-id representatives


def test_assign_components_isolated(spark):
    nodes = spark.createDataFrame([("a",), ("b",), ("lonely",)], ["node"])
    edges = spark.createDataFrame([("a", "b")], ["src", "dst"])
    got = {r["node"]: r["component"] for r in assign_components(nodes, edges).collect()}
    assert got == {"a": "a", "b": "a", "lonely": "lonely"}


class TestLinking:
    @pytest.fixture()
    def mentions(self, spark):
        rows = [
            ("u1", "en", "OP", 0, 1, "join", 0.9),
            ("u1", "en", "OP", 3, 4, "join", 0.8),
            ("u2", "en", "STRUCT", 0, 1, "table", 0.7),
            ("u2", "en", "OP", 1, 2, "join", 0.6),
        ]
        return spark.createDataFrame(
            rows, ["url", "lang", "ent_type", "start", "end", "mention", "prob"]
        )

    def test_alias_dictionary_counts(self, spark, mentions):
        alias = {(r["mention"], r["ent_type"]): r["freq"] for r in build_alias_dictionary(mentions).collect()}
        assert alias[("join", "OP")] == 3
        assert alias[("table", "STRUCT")] == 1

    def test_link_assigns_entity_ids(self, spark, mentions):
        alias = build_alias_dictionary(mentions)
        linked = link_mentions(mentions, alias)
        ids = {r["entity_id"] for r in linked.collect()}
        assert ids == {"kb:OP:join", "kb:STRUCT:table"}

    def test_link_ambiguity_resolved_by_freq(self, spark, mentions):
        alias = spark.createDataFrame(
            [("join", "OP", "kb:1", 10), ("join", "OP", "kb:2", 99)],
            ["mention", "ent_type", "entity_id", "freq"],
        )
        linked = link_mentions(mentions.where(F.col("mention") == "join"), alias)
        assert {r["entity_id"] for r in linked.collect()} == {"kb:2"}

    def test_link_fallback_self_canonical(self, spark, mentions):
        empty_alias = spark.createDataFrame(
            [], "mention string, ent_type string, entity_id string, freq long"
        )
        linked = link_mentions(mentions, empty_alias)
        assert {r["entity_id"] for r in linked.collect()} == {"kb:OP:join", "kb:STRUCT:table"}

    def test_unlabeled_occurrences(self, spark, mentions):
        docs = spark.createDataFrame(
            [("u1", "join the join table"), ("u2", "no ops here")], ["url", "text"]
        )
        alias = build_alias_dictionary(mentions)
        got = {r["mention"]: (r["total_occurrences"], r["unlabeled"])
               for r in count_unlabeled_occurrences(docs, alias).collect()}
        assert got["join"] == (2, -1)  # 2 in text, 3 labeled
        assert got["table"] == (1, 0)

    def test_unlabeled_counts_match_str_count_incl_self_overlap(self, spark):
        """The Aho-Corasick pass must reproduce str.count semantics
        exactly — including NON-overlapping counting of self-
        overlapping patterns ('aaaa'.count('aa') == 2, not 3) and
        substring hits inside longer words."""
        texts = ["aaaa baab", "the joiner joins join", "aa ja aj"]
        surfaces = ["aa", "join", "ja"]
        docs = spark.createDataFrame([(t,) for t in texts], ["text"])
        alias = spark.createDataFrame(
            [(s, "T", f"kb:T:{s}", 1) for s in surfaces],
            ["mention", "ent_type", "entity_id", "freq"],
        )
        got = {r["mention"]: r["total_occurrences"]
               for r in count_unlabeled_occurrences(docs, alias).collect()}
        want = {s: sum(t.count(s) for t in texts) for s in surfaces}
        assert got == want

    def test_unlabeled_dictionary_size_guard(self, spark, mentions):
        docs = spark.createDataFrame([("u1", "x")], ["url", "text"])
        alias = build_alias_dictionary(mentions)
        with pytest.raises(ValueError, match="curated-dictionary"):
            count_unlabeled_occurrences(docs, alias, max_surfaces=1)


def test_salting_bounds_hub_task_records_end_to_end():
    """End-to-end skew regression (round-4 verdict #8): a 50%-hub
    graph through the real neighborhood-min operator, per-task
    shuffle-read RECORD maxima from the Spark REST API (records, not
    durations — deterministic under host throttling). Unsalted, the
    hub's whole neighborhood shuffles into ONE window task; salted,
    no single task may read more than ~half of it (measured ~0.38x:
    the worst remaining task is a cold-path partition, not the hub).
    Fresh JVM via subprocess because the shared test session runs
    with the UI disabled."""
    import json
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SKEW_NODES="1000000", SKEW_UI_PORT="4217")
    out = subprocess.run(
        [sys.executable, os.path.join(repo, "scripts", "skew_bench.py"),
         "--regression"],
        env=env, capture_output=True, text=True, timeout=240, cwd=repo,
    )
    lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
    assert lines, f"regression worker failed:\n{out.stdout[-1200:]}\n{out.stderr[-1200:]}"
    r = json.loads(lines[-1])
    n_hub = r["n_hub"]
    # unsalted: the hub reducer is one task (hub rows + its cold share)
    assert r["max_records_salt1"] >= 0.9 * n_hub, r
    # salted: bounded — no task sees even half the hub's rows
    assert r["max_records_salt16"] <= 0.5 * n_hub, r


class TestPageRank:
    def test_probability_mass_conserved(self, spark):
        """No dangling nodes after symmetrization -> total PR mass
        stays 1 at every iteration count."""
        from qizner_spark.operators.graph import pagerank

        edges = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("c", "a"), ("d", "a")], ["src", "dst"])
        from pyspark.sql import functions as F
        for iters in (1, 3):
            total = pagerank(edges, iterations=iters).agg(F.sum("pr")).first()[0]
            assert abs(total - 1.0) < 1e-9

    def test_hub_ranks_highest(self, spark):
        from qizner_spark.operators.graph import pagerank

        star = spark.createDataFrame(
            [("hub", f"leaf{i}") for i in range(6)], ["src", "dst"])
        rows = {r["node"]: r["pr"] for r in pagerank(star, iterations=5).collect()}
        assert rows["hub"] == max(rows.values())
        leafs = {v for k, v in rows.items() if k != "hub"}
        assert len(leafs) == 1  # symmetric leaves tie exactly

    def test_matches_power_iteration(self, spark):
        """3 DataFrame rounds == 3 numpy power-iteration rounds."""
        import numpy as np

        from qizner_spark.operators.graph import pagerank

        pairs = [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")]
        edges = spark.createDataFrame(pairs, ["src", "dst"])
        got = {r["node"]: r["pr"] for r in pagerank(edges, 0.85, 3).collect()}

        nodes = sorted({x for p in pairs for x in p})
        idx = {n: i for i, n in enumerate(nodes)}
        sym = set()
        for u, v in pairs:
            sym.add((idx[u], idx[v])); sym.add((idx[v], idx[u]))
        n = len(nodes)
        deg = np.zeros(n)
        for u, _ in sym:
            deg[u] += 1
        p = np.full(n, 1.0 / n)
        for _ in range(3):
            nxt = np.full(n, (1.0 - 0.85) / n)
            for u, v in sym:
                nxt[v] += 0.85 * p[u] / deg[u]
            p = nxt
        for name, i in idx.items():
            assert abs(got[name] - p[i]) < 1e-12, name


class TestCooccurrenceJaccard:
    def _sets(self, spark, rows):
        return spark.createDataFrame(rows, "url string, items array<string>")

    def test_hand_computed_pairs(self, spark):
        """docs(A)={d1,d2,d3}, docs(B)={d1,d2}, docs(C)={d3}:
        J(A,B)=2/3, J(A,C)=1/3, B&C share nothing (no row)."""
        from qizner_spark.operators.graph import cooccurrence_jaccard

        m = self._sets(spark, [
            ("d1", ["B", "A"]), ("d2", ["A", "B"]), ("d3", ["C", "A"]),
        ])
        got = {(r.src, r.dst): r for r in cooccurrence_jaccard(m).collect()}
        assert set(got) == {("A", "B"), ("A", "C")}
        ab, ac = got[("A", "B")], got[("A", "C")]
        assert (ab.n_common, ab.n_src, ab.n_dst) == (2, 3, 2)
        assert ab.jaccard == round(2 / 3, 6)
        assert (ac.n_common, ac.n_src, ac.n_dst) == (1, 3, 1)
        assert ac.jaccard == round(1 / 3, 6)

    def test_duplicate_membership_rows_ignored(self, spark):
        """An entity repeated in one doc's array counts once (the
        operator's array_distinct) — set semantics, like the
        co-mention edges."""
        from qizner_spark.operators.graph import cooccurrence_jaccard

        m = self._sets(spark, [("d1", ["A", "B", "A"]), ("d2", ["B"])])
        rows = cooccurrence_jaccard(m).collect()
        assert len(rows) == 1
        r = rows[0]
        assert (r.src, r.dst, r.n_common, r.n_src, r.n_dst) == ("A", "B", 1, 1, 2)
        assert r.jaccard == 0.5

    def test_identical_sets_give_one(self, spark):
        from qizner_spark.operators.graph import cooccurrence_jaccard

        m = self._sets(spark, [("d1", ["X", "Y"]), ("d2", ["Y", "X"])])
        rows = cooccurrence_jaccard(m).collect()
        assert len(rows) == 1 and rows[0].jaccard == 1.0
