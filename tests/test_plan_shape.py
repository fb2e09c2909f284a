"""Physical-plan regression tests: lock in the join strategies the
plan audits established (rounds 1-3) so a refactor can't silently
reintroduce a scale-killer.

Rules encoded here:
  * No ``CartesianProduct`` anywhere, ever.
  * ``BroadcastNestedLoopJoin`` only in :func:`brute_force_topk` — the
    deliberately-exact baseline that broadcasts a bounded query set;
    every scale-path operator (ANN, fuzzy dedup, linking, flagship)
    must be equi-join only.
  * Small-dimension joins the code hints (ANN query side) must
    actually plan as ``BroadcastHashJoin``.
  * The components join is UNHINTED on both assembly paths, and the
    alias-dictionary join is UNHINTED by default (AQE decides); its
    ``broadcast_alias`` flag must actually add the hint when forced
    (no dead flag).

Plans are inspected AFTER an action so AQE's runtime replanning is
final (the string still contains the initial plan as a subtree, so
assertions on forbidden nodes cover both)."""

from __future__ import annotations

import pytest

pytestmark = pytest.mark.usefixtures("spark")


def final_plan(df) -> str:
    df.collect()  # drive AQE to isFinalPlan=true
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def plans(spark, sf_dir):
    """Executed plans of EVERY join-bearing driver query (computed
    once). Coverage contract (round-4 verdict ask #4): every query
    whose physical plan contains a Join node is listed here; the
    audited no-Join exclusions (2026-08-17, sf0.001) are
    ner_mentions_udf, ner_seq_crf, exact_dedup, combine_by_text,
    token_counts, lang_id, quality_scores, doc_fingerprints,
    negative_sample, events_sessions, q1_pricing, full_mentions,
    flat_mentions, multimodal_features, cumulative_revenue,
    events_pivot (both window/pivot-only), stratified_sample and
    priority_quartiles (partitioned-window-only), hash_sample (pure
    narrow filter — the one query whose POINT is having no exchange
    at all), q6_forecast (filter+agg, join-free; its pushdown shape
    is locked in TestExchangeShapes), and
    top_orders_per_customer (join-free; its window-exchange shape is
    locked separately in TestExchangeShapes)."""
    import __spark_entry__ as em

    qs = em.queries()
    names = [
        "ner_mentions", "comention_edges", "ann_topk", "minhash_dedup",
        "simhash_dedup", "embedding_near_dup", "similarity_topk", "kg_triples",
        # round-3 join-bearing queries: the as-of join especially — its
        # whole point is NOT planning a BNLJ range join
        "events_asof", "events_rollup", "q5_region_revenue",
        "raw_offset_mentions",
        # round-5 completion: the remaining join-bearing queries
        "alias_dictionary", "entity_linking", "unlabeled_occurrences",
        "type_convert", "connected_components", "eval_prf",
        "eval_confusion", "eval_set_ops", "eval_compare", "ngram_jaccard",
        "ann_recall", "near_dup_recall", "q3_topk", "order_coverage",
        "kg_triples_full",
        # round-5 additions
        "q7_nation_volume", "order_value_stats", "tfidf_top_terms",
        "comention_pagerank", "q18_large_orders",
        "q13_order_distribution",
        "min_price_supplier",
        # KG read path: the kg_triples DAG under a (subj, pred) rollup
        # — same join inventory as the flagship
        "entity_summary",
        # the BIO/Viterbi detection family through the identical KG
        # tail — must keep the flagship's join inventory too
        "kg_triples_seq",
        # entity similarity: per-doc sets -> ordered_pairs + two
        # unhinted size re-attach equi-joins
        "entity_jaccard",
        # constructing this one RUNS the availableNow stream first
        # (per-doc detection into the mention staging sink); the plan
        # under test is the corpus-global compaction (assemble_kg)
        # reading that sink — the same join inventory as kg_triples
        "kg_stream_increments",
    ]
    return {n: final_plan(qs[n](spark, sf_dir)) for n in names}


FORBIDDEN_EVERYWHERE = ["CartesianProduct"]
# the brute-force baseline broadcasts its bounded query set with no
# join condition — the ONLY place a nested-loop join is acceptable.
# ann_recall / near_dup_recall embed that same exact baseline as the
# ground-truth side of their recall measurement (similarity.py
# brute_force_topk / exact_cosine_pairs, both size-asserted).
# tfidf_top_terms / comention_pagerank: their BNLJ side is a
# groupBy().count() ONE-ROW aggregate (the lazy corpus-/node-count
# scalar attach, same sanctioned shape as negative_sample's broadcast
# count) — bounded by construction at any scale.
BNLJ_ALLOWED = {"similarity_topk", "ann_recall", "near_dup_recall",
                "tfidf_top_terms", "comention_pagerank"}


class TestForbiddenJoins:
    def test_no_cartesian_anywhere(self, plans):
        for name, plan in plans.items():
            for node in FORBIDDEN_EVERYWHERE:
                assert node not in plan, f"{name} plans a {node}"

    def test_bnlj_only_in_brute_force_baseline(self, plans):
        for name, plan in plans.items():
            if name in BNLJ_ALLOWED:
                continue
            assert "BroadcastNestedLoopJoin" not in plan, (
                f"{name} plans a BroadcastNestedLoopJoin — a scale path "
                "must join on keys (equi-join), not enumerate pairs"
            )


class TestIntendedBroadcasts:
    def test_ann_bucket_join_is_broadcast_hash(self, plans):
        assert "BroadcastHashJoin" in plans["ann_topk"]
        assert "BroadcastNestedLoopJoin" not in plans["ann_topk"]

    def test_flagship_has_no_shuffle_killers(self, plans):
        plan = plans["kg_triples"]
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        # at sandbox scale AQE converts the small joins to broadcast
        assert "BroadcastHashJoin" in plan

    def test_asof_join_is_not_pair_enumeration(self, plans):
        """asof_join_backward is union + one window pass — a range
        condition naively joined would plan BNLJ/cartesian."""
        plan = plans["events_asof"]
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan


def _alias_fixture(spark, sf_dir):
    from pyspark.sql import functions as F
    import __spark_entry__ as em

    from qizner_spark.operators.linking import build_alias_dictionary

    mentions = em.queries()["ner_mentions"](spark, sf_dir).withColumn(
        "url", F.col("doc_id").cast("string")
    )
    return mentions, build_alias_dictionary(mentions)


class TestAliasBroadcastGuard:
    """Broadcast guard for the alias dictionary: an open-corpus surface
    vocabulary is Zipfian-unbounded, so link_mentions must not carry
    an unconditional broadcast hint."""

    def test_parity_across_strategies(self, spark, sf_dir):
        from qizner_spark.operators.linking import link_mentions

        mentions, alias = _alias_fixture(spark, sf_dir)
        cols = ["doc_id", "pos", "mention", "ent_type", "entity_id"]
        base = link_mentions(mentions, alias).select(cols)
        forced = link_mentions(mentions, alias, broadcast_alias=True).select(cols)
        assert base.exceptAll(forced).count() == 0
        assert forced.exceptAll(base).count() == 0

    def test_default_is_unhinted(self, spark, sf_dir):
        from qizner_spark.operators.linking import link_mentions

        mentions, alias = _alias_fixture(spark, sf_dir)

        def count_hints(df) -> int:
            return df._jdf.queryExecution().analyzed().toString().count("ResolvedHint")

        def hints(**kw) -> int:
            return count_hints(link_mentions(mentions, alias, **kw))

        # the INPUTS legitimately hint the bounded literal gazetteer;
        # the default link join itself must add none on top of them
        input_hints = count_hints(mentions) + count_hints(alias)
        assert hints() == input_hints, "default link join added a broadcast hint"
        assert hints(broadcast_alias=True) == input_hints + 1, \
            "broadcast_alias=True is a dead flag"

    def test_flagship_parity_across_alias_strategies(self, spark, sf_dir):
        """build_kg threads broadcast_alias; the forced hint must emit
        the same triples as the unhinted default."""
        from qizner_spark.plans.pipeline import build_kg_from_sf_dir

        def triples(**kw):
            stages = build_kg_from_sf_dir(spark, sf_dir, **kw)
            rows = sorted(stages["triples"].select("subj", "pred", "obj", "url").collect())
            stages.release()
            return rows

        assert triples(broadcast_alias=True) == triples()

    def test_default_still_broadcasts_via_aqe(self, spark, sf_dir):
        from qizner_spark.operators.linking import link_mentions

        mentions, alias = _alias_fixture(spark, sf_dir)
        default_plan = final_plan(link_mentions(mentions, alias))
        # tiny dictionary: AQE's size stats still pick broadcast-hash
        assert "BroadcastHashJoin" in default_plan


class TestComponentsLargeGraphPath:
    def test_distributed_path_matches_driver_path_unhinted_and_released(
            self, spark, sf_dir, monkeypatch):
        """Force the large-graph assembly (distributed connected
        components, materialized ``pre_canon``): it must emit the
        driver path's triples, join the unbounded entity->canonical
        map WITHOUT a broadcast hint (AQE may still broadcast it from
        runtime sizes), and ``release()`` must free ``pre_canon`` along
        with the other caches."""
        from pyspark import StorageLevel

        from qizner_spark.operators import graph
        from qizner_spark.plans.pipeline import build_kg_from_sf_dir

        cols = ["subj", "pred", "obj", "url", "warc_ts", "prob"]
        driver = build_kg_from_sf_dir(spark, sf_dir)
        want = sorted(driver["triples"].select(cols).collect())
        driver.release()

        solved = []
        cc = graph.connected_components

        def distributed(edges, **kw):
            solved.append(cc(edges, driver_threshold=0, **kw))
            return solved[-1]

        monkeypatch.setattr(graph, "connected_components", distributed)
        stages = build_kg_from_sf_dir(spark, sf_dir)
        assert solved and not solved[-1].isLocal(), \
            "the build did not take the distributed components path"
        triples = stages["triples"]
        assert sorted(triples.select(cols).collect()) == want
        assert "ResolvedHint" not in triples._jdf.queryExecution().analyzed().toString()

        owned = list(stages.persisted)
        assert len(owned) == 3  # mentions, ent_pre, pre_canon
        assert all(df.storageLevel != StorageLevel.NONE for df in owned)
        stages.release()
        assert all(df.storageLevel == StorageLevel.NONE for df in owned)

    def test_release_frees_the_distributed_checkpoints(self, spark, sf_dir, monkeypatch):
        """The distributed rounds localCheckpoint the edge set: each
        round frees the one it supersedes, and ``release()`` frees the
        last, which the component map reads — after the triples action
        and ``release()`` the session holds no more persistent RDDs
        than before the build. The map still shows its path to the
        benchmark's tracer."""
        import importlib.util
        import os
        import sys

        from qizner_spark.operators import graph
        from qizner_spark.plans.pipeline import build_kg_from_sf_dir

        path = os.path.join(os.path.dirname(os.path.dirname(__file__)), "perfbench", "spans.py")
        spec = importlib.util.spec_from_file_location("perfbench_spans", path)
        spans = importlib.util.module_from_spec(spec)
        monkeypatch.setitem(sys.modules, spec.name, spans)  # its dataclasses look it up
        spec.loader.exec_module(spans)

        maps = []
        cc = graph.connected_components

        def distributed(edges, **kw):
            maps.append(cc(edges, driver_threshold=0, **kw))
            return maps[-1]

        monkeypatch.setattr(graph, "connected_components", distributed)
        jsc = spark.sparkContext._jsc
        before = jsc.getPersistentRDDs().size()
        stages = build_kg_from_sf_dir(spark, sf_dir)
        stages["triples"].write.format("noop").mode("overwrite").save()
        assert spans.plan_path(maps[-1]) == "distributed"
        stages.release()
        assert jsc.getPersistentRDDs().size() <= before, \
            "the build left persistent RDDs behind after release()"


class TestAnnQueryBroadcastGuard:
    """ann_topk broadcasts its query side — its documented precondition
    is a bounded-small query set (the multiprobe explode multiplies it
    by 1+|probe_masks| before the join)."""

    @staticmethod
    def _emb(spark, sf_dir):
        return spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    def test_forced_hint_is_not_dead(self, spark, sf_dir):
        from qizner_spark.operators.similarity import ann_topk

        emb = self._emb(spark, sf_dir)
        q = emb.where("vec_id < 5")
        hinted = ann_topk(emb, q, k=5, n_planes=4, dim=64)
        assert "ResolvedHint" in hinted._jdf.queryExecution().analyzed().toString()
        plan = final_plan(hinted)
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan


class TestExchangeShapes:
    """Shuffle-inventory locks for the round-4 queries the verdict
    called out by shape, not just by join strategy."""

    def test_top_orders_window_shuffles_only_on_its_key(self, spark, sf_dir):
        """Per-group top-N: the ONLY data exchange is the hash
        partitioning on the window key (o_custkey) — a second,
        differently-keyed exchange would mean the window re-shuffles
        what the aggregation already clustered."""
        import re
        import __spark_entry__ as em

        plan = final_plan(em.queries()["top_orders_per_customer"](spark, sf_dir))
        parts = re.findall(r"Exchange hashpartitioning\(([^,)]+)", plan)
        assert parts, "expected a window exchange"
        assert all(p.startswith("o_custkey") for p in parts), parts

    def test_unlabeled_occurrences_never_shuffles_documents(self, spark, sf_dir):
        """The Aho-Corasick counting pass reads documents once inside
        mapInPandas; every shuffle in the plan must be on the bounded
        surface-dictionary columns (mention/ent_type), never on a
        document column — at 10^12 docs a doc-table shuffle here
        would dwarf the scan."""
        import re
        import __spark_entry__ as em

        plan = final_plan(em.queries()["unlabeled_occurrences"](spark, sf_dir))
        parts = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
        assert parts, "expected dictionary-side aggregation exchanges"
        for p in parts:
            keys = [k.strip().split("#")[0] for k in p.split(",")[:-1]]  # last item = numPartitions
            assert set(keys) <= {"mention", "ent_type"}, p

    def test_q6_filters_reach_the_scan(self, spark, sf_dir):
        """All four Q6 predicates must arrive at the parquet reader
        as PushedFilters — a post-scan Filter over unpruned row
        groups reads the whole table at 10^12 rows."""
        import __spark_entry__ as em

        plan = final_plan(em.queries()["q6_forecast"](spark, sf_dir))
        assert "PushedFilters: [" in plan
        pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
        for col in ("l_shipdate", "l_discount", "l_quantity"):
            assert col in pushed, f"{col} not pushed: {pushed}"

    def test_hash_sample_has_no_exchange(self, spark, sf_dir):
        """The scale-path sampler's whole claim is ZERO data movement:
        a narrow md5-cutoff filter over the scan. Any Exchange in its
        plan means the claim regressed."""
        import __spark_entry__ as em

        plan = final_plan(em.queries()["hash_sample"](spark, sf_dir))
        assert "Exchange" not in plan, plan

    def test_order_coverage_semi_anti_are_hash_joins(self, plans):
        """Semi + anti join must stay BHJ/SMJ (equi-join family)."""
        plan = plans["order_coverage"]
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan
        assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan)
