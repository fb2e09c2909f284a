"""Dump .explain('formatted') for named queries to plans/<tag>/<q>_<suffix>.txt.

Usage: python scripts/dump_plans.py <out_dir> <suffix> [query ...]
Defaults to the bench HEADLINE set when no queries are given.
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from qizner_spark.session import get_spark  # noqa: E402

HEADLINE = [
    "kg_triples", "ner_mentions", "ner_mentions_udf", "exact_dedup",
    "minhash_dedup", "similarity_topk", "ann_topk", "quality_scores",
    "multimodal_features", "q1_pricing", "events_sessions",
    "tfidf_top_terms", "comention_pagerank",
]


def main() -> None:
    out_dir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:] or HEADLINE
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("qizner-plans", master="local[8]", shuffle_partitions=16,
                      extra_conf={"spark.ui.enabled": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as entrymod

    queries = entrymod.queries()
    execute = os.environ.get("DUMP_PLANS_EXECUTE", "0") == "1"
    for name in names:
        df = queries[name](spark, sf_dir)
        if execute:
            # drive THIS df's QueryExecution to its final AQE plan
            # (same convention as test_plan_shape.final_plan; a noop
            # write would execute a separate QueryExecution and leave
            # df's own plan unfinalized)
            df.collect()
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(plan)
        print(f"{name}: {plan.count('Exchange')} Exchange-mentions, "
              f"{len(plan.splitlines())} lines", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
