"""Supplementary per-stage isolation bench (guide §1.4 noop-sink).

NOT the driver metric — bench.py is frozen for measurement. This file
exists to attribute time inside composite queries (kg_triples,
minhash_dedup, ...) stage by stage, each stage forced through the noop
sink with a job description label.

Usage: python bench_extra.py [sf_dir] [target ...]
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from qizner_spark.session import get_spark  # noqa: E402


def force(spark, label, df):
    spark.sparkContext.setJobDescription(label)
    t0 = time.time()
    df.write.format("noop").mode("overwrite").save()
    el = time.time() - t0
    spark.sparkContext.setJobDescription(None)
    print(f"{label}: {el:.3f}s", flush=True)
    return el


def kg_stages(spark, sf_dir):
    import __spark_entry__ as em
    from qizner_spark.plans.pipeline import build_kg_from_sf_dir

    stages = build_kg_from_sf_dir(
        spark, sf_dir, scorer_factory=em._kg_single_factory,
        broadcast_alias=True, max_entities_per_doc=em.COMENTION_CAP)
    force(spark, "kg: docs(extract)", stages["docs"])
    t0 = time.time()
    force(spark, "kg: mentions (detection, materializes persist)", stages["mentions"])
    force(spark, "kg: alias", stages["alias"])
    force(spark, "kg: linked", stages["linked"])
    force(spark, "kg: edges", stages["edges"])
    force(spark, "kg: components (incl CC job)", stages["components"])
    force(spark, "kg: triples (full assembly)", stages["triples"])
    print(f"kg total-after-detection wall: {time.time()-t0:.3f}s")
    stages.release()


def kg_whole(spark, sf_dir):
    import __spark_entry__ as em

    q = em.queries()["kg_triples"]
    for i in range(3):
        df = q(spark, sf_dir)
        force(spark, f"kg_triples end-to-end #{i}", df)


def minhash_stages(spark, sf_dir):
    import __spark_entry__ as em
    from qizner_spark.operators.dedup import (
        lsh_candidate_pairs, minhash_dedup_pairs, minhash_signatures,
    )

    docs = em._documents(spark, sf_dir)
    sigs = minhash_signatures(docs, 64, 3)
    force(spark, "minhash: signatures (unpersisted pass)", sigs)
    from pyspark import StorageLevel

    sigs = sigs.persist(StorageLevel.MEMORY_AND_DISK)
    force(spark, "minhash: signatures persist", sigs)
    cands = lsh_candidate_pairs(sigs, 16, num_hashes=64)
    force(spark, "minhash: lsh candidates", cands)
    force(spark, "minhash: full", minhash_dedup_pairs(sigs, threshold=0.5))
    sigs.unpersist()


def tfidf_stages(spark, sf_dir):
    import __spark_entry__ as em
    from qizner_spark.operators.textstats import tfidf_top_terms

    docs = em._documents(spark, sf_dir)
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    force(spark, "tfidf: explode only", toks)
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    force(spark, "tfidf: tf agg", tf)
    force(spark, "tfidf: full", tfidf_top_terms(docs, k=3))


def pagerank_stages(spark, sf_dir):
    import __spark_entry__ as em

    edges = em._comention_edges(spark, sf_dir).select("src", "dst")
    force(spark, "pagerank: edges", edges)
    q = em.queries()["comention_pagerank"]
    force(spark, "pagerank: full", q(spark, sf_dir))


TARGETS = {
    "kg": kg_stages,
    "kg_whole": kg_whole,
    "minhash": minhash_stages,
    "tfidf": tfidf_stages,
    "pagerank": pagerank_stages,
}


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names = sys.argv[2:] or list(TARGETS)
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark("qizner-bench-extra", master=f"local[{cpus}]",
                      shuffle_partitions=16,
                      extra_conf={"spark.ui.enabled": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    # warm the JVM + python workers
    import __spark_entry__ as em
    em.queries()["ner_mentions"](spark, "/root/testdata/sf0.001") \
        .write.format("noop").mode("overwrite").save()
    for n in names:
        print(f"--- {n} @ {sf_dir}")
        TARGETS[n](spark, sf_dir)
    spark.stop()


if __name__ == "__main__":
    main()
