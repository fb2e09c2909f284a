"""qizner_spark — a PySpark-native knowledge-graph construction engine.

Reimplements the query/data-processing capabilities of the QizNER
reference (span-based + BIO sequence-labeling NER, see
/root/reference) as a Spark-first pipeline: mention detection inside
vectorized Arrow UDFs, entity linking via broadcast alias joins,
canonicalization via connected components, and (subj, pred, obj)
triple materialization — designed for 10^12-document webtext scale.

Layout:
    core/       pure, numpy-vectorized operator semantics (testable
                without Spark; bit-exact vs the reference)
    sources/    corpus readers/writers + synthetic page generator
    operators/  DataFrame-level operators (detection, linking, dedup,
                similarity, eval, text stats, graph, multimodal)
    plans/      end-to-end DAGs (flagship pipeline, checkpoint/resume)
    streaming/  the structured-streaming KG build (stream_kg_increments)
"""

__version__ = "0.1.0"

from qizner_spark.session import get_spark  # noqa: F401
