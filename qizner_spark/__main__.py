"""spark-submit entry point for the KG-construction job.

Cluster usage (north_rule: multi-executor, --py-files):

    zip -r qizner_spark.zip qizner_spark
    spark-submit --py-files qizner_spark.zip \\
        --num-executors 250 --executor-cores 4 \\
        qizner_spark/__main__.py \\
        --input s3a://bucket/pages_iceberg \\
        --sink s3a://bucket/triples \\
        --salt-buckets 16

The sink scheme's Hadoop connector (hadoop-aws for s3a://) must be on
the classpath: the commit protocol binds the sink's own FileSystem.

Local sandbox smoke:

    python -m qizner_spark --synthetic-pages 200 --sink /tmp/kg_out --master 'local[8]'

The session is built WITHOUT a hard-coded master unless --master is
given, so spark-submit's cluster manager settings apply. The job is
one resumable increment: pending urls (anti-join against the sink's
committed snapshot + manifest) -> flagship DAG -> partitioned append
-> metrics row. Rerunning after any crash is safe (see
plans/checkpoint.py).
"""

from __future__ import annotations

import argparse
import json
import sys


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(prog="qizner_spark", description=__doc__)
    src = p.add_mutually_exclusive_group(required=True)
    src.add_argument("--input", help="pages table path (parquet/Iceberg): url, warc_ts, html, text, lang")
    src.add_argument("--synthetic-pages", type=int, metavar="N",
                     help="generate N deterministic synthetic pages instead of reading input")
    p.add_argument("--sink", required=True, help="triples sink path (append, partitioned by subj bucket)")
    p.add_argument("--metrics", help="metrics sink path (default: <sink>_metrics)")
    p.add_argument("--master", help="override master (local runs only; leave unset under spark-submit)")
    p.add_argument("--decode-threshold", type=float, default=0.5)
    p.add_argument("--max-seg-len", type=int, default=512)
    p.add_argument("--shuffle-partitions", type=int, default=None)
    p.add_argument("--salt-buckets", type=int, default=None,
                   help="hub-key salt buckets for the connected-components rounds")
    return p.parse_args(argv)


def main() -> int:
    args = parse_args(sys.argv[1:])
    from qizner_spark.session import get_spark

    spark = get_spark("qizner-kg-build", master=args.master,
                      shuffle_partitions=args.shuffle_partitions)
    from qizner_spark.plans.checkpoint import run_resumable
    from qizner_spark.sources.pages import synthetic_pages

    if args.synthetic_pages is not None:
        pages = synthetic_pages(spark, args.synthetic_pages)
    else:
        pages = spark.read.parquet(args.input)

    metrics = run_resumable(
        spark, pages, args.sink,
        metrics_path=args.metrics or f"{args.sink}_metrics",
        decode_threshold=args.decode_threshold,
        max_seg_len=args.max_seg_len,
        salt_buckets=args.salt_buckets,
    )
    print(json.dumps(metrics), flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
