#!/usr/bin/env python
"""spark-submit entry point for cluster index builds.

Usage (the north-rule deployment shape — a multi-executor cluster run):

    zip -r /tmp/iresearch_spark.zip iresearch_spark
    spark-submit --master <cluster> \
        --py-files /tmp/iresearch_spark.zip \
        scripts/build_job.py \
        --corpus s3://bucket/corpus_table \
        --index-dir s3://bucket/index_v1 \
        --num-segments 4096

In this sandbox the same invocation runs with ``--master local[N]``
(tests/test_spark_submit.py drives it end-to-end). The job never calls
``SparkSession.builder.master`` — the master, executor count and memory all
come from spark-submit, so the identical artifact runs at N and 4N
executors for the scaling measurement.

``--synthetic N`` generates the deterministic corpus instead of reading
one (for scale experiments); ``--query`` optionally runs a smoke BM25
disjunction against the fresh index and prints the top-k.
"""

from __future__ import annotations

import argparse
import json
import sys


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--corpus", help="parquet path of the corpus table")
    ap.add_argument("--synthetic", type=int, default=0,
                    help="generate N synthetic docs instead of --corpus")
    ap.add_argument("--index-dir", required=True)
    ap.add_argument("--num-segments", type=int, default=32)
    ap.add_argument("--waves", type=int, default=1)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--query", default=None,
                    help="comma-separated terms for a smoke top-k disjunction")
    ap.add_argument("--k", type=int, default=10)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    # master/deploy config comes from spark-submit; only app-level tuning here
    spark = (
        SparkSession.builder.appName("iresearch-build")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    from iresearch_spark.corpus import generate_corpus
    from iresearch_spark.index.build import build_index

    if args.synthetic:
        corpus = generate_corpus(spark, args.synthetic)
    elif args.corpus:
        corpus = spark.read.parquet(args.corpus)
    else:
        print("need --corpus or --synthetic", file=sys.stderr)
        return 2

    metrics = build_index(
        spark,
        corpus,
        args.index_dir,
        num_segments=args.num_segments,
        waves=args.waves,
        resume=args.resume,
    )
    out = {"job": "build", **metrics}

    if args.query:
        from iresearch_spark.search import Or, SearchEngine, TermF

        eng = SearchEngine(spark, args.index_dir)
        terms = tuple(TermF(term=t) for t in args.query.split(","))
        filt = terms[0] if len(terms) == 1 else Or(children=terms)
        hits = eng.search(filt, k=args.k).collect()
        out["query"] = args.query
        out["topk"] = [
            {"repo": r["repo"], "path": r["path"], "score": float(r["score"])}
            for r in hits
        ]

    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
