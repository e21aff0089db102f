#!/usr/bin/env python
"""OFFS-enabled build throughput vs the plain build (r4 verdict ask #1).

The r4 finding: payload/offsets builds forfeited the JVM tokenize path and
ran per-row Python (re.finditer + struct.pack), capping scaling at the
~8-worker Python string-object memory wall. The fix tokenizes
`code_offsets` JVM-side (regexp_extract_all + split gaps) and hands the
invert kernel Arrow token strings plus integer gap/token lengths; this
records the evidence.

Usage: python scripts/bench_offsets.py [--n 400000] [--trials 2]
                                       [--py-n 50000]
Prints ONE JSON line:
  {"n": ..., "plain_sec": ..., "offsets_jvm_sec": ...,
   "offsets_over_plain": ..., "py_n": ..., "offsets_py_sec": ...,
   "offsets_py_docs_per_sec": ..., ...}

`offsets_over_plain` is the headline: the verdict's bar is <= ~1.5x.
The per-row Python path is measured at the smaller --py-n (it is the
documented slow path; at --n it would dominate the wall-clock budget). It
builds with ``code_offsets_analyzer`` registered under a second payload-
analyzer name, which has no JVM tokenizer, so it tokenizes in Python.
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys
import time


def _build(spark, n, analyzer, tag, num_segments):
    from iresearch_spark.corpus import generate_corpus
    from iresearch_spark.index.build import build_index

    d = f"/tmp/bench_offs_{tag}"
    shutil.rmtree(d, ignore_errors=True)
    corpus = generate_corpus(spark, n)
    t0 = time.time()
    build_index(spark, corpus, d, num_segments=num_segments, analyzer=analyzer)
    sec = time.time() - t0
    shutil.rmtree(d, ignore_errors=True)
    return sec


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=400_000)
    ap.add_argument("--py-n", type=int, default=50_000,
                    help="doc count for the per-row Python reference leg")
    ap.add_argument("--trials", type=int, default=2)
    ap.add_argument("--cores", type=int, default=32)
    ap.add_argument("--segments", type=int, default=64)
    args = ap.parse_args()

    sys.path.insert(0, ".")
    from iresearch_spark import get_spark

    spark = get_spark("bench-offsets", cores=args.cores)

    def best(n, analyzer, tag):
        return min(
            _build(spark, n, analyzer, f"{tag}_{t}", args.segments)
            for t in range(args.trials)
        )

    plain = best(args.n, "code", "plain")
    offs_jvm = best(args.n, "code_offsets", "offs_jvm")
    out = {
        "n": args.n,
        "trials": args.trials,
        "cores": args.cores,
        "plain_sec": round(plain, 2),
        "offsets_jvm_sec": round(offs_jvm, 2),
        "offsets_over_plain": round(offs_jvm / plain, 3),
        "plain_docs_per_sec": round(args.n / plain, 1),
        "offsets_jvm_docs_per_sec": round(args.n / offs_jvm, 1),
    }
    if args.py_n:
        from iresearch_spark.analysis import PAYLOAD_ANALYZERS
        from iresearch_spark.analysis.analyzers import code_offsets_analyzer

        PAYLOAD_ANALYZERS["code_offsets_python_feed"] = code_offsets_analyzer
        offs_py = best(args.py_n, "code_offsets_python_feed", "offs_py")
        out.update(
            py_n=args.py_n,
            offsets_py_sec=round(offs_py, 2),
            offsets_py_docs_per_sec=round(args.py_n / offs_py, 1),
        )
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
