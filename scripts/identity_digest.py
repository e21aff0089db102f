#!/usr/bin/env python
"""Byte-identity digest of an index through build, delete, merge and
consolidate.

For each index spec, on one fixed corpus:

1. ``build_index`` with 8 segments;
2. ``mark_deleted`` of 20 docs;
3. ``merge_segments`` of segments 0-3;
4. ``merge_segments`` of segments 4-7 with ``shard_docs=128``;
5. ``consolidate``.

After each step it takes three sha256 digests: of ``manifest.json``'s
bytes, of the sorted rows of the ``segments`` table, and of a fixed set of
search results (top-10 and all-matches, WAND on and off). Two checkouts
that print the same line wrote byte-identical manifests, equal segment row
sets and identical search results, so a change's identity with its parent
is a diff of two lines.

Usage: python scripts/identity_digest.py [--docs 800] [--specs code,text,...]
Prints ONE JSON line: {"docs": n, "digest": {spec: {step: {"manifest",
"segments", "search"}}}}.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

SPECS = ("code", "code_offsets", "code_payload", "text", "mf")
STEPS = ("build", "delete", "merge_0_3", "merge_4_7_sharded", "consolidate")
CORPUS_SCHEMA = (
    "repo string, path string, commit string, lang string, content string"
)
# non-ASCII, empty and NULL content: the edges of tokenizing and of the
# byte order the terms are sorted and cut in
EDGE_DOCS = [
    ("edge", "unicode.py", "e1", "py", "import café naïve ünïcode def 数据 import"),
    ("edge", "empty.py", "e2", "py", ""),
    ("edge", "null.py", "e3", "py", None),
    ("edge", "astral.py", "e4", "py", "def 𝔘nicode return émoji 😀 void"),
]


def spec_kwargs(spec: str) -> dict:
    """``build_index`` keyword arguments of one spec."""
    if spec == "mf":
        from __spark_entry__ import _ENGINE_VARIANTS

        return dict(_ENGINE_VARIANTS["mf"])
    return {"analyzer": spec}


def make_corpus(spark, n_docs: int):
    """``n_docs`` generated docs and the edge docs; ``n_chars`` feeds the
    ``mf`` spec's numeric field."""
    from pyspark.sql import functions as F

    from iresearch_spark.corpus import generate_corpus

    df = generate_corpus(spark, n_docs, 2).unionByName(
        spark.createDataFrame(EDGE_DOCS, CORPUS_SCHEMA)
    )
    return df.withColumn("n_chars", F.length("content"))


def _sha(rows) -> str:
    h = hashlib.sha256()
    for r in rows:
        h.update(repr(r).encode())
        h.update(b"\n")
    return h.hexdigest()


def _segment_rows_sha(index_dir: str) -> str:
    import pyarrow.dataset as ds

    t = ds.dataset(
        f"{index_dir}/segments", format="parquet", partitioning="hive"
    ).to_table()
    names = sorted(t.column_names)
    rows = [tuple(r[c] for c in names) for r in t.to_pylist()]
    return _sha(sorted(rows, key=repr))


def _queries(spec: str):
    from iresearch_spark.search import (
        And, Or, Phrase, Prefix, TermF, TermsF,
    )

    qs = [
        TermF(term="import"),
        TermF(term="café"),
        Or(children=(TermF(term="import"), TermF(term="def"))),
        And(children=(TermF(term="import"), TermF(term="def"))),
        TermsF(terms=("import", "def", "sym_2"), min_match=2),
        Prefix(prefix="sym_1"),
        Phrase(terms=("import", "def")),
    ]
    if spec == "mf":
        qs.append(TermF(field_name="lang", term="py"))
    return qs


def _search_sha(spark, index_dir: str, spec: str) -> str:
    from iresearch_spark.search import SearchEngine

    eng = SearchEngine(spark, index_dir)
    rows = []
    try:
        for q in _queries(spec):
            for k in (10, None):
                for wand in (True, False):
                    got = [tuple(r) for r in eng.search(q, k=k, wand=wand).collect()]
                    # all-matches results carry no order
                    rows.append((repr(q), k, wand, got if k else sorted(got, key=repr)))
    finally:
        eng.close()
    return _sha(rows)


def digest_spec(spark, corpus, spec: str, index_dir: str) -> dict:
    """The digests of ``spec`` after each of :data:`STEPS`."""
    from iresearch_spark.index import build_index
    from iresearch_spark.index.deletes import mark_deleted
    from iresearch_spark.index.merge import consolidate, merge_segments

    keys = corpus.select("repo", "path", "commit").orderBy(
        "repo", "path", "commit"
    ).limit(20)
    actions = {
        "build": lambda: build_index(
            spark, corpus, index_dir, num_segments=8, **spec_kwargs(spec)
        ),
        "delete": lambda: mark_deleted(spark, index_dir, keys),
        "merge_0_3": lambda: merge_segments(spark, index_dir, [0, 1, 2, 3]),
        "merge_4_7_sharded": lambda: merge_segments(
            spark, index_dir, [4, 5, 6, 7], shard_docs=128
        ),
        "consolidate": lambda: consolidate(spark, index_dir),
    }
    out = {}
    for step in STEPS:
        actions[step]()
        with open(f"{index_dir}/manifest.json", "rb") as f:
            manifest = hashlib.sha256(f.read()).hexdigest()
        out[step] = {
            "manifest": manifest,
            "segments": _segment_rows_sha(index_dir),
            "search": _search_sha(spark, index_dir, spec),
        }
    return out


def digest(spark, n_docs: int, specs=SPECS, work_dir: str | None = None) -> dict:
    corpus = make_corpus(spark, n_docs).cache()
    root = tempfile.mkdtemp(prefix="identity_digest_", dir=work_dir)
    try:
        return {
            "docs": corpus.count(),
            "digest": {
                spec: digest_spec(spark, corpus, spec, f"{root}/{spec}")
                for spec in specs
            },
        }
    finally:
        corpus.unpersist()
        shutil.rmtree(root, ignore_errors=True)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--docs", type=int, default=800)
    ap.add_argument("--specs", default=",".join(SPECS))
    args = ap.parse_args()

    from iresearch_spark import get_spark

    spark = get_spark("identity-digest", cores=4, shuffle_partitions=8)
    try:
        out = digest(spark, args.docs, args.specs.split(","))
    finally:
        spark.stop()
    print(json.dumps(out, sort_keys=True))


if __name__ == "__main__":
    main()
