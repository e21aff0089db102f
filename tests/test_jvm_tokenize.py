"""The JVM tokenizer feed must produce an index indistinguishable from the
Python tokenizer feed of the same analyzer: identical per-segment content
hashes (XOR over term/docs_count/total_tf/postings — order-independent)
and identical query results. ``code`` has a Catalyst twin, so it tokenizes
JVM-side; the same ``code_analyzer`` registered under a second name has
none, so it tokenizes in the Python task."""

import pytest

from iresearch_spark.analysis import ANALYZERS, register_analyzer
from iresearch_spark.analysis.analyzers import code_analyzer
from iresearch_spark.corpus import generate_corpus
from iresearch_spark.index import build_index, read_manifest
from iresearch_spark.search import Or, Phrase, SearchEngine, TermF


@pytest.fixture(scope="module")
def both_indexes(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("idx_paths")
    register_analyzer("code_python_feed", code_analyzer)
    dirs = {}
    for name, analyzer in (("jvm", "code"), ("py", "code_python_feed")):
        d = str(base / name)
        corpus = generate_corpus(spark, 250, num_partitions=3)
        build_index(spark, corpus, d, num_segments=3, analyzer=analyzer)
        dirs[name] = d
    yield dirs
    ANALYZERS.pop("code_python_feed")


def test_manifests_equivalent(both_indexes):
    ms = {k: read_manifest(d) for k, d in both_indexes.items()}
    for a, b in zip(ms["jvm"].segments, ms["py"].segments):
        assert a["segment_id"] == b["segment_id"]
        assert a["content_hash"] == b["content_hash"], (a, b)
        assert a["terms"] == b["terms"]
        assert a["docs"] == b["docs"]
        assert a["total_term_freq"] == b["total_term_freq"]
        assert a["min_term"] == b["min_term"]
        assert a["max_term"] == b["max_term"]


def test_queries_identical(spark, both_indexes):
    queries = [
        Or(children=(TermF(term="import"), TermF(term="sym_12"))),
        Phrase(terms=("import", "int")),
        TermF(term="uniq_3_a"),
    ]
    e_jvm = SearchEngine(spark, both_indexes["jvm"])
    e_py = SearchEngine(spark, both_indexes["py"])
    for q in queries:
        r1 = [tuple(r) for r in e_jvm.search(q, k=20).collect()]
        r2 = [tuple(r) for r in e_py.search(q, k=20).collect()]
        assert r1 == r2
