"""End-to-end index-build tests: structure, invariants, determinism.

The index-structure oracle role of the reference's
`tests/index/assert_format.{hpp,cpp}`: rebuild the expected index naively in
pandas and compare term-by-term, posting-by-posting.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from iresearch_spark.analysis import get_analyzer
from iresearch_spark.corpus import generate_corpus, make_corpus_pdf
from iresearch_spark.index.build import build_index
from iresearch_spark.index.manifest import read_manifest

N_DOCS = 300
N_SEGMENTS = 4


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    index_dir = str(tmp_path_factory.mktemp("idx"))
    corpus = generate_corpus(spark, N_DOCS, num_partitions=3, min_tokens=20, max_tokens=300)
    metrics = build_index(spark, corpus, index_dir, num_segments=N_SEGMENTS)
    return index_dir, metrics


def _naive_index(pdf: pd.DataFrame):
    """Independent naive inverted index (python dicts) for comparison."""
    import binascii

    analyzer = get_analyzer("code")
    pdf = pdf.copy()
    pdf["segment_id"] = [
        binascii.crc32("\x00".join([r, p, c]).encode()) % N_SEGMENTS
        for r, p, c in zip(pdf["repo"], pdf["path"], pdf["commit"])
    ]
    out = {}  # (segment, term) -> {doc: (freq, positions)}
    dls = {}  # (segment, doc_id) -> dl
    for seg, g in pdf.groupby("segment_id"):
        g = g.sort_values(["repo", "path", "commit"])
        for local, (_, row) in enumerate(g.iterrows(), start=1):
            toks = analyzer(pd.Series([row["content"]])).iloc[0]
            dls[(seg, local)] = len(toks)
            for position, t in enumerate(toks):
                entry = out.setdefault((seg, t), {})
                freq, poss = entry.get(local, (0, []))
                entry[local] = (freq + 1, poss + [position])
    return out, dls


def test_manifest_and_metrics(built):
    index_dir, metrics = built
    m = read_manifest(index_dir)
    assert m is not None
    assert m.num_segments == N_SEGMENTS
    assert sum(s["docs"] for s in m.segments) == N_DOCS
    assert metrics["docs"] == N_DOCS
    assert metrics["postings_bytes"] > 0


def test_postings_match_naive_index(spark, built):
    from iresearch_spark.codec import packed

    index_dir, _ = built
    seg = spark.read.parquet(f"{index_dir}/segments").toPandas()
    expected, dls = _naive_index(make_corpus_pdf(N_DOCS, min_tokens=20, max_tokens=300))

    got_keys = set(zip(seg["segment_id"], seg["term"]))
    assert got_keys == set(expected)

    rng = np.random.default_rng(3)
    sample = rng.choice(len(seg), size=min(500, len(seg)), replace=False)
    for i in sample:
        row = seg.iloc[i]
        exp = expected[(row["segment_id"], row["term"])]
        docs, freqs = packed.decode_postings(
            row["postings"],
            row["docs_count"],
            np.asarray(row["block_offsets"], dtype=np.int64),
        )
        exp_docs = sorted(exp)
        assert docs.tolist() == exp_docs
        assert freqs.tolist() == [exp[d][0] for d in exp_docs]
        assert row["total_tf"] == sum(f for f, _ in exp.values())
        flat_pos = packed.decode_positions(
            row["positions"],
            freqs,
            np.asarray(row["pos_offsets"], dtype=np.int64)
            if row["pos_offsets"] is not None
            else None,
        )
        exp_pos = [p for d in exp_docs for p in exp[d][1]]
        assert flat_pos.tolist() == exp_pos
        # blockmax invariants
        assert list(row["last_docs"])[-1] == exp_docs[-1]
        assert max(row["max_freqs"]) == max(f for f, _ in exp.values())


def test_docmeta_invariants(spark, built):
    """dl (JVM regexp) == python analyzer token count; sha256 matches source."""
    import hashlib

    index_dir, _ = built
    dm = spark.read.parquet(f"{index_dir}/docmeta").toPandas()
    assert len(dm) == N_DOCS
    src = make_corpus_pdf(N_DOCS, min_tokens=20, max_tokens=300)
    analyzer = get_analyzer("code")
    by_key = {(r["repo"], r["path"]): r for _, r in src.iterrows()}
    for _, row in dm.sample(n=100, random_state=5).iterrows():
        s = by_key[(row["repo"], row["path"])]
        toks = analyzer(pd.Series([s["content"]])).iloc[0]
        assert row["dl"] == len(toks)
        assert row["content_sha256"] == hashlib.sha256(s["content"].encode()).hexdigest()
    # dense doc ids starting at 1 per segment
    for seg, g in dm.groupby("segment_id"):
        ids = sorted(g["doc_id"])
        assert ids == list(range(1, len(g) + 1))


def test_build_deterministic_across_parallelism(spark, built):
    """Same corpus at different partitioning -> identical segment hashes."""
    index_dir, _ = built
    m1 = read_manifest(index_dir)
    corpus = generate_corpus(spark, N_DOCS, num_partitions=7, min_tokens=20, max_tokens=300)
    import tempfile

    with tempfile.TemporaryDirectory() as d2:
        build_index(spark, corpus, d2, num_segments=N_SEGMENTS)
        m2 = read_manifest(d2)
    h1 = {s["segment_id"]: s["content_hash"] for s in m1.segments}
    h2 = {s["segment_id"]: s["content_hash"] for s in m2.segments}
    assert h1 == h2


def test_text_analyzer_build_drops_stopwords(spark, tmp_path):
    """Index built with the `text` analyzer (Python kernel path — no JVM
    twin) must not contain stopword terms, and dl counts exclude them."""
    import pandas as pd

    from iresearch_spark.search import SearchEngine, TermF

    pdf = pd.DataFrame(
        {
            "repo": ["r", "r"],
            "path": ["p1", "p2"],
            "commit": ["c1", "c2"],
            "lang": ["t", "t"],
            "content": ["the quick fox and the dog", "a fox"],
        }
    )
    d = str(tmp_path / "idx")
    build_index(
        spark, spark.createDataFrame(pdf), d, num_segments=1, analyzer="text"
    )
    seg = spark.read.parquet(f"{d}/segments")
    terms = {r["term"] for r in seg.select("term").collect()}
    assert terms == {"quick", "fox", "dog"}
    # docmeta dl must count ANALYZER tokens (norms input), not raw tokens
    dls = {
        r["path"]: r["dl"]
        for r in spark.read.parquet(f"{d}/docmeta").collect()
    }
    assert dls == {"p1": 3, "p2": 1}
    eng = SearchEngine(spark, d)
    hits = eng.search(TermF(term="fox"), k=10).collect()
    assert len(hits) == 2


def test_pluggable_primary_sort(spark, tmp_path):
    """sort_by orders doc ids within each segment by the given columns
    (sorted index, comparer.hpp); ranks are unchanged vs the default
    order (scores are doc-id independent)."""
    from iresearch_spark.corpus import generate_corpus
    from iresearch_spark.index.manifest import read_manifest
    from iresearch_spark.search import SearchEngine, TermF

    corpus = generate_corpus(spark, 150, num_partitions=2).cache()
    d1, d2 = str(tmp_path / "sorted"), str(tmp_path / "plain")
    build_index(spark, corpus, d1, num_segments=2, sort_by=["lang", "repo"])
    build_index(spark, corpus, d2, num_segments=2)
    assert read_manifest(d1).sort == ["lang", "repo"]
    dm = spark.read.parquet(f"{d1}/docmeta").toPandas()
    for _, g in dm.groupby("segment_id"):
        g = g.sort_values("doc_id")
        keys = list(zip(g["lang"], g["repo"], g["path"]))
        assert keys == sorted(keys)
    r1 = [
        (r["repo"], r["path"], r["score"])
        for r in SearchEngine(spark, d1).search(TermF(term="import"), k=10).collect()
    ]
    r2 = [
        (r["repo"], r["path"], r["score"])
        for r in SearchEngine(spark, d2).search(TermF(term="import"), k=10).collect()
    ]
    assert {x[:2] for x in r1} == {x[:2] for x in r2}
    corpus.unpersist()
