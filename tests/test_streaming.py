"""Streaming incremental indexing: micro-batches == commit generations.

Gate: a corpus indexed incrementally (several micro-batches) must answer
queries identically to the same corpus indexed in one batch build — BM25
stats are global (manifest-wide), so scores are segmentation-invariant.
"""

import shutil

import pytest

from iresearch_spark.corpus import generate_corpus
from iresearch_spark.index import build_index, read_manifest
from iresearch_spark.search import Or, SearchEngine, TermF
from iresearch_spark.streaming import IncrementalIndexer, index_stream

N_DOCS = 300


def _topk(spark, index_dir, k=15):
    eng = SearchEngine(spark, index_dir)
    q = Or(children=(TermF(term="import"), TermF(term="return")))
    rows = eng.search(q, k=k).collect()
    return [(r["repo"], r["path"], r["commit"], round(r["score"], 5)) for r in rows]


@pytest.fixture(scope="module")
def batch_index(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx") / "batch")
    build_index(spark, generate_corpus(spark, N_DOCS, 4), d, num_segments=4)
    return d


def test_incremental_matches_batch_build(spark, tmp_path_factory, batch_index):
    d = str(tmp_path_factory.mktemp("idx") / "incr")
    corpus = generate_corpus(spark, N_DOCS, 4)
    idxer = IncrementalIndexer(spark, d, segments_per_batch=3)
    # three disjoint micro-batches (deterministic split on crc32 of path)
    from pyspark.sql import functions as F

    for b in range(3):
        part = corpus.filter(F.pmod(F.crc32("path"), F.lit(3)) == b)
        res = idxer.process_batch(part, b)
        assert res["docs"] > 0
    m = read_manifest(d)
    assert len(m.segments) == 9
    assert sum(s["docs"] for s in m.segments) == N_DOCS
    assert _topk(spark, d) == _topk(spark, batch_index)


def test_replayed_batch_is_skipped(spark, tmp_path):
    d = str(tmp_path / "idx")
    corpus = generate_corpus(spark, 50, 2)
    idxer = IncrementalIndexer(spark, d, segments_per_batch=2)
    idxer.process_batch(corpus, 0)
    before = read_manifest(d).to_json()
    res = idxer.process_batch(corpus, 0)  # foreachBatch retry
    assert res.get("skipped") is True
    assert read_manifest(d).to_json() == before


def test_readstream_file_source(spark, tmp_path, batch_index):
    src = str(tmp_path / "src")
    generate_corpus(spark, N_DOCS, 6).write.parquet(src)
    d = str(tmp_path / "idx")
    ckpt = str(tmp_path / "ckpt")
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    q = index_stream(stream, d, ckpt, segments_per_batch=2)
    q.awaitTermination(120)
    assert not q.isActive
    m = read_manifest(d)
    assert sum(s["docs"] for s in m.segments) == N_DOCS
    assert len(m.segments) >= 4  # >=2 micro-batches happened
    assert _topk(spark, d) == _topk(spark, batch_index)


def test_replace_batch_supersedes_old_versions(spark, tmp_path):
    """Replace (index_writer.hpp:407): new commit of the same (repo, path)
    must be the only visible version afterwards."""
    from pyspark.sql import functions as F

    d = str(tmp_path / "idx_replace")
    corpus = generate_corpus(spark, 120, 4).cache()
    idxer = IncrementalIndexer(spark, d, segments_per_batch=2)
    idxer.process_batch(corpus, 0)

    # re-ship 30 docs under a new commit with changed content
    updated = (
        corpus.limit(30)
        .withColumn("commit", F.concat(F.lit("v2_"), F.col("commit")))
        .withColumn("content", F.concat(F.col("content"), F.lit(" zzzupdated")))
        .cache()
    )
    res = idxer.replace_batch(updated, 1)
    assert res["replaced"] == 30

    eng = SearchEngine(spark, d)
    hits = eng.search(TermF(term="zzzupdated"), k=None).collect()
    assert len(hits) == 30
    assert all(r["commit"].startswith("v2_") for r in hits)
    # old versions are masked: total live docs unchanged
    base = eng.search(TermF(term="import"), k=None).select("repo", "path")
    assert base.distinct().count() == base.count()

    # idempotent: re-running the same replace changes nothing
    res2 = idxer.replace_batch(updated, 1)
    assert res2.get("skipped", False) or res2["replaced"] == 0
    corpus.unpersist()
    updated.unpersist()


def test_replace_batch_identical_reship_no_duplicate(spark, tmp_path):
    """Re-shipping an UNCHANGED (repo, path, commit) in a replace batch must
    supersede the pre-existing copy, not duplicate it."""
    d = str(tmp_path / "idx_reship")
    corpus = generate_corpus(spark, 60, 2).cache()
    idxer = IncrementalIndexer(spark, d, segments_per_batch=2)
    idxer.process_batch(corpus, 0)

    same = corpus.limit(10).cache()  # identical rows, same commit
    res = idxer.replace_batch(same, 1)
    assert res["replaced"] == 10  # the old copies are tombstoned

    eng = SearchEngine(spark, d)
    hits = eng.search(TermF(term="import"), k=None).select(
        "repo", "path", "commit"
    )
    assert hits.count() == hits.distinct().count()
    corpus.unpersist()
    same.unpersist()


def _halves(corpus):
    from pyspark.sql import functions as F

    odd = F.pmod(F.crc32("path"), F.lit(2)) == 1
    return corpus.filter(~odd), corpus.filter(odd)


def _batch_segments(index_dir, batch_id):
    return [
        s for s in read_manifest(index_dir).segments
        if s["lineage"].get("batch_id") == batch_id
    ]


def _terms(spark, index_dir, seg_ids):
    from pyspark.sql import functions as F

    rows = (
        spark.read.parquet(f"{index_dir}/segments")
        .filter(F.col("segment_id").isin(seg_ids))
        .select("field", "term")
        .collect()
    )
    return sorted((r["field"], r["term"]) for r in rows)


def test_batch_follows_multifield_index(spark, tmp_path):
    """A micro-batch into a multi-field index indexes every field of the
    manifest, not just the primary one: lang:python after build + batch
    equals a one-shot build over the same docs."""
    import numpy as np

    fields = [("content", "code"), ("lang", "code")]
    corpus = generate_corpus(spark, 200, 4).cache()
    first, second = _halves(corpus)
    d, one = str(tmp_path / "inc"), str(tmp_path / "one")
    build_index(spark, first, d, num_segments=2, fields=fields)
    IncrementalIndexer(spark, d, segments_per_batch=2).process_batch(second, 0)
    build_index(spark, corpus, one, num_segments=4, fields=fields)

    def hits(index_dir):
        rows = SearchEngine(spark, index_dir).search(
            TermF(field_name="lang", term="python"), k=None
        ).collect()
        return sorted(
            (r["repo"], r["path"], r["commit"], np.float32(r["score"]))
            for r in rows
        )

    want = hits(one)
    assert len(want) == 34
    assert hits(d) == want
    segs = _batch_segments(d, 0)
    assert segs and all(set(s["fields"]) == {"lang"} for s in segs)
    assert sum(s["fields"]["lang"]["docs_with_field"] for s in segs) == sum(
        s["docs"] for s in segs
    )
    corpus.unpersist()


def test_batch_follows_index_analyzer(spark, tmp_path):
    """A micro-batch into a ``text`` index is tokenized with ``text``: its
    segments hold the terms of a one-shot ``text`` build over the batch."""
    corpus = generate_corpus(spark, 120, 2).cache()
    first, second = _halves(corpus)
    d, one = str(tmp_path / "inc"), str(tmp_path / "one")
    build_index(spark, first, d, num_segments=2, analyzer="text")
    IncrementalIndexer(spark, d, segments_per_batch=2).process_batch(second, 0)
    build_index(spark, second, one, num_segments=2, analyzer="text")

    seg_ids = [s["segment_id"] for s in _batch_segments(d, 0)]
    want = _terms(spark, one, [0, 1])
    assert want
    assert sorted(set(_terms(spark, d, seg_ids))) == sorted(set(want))
    corpus.unpersist()


def test_indexer_refuses_settings_that_conflict_with_index(spark, tmp_path):
    """``field``/``analyzer``/``with_positions`` only seed a new index; a
    value that contradicts an existing manifest is an error naming both."""
    d = str(tmp_path / "idx")
    build_index(spark, generate_corpus(spark, 30, 1), d, num_segments=1)
    with pytest.raises(ValueError, match="'text'.*'code'"):
        IncrementalIndexer(spark, d, analyzer="text")
    with pytest.raises(ValueError, match="'lang'.*'content'"):
        IncrementalIndexer(spark, d, field="lang")
    with pytest.raises(ValueError, match="False.*True"):
        IncrementalIndexer(spark, d, with_positions=False)
    # agreeing values and the defaults open the index
    IncrementalIndexer(spark, d, field="content", analyzer="code",
                       with_positions=True)
    IncrementalIndexer(spark, d)
