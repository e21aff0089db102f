"""Document deletion masks + purge-on-merge (the reference's delete model:
masks never touch segment data; consolidation purges and re-numbers)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from iresearch_spark.corpus import generate_corpus
from iresearch_spark.index import (
    build_index,
    deletion_ratio,
    mark_deleted,
    merge_segments,
    plan_cleanup,
    read_manifest,
)
from iresearch_spark.search import Or, SearchEngine, TermF

N_DOCS = 300
QUERY = Or(children=(TermF(term="import"), TermF(term="return")))


def _results(spark, index_dir, wand=True):
    eng = SearchEngine(spark, index_dir)
    return [
        (r["repo"], r["path"], r["commit"], np.float32(r["score"]))
        for r in eng.search(QUERY, k=50, wand=wand).collect()
    ]


@pytest.fixture()
def fresh_index(spark, tmp_path):
    d = str(tmp_path / "idx")
    build_index(spark, generate_corpus(spark, N_DOCS, 4), d, num_segments=4)
    return d


def test_masked_docs_disappear_scores_unchanged(spark, fresh_index):
    before = _results(spark, fresh_index)
    victims = [before[0], before[2], before[5]]
    keys = spark.createDataFrame(
        [(v[0], v[1], v[2]) for v in victims], ["repo", "path", "commit"]
    )
    n = mark_deleted(spark, fresh_index, keys)
    assert n == 3
    after = _results(spark, fresh_index)
    victim_ids = {v[:3] for v in victims}
    assert all(r[:3] not in victim_ids for r in after)
    # stats untouched before consolidation -> survivors keep exact scores
    # (new docs enter at the tail to refill k)
    exp = [r for r in before if r[:3] not in victim_ids]
    assert after[: len(exp)] == exp
    assert len(after) == 50
    # idempotent: re-deleting the same keys adds nothing
    assert mark_deleted(spark, fresh_index, keys) == 0


def test_wand_respects_masks(spark, fresh_index):
    before = _results(spark, fresh_index)
    keys = spark.createDataFrame(
        [tuple(before[0][:3])], ["repo", "path", "commit"]
    )
    mark_deleted(spark, fresh_index, keys)
    assert _results(spark, fresh_index, wand=True) == _results(
        spark, fresh_index, wand=False
    )


def test_merge_purges_and_matches_fresh_live_build(spark, tmp_path):
    d = str(tmp_path / "idx")
    corpus = generate_corpus(spark, N_DOCS, 4).cache()
    build_index(spark, corpus, d, num_segments=3)
    # delete every doc whose path hashes to a third of the space
    victims = corpus.filter(F.pmod(F.crc32("path"), F.lit(3)) == 0).select(
        "repo", "path", "commit"
    )
    n_victims = victims.count()
    mark_deleted(spark, d, victims)
    merge_segments(spark, d, [0, 1, 2])
    m = read_manifest(d)
    assert len(m.segments) == 1
    seg = m.segments[0]
    assert seg["docs"] == N_DOCS - n_victims
    # dense renumbering: doc ids are exactly 1..live
    ids = sorted(
        r["doc_id"]
        for r in spark.read.parquet(f"{d}/docmeta").select("doc_id").collect()
    )
    assert ids == list(range(1, N_DOCS - n_victims + 1))
    # a fresh index over only the live docs must give identical results
    d2 = str(tmp_path / "idx_fresh")
    live = corpus.join(victims, ["repo", "path", "commit"], "anti")
    build_index(spark, live, d2, num_segments=3)
    got = _results(spark, d)
    exp = _results(spark, d2)
    assert got == exp
    corpus.unpersist()


def test_cleanup_policy(spark, fresh_index):
    m = read_manifest(fresh_index)
    assert plan_cleanup(m.segments) == []
    # delete most docs of segment 0
    dm = spark.read.parquet(f"{fresh_index}/docmeta")
    seg0 = dm.filter(F.col("segment_id") == 0).select("repo", "path", "commit")
    mark_deleted(spark, fresh_index, seg0)
    m2 = read_manifest(fresh_index)
    s0 = [s for s in m2.segments if s["segment_id"] == 0][0]
    assert deletion_ratio(s0) == 1.0
    assert plan_cleanup(m2.segments) == [0]


def test_redelete_counts_only_new_tombstones(spark, fresh_index):
    """``mark_deleted`` returns the tombstones it added: re-deleting docs
    that are already tombstoned returns 0 and leaves the tombstones and
    the manifest's per-segment counts as they were; a batch that mixes old
    and new docs counts only the new ones."""
    import os

    from iresearch_spark.index.deletes import read_tombstones
    from iresearch_spark.index.manifest import list_generations

    keys = spark.read.parquet(f"{fresh_index}/docmeta").select(
        "repo", "path", "commit"
    ).orderBy("repo", "path", "commit")
    first = keys.limit(10).cache()
    assert mark_deleted(spark, fresh_index, first) == 10
    tombs = read_tombstones(fresh_index)
    counts = {
        s["segment_id"]: s["deleted_docs"]
        for s in read_manifest(fresh_index).segments
    }
    assert sum(ids.size for ids in tombs.values()) == 10
    files = os.listdir(f"{fresh_index}/deletes")
    generations = list_generations(fresh_index)
    assert mark_deleted(spark, fresh_index, first) == 0
    # nothing new: no file in deletes/ and no manifest generation
    assert os.listdir(f"{fresh_index}/deletes") == files
    assert list_generations(fresh_index) == generations
    again = read_tombstones(fresh_index)
    assert again.keys() == tombs.keys()
    assert all(np.array_equal(again[s], tombs[s]) for s in tombs)
    assert {
        s["segment_id"]: s["deleted_docs"]
        for s in read_manifest(fresh_index).segments
    } == counts
    assert mark_deleted(spark, fresh_index, keys.limit(15)) == 5
    first.unpersist()


def test_tombstones_survive_a_merge_that_fails_after_its_publish(
    spark, fresh_index, monkeypatch
):
    """A merge that purges tombstones and then dies writing parquet into
    the deletes table leaves every other segment's tombstones in force."""
    from pyspark.sql.readwriter import DataFrameWriter

    from iresearch_spark.search import All

    dm = spark.read.parquet(f"{fresh_index}/docmeta")
    victims = [
        dm.filter(F.col("segment_id") == sid)
        .orderBy("doc_id").select("repo", "path", "commit").first()
        for sid in (0, 2)
    ]
    mark_deleted(spark, fresh_index, spark.createDataFrame(victims))
    write = DataFrameWriter.parquet
    failed = []

    def crash_once(self, path, *args, **kwargs):
        if path.rstrip("/").endswith("/deletes") and not failed:
            failed.append(path)
            raise RuntimeError("injected crash")
        return write(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", crash_once)
    try:
        merge_segments(spark, fresh_index, [0, 1])
    except RuntimeError:
        pass
    monkeypatch.undo()
    assert len(read_manifest(fresh_index).segments) == 3
    hits = SearchEngine(spark, fresh_index).search(All(), k=None).collect()
    found = {(r["repo"], r["path"], r["commit"]) for r in hits}
    assert tuple(victims[1]) not in found and tuple(victims[0]) not in found
    assert len(hits) == N_DOCS - 2


def test_writers_refuse_a_missing_index(spark, tmp_path):
    """merge, consolidation and tombstoning name the index dir when it has
    no manifest (an error, not an assert that ``python -O`` strips), and
    write nothing there."""
    import os

    from iresearch_spark.index.deletes import mark_deleted_rows
    from iresearch_spark.index.merge import consolidate

    d = str(tmp_path / "no_index")
    with pytest.raises(FileNotFoundError, match="no_index"):
        merge_segments(spark, d, [0, 1])
    with pytest.raises(FileNotFoundError, match="no_index"):
        consolidate(spark, d)
    rows = spark.range(1).select(
        F.lit(0).alias("segment_id"), F.lit(1).alias("doc_id")
    )
    with pytest.raises(FileNotFoundError, match="no_index"):
        mark_deleted_rows(spark, d, rows)
    assert not os.path.exists(d)
