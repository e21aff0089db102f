"""Driver-side norms reader: per-segment packed norms read once per segment
with pyarrow, cached by (segment_id, content_hash, docs), and broadcast once
per snapshot (``SearchEngine.norms_blob_df``).

Covers the cases the reader must get right: trees that match docs of
segments with no postings row (``all``/``exists``), packing only new
segments after a publish, tombstones without a docmeta re-read, snapshot
semantics of a plan built before a publish, and an empty corpus."""

import binascii

import numpy as np
import pandas as pd
import pytest

from iresearch_spark.corpus import CORPUS_SCHEMA
from iresearch_spark.index import build_index
from iresearch_spark.index.deletes import mark_deleted
from iresearch_spark.search import All, ExistsF, Not, SearchEngine, TermF
from iresearch_spark.search import executor
from iresearch_spark.streaming import IncrementalIndexer
from tests.oracle import OracleEngine

N_SEGMENTS = 4
NEEDLE = "needle"


def _segment(repo, path, commit) -> int:
    return binascii.crc32("\x00".join([repo, path, commit]).encode()) % N_SEGMENTS


def _corpus() -> pd.DataFrame:
    """40 docs over 4 segments; NEEDLE occurs in docs of ONE segment only,
    and two docs are empty (dl = 0: matched by All, not by ExistsF)."""
    rows = []
    for i in range(40):
        path = f"f{i:02d}.py"
        content = f"alpha beta w{i % 7} w{i % 5}" * (1 + i % 3)
        rows.append(["r", path, "c", "py", content])
    rows[5][4] = rows[11][4] = ""
    target = _segment("r", rows[0][1], "c")
    for r in rows[:12]:
        if _segment(*r[:3]) == target and r[4]:
            r[4] += f" {NEEDLE}"
    pdf = pd.DataFrame(rows, columns=["repo", "path", "commit", "lang", "content"])
    assert len({_segment("r", p, "c") for p in pdf["path"]}) == N_SEGMENTS
    return pdf


def _rows(df):
    return [(r["repo"], r["path"], r["commit"], np.float32(r["score"]))
            for r in df.collect()]


def _expected(oracle, q, k):
    return [(e[0], e[1], e[2], np.float32(e[3])) for e in oracle.search(q, k)]


@pytest.fixture()
def index(spark, tmp_path):
    d = str(tmp_path / "idx_norms")
    pdf = _corpus()
    build_index(spark, spark.createDataFrame(pdf, CORPUS_SCHEMA), d,
                num_segments=N_SEGMENTS)
    return d, pdf


@pytest.fixture()
def pack_calls(monkeypatch):
    """Segment ids whose docmeta partition the engine reads."""
    calls = []
    orig = executor._pack_norms

    def spy(index_dir, segment_id, dl_cols):
        calls.append(segment_id)
        return orig(index_dir, segment_id, dl_cols)

    monkeypatch.setattr(executor, "_pack_norms", spy)
    return calls


@pytest.mark.parametrize("k", [10, 100, None])
def test_all_exists_not_evaluate_segments_without_postings(spark, index, k):
    d, pdf = index
    eng = SearchEngine(spark, d)
    oracle = OracleEngine(pdf, N_SEGMENTS)
    hit_segs = {key[0] for key in oracle.postings[NEEDLE]}
    assert len(hit_segs) == 1
    n = len(pdf) if k is None else k
    for q in (Not(child=TermF(term=NEEDLE)), All()):
        got = _rows(eng.search(q, k=k))
        assert got == _expected(oracle, q, n), q
        if k != 10:  # every segment contributes, not only the needle's
            assert len(got) == len(oracle.eval(q))
    # ExistsF: docs with dl > 0, constant score = boost (the oracle has no
    # ExistsF node; its per-doc dl is the reference)
    exists = sorted(key for key, dl in oracle.dl.items() if dl > 0)
    want = [(*oracle.identity[key], np.float32(1.0)) for key in exists][:n]
    assert _rows(eng.search(ExistsF(), k=k)) == want
    eng.close()


def test_publish_packs_only_new_segments(spark, index, pack_calls):
    d, pdf = index
    eng = SearchEngine(spark, d)
    q = TermF(term="alpha")
    eng.search(q, k=5).collect()
    assert sorted(pack_calls) == list(range(N_SEGMENTS))
    before = dict(eng._norms_cache)
    assert sorted(key[0] for key in before) == list(range(N_SEGMENTS))

    extra = [("r2", f"g{i}.py", "c", "py", f"alpha gamma {i}") for i in range(20)]
    IncrementalIndexer(spark, d, segments_per_batch=2).process_batch(
        spark.createDataFrame(extra, CORPUS_SCHEMA), batch_id=1
    )
    pack_calls.clear()
    got = [tuple(r) for r in eng.search(q, k=None).collect()]
    new = sorted(set(eng._norms_cache) - set(before))
    assert [key[0] for key in new] == [N_SEGMENTS, N_SEGMENTS + 1]
    assert sorted(pack_calls) == [key[0] for key in new]
    # unchanged segments keep the very blobs packed before the publish
    assert all(eng._norms_cache[key] is blob for key, blob in before.items())
    fresh = SearchEngine(spark, d)
    assert got == [tuple(r) for r in fresh.search(q, k=None).collect()]
    assert len(got) == (pdf["content"] != "").sum() + len(extra)
    eng.close()
    fresh.close()


def test_delete_publish_rereads_tombstones_not_docmeta(spark, index, pack_calls):
    d, pdf = index
    eng = SearchEngine(spark, d)
    q = TermF(term=NEEDLE)
    before = _rows(eng.search(q, k=10))
    victim = before[0]
    pack_calls.clear()
    keys = spark.createDataFrame([victim[:3]], "repo string, path string, commit string")
    assert mark_deleted(spark, d, keys) == 1
    after = _rows(eng.search(q, k=10))
    assert pack_calls == []  # docmeta was not re-read
    assert victim[:3] not in {r[:3] for r in after}
    assert after == [r for r in before if r[:3] != victim[:3]]
    eng.close()


def test_plan_built_before_publish_keeps_its_snapshot(spark, index):
    d, _ = index
    q = TermF(term=NEEDLE)
    # the pre-publish answer comes from another reader, so no Python worker
    # has loaded this reader's broadcasts before old_df runs
    other = SearchEngine(spark, d)
    before = _rows(other.search(q, k=10))
    other.close()
    eng = SearchEngine(spark, d)
    old_df = eng.search(q, k=10)
    victim = before[0][:3]
    keys = spark.createDataFrame([victim], "repo string, path string, commit string")
    mark_deleted(spark, d, keys)
    # a post-publish query drops (unpersists) the old snapshot's broadcasts
    assert victim not in {r[:3] for r in _rows(eng.search(q, k=10))}
    assert _rows(old_df) == before
    eng.close()


def test_plan_built_before_a_merge_cleanup_fails_on_collect(spark, index):
    """A DataFrame built before a merge removed segments of its snapshot
    fails on collect instead of answering without them."""
    from iresearch_spark.index import merge_segments

    d, _ = index
    eng = SearchEngine(spark, d)
    old = [eng.search(q, k=10) for q in (TermF(term="alpha"), All())]
    merge_segments(spark, d, [0, 1])
    for df in old:
        with pytest.raises(Exception, match="was removed"):
            df.collect()
    assert len(_rows(eng.search(All(), k=None))) == 40
    eng.close()


def test_empty_corpus_searches(spark, tmp_path):
    d = str(tmp_path / "idx_empty")
    build_index(spark, spark.createDataFrame([], CORPUS_SCHEMA), d,
                num_segments=2)
    eng = SearchEngine(spark, d)
    for q in (TermF(term="alpha"), All(), ExistsF(), Not(child=TermF(term="a"))):
        assert eng.search(q, k=10).collect() == []
        assert eng.search(q, k=None).collect() == []
    norms = eng.norms_blob_df()
    assert {sid: bc.value["ndocs"] for sid, bc in norms.items()} == {0: 0, 1: 0}
    eng.close()
