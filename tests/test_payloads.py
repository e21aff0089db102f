"""Per-position payload stream (IndexFeatures::PAY) + commit-level payload.

Reference semantics:
- `core/analysis/token_attributes.hpp:67-72`: payload = arbitrary bytes per
  term position, attached by the analyzer.
- `core/index/field_data.cpp:79-96, 992-1012`: the indexer stores the bytes
  in the prox stream; `core/formats/formats_10.cpp:230-265` keeps a sizes
  buffer + data buffer (our pay_lens/payloads split).
- `core/index/index_writer.cpp:1181-1183`: commit-level meta payload
  (user bytes per committed generation).
"""

import numpy as np
import pandas as pd
import pytest

from iresearch_spark.analysis import get_payload_analyzer
from iresearch_spark.codec import decode_payloads, encode_payloads_batch
from iresearch_spark.index.build import build_index
from iresearch_spark.index.manifest import read_manifest
from iresearch_spark.index.merge import consolidate
from iresearch_spark.search import SearchEngine, TermF

DOCS = [
    ("r", "0001", "c", "py", "Spark SPARK spark runs Fast"),
    ("r", "0002", "c", "py", "fast Query spark_engine 42 Spark"),
    ("r", "0003", "c", "py", "nothing here but Words"),
    ("r", "0004", "c", "py", "SPARK spark Spark sPaRk"),
]
COLS = ["repo", "path", "commit", "lang", "content"]


def _expected_payloads(term: str) -> set[tuple[str, int, bytes]]:
    """(path, pos, payload) triples from a pure-Python re-tokenization."""
    import re

    pat = re.compile(r"[A-Za-z_][A-Za-z0-9_]*|[0-9]+")
    out = set()
    for repo, path, commit, lang, content in DOCS:
        for pos, m in enumerate(pat.findall(content)):
            if m.lower() == term:
                out.add((path, pos, m.encode()))
    return out


@pytest.fixture(scope="module")
def pay_index(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx_pay"))
    corpus = spark.createDataFrame(DOCS, COLS)
    build_index(
        spark, corpus, d, num_segments=2, analyzer="code_payload",
        commit_payload=b"tick:42",
    )
    return d


def test_codec_roundtrip():
    rng = np.random.default_rng(7)
    # 3 terms; per-term postings 2/1/3; freqs per posting
    term_lengths = np.array([2, 1, 3])
    freqs = np.array([2, 1, 3, 1, 1, 2])
    total = int(freqs.sum())
    pays = np.empty(total, dtype=object)
    for i in range(total):
        pays[i] = bytes(rng.integers(0, 256, rng.integers(0, 9)).astype("u1"))
    pays[3] = b""  # empty payload survives
    lb, db = encode_payloads_batch(freqs, pays, term_lengths)
    assert len(lb) == 3 and len(db) == 3
    occ_starts = [0, 3, 6, 10]
    post_starts = [0, 2, 3, 6]
    for t in range(3):
        f = freqs[post_starts[t] : post_starts[t + 1]]
        got = decode_payloads(lb[t], db[t], f)
        assert list(got) == list(pays[occ_starts[t] : occ_starts[t + 1]])


def test_code_payload_analyzer_golden():
    toks, pays = get_payload_analyzer("code_payload")(
        pd.Series(["Foo_Bar 42 BAZ", None])
    )
    assert list(toks) == [["foo_bar", "42", "baz"], []]
    assert list(pays) == [[b"Foo_Bar", b"42", b"BAZ"], []]


def test_delimited_payload_analyzer_golden():
    toks, pays = get_payload_analyzer("delimited_payload")(
        pd.Series(["the|DT quick|JJ fox plain"])
    )
    assert list(toks) == [["the", "quick", "fox", "plain"]]
    assert list(pays) == [[b"DT", b"JJ", b"", b""]]


def test_term_payloads_end_to_end(spark, pay_index):
    eng = SearchEngine(spark, pay_index)
    rows = eng.term_payloads("spark").collect()
    got = {(r["path"], r["pos"], bytes(r["payload"])) for r in rows}
    assert got == _expected_payloads("spark")
    assert len(rows) == len(got)  # no duplicate occurrences


def test_payload_index_scores_match_plain_code_index(
    spark, pay_index, tmp_path_factory
):
    """The pay stream must not perturb postings/norms: BM25 on the payload
    index == BM25 on a plain `code` index over the same (ASCII) corpus."""
    d2 = str(tmp_path_factory.mktemp("idx_plain"))
    build_index(spark, spark.createDataFrame(DOCS, COLS), d2, num_segments=2)
    q = TermF(term="spark")
    pay_scores = {
        r["path"]: r["score"]
        for r in SearchEngine(spark, pay_index).search(q, k=None).collect()
    }
    plain_scores = {
        r["path"]: r["score"]
        for r in SearchEngine(spark, d2).search(q, k=None).collect()
    }
    assert pay_scores == plain_scores


def test_commit_payload_roundtrip(spark, pay_index):
    m = read_manifest(pay_index)
    assert m.with_payloads is True
    assert m.commit_payload_bytes() == b"tick:42"


def test_merge_preserves_payloads(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx_pay_merge"))
    corpus = spark.createDataFrame(DOCS, COLS)
    build_index(
        spark, corpus, d, num_segments=3, analyzer="code_payload",
        commit_payload=b"gen-0",
    )
    res = consolidate(spark, d, max_bytes=1 << 40, max_skew=1.0)
    assert res, "expected a merge"
    m = read_manifest(d)
    assert m.with_payloads is True
    assert m.commit_payload_bytes() == b"gen-0"
    eng = SearchEngine(spark, d)
    rows = eng.term_payloads("spark").collect()
    got = {(r["path"], r["pos"], bytes(r["payload"])) for r in rows}
    assert got == _expected_payloads("spark")


def test_mixed_payload_and_plain_fields_merge(spark, tmp_path_factory):
    """A payload primary field + a plain secondary field in one index:
    the merge must null-preserve the plain field's pay columns and keep
    both query paths correct."""
    d = str(tmp_path_factory.mktemp("idx_pay_mixed"))
    corpus = spark.createDataFrame(DOCS, COLS)
    build_index(
        spark, corpus, d, num_segments=3,
        fields=[("content", "code_payload"), ("lang", "code")],
    )
    res = consolidate(spark, d, max_bytes=1 << 40, max_skew=1.0)
    assert res, "expected a merge"
    eng = SearchEngine(spark, d)
    rows = eng.term_payloads("spark").collect()
    got = {(r["path"], r["pos"], bytes(r["payload"])) for r in rows}
    assert got == _expected_payloads("spark")
    # the plain secondary field still answers term queries after the merge
    lang_hits = sorted(
        r["path"]
        for r in eng.search(
            TermF(field_name="lang", term="py"), k=None
        ).collect()
    )
    assert lang_hits == ["0001", "0002", "0003", "0004"]
    # and payload reads against the plain field yield nothing (no PAY data)
    assert eng.term_payloads("py", field_name="lang").count() == 0


def test_term_payloads_requires_payload_index(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx_nopay"))
    build_index(spark, spark.createDataFrame(DOCS, COLS), d, num_segments=1)
    with pytest.raises(ValueError, match="payload"):
        SearchEngine(spark, d).term_payloads("spark")


def test_merge_preserves_payloads_without_positions_flag(
    spark, tmp_path_factory
):
    """with_positions=False + a payload analyzer: build still encodes
    positions (the pay permutation needs them), and merge must carry them
    through even though the manifest records with_positions=False —
    dropping them would desync pay_lens/payloads from the positions
    permutation and break term_payloads after consolidation."""
    d = str(tmp_path_factory.mktemp("idx_pay_nopos"))
    corpus = spark.createDataFrame(DOCS, COLS)
    build_index(
        spark, corpus, d, num_segments=3, analyzer="code_payload",
        with_positions=False,
    )
    res = consolidate(spark, d, max_bytes=1 << 40, max_skew=1.0)
    assert res, "expected a merge"
    eng = SearchEngine(spark, d)
    rows = eng.term_payloads("spark").collect()
    got = {(r["path"], r["pos"], bytes(r["payload"])) for r in rows}
    assert got == _expected_payloads("spark")


def test_mixed_fields_merge_without_positions_flag(spark, tmp_path_factory):
    """Mixed payload + plain fields AND with_positions=False: the payload
    field's rows carry positions (the pay permutation needs them) while the
    plain field's rows are null — the merge's data gate is per OUTPUT TERM
    (a term range holds many (field, term) pairs), so a range mixing both
    kinds must keep positions for the payload terms and null them for the
    plain ones. Every term range holds rows of both fields, and every
    payload term is checked, not just one."""
    from iresearch_spark.index.manifest import read_manifest as _rm
    from iresearch_spark.index.merge import merge_segments

    d = str(tmp_path_factory.mktemp("idx_pay_mixed_nopos"))
    corpus = spark.createDataFrame(DOCS, COLS)
    build_index(
        spark, corpus, d, num_segments=3, with_positions=False,
        fields=[("content", "code_payload"), ("lang", "code")],
    )
    seg_ids = [s["segment_id"] for s in _rm(d).segments]
    merge_segments(spark, d, seg_ids)
    eng = SearchEngine(spark, d)
    import re

    all_terms = {
        t.lower()
        for _, _, _, _, content in DOCS
        for t in re.findall(r"[A-Za-z_][A-Za-z0-9_]*|[0-9]+", content)
    }
    for term in sorted(all_terms):
        rows = eng.term_payloads(term).collect()
        got = {(r["path"], r["pos"], bytes(r["payload"])) for r in rows}
        assert got == _expected_payloads(term), term
    lang_hits = sorted(
        r["path"]
        for r in eng.search(
            TermF(field_name="lang", term="py"), k=None
        ).collect()
    )
    assert lang_hits == ["0001", "0002", "0003", "0004"]
    # the plain field's merged rows must stay positions-null
    assert eng.term_payloads("py", field_name="lang").count() == 0
