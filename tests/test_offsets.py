"""Stored OFFS attribute on the PAY stream.

Reference semantics: `core/analysis/token_attributes.hpp:37-47` — offset
{start, end} per token position, serialized alongside positions/payloads
(`core/formats/formats_10.cpp:3618-3634` pos/pay/offs streams). Here the
span rides the existing payload machinery as 8 packed bytes; the read path
(`SearchEngine.term_offsets`) unpacks it JVM-side. `search/highlight.py`
remains the recompute-at-query inversion for bounded top-k result sets;
this is the stored path for whole-corpus offset export.
"""

import re
import struct

import pandas as pd
import pytest

from iresearch_spark.analysis import get_payload_analyzer
from iresearch_spark.index.build import build_index
from iresearch_spark.index.merge import consolidate
from iresearch_spark.search import SearchEngine
from iresearch_spark.search.highlight import tokenize_with_offsets

DOCS = [
    ("r", "0001", "c", "py", "def Spark_init(x): return SPARK + spark2"),
    ("r", "0002", "c", "py", "  spark!! 42foo Spark"),
    ("r", "0003", "c", "py", "no matches in THIS one"),
    ("r", "0004", "c", "py", "spark spark spark"),
]
COLS = ["repo", "path", "commit", "lang", "content"]
PAT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*|[0-9]+")


def _expected_offsets(term: str) -> set[tuple[str, int, int, int]]:
    """(path, pos, start, end) from a pure-Python finditer re-tokenization."""
    out = set()
    for _, path, _, _, content in DOCS:
        for pos, m in enumerate(PAT.finditer(content)):
            if m.group().lower() == term:
                out.add((path, pos, m.start(), m.end()))
    return out


@pytest.fixture(scope="module")
def offs_index(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx_offs"))
    corpus = spark.createDataFrame(DOCS, COLS)
    build_index(spark, corpus, d, num_segments=2, analyzer="code_offsets")
    return d


def test_code_offsets_analyzer_golden():
    toks, pays = get_payload_analyzer("code_offsets")(
        pd.Series(["Foo_Bar 42", None])
    )
    assert list(toks) == [["foo_bar", "42"], []]
    assert list(pays) == [
        [struct.pack(">II", 0, 7), struct.pack(">II", 8, 10)],
        [],
    ]


def test_term_offsets_end_to_end(spark, offs_index):
    eng = SearchEngine(spark, offs_index)
    rows = eng.term_offsets("spark").collect()
    got = {(r["path"], r["pos"], r["start_off"], r["end_off"]) for r in rows}
    assert got == _expected_offsets("spark")
    assert len(rows) == len(got)  # no duplicate occurrences


def test_term_offsets_match_highlight_recompute(spark, offs_index):
    """The stored path and the recompute path (highlight.py) must agree
    span-for-span — they are two readings of the same OFFS attribute."""
    eng = SearchEngine(spark, offs_index)
    stored = {
        (r["path"], r["start_off"], r["end_off"])
        for r in eng.term_offsets("spark").collect()
    }
    recomputed = set()
    for _, path, _, _, content in DOCS:
        for term, s, e in tokenize_with_offsets(content, "code"):
            if term == "spark":
                recomputed.add((path, s, e))
    assert stored == recomputed


def test_offsets_analyzer_property_spans_slice_back():
    """Hypothesis: for arbitrary text (incl. unicode around code tokens),
    every emitted span slices the ORIGINAL string back to a string whose
    lowercase equals the token — char-index semantics end to end. Python
    str indices and the DuckDB twin's length() both count codepoints, so
    this is the invariant the oracle relies on."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    texts = st.lists(
        st.text(
            alphabet=st.characters(
                codec="utf-8", exclude_categories=("Cs",)
            ),
            max_size=120,
        ),
        min_size=1,
        max_size=8,
    )

    @settings(max_examples=60, deadline=None)
    @given(texts)
    def run(batch):
        toks, pays = get_payload_analyzer("code_offsets")(pd.Series(batch))
        for text, tlist, plist in zip(batch, toks, pays):
            assert len(tlist) == len(plist)
            # exactly the tokens finditer yields, in order
            assert tlist == [
                m.group().lower() for m in PAT.finditer(text or "")
            ]
            for tok, pay in zip(tlist, plist):
                s, e = struct.unpack(">II", pay)
                assert text[s:e].lower() == tok

    run()


def test_term_offsets_unicode_content(spark, tmp_path_factory):
    """Non-ASCII content around code tokens: stored spans are CHARACTER
    indices and must slice the original str correctly after the full
    build -> pay-stream -> JVM-unpack round trip."""
    docs = [
        ("r", "0001", "c", "py", "naïve café → spark(δ) # ünïcode"),
        ("r", "0002", "c", "py", "日本語 spark 中文 spark2 🚀 spark"),
    ]
    d = str(tmp_path_factory.mktemp("idx_offs_uni"))
    build_index(
        spark,
        spark.createDataFrame(docs, COLS),
        d,
        num_segments=1,
        analyzer="code_offsets",
    )
    eng = SearchEngine(spark, d)
    bypath = {p: c for _, p, _, _, c in docs}
    rows = eng.term_offsets("spark").collect()
    assert rows
    for r in rows:
        assert (
            bypath[r["path"]][r["start_off"] : r["end_off"]].lower()
            == "spark"
        )
    exp = {
        (path, pos, m.start(), m.end())
        for _, path, _, _, content in docs
        for pos, m in enumerate(PAT.finditer(content))
        if m.group().lower() == "spark"
    }
    got = {(r["path"], r["pos"], r["start_off"], r["end_off"]) for r in rows}
    assert got == exp


def test_jvm_offsets_build_byte_equivalent(spark, tmp_path_factory, monkeypatch):
    """The JVM OFFS feed (regexp_extract_all + split gaps) must produce an
    index BYTE-identical to the per-row Python analyzer feed: same manifest
    content hashes AND identical pay streams per (segment, term) — mirrors
    test_jvm_tokenize.py with the payload columns added to the comparison.
    The same ``code_offsets_analyzer`` under a second payload-analyzer name
    has no Catalyst twin, so it tokenizes in the Python task."""
    from iresearch_spark.analysis import PAYLOAD_ANALYZERS
    from iresearch_spark.analysis.analyzers import code_offsets_analyzer

    monkeypatch.setitem(
        PAYLOAD_ANALYZERS, "code_offsets_python_feed", code_offsets_analyzer
    )
    mixed = [
        ("r", f"{i:04d}", "c", "py", text)
        for i, text in enumerate(
            [
                "def Spark_init(x): return SPARK + spark2",
                "naïve café → spark(δ) # ünïcode",
                "日本語 spark 中文 spark2 🚀 spark",
                "",
                "   ",
                "UPPER lower MiXeD_case 0042 _lead",
                "a b c a b c a",
                None,
            ]
        )
    ]
    base = tmp_path_factory.mktemp("idx_offs_paths")
    dirs = {}
    for name, analyzer in (
        ("jvm", "code_offsets"), ("py", "code_offsets_python_feed")
    ):
        d = str(base / name)
        corpus = spark.createDataFrame(mixed, COLS)
        build_index(spark, corpus, d, num_segments=2, analyzer=analyzer)
        dirs[name] = d
    from iresearch_spark.index import read_manifest
    from iresearch_spark.index.build import SEGMENTS_PAY_SCHEMA

    ms = {k: read_manifest(v) for k, v in dirs.items()}
    for a, b in zip(ms["jvm"].segments, ms["py"].segments):
        assert a["content_hash"] == b["content_hash"], (a, b)
        assert a["terms"] == b["terms"] and a["docs"] == b["docs"]
    assert ms["jvm"].with_payloads and ms["py"].with_payloads

    def pay_rows(d):
        df = spark.read.schema(SEGMENTS_PAY_SCHEMA).parquet(f"{d}/segments")
        return {
            (r["segment_id"], r["term"]): (
                bytes(r["pay_lens"]),
                bytes(r["payloads"]),
                bytes(r["positions"]),
            )
            for r in df.collect()
        }

    assert pay_rows(dirs["jvm"]) == pay_rows(dirs["py"])


def test_term_offsets_survive_consolidation(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx_offs_merge"))
    corpus = spark.createDataFrame(DOCS, COLS)
    build_index(spark, corpus, d, num_segments=3, analyzer="code_offsets")
    res = consolidate(spark, d, max_bytes=1 << 40, max_skew=1.0)
    assert res, "expected a merge"
    eng = SearchEngine(spark, d)
    for term in ("spark", "spark_init", "42"):
        got = {
            (r["path"], r["pos"], r["start_off"], r["end_off"])
            for r in eng.term_offsets(term).collect()
        }
        assert got == _expected_offsets(term), term
