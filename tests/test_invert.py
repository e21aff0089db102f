"""The one invert kernel, through both of its feeds.

``code`` tokenizes JVM-side and ships each doc's token strings through
Arrow; ``text``, ``code_payload`` and ``words`` (whitespace words, non-ASCII
kept intact) tokenize in the Python task. The corpus holds NULL, empty and
whitespace-only content, and one segment in which every doc has zero
tokens. Every segment's terms must be written in UTF-8 byte order, and its
postings, positions and norms must equal tests/oracle.py's."""

import binascii
import os
from functools import partial

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

from iresearch_spark.analysis import ANALYZERS, get_analyzer, register_analyzer
from iresearch_spark.analysis.analyzers import multi_delimiter_analyzer
from iresearch_spark.codec import packed
from iresearch_spark.index import build_index, read_manifest
from tests.oracle import TOKEN_RE, OracleEngine

COLS = "repo string, path string, commit string, lang string, content string"
NUM_SEGMENTS = 3
EMPTY_SEGMENT = 2
# in UTF-8 byte (= code point) order; UTF-16 order would put the emoji
# (surrogate pair D83D DE00) before the fullwidth letters (FF21)
NON_ASCII_ORDER = ["0042", "_lead", "z", "é", "日本", "ＡＢ", "😀"]
TEXTS = [
    "def Spark_init(x): return SPARK + spark2",
    "z é 日本 _lead ＡＢ 😀 0042",
    "😀 ＡＢ 日本 é z _lead a_b a b a",
    "naïve café → spark(δ) # ünïcode",
    "UPPER lower MiXeD_case 0042 _lead",
    "a b c a b c a",
    "",
    None,
]
EMPTY = [None, "", "   \n\t "]

WORDS = partial(multi_delimiter_analyzer, delimiters=(" ", "\n", "\t"))


def _segment(path: str) -> int:
    return binascii.crc32("\x00".join(["r", path, "c"]).encode()) % NUM_SEGMENTS


def _corpus() -> pd.DataFrame:
    """TEXTS go to segments 0 and 1, zero-token docs to every segment, so
    EMPTY_SEGMENT holds only docs without tokens."""
    rows, texts, empties = [], list(TEXTS), list(EMPTY) * 2
    i = 0
    while texts or empties:
        path = f"{i:04d}"
        i += 1
        if _segment(path) == EMPTY_SEGMENT or not texts:
            if empties:
                rows.append(("r", path, "c", "py", empties.pop()))
        else:
            rows.append(("r", path, "c", "py", texts.pop()))
    return pd.DataFrame(rows, columns=["repo", "path", "commit", "lang", "content"])


def _code_tokens(c):
    return TOKEN_RE.findall((c or "").lower())


def _analyzer_tokens(name):
    fn = get_analyzer(name)
    return lambda c: list(fn(pd.Series([c], dtype=object))[0])


@pytest.fixture(scope="module", autouse=True)
def words_analyzer():
    register_analyzer("words", WORDS)
    yield
    ANALYZERS.pop("words")


@pytest.mark.parametrize(
    "analyzer", ["code", "text", "code_payload", "words"]
)
def test_invert_matches_oracle_in_byte_order(spark, tmp_path, analyzer):
    tokenize = {
        "code": _code_tokens,
        "code_payload": _code_tokens,
        "text": _analyzer_tokens("text"),
        "words": lambda c: WORDS(pd.Series([c], dtype=object))[0],
    }[analyzer]
    pdf = _corpus()
    assert set(pdf["path"].map(_segment)) == set(range(NUM_SEGMENTS))
    d = str(tmp_path / analyzer)
    build_index(
        spark, spark.createDataFrame(pdf.values.tolist(), COLS), d,
        num_segments=NUM_SEGMENTS, analyzer=analyzer,
    )
    oracle = OracleEngine(pdf, NUM_SEGMENTS, tokenize=tokenize)

    empty = {s["segment_id"]: s for s in read_manifest(d).segments}[EMPTY_SEGMENT]
    assert empty["docs"] > 0
    assert empty["terms"] == empty["docs_with_field"] == 0
    assert empty["total_term_freq"] == 0

    got: dict[str, dict[tuple[int, int], list[int]]] = {}
    non_ascii_orders = []
    for seg in range(NUM_SEGMENTS):
        part = f"{d}/segments/segment_id={seg}"
        if seg == EMPTY_SEGMENT:
            assert not os.path.isdir(part) or pq.read_table(part).num_rows == 0
            continue
        t = pq.read_table(part).to_pandas()
        terms = t["term"].tolist()
        # written in UTF-8 byte order, one row per term
        assert terms == sorted(set(terms), key=lambda s: s.encode("utf-8"))
        non_ascii_orders.append([x for x in terms if x in NON_ASCII_ORDER])
        for _, row in t.iterrows():
            docs, freqs = packed.decode_postings(
                row["postings"], row["docs_count"],
                np.asarray(row["block_offsets"], dtype=np.int64),
            )
            pos = packed.decode_positions(
                row["positions"], freqs,
                np.asarray(row["pos_offsets"], dtype=np.int64),
            )
            assert row["total_tf"] == freqs.sum()
            ends = np.cumsum(freqs)
            for doc, end, f in zip(docs.tolist(), ends.tolist(), freqs.tolist()):
                got.setdefault(row["term"], {})[(seg, doc)] = (
                    pos[end - f:end].tolist()
                )
    assert got == oracle.postings

    dm = pq.read_table(f"{d}/docmeta").to_pandas()
    dls = {
        (int(s), int(doc)): int(dl)
        for s, doc, dl in zip(dm["segment_id"], dm["doc_id"], dm["dl"])
    }
    assert dls == oracle.dl

    if analyzer == "words":
        assert NON_ASCII_ORDER in non_ascii_orders
