"""The query path's driver-side dictionary and the kernel's error naming.

- Term stats are read on the driver with pyarrow (``_batch_lookup``); each
  lookup, full or bounded, must equal a Spark aggregate under Spark's own
  startswith/LIKE/range predicates (the oracle ``_spark_pred``), on an
  index that mixes built and merged segments, has tombstones and a
  secondary field.
- A query after a consolidation with cleanup reads only live segments.
- A corrupt postings blob fails the query with the segment, field and term.
"""

import dataclasses
import glob
import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from iresearch_spark.corpus import CORPUS_SCHEMA, generate_corpus
from iresearch_spark.index import build_index
from iresearch_spark.index.build import SEGMENTS_SCHEMA
from iresearch_spark.index.deletes import mark_deleted
from iresearch_spark.index.merge import consolidate, merge_segments
from iresearch_spark.search import (
    Fuzzy,
    Prefix,
    SearchEngine,
    TermF,
    TermRange,
    Wildcard,
)
from iresearch_spark.search import executor
from tests.oracle import OracleEngine

N_SEGMENTS = 4
# identity-analyzed secondary field: whole paths are terms, so LIKE escapes,
# non-ASCII and a newline reach the dictionary verbatim
PATHS = [
    "a%b.py", "a_b.py", "axb.py", "a\\b.py", "sym_1.py", "sym_12.py",
    "sym_2.py", "üni.py", "line\nbreak.py", "%lead.py", "_lead.py", "zz.py",
]
FIELDS = [("content", "code"), ("path", "identity")]


def _corpus() -> pd.DataFrame:
    rows = []
    for i in range(60):
        words = ["alpha", f"sym_{i % 13}", f"sym_{i % 4}{i % 3}", "uniq_a"]
        words += ["beta"] * (i % 3) + [f"w{i % 7}"]
        rows.append(["r", PATHS[i % len(PATHS)], f"c{i}", "py", " ".join(words)])
    return pd.DataFrame(rows, columns=["repo", "path", "commit", "lang", "content"])


@pytest.fixture(scope="module")
def mixed_index(spark, tmp_path_factory):
    """4 built segments, two merged into a fifth, then tombstones."""
    d = str(tmp_path_factory.mktemp("idx_dict") / "idx")
    pdf = _corpus()
    build_index(spark, spark.createDataFrame(pdf, CORPUS_SCHEMA), d,
                num_segments=N_SEGMENTS, fields=FIELDS)
    merge_segments(spark, d, [0, 1])
    return d, pdf


def _spark_df(spark, eng, fld, pred) -> list[tuple[str, int]]:
    """The Spark aggregate the driver-side read replaced: sum of docs_count
    per term over the live segments' rows matching ``pred``."""
    rows = (
        spark.read.schema(SEGMENTS_SCHEMA)
        .parquet(f"{eng.index_dir}/segments")
        .filter(F.col("segment_id").isin(eng._seg_ids)
                & (F.col("field") == fld) & pred)
        .groupBy("term")
        .agg(F.sum("docs_count").alias("df"))
        .collect()
    )
    return sorted((r["term"], int(r["df"])) for r in rows)


def _spark_pred(leaf):
    """Spark's own term predicate of a Prefix/Wildcard/TermRange leaf: the
    oracle for the engine's pyarrow ``_leaf_expr``. Spark's LIKE uses
    backslash as its escape char, as the reference's wildcard automaton
    does (``wildcard_utils.cpp``)."""
    term = F.col("term")
    if isinstance(leaf, Prefix):
        return term.startswith(leaf.prefix)
    if isinstance(leaf, Wildcard):
        return term.like(leaf.pattern)
    pred = F.lit(True)
    if leaf.min_term is not None:
        pred &= term >= leaf.min_term if leaf.include_min else term > leaf.min_term
    if leaf.max_term is not None:
        pred &= term <= leaf.max_term if leaf.include_max else term < leaf.max_term
    return pred


LEAVES = [
    ("content", Prefix(prefix="sym_1")),
    ("content", Prefix(prefix="")),
    ("content", Prefix(prefix="nomatch")),
    ("content", Wildcard(pattern="sym\\_1%")),
    ("content", Wildcard(pattern="sym_1_")),
    ("content", Wildcard(pattern="%_a")),
    ("content", Wildcard(pattern="w_")),
    ("content", TermRange(min_term="sym_1", max_term="sym_3")),
    ("content", TermRange(min_term="sym_1", max_term="sym_3",
                          include_min=False, include_max=False)),
    ("content", TermRange(min_term="sym_2")),
    ("content", TermRange(max_term="beta", include_max=False)),
    ("content", TermRange()),
    ("path", Prefix(prefix="a")),
    ("path", Wildcard(pattern="a\\%b%")),
    ("path", Wildcard(pattern="a\\_b%")),
    ("path", Wildcard(pattern="a_b.py")),
    ("path", Wildcard(pattern="\\%%")),
    ("path", Wildcard(pattern="\\_%")),
    ("path", Wildcard(pattern="a\\\\b%")),
    ("path", Wildcard(pattern="line_break%")),
    ("path", Wildcard(pattern="%.py")),
    ("path", TermRange(min_term="sym", max_term="ü")),
    ("path", TermRange(min_term="üni.py")),
]
LITERALS = [
    ("content", "alpha"), ("content", "sym_1"), ("content", "beta"),
    ("content", "absent"), ("path", "a%b.py"), ("path", "üni.py"),
    ("path", "line\nbreak.py"), ("path", "absent"),
]


def _check_equivalence(spark, eng):
    full = [(fld, leaf, False) for fld, leaf in LEAVES]
    # bounded: top scored_terms_limit by (df desc, term asc)
    bounded = [
        (fld, dataclasses.replace(leaf, scored_terms_limit=3), True)
        for fld, leaf in LEAVES
    ]
    dfs, matches = eng._batch_lookup(set(LITERALS), full + bounded)
    for fld, term in LITERALS:
        want = _spark_df(spark, eng, fld, F.col("term") == term)
        assert dfs[(fld, term)] == (want[0][1] if want else 0), (fld, term)
    for key in full:
        want = _spark_df(spark, eng, key[0], _spark_pred(key[1]))
        assert matches[key] == want, key
    for key in bounded:
        want = sorted(
            _spark_df(spark, eng, key[0], _spark_pred(key[1])),
            key=lambda td: (-td[1], td[0]),
        )[:3]
        assert matches[key] == want, key
    return dfs, matches


def test_driver_dictionary_equals_spark_aggregate(spark, mixed_index):
    d, pdf = mixed_index
    eng = SearchEngine(spark, d)
    segs = {int(s["segment_id"]) for s in eng.manifest.segments}
    assert {2, 3} < segs and len(segs) == 3  # built 2, 3 + one merged
    dfs, matches = _check_equivalence(spark, eng)
    assert dfs[("content", "sym_1")] > 0 and any(matches.values())
    # tombstones never change df: the deletes mask is applied in the kernel
    mark_deleted(spark, d, spark.createDataFrame(pdf.iloc[::5][
        ["repo", "path", "commit"]]))
    again = _check_equivalence(spark, eng)
    assert again == (dfs, matches)


def test_postings_read_equals_spark_scan(spark, mixed_index):
    """Each task's pyarrow read of a segment (``_read_postings``) holds
    exactly the rows of a bounded leaf's scored terms and unscored rest
    that Spark's predicate selects in that segment."""
    eng = SearchEngine(spark, mixed_index[0])
    seg = spark.read.schema(SEGMENTS_SCHEMA).parquet(f"{eng.index_dir}/segments")
    for fld, leaf in LEAVES:
        q = dataclasses.replace(leaf, field_name=fld, scored_terms_limit=3)
        prep = eng.prepare(q)
        want = sorted(
            (r["segment_id"], r["term"], r["docs_count"])
            for r in seg.filter(F.col("segment_id").isin(eng._seg_ids)
                                & (F.col("field") == fld) & _spark_pred(leaf))
            .collect()
        )
        got = sorted(
            (sid, t, n)
            for sid in eng._seg_ids
            for t, n in executor._read_postings(eng.index_dir, sid, prep)[
                ["term", "docs_count"]].itertuples(index=False)
        )
        assert got == want, (fld, leaf)


def test_dangling_escape_raises_like_spark(spark, mixed_index):
    eng = SearchEngine(spark, mixed_index[0])
    leaf = Wildcard(pattern="abc\\")
    with pytest.raises(ValueError, match="dangling"):
        executor._like_body(leaf.pattern)
    for bounded in (False, True):
        with pytest.raises(ValueError, match="dangling"):
            eng._batch_lookup(set(), [("content", leaf, bounded)])


def test_fuzzy_keeps_its_dictionary_job(spark, mixed_index):
    """Fuzzy is the one leaf still expanded by a Spark job (its banded
    Levenshtein is a JVM predicate); it matches the same terms."""
    eng = SearchEngine(spark, mixed_index[0])
    leaf = Fuzzy(term="sym_1", max_distance=1)
    key = ("content", leaf, False)
    got = eng._batch_lookup(set(), [key])[1][key]
    want = _spark_df(spark, eng, "content", SearchEngine._leaf_pred(leaf))
    assert got == want and got


def test_query_after_consolidate_cleanup_reads_only_live_segments(
    spark, tmp_path, monkeypatch
):
    d = str(tmp_path / "idx_cleanup")
    pdf = _corpus()
    build_index(spark, spark.createDataFrame(pdf, CORPUS_SCHEMA), d,
                num_segments=N_SEGMENTS)
    eng = SearchEngine(spark, d)
    oracle = OracleEngine(pdf, N_SEGMENTS)
    q = Prefix(prefix="sym_1")

    def rows():
        return sorted((r["commit"], np.float32(r["score"]))
                      for r in eng.search(q, k=None).collect())

    before = rows()
    assert before == sorted((e[2], np.float32(e[3])) for e in oracle.search(q, None))
    consolidate(spark, d, max_rounds=1, policy="count", threshold=2)
    removed = [0, 1]
    assert not any(os.path.isdir(f"{d}/segments/segment_id={s}") for s in removed)
    read = []
    orig = executor.parquet_files

    def spy(path):
        read.append(path)
        return orig(path)

    monkeypatch.setattr(executor, "parquet_files", spy)
    eng._stats_cache.clear()  # force a dictionary read of the new snapshot
    assert rows() == before  # merge without deletes keeps every score
    assert read and not any(
        p.endswith(f"segment_id={s}") for p in read for s in removed
    ), read


@pytest.mark.parametrize("k", [5, None])
def test_corrupt_postings_name_segment_field_and_term(spark, tmp_path, k):
    d = str(tmp_path / "idx_corrupt")
    build_index(spark, generate_corpus(spark, 120, 2), d, num_segments=2)
    (f,) = glob.glob(f"{d}/segments/segment_id=0/*.parquet")
    t = pq.read_table(f)
    i = t["term"].to_pylist().index("import")
    blobs = t["postings"].to_pylist()
    blobs[i] = blobs[i][: len(blobs[i]) // 2]
    col = t.schema.get_field_index("postings")
    t = t.set_column(col, t.schema.field(col), [blobs])
    pq.write_table(t, f)
    for crc in glob.glob(f"{d}/segments/segment_id=0/.*.crc"):
        os.remove(crc)  # the Hadoop checksum would reject the rewrite first
    eng = SearchEngine(spark, d)
    with pytest.raises(Exception) as err:
        eng.search(TermF(term="import"), k=k).collect()
    msg = str(err.value)
    assert "corrupt blob of segment 0, field 'content', term 'import'" in msg, msg
