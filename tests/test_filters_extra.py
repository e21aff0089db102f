"""SamePosition (by_same_position) and ExistsF (by_column_existence) filters.

The code analyzer emits one token per position, so distinct terms can never
share a position — same_position(a, b) must be empty while the degenerate
self-intersection case scores like a double-boosted term query (score is
linear in c0: score = c0 * tf / (c1 + tf))."""

import numpy as np
import pytest

from iresearch_spark.corpus import generate_corpus
from iresearch_spark.index.build import build_index
from iresearch_spark.search import ExistsF, SamePosition, SearchEngine, TermF
from iresearch_spark.search.filters import Empty, rewrite


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    index_dir = str(tmp_path_factory.mktemp("idx_extra"))
    corpus = generate_corpus(spark, 200, num_partitions=2, min_tokens=40,
                             max_tokens=300)
    build_index(spark, corpus, index_dir, num_segments=2)
    return SearchEngine(spark, index_dir)


def test_exists_matches_all_docs_with_field(engine):
    res = engine.search(ExistsF(boost=2.5), k=None, with_identity=False).toPandas()
    total = engine.docs_with_field
    assert len(res) == total
    assert (res["score"] == np.float32(2.5)).all()


def test_same_position_distinct_terms_empty(engine):
    res = engine.search(
        SamePosition(terms=("import", "return")), k=10, with_identity=False
    ).toPandas()
    assert len(res) == 0


def test_same_position_self_doubles_score(engine):
    term = engine.search(TermF(term="import"), k=20, with_identity=False).toPandas()
    sp = engine.search(
        SamePosition(terms=("import", "import")), k=20, with_identity=False
    ).toPandas()
    assert term[["segment_id", "doc_id"]].values.tolist() == \
        sp[["segment_id", "doc_id"]].values.tolist()
    np.testing.assert_allclose(
        sp["score"].to_numpy(), 2.0 * term["score"].to_numpy(), rtol=1e-5
    )


def test_rewrites():
    assert rewrite(SamePosition(terms=())) == Empty()
    assert rewrite(SamePosition(terms=("x",))) == TermF(term="x")
    assert rewrite(SamePosition(terms=("x", "y"))) == SamePosition(terms=("x", "y"))


@pytest.mark.parametrize("cls", ["And", "Or"])
def test_unknown_merge_type_is_refused(cls):
    """ScoreMergeType is sum/max/min: any other merge_type fails when the
    filter is built, not as a silent min (And) or inside a Spark task
    (Or)."""
    from iresearch_spark.search import filters

    kids = (TermF(term="import"), TermF(term="return"))
    with pytest.raises(ValueError, match="sum, max, min"):
        getattr(filters, cls)(children=kids, merge_type="avg")


def test_or_merge_types(engine):
    from iresearch_spark.search import Or

    terms = (TermF(term="import"), TermF(term="return"))
    per_term = {
        t.term: {
            (r["segment_id"], r["doc_id"]): np.float64(r["score"])
            for r in engine.search(t, k=None, with_identity=False,
                                   dtype="float64").collect()
        }
        for t in terms
    }

    def expect(reducer):
        out = {}
        for scores in per_term.values():
            for key, s in scores.items():
                out[key] = reducer(out[key], s) if key in out else s
        return out

    for mt, red in (("sum", lambda a, b: a + b), ("max", max), ("min", min)):
        got = {
            (r["segment_id"], r["doc_id"]): np.float64(r["score"])
            for r in engine.search(
                Or(children=terms, merge_type=mt), k=None,
                with_identity=False, dtype="float64", wand=False,
            ).collect()
        }
        exp = expect(red)
        assert got.keys() == exp.keys(), mt
        for key in got:
            assert abs(got[key] - exp[key]) < 1e-9, (mt, key)


def test_variadic_phrase(spark, tmp_path_factory):
    """Phrase slots holding multi-term leaves (variadic by_phrase)."""
    import pandas as pd

    from iresearch_spark.index.build import build_index
    from iresearch_spark.search import Phrase, Prefix, SearchEngine, TermsF

    texts = {
        "ab": "alpha beta gamma",
        "ab2": "alpha bexxx gamma",
        "ag": "alpha gamma beta",
        "xb": "xray beta gamma",
    }
    pdf = pd.DataFrame(
        {"repo": ["r"] * 4, "path": list(texts), "commit": list(texts),
         "lang": ["t"] * 4, "content": list(texts.values())}
    )
    d = str(tmp_path_factory.mktemp("idx_vp"))
    build_index(spark, spark.createDataFrame(pdf), d, num_segments=1)
    eng = SearchEngine(spark, d)

    def paths(filt):
        return sorted(r["path"] for r in eng.search(filt, k=None).collect())

    # "alpha <be...>": prefix slot matches beta AND bexxx
    assert paths(Phrase(terms=("alpha", Prefix(prefix="be")))) == ["ab", "ab2"]
    # fixed equivalent matches only the exact term
    assert paths(Phrase(terms=("alpha", "beta"))) == ["ab"]
    # term-set slot: alpha followed immediately by beta OR gamma
    # ("ab2" has bexxx at that position -> no match)
    assert paths(
        Phrase(terms=("alpha", TermsF(terms=("beta", "gamma"))))
    ) == ["ab", "ag"]
    # three-slot with middle prefix
    assert paths(
        Phrase(terms=("alpha", Prefix(prefix="b"), "gamma"))
    ) == ["ab", "ab2"]


def test_wildcard_escape_literal_underscore(spark, tmp_path):
    """\\_ and \\% match literal chars (wildcard_utils.cpp escape syntax;
    Spark LIKE's default backslash escape)."""
    import pandas as pd

    from iresearch_spark.index.build import build_index
    from iresearch_spark.search import SearchEngine, Wildcard

    pdf = pd.DataFrame(
        {
            "repo": ["r"] * 3,
            "path": ["p1", "p2", "p3"],
            "commit": ["c"] * 3,
            "lang": ["t"] * 3,
            "content": ["a_b stuff", "axb stuff", "a9b stuff"],
        }
    )
    d = str(tmp_path / "idx_esc")
    build_index(spark, spark.createDataFrame(pdf), d, num_segments=1)
    eng = SearchEngine(spark, d)
    # unescaped _: any single char -> all three docs
    assert eng.search(Wildcard(pattern="a_b"), k=None).count() == 3
    # escaped \_: literal underscore -> only doc p1
    rows = eng.search(Wildcard(pattern=r"a\_b"), k=None).collect()
    assert [r["path"] for r in rows] == ["p1"]


def test_phrase_offsets_gap(spark, tmp_path_factory):
    """Phrase position offsets (`phrase_filter.hpp:71-84` push_back offs):
    offsets[i] = extra tokens allowed (exactly) between element i-1 and i."""
    import pandas as pd

    from iresearch_spark.index.build import build_index
    from iresearch_spark.search import Phrase

    texts = {
        "adj": "alpha beta gamma delta",
        "gap1": "alpha xxx beta yyy gamma",
        "gap2": "alpha one two beta gamma",
    }
    pdf = pd.DataFrame(
        {"repo": ["r"] * 3, "path": list(texts), "commit": list(texts),
         "lang": ["t"] * 3, "content": list(texts.values())}
    )
    d = str(tmp_path_factory.mktemp("idx_gap"))
    build_index(spark, spark.createDataFrame(pdf), d, num_segments=1)
    eng = SearchEngine(spark, d)

    def paths(filt):
        return sorted(r["path"] for r in eng.search(filt, k=None).collect())

    assert Phrase(terms=("a", "b"), offsets=(0, 1)).positions() == (0, 2)
    # alpha _ beta (exactly one token between)
    assert paths(Phrase(terms=("alpha", "beta"), offsets=(0, 1))) == ["gap1"]
    # alpha _ _ beta
    assert paths(Phrase(terms=("alpha", "beta"), offsets=(0, 2))) == ["gap2"]
    # alpha _ beta _ gamma
    assert paths(
        Phrase(terms=("alpha", "beta", "gamma"), offsets=(0, 1, 1))
    ) == ["gap1"]
    # default offsets unchanged: adjacent phrase
    assert paths(Phrase(terms=("alpha", "beta"))) == ["adj"]


def test_terms_per_term_boost(engine):
    """by_terms per-term boosts (terms_filter.hpp search_terms): score is
    linear in each matched term's boost."""
    from iresearch_spark.search import TermsF

    flat = engine.search(
        TermsF(terms=("import", "return")), k=None, with_identity=False
    ).toPandas().set_index(["segment_id", "doc_id"])
    bi = engine.search(
        TermF(term="import", boost=3.0), k=None, with_identity=False
    ).toPandas().set_index(["segment_id", "doc_id"])
    br = engine.search(
        TermF(term="return"), k=None, with_identity=False
    ).toPandas().set_index(["segment_id", "doc_id"])
    boosted = engine.search(
        TermsF(terms=(("import", 3.0), "return")), k=None, with_identity=False
    ).toPandas().set_index(["segment_id", "doc_id"])
    assert set(boosted.index) == set(flat.index)
    expect = bi["score"].reindex(boosted.index).fillna(0.0).to_numpy() + \
        br["score"].reindex(boosted.index).fillna(0.0).to_numpy()
    np.testing.assert_allclose(
        boosted["score"].to_numpy(), expect, rtol=2e-5
    )


def test_phrase_leading_offset_is_noop(spark, tmp_path_factory):
    """A leading phrase offset must NOT drop matches at the start of a doc
    (phrase_filter.cpp:273 subtracts base_offset)."""
    import pandas as pd

    from iresearch_spark.index.build import build_index
    from iresearch_spark.search import Phrase

    pdf = pd.DataFrame(
        {"repo": ["r"], "path": ["p0"], "commit": ["c0"], "lang": ["t"],
         "content": ["alpha beta gamma"]}
    )
    d = str(tmp_path_factory.mktemp("idx_lead"))
    build_index(spark, spark.createDataFrame(pdf), d, num_segments=1)
    eng = SearchEngine(spark, d)
    rows = eng.search(
        Phrase(terms=("alpha", "beta"), offsets=(1, 0)), k=None
    ).collect()
    assert [r["path"] for r in rows] == ["p0"]


def test_or_min_match_zero_beats_net_negated_all():
    """Or::prepare short-circuits min_match==0 to match-all BEFORE
    group_filters can see a net-negated match-all child
    (boolean_filter.cpp:212-218 vs :117-121) — the 0-min_match Or of
    NOT(*) matches everything, not nothing."""
    from iresearch_spark.search import All, Not, Or

    r = rewrite(Or(children=(Not(child=All()),), min_match=0))
    assert isinstance(r, All)
    # without the explicit 0 the net-negated all still empties the Or
    assert rewrite(Or(children=(Not(child=All()),))) == Empty()


def test_or_full_match_collapse_keeps_merge_type(engine):
    """An m==n disjunction with a non-sum ScoreMergeType must NOT collapse
    into the summing And kernel: the reference's AndQuery still receives
    merge_type() (boolean_filter.cpp:300-311). Scores must equal the
    per-doc max of the children on the intersection."""
    from iresearch_spark.search import And, Or
    from iresearch_spark.search.filters import rewrite as rw

    terms = (TermF(term="import"), TermF(term="return"))
    r = rw(Or(children=terms, min_match=2, merge_type="max"))
    assert isinstance(r, And) and r.merge_type == "max"
    assert rw(Or(children=terms, min_match=2)).merge_type == "sum"

    per_term = {
        t.term: {
            (row["segment_id"], row["doc_id"]): np.float64(row["score"])
            for row in engine.search(t, k=None, with_identity=False,
                                     dtype="float64").collect()
        }
        for t in terms
    }
    inter = set(per_term["import"]) & set(per_term["return"])
    got = {
        (row["segment_id"], row["doc_id"]): np.float64(row["score"])
        for row in engine.search(
            Or(children=terms, min_match=2, merge_type="max"), k=None,
            with_identity=False, dtype="float64", wand=False,
        ).collect()
    }
    assert got.keys() == inter
    for key in got:
        want = max(per_term["import"][key], per_term["return"][key])
        np.testing.assert_allclose(got[key], want, rtol=1e-6)


def test_and_merge_types(engine):
    """The reference's And carries a ScoreMergeType its AndQuery honors
    (boolean_filter.cpp:300-311): conjunction scores combine per
    sum/max/min. WAND must agree (non-sum conjunctions run exhaustive —
    the wand_and kernel only sums)."""
    from iresearch_spark.search import And

    terms = (TermF(term="import"), TermF(term="return"))
    per_term = {
        t.term: {
            (r["segment_id"], r["doc_id"]): np.float64(r["score"])
            for r in engine.search(t, k=None, with_identity=False,
                                   dtype="float64").collect()
        }
        for t in terms
    }
    inter = set(per_term["import"]) & set(per_term["return"])
    for mt, red in (("sum", lambda a, b: a + b), ("max", max), ("min", min)):
        q = And(children=terms, merge_type=mt)
        got = {
            (r["segment_id"], r["doc_id"]): np.float64(r["score"])
            for r in engine.search(q, k=None, with_identity=False,
                                   dtype="float64", wand=False).collect()
        }
        assert got.keys() == inter, mt
        for key in got:
            want = red(per_term["import"][key], per_term["return"][key])
            np.testing.assert_allclose(got[key], want, rtol=1e-6,
                                       err_msg=mt)
        w = engine.search(q, k=10, wand=True).collect()
        e = engine.search(q, k=10, wand=False).collect()
        assert [(r["segment_id"], r["doc_id"], r["score"]) for r in w] == \
            [(r["segment_id"], r["doc_id"], r["score"]) for r in e], mt
