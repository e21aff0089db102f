"""WAND regime accounting (r3 verdict ask #7): the ~1.1x dense-corpus
worst-case guard was measured once and recorded in prose; wand_stats makes
the regime + skipped-block ratio a queryable signal so bench.py
--wand-regimes can regression-track it.

Two fixtures pin the two regimes deterministically:
- UNIFORM: identical docs -> identical scores -> the k-th threshold sits at
  every doc's upper bound -> the dense-survivor guard must fire (full_dense)
  and cap the overhead at one bootstrap + one full pass.
- CLUSTERED: high-scoring docs packed into the first blocks (doc ids follow
  path order) -> the threshold from the bootstrap prunes every low block ->
  mode 'pruned' with most blocks skipped.
"""

import pytest

from iresearch_spark.index import build_index
from iresearch_spark.search import Or, SearchEngine, TermF

SCHEMA = (
    "repo string, path string, commit string, lang string, content string"
)


@pytest.fixture(scope="module")
def uniform_engine(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx_wand_uniform"))
    rows = [
        ("r", f"{i:05d}.py", "c", "py", "alpha beta gamma delta")
        for i in range(2000)
    ]
    build_index(
        spark, spark.createDataFrame(rows, SCHEMA), d, num_segments=1
    )
    return SearchEngine(spark, d)


@pytest.fixture(scope="module")
def clustered_engine(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx_wand_clustered"))
    filler = " ".join(f"w{j}" for j in range(60))
    rows = []
    for i in range(2000):
        # doc ids follow (repo, path, commit) order, so low paths land in
        # the first posting blocks: 300 high-tf/short docs, then long tail
        text = (
            "needle needle needle needle needle end"
            if i < 300
            else f"needle {filler}"
        )
        rows.append(("r", f"{i:05d}.py", "c", "py", text))
    build_index(
        spark, spark.createDataFrame(rows, SCHEMA), d, num_segments=1
    )
    return SearchEngine(spark, d)


def test_dense_survivor_fallback_fires_on_uniform_corpus(uniform_engine):
    q = Or(children=(TermF(term="alpha"), TermF(term="beta")))
    st = uniform_engine.wand_stats(q, k=10).collect()
    assert len(st) == 1
    row = st[0]
    assert row["mode"] == "full_dense", row
    # the guard's cost cap: bootstrap pass + one full pass, never more
    # than ~2x the block count (the documented ~1.1x wall-clock worst case)
    assert row["blocks_decoded"] <= 2 * row["blocks_total"], row
    # exactness under the fallback
    w = uniform_engine.search(q, k=10, wand=True).collect()
    e = uniform_engine.search(q, k=10, wand=False).collect()
    assert [tuple(r) for r in w] == [tuple(r) for r in e]


def test_pruned_regime_skips_blocks_on_clustered_corpus(clustered_engine):
    q = TermF(term="needle")
    st = clustered_engine.wand_stats(q, k=10).collect()
    assert len(st) == 1
    row = st[0]
    assert row["mode"] == "pruned", row
    # 2000 docs / 128-doc blocks = 16 blocks; the bootstrap touches the
    # high-ub head blocks and the threshold prunes the long tail
    assert row["blocks_total"] >= 14
    skipped = 1 - row["blocks_decoded"] / row["blocks_total"]
    assert skipped >= 0.5, dict(row.asDict())
    # pruning must not change results
    w = clustered_engine.search(q, k=10, wand=True).collect()
    e = clustered_engine.search(q, k=10, wand=False).collect()
    assert [tuple(r) for r in w] == [tuple(r) for r in e]


def test_exhaustive_mode_reported_for_non_wandable_tree(uniform_engine):
    from iresearch_spark.search import Not, And

    q = And(children=(TermF(term="alpha"), Not(child=TermF(term="beta"))))
    st = uniform_engine.wand_stats(q, k=10).collect()
    assert st and all(r["mode"] == "exhaustive" for r in st)


def test_and_pruned_regime_on_selective_lead(clustered_engine):
    """The boolean-tree path: a selective lead child must bound the
    candidates so the hot non-lead child decodes only intersecting blocks
    (and_pruned), never the whole postings. Guards against the gate
    silently falling back to exhaustive — rank-identity tests pass either
    way, so only the mode assertion catches a regression."""
    from iresearch_spark.search import And

    # 'end' appears only in the 300 clustered docs; 'needle' + 'w5' are
    # corpus-wide. Lead = 'end' (cheapest by docs_count).
    q = And(
        children=(
            TermF(term="end"),
            Or(children=(TermF(term="needle"), TermF(term="w5"))),
        )
    )
    st = clustered_engine.wand_stats(q, k=10).collect()
    assert len(st) == 1
    row = st[0]
    assert row["mode"] in ("and_pruned", "and_full_small"), row
    if row["mode"] == "and_pruned":
        assert row["blocks_decoded"] < row["blocks_total"], row
    w = clustered_engine.search(q, k=10, wand=True).collect()
    e = clustered_engine.search(q, k=10, wand=False).collect()
    assert [tuple(r) for r in w] == [tuple(r) for r in e]


def test_and_wand_gate_engages_on_term_or_tree(clustered_engine):
    """And(term, Or(terms)) with every term present in the index must NOT
    report 'exhaustive' — that mode on this shape means the wand_and gate
    regressed (found while diagnosing a 1M-doc run where a query term
    missing from the corpus produced an empty lead and the diagnostic
    default label)."""
    from iresearch_spark.search import And

    q = And(
        children=(
            TermF(term="needle"),
            Or(children=(TermF(term="w5"), TermF(term="w6"))),
        )
    )
    st = clustered_engine.wand_stats(q, k=10).collect()
    assert st and all(r["mode"].startswith("and_") for r in st), st


WAND_FLAT_MODES = ("pruned", "full_dense", "full_small", "full_lowmatch")


def test_minmatch_disjunction_takes_wand_path(clustered_engine):
    """r5: min_match>1 disjunctions ride the generic WAND driver
    (min_match_disjunction.hpp:62-200 analogue) — 'exhaustive' on this
    shape means the wandable gate regressed. Bit-identity to WAND-off is
    asserted alongside the mode."""
    from iresearch_spark.search import TermsF

    q = TermsF(terms=("needle", "end", "w5"), min_match=2)
    st = clustered_engine.wand_stats(q, k=10).collect()
    assert len(st) == 1
    assert st[0]["mode"] in WAND_FLAT_MODES, st[0]
    w = clustered_engine.search(q, k=10, wand=True).collect()
    e = clustered_engine.search(q, k=10, wand=False).collect()
    assert [tuple(r) for r in w] == [tuple(r) for r in e]


def test_minmatch_prunes_on_selective_threshold(clustered_engine):
    """A min_match pair whose qualifying docs are the 300 clustered head
    docs (needle+end) must actually PRUNE: the bootstrap's theta comes from
    high-ub head docs and the tail blocks' needle+w bounds fall below it."""
    from iresearch_spark.search import TermsF

    q = TermsF(terms=("needle", "end"), min_match=2)
    st = clustered_engine.wand_stats(q, k=10).collect()
    row = st[0]
    assert row["mode"] == "pruned", row
    assert row["blocks_decoded"] < row["blocks_total"], row
    w = clustered_engine.search(q, k=10, wand=True).collect()
    e = clustered_engine.search(q, k=10, wand=False).collect()
    assert [tuple(r) for r in w] == [tuple(r) for r in e]


def test_or_of_and_takes_wand_path(clustered_engine):
    """r5: one level of Or-of-wandable-children (including an And nest)
    rides the generic WAND driver instead of falling back."""
    from iresearch_spark.search import And

    q = Or(
        children=(
            And(children=(TermF(term="end"), TermF(term="needle"))),
            TermF(term="w5"),
        )
    )
    st = clustered_engine.wand_stats(q, k=10).collect()
    assert len(st) == 1
    assert st[0]["mode"] in WAND_FLAT_MODES, st[0]
    w = clustered_engine.search(q, k=10, wand=True).collect()
    e = clustered_engine.search(q, k=10, wand=False).collect()
    assert [tuple(r) for r in w] == [tuple(r) for r in e]


def test_and_with_exclude_rides_wand_and(clustered_engine):
    """r5: excludes no longer disqualify a >=2-positive-child conjunction;
    the exclude is filtered from the lead before the bootstrap so theta is
    never inflated by a doc the exclusion removes."""
    from iresearch_spark.search import And, Not

    q = And(
        children=(
            TermF(term="end"),
            TermF(term="needle"),
            Not(child=TermF(term="w5")),
        )
    )
    st = clustered_engine.wand_stats(q, k=10).collect()
    assert st and all(r["mode"].startswith("and_") for r in st), st
    w = clustered_engine.search(q, k=10, wand=True).collect()
    e = clustered_engine.search(q, k=10, wand=False).collect()
    assert [tuple(r) for r in w] == [tuple(r) for r in e]


def _and(*terms):
    from iresearch_spark.search import And

    return And(children=tuple(TermF(term=t) for t in terms))


@pytest.mark.parametrize(
    "corpus, q, k, mode",
    [
        # 2001 dense doc slots fit in the bootstrap size max(4k, 256)
        ("clustered", TermF(term="needle"), 600, "full_small"),
        # 'end' matches 300 docs, fewer than k
        ("clustered", TermF(term="end"), 350, "full_lowmatch"),
        # the lead 'end' (300 docs) fits in max(4k, 256) = 400
        ("clustered", _and("end", "needle"), 100, "and_full_small"),
        # no doc holds both 'end' and 'w5'
        ("clustered", _and("end", "w5"), 10, "and_full_lowmatch"),
        # identical docs: every lead doc's bound reaches the threshold
        ("uniform", _and("alpha", "beta"), 10, "and_full_dense"),
    ],
)
def test_fallback_regimes(request, corpus, q, k, mode):
    """Each two-phase fallback regime is reached by name, and returns the
    exhaustive result."""
    eng = request.getfixturevalue(f"{corpus}_engine")
    assert [r["mode"] for r in eng.wand_stats(q, k=k).collect()] == [mode]
    w = eng.search(q, k=k, wand=True).collect()
    e = eng.search(q, k=k, wand=False).collect()
    assert [tuple(r) for r in w] == [tuple(r) for r in e]
