"""Physical-plan regression guards.

These assert the *shape* of the plans — the properties that keep the engine
fast at scale and that profiling can't catch on toy data:

- the term predicate reaches the postings parquet scan (PushedFilters), so
  a 100 TB segments table reads only the matching row groups;
- a non-positional query prunes the positions column out of the scan;
- the docmeta identity join broadcasts only the bounded top-k side; the
  unbounded all-matches side (k=None) must NOT carry a broadcast hint.
"""

import io
from contextlib import redirect_stdout

import pytest

from iresearch_spark.corpus import generate_corpus
from iresearch_spark.index import build_index
from iresearch_spark.search import Phrase, Prefix, SearchEngine, TermF


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx") / "plan")
    build_index(spark, generate_corpus(spark, 120, 2), d, num_segments=2)
    return SearchEngine(spark, d)


def _formatted(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_term_predicate_pushed_to_postings_scan(engine):
    plan = _formatted(engine.search(TermF(term="import"), k=None))
    assert "PushedFilters" in plan
    # the term shows up inside a pushed In/EqualTo on the postings scan
    pushed = [
        line for line in plan.splitlines() if "PushedFilters" in line
    ]
    assert any("term" in line for line in pushed), pushed


def test_positions_column_pruned_unless_phrase(engine):
    plan = _formatted(engine.search(TermF(term="import"), k=None))
    read_schemas = [
        line for line in plan.splitlines() if "ReadSchema" in line
    ]
    seg_reads = [line for line in read_schemas if "postings" in line]
    assert seg_reads and all("positions" not in line for line in seg_reads), (
        read_schemas
    )
    plan_ph = _formatted(
        engine.search(Phrase(terms=("fast", "key")), k=None)
    )
    seg_reads_ph = [
        line
        for line in plan_ph.splitlines()
        if "ReadSchema" in line and "postings" in line
    ]
    assert any("positions" in line for line in seg_reads_ph), seg_reads_ph


def test_fuzzy_dictionary_scan_uses_banded_lev_and_prefilter(engine):
    """The fuzzy dictionary expansion must not run a full O(len^2)
    Levenshtein DP on every dictionary term: the scan predicate carries
    (a) the banded THRESHOLDED levenshtein (3-arg form — O(cap*len),
    early-exit past the cap) and (b) the cheap substring char-membership
    prefilter placed before it in the And chain, which codegen
    short-circuits so most terms never reach the DP. (A first-character
    StartsWith prune would be unsound: an insertion at position 0 admits
    any first character.)"""
    from pyspark.sql import functions as F

    from iresearch_spark.search import Fuzzy
    from iresearch_spark.search.executor import SearchEngine as SE

    pred = SE._leaf_pred(Fuzzy(term="import", max_distance=1))
    df = (
        engine.spark.read.parquet(f"{engine.index_dir}/segments")
        .select("term")
        .filter(pred)
    )
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "levenshtein(term" in plan and ", 1)" in plan, plan
    assert "substring(term" in plan, plan
    # prefilter must precede the DP in the conjunction (short-circuit order)
    assert plan.index("substring(term") < plan.index("levenshtein(term"), plan


def test_fuzzy_prefilter_sound_at_position_zero(spark, tmp_path_factory):
    """Edits AT the first character must survive the alignment prefilter:
    substitution ('xpark'), insertion ('zspark'), and deletion ('park')
    are all distance 1 from 'spark' and must be found."""
    from iresearch_spark.search import Fuzzy

    d = str(tmp_path_factory.mktemp("idx_fz0"))
    rows = [
        ("r", f"f{i}.py", "c", "py", txt)
        for i, txt in enumerate(
            ["spark engine", "xpark engine", "zspark engine",
             "park engine", "quark engine", "totally unrelated words"]
        )
    ]
    corpus = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, "
              "content string"
    )
    build_index(spark, corpus, d, num_segments=1)
    eng = SearchEngine(spark, d)
    hits = {
        r["path"] for r in eng.search(
            Fuzzy(term="spark", max_distance=1), k=None
        ).collect()
    }
    assert {"f0.py", "f1.py", "f2.py", "f3.py"} <= hits
    # 'quark' is distance 2 (two substitutions) — out at d=1
    assert "f4.py" not in hits and "f5.py" not in hits


def test_query_norms_side_is_packed_blobs_not_docmeta_scan(engine):
    """The kernel's per-doc side must be the per-segment packed norms
    (O(segments) entries), never a per-query O(corpus) docmeta parquet
    scan + exchange — the last query-side 100x scale-killer. The norms are
    read once per manifest publish on the driver (norms_blob_df, the
    reader-open cost) and reach the kernel as broadcasts, so the kernel
    plan (with_identity=False) must contain NO docmeta scan; the only
    docmeta read allowed in a query plan is the bounded identity join."""
    df = engine.search(TermF(term="import"), k=5, with_identity=False)
    opt = _optimized(df)
    assert "docmeta" not in opt, opt
    # O(segments): one packed entry per live segment, sized by the manifest
    norms = engine.norms_blob_df()
    assert sorted(norms) == engine._seg_ids
    ndocs = {sid: bc.value["ndocs"] for sid, bc in norms.items()}
    man_docs = {
        int(s["segment_id"]): int(s["docs"])
        for s in engine.manifest.segments
    }
    assert ndocs == man_docs


@pytest.mark.parametrize("kind", ["prefix", "wildcard", "range"])
def test_multiterm_unscored_rest_stays_executor_side(
    spark, tmp_path_factory, kind
):
    """A broad multi-term leaf over a big dictionary must NOT collect every
    matched term to the driver: only the top scored_terms_limit terms (by
    df desc) become scored instances; the rest's predicate is pushed into
    the kernel's segment scan and unioned executor-side — a 10^9-term
    dictionary Prefix('a') stays O(scored_terms_limit) driver-side
    (`multiterm_query.cpp:36-106` bit_union / limited_sample_collector)."""
    from iresearch_spark.search import Wildcard, TermRange

    d = str(tmp_path_factory.mktemp(f"idx_rest_{kind}"))
    # 300 docs, each with a unique 'zz####' term (df=1 each) + one shared
    rows = [
        ("r", f"f{i:04d}.py", "c", "py", f"zz{i:04d} common")
        for i in range(300)
    ]
    corpus = spark.createDataFrame(
        rows,
        "repo string, path string, commit string, lang string, "
        "content string",
    )
    from iresearch_spark.index import build_index

    build_index(spark, corpus, d, num_segments=2)
    eng = SearchEngine(spark, d)
    leaf = {
        "prefix": Prefix(prefix="zz", scored_terms_limit=10),
        "wildcard": Wildcard(pattern="zz%", scored_terms_limit=10),
        "range": TermRange(
            min_term="zz0000", max_term="zz9999", scored_terms_limit=10
        ),
    }[kind]
    prep = eng.prepare(leaf)
    # driver materialized ONLY the scored sample, never the 300-term rest
    assert len(prep.instances) == 10, len(prep.instances)
    assert len(prep.rest_specs) == 1
    cached = eng._stats_cache[("lb", "content", leaf)]
    assert len(cached) == 10
    hits = eng.search(leaf, k=None).collect()
    # the executor-side rest completes the match set
    assert len(hits) == 300
    # df ties break by term asc: zz0000..zz0009 are the scored terms
    scored_docs = {f"f{i:04d}.py" for i in range(10)}
    for r in hits:
        if r["path"] in scored_docs:
            assert r["score"] > 0.0, r
        else:
            assert r["score"] == 0.0, r


def test_multiterm_full_scoring_unchanged_when_limit_covers_matches(
    spark, tmp_path_factory
):
    """With scored_terms_limit >= matched terms the bounded path must score
    identically to a fully-expanded equivalent (Or over explicit TermFs)."""
    from iresearch_spark.search import Or

    d = str(tmp_path_factory.mktemp("idx_rest_full"))
    rows = [
        ("r", f"f{i}.py", "c", "py", f"zz{i} shared common text {i % 3}")
        for i in range(20)
    ]
    corpus = spark.createDataFrame(
        rows,
        "repo string, path string, commit string, lang string, "
        "content string",
    )
    from iresearch_spark.index import build_index

    build_index(spark, corpus, d, num_segments=2)
    eng = SearchEngine(spark, d)
    got = {
        (r["path"], r["score"])
        for r in eng.search(Prefix(prefix="zz"), k=None).collect()
    }
    want = {
        (r["path"], r["score"])
        for r in eng.search(
            Or(children=tuple(TermF(term=f"zz{i}") for i in range(20))),
            k=None,
        ).collect()
    }
    assert got == want


def test_stored_fields_reads_pruned_columns(engine, spark, tmp_path_factory):
    """stored_fields is the columnstore read path (`columnstore2.hpp:38-63`
    analogue): identity-resident columns come from docmeta; other columns
    join the SOURCE table with column pruning — the source parquet scan
    must read ONLY the key + requested columns, never `content` (a 100 TB
    text column)."""
    from pyspark.sql import functions as F

    src_dir = str(tmp_path_factory.mktemp("sf_src") / "src.parquet")
    from iresearch_spark.corpus import generate_corpus

    generate_corpus(spark, 120, 2).withColumn(
        "n_bytes", F.length("content")
    ).write.parquet(src_dir)
    src = spark.read.parquet(src_dir)

    hits = engine.search(TermF(term="import"), k=5, with_identity=False)
    out = engine.stored_fields(hits, ["lang", "n_bytes"], source=src)
    rows = out.collect()
    assert len(rows) == 5
    assert set(out.columns) == {
        "segment_id", "doc_id", "lang", "n_bytes", "score"
    }
    # values match a manual identity resolution
    manual = {
        (r["segment_id"], r["doc_id"]): (r["lang"],)
        for r in engine.search(TermF(term="import"), k=5).collect()
    }
    for r in rows:
        assert manual[(r["segment_id"], r["doc_id"])][0] == r["lang"]
        assert r["n_bytes"] > 0
    # column pruning: the source scan must not read `content`
    plan = _formatted(out)
    src_reads = [
        line
        for line in plan.splitlines()
        if "ReadSchema" in line and "n_bytes" in line
    ]
    assert src_reads and all("content" not in line for line in src_reads), (
        plan
    )
    # identity-only requests never touch the source table at all
    ident_only = engine.stored_fields(hits, ["lang", "repo"])
    assert ident_only.count() == 5


def test_stored_fields_requires_source_for_non_docmeta_columns(engine):
    hits = engine.search(TermF(term="import"), k=3, with_identity=False)
    with pytest.raises(ValueError, match="source"):
        engine.stored_fields(hits, ["n_bytes"])


def test_stored_fields_rejects_hit_column_collisions(engine):
    """Requesting a column that already exists on the hits side (score,
    doc_id) would yield ambiguous/duplicate output columns — reject it."""
    hits = engine.search(TermF(term="import"), k=3, with_identity=False)
    with pytest.raises(ValueError, match="collide"):
        engine.stored_fields(hits, ["score"])
    with pytest.raises(ValueError, match="collide"):
        engine.stored_fields(hits, ["doc_id"])


def test_like_regex_raises_on_dangling_escape():
    """Spark LIKE raises on a trailing lone backslash; the kernel twin must
    mirror that strictness rather than silently treat it as a literal."""
    from iresearch_spark.search.executor import _like_regex

    assert _like_regex("a\\%b").match("a%b")
    with pytest.raises(ValueError, match="dangling"):
        _like_regex("abc\\")


def test_identity_join_broadcasts_only_bounded_topk(engine):
    bounded = _optimized(engine.search(TermF(term="import"), k=5))
    unbounded = _optimized(engine.search(TermF(term="import"), k=None))
    assert "strategy=broadcast" in bounded, bounded[-500:]
    assert "strategy=broadcast" not in unbounded, unbounded[-500:]


def test_identity_join_dynamic_partition_pruning(engine):
    """The top-k identity resolve must not scan the whole docmeta table:
    docmeta is written partitionBy(segment_id), the hits side is
    broadcast, and Spark's dynamic partition pruning narrows the scan to
    the segments actually present in the top-k — the Spark analogue of
    the reference opening only the matched segments' docstore
    (`columnstore2.hpp:38-63`). At 10^12 docs this is the difference
    between O(matched segments) and O(corpus) identity IO per query."""
    plan = (
        engine.search(TermF(term="import"), k=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "dynamicpruning" in plan.lower(), plan[:2000]
