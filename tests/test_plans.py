"""Physical-plan regression guards.

These assert the *shape* of the plans — the properties that keep the engine
fast at scale and that profiling can't catch on toy data:

- each task's pyarrow read of a segment's postings returns only the rows
  of the query's terms, so a 100 TB segments table reads only the matching
  row groups;
- a non-positional query prunes the positions columns out of that read;
- a query plan holds no docmeta scan and no join (the kernel resolves
  identity), and a top-k query runs in one Spark job;
- a JVM-tokenized build runs its tokenizer regexp once and joins nothing;
- a merge, a micro-batch and a tombstoning stay within their job counts.
"""

import io
import uuid
from contextlib import redirect_stdout

import pytest

from iresearch_spark.corpus import generate_corpus
from iresearch_spark.index import build_index
from iresearch_spark.search import (
    All,
    And,
    ExistsF,
    Not,
    Or,
    Phrase,
    Prefix,
    SearchEngine,
    TermF,
)
from iresearch_spark.search import executor
from iresearch_spark.search.executor import _read_postings


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


def _postings(engine, q):
    """Each live segment's postings read for ``q``, one frame per segment."""
    prep = engine.prepare(q)
    return [_read_postings(engine.index_dir, sid, prep) for sid in engine._seg_ids]


def test_term_predicate_pushed_to_postings_scan(engine):
    rows = _postings(engine, TermF(term="import"))
    assert all(len(r) for r in rows), [len(r) for r in rows]
    for r in rows:
        assert set(zip(r["field"], r["term"])) == {("content", "import")}
        assert "positions" not in r.columns and "pos_offsets" not in r.columns


def test_positions_column_pruned_unless_phrase(engine):
    (r, *_) = _postings(engine, TermF(term="import"))
    assert "positions" not in r.columns and "postings" in r.columns
    for r in _postings(engine, Phrase(terms=("import", "def"))):
        assert {"positions", "pos_offsets"} <= set(r.columns)
        assert set(r["term"]) == {"import", "def"}
        assert r["positions"].notna().all()


def test_bounded_prefix_read_returns_only_its_rest(engine):
    """A bounded Prefix reads its scored terms plus every term of its
    unscored rest, and nothing else."""
    q = Prefix(prefix="sym_1", scored_terms_limit=2)
    prep = engine.prepare(q)
    assert len(prep.instances) == 2 and len(prep.rest_specs) == 1
    terms = set()
    for r in _postings(engine, q):
        terms |= set(r["term"])
    assert len(terms) > 2 and all(t.startswith("sym_1") for t in terms)
    want = engine._read_dictionary(executor._leaf_expr(q))["term"].to_pylist()
    assert terms == set(want)


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
    plan (with_identity=False) must contain NO docmeta scan; identity is
    read inside the kernel, so no query plan scans docmeta at all."""
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
    """Spark LIKE raises on a trailing lone backslash; the pyarrow twin must
    mirror that strictness rather than silently treat it as a literal."""
    import re

    from iresearch_spark.search.executor import _like_body

    assert re.fullmatch(_like_body("a\\%b"), "a%b")
    with pytest.raises(ValueError, match="dangling"):
        _like_body("abc\\")


# the perfbench query kinds: TermF, 3-term Or, And(sel, Or(hot, hot)),
# 2-term Phrase and Prefix; then trees that match docs without postings
JOB_COUNT_QUERIES = [
    TermF(term="import"),
    Or(children=(TermF(term="def"), TermF(term="int"), TermF(term="sym_1"))),
    And(children=(
        TermF(term="sym_2"),
        Or(children=(TermF(term="import"), TermF(term="return"))),
    )),
    Phrase(terms=("import", "def")),
    Prefix(prefix="sym_1"),
    All(),
    ExistsF(),
    Not(child=TermF(term="import")),
]


def _spark_jobs(spark, fn) -> int:
    """Spark jobs ``fn`` runs, counted through its own job group."""
    sc = spark.sparkContext
    group = f"job-count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("q", JOB_COUNT_QUERIES, ids=lambda q: type(q).__name__)
def test_topk_query_runs_in_one_spark_job(spark, engine, q):
    """A top-k query is one kernel job: term stats are read on the driver
    with pyarrow, and each task reads its segments' postings and identity
    itself, so neither a reader's first query nor a repeated one runs a
    dictionary job, a scan exchange or an identity join. The kernel input
    spreads the live segments over min(segments, defaultParallelism)
    tasks."""
    eng = SearchEngine(spark, engine.index_dir)
    first = _spark_jobs(spark, lambda: eng.search(q, k=10).collect())
    again = _spark_jobs(spark, lambda: eng.search(q, k=10).collect())
    assert (first, again) == (1, 1)
    tasks = eng._run_kernel(eng.prepare(q), 10, True).rdd.getNumPartitions()
    want = min(len(eng._seg_ids), spark.sparkContext.defaultParallelism)
    assert tasks == want == 2, (tasks, want)


@pytest.mark.parametrize("k", [5, None])
def test_query_plan_has_no_docmeta_scan_or_join(engine, k):
    """The kernel emits (repo, path, commit, lang) for its segment-local
    top-k, so the finalize is a sort (TakeOrderedAndProject for k=5) over
    the kernel output, with no docmeta DataFrame and no join."""
    for q in JOB_COUNT_QUERIES:
        df = engine.search(q, k=k)
        assert df.columns == [
            "repo", "path", "commit", "lang", "score", "segment_id", "doc_id"
        ]
        for plan in (
            _optimized(df),
            df._jdf.queryExecution().executedPlan().toString(),
        ):
            assert "docmeta" not in plan and "join" not in plan.lower(), plan
    if k is not None:
        plan = engine.search(TermF(term="import"), k=k)._jdf.queryExecution()
        assert "TakeOrderedAndProject" in plan.executedPlan().toString()


def test_merge_and_micro_batch_job_counts(spark, tmp_path):
    """A merge of 8 segments plans its term ranges on the driver with
    pyarrow and runs one merge job (``spark.range`` over the ranges, each
    task reading its inputs with pyarrow), reads parquet with explicit
    schemas (no schema-inference jobs) and collects its stats once; with
    tombstones it reads them on the driver with pyarrow, no Spark job. A
    micro-batch keeps the one stats pass of a build wave. Tombstoning
    collects the new tombstones in one job and writes them on the driver,
    and takes the manifest's per-segment counts from the pyarrow tombstone
    read, not from a Spark aggregate or a count of the resolved rows."""
    from pyspark.sql import functions as F

    from iresearch_spark.index import merge_segments
    from iresearch_spark.index.deletes import mark_deleted
    from iresearch_spark.streaming import IncrementalIndexer

    corpus = generate_corpus(spark, 160, 2).cache()
    d = str(tmp_path / "merge8")
    build_index(spark, corpus, d, num_segments=8)
    merge_jobs = _spark_jobs(
        spark, lambda: merge_segments(spark, d, list(range(8)))
    )
    ix = IncrementalIndexer(spark, d, segments_per_batch=2)
    batch = corpus.withColumn("commit", F.concat(F.col("commit"), F.lit("b")))
    batch_jobs = _spark_jobs(spark, lambda: ix.process_batch(batch, 0))
    assert merge_jobs <= 7 and batch_jobs <= 9, (merge_jobs, batch_jobs)

    dd = str(tmp_path / "merge8_deletes")
    build_index(spark, corpus, dd, num_segments=8)
    marked = []
    mark_jobs = _spark_jobs(
        spark, lambda: marked.append(mark_deleted(spark, dd, corpus.limit(20)))
    )
    assert marked == [20] and mark_jobs <= 4, mark_jobs
    del_jobs = _spark_jobs(
        spark, lambda: merge_segments(spark, dd, list(range(8)))
    )
    assert del_jobs <= 8, del_jobs
    corpus.unpersist()


@pytest.mark.parametrize("analyzer", ["code", "code_offsets"])
def test_jvm_tokenized_build_tokenizes_once(spark, analyzer):
    """A JVM-tokenized build runs the tokenizer regexp once per doc and
    hands the token strings to the invert kernel: no per-token hash and no
    join of the terms back from a second, dictionary branch."""
    from iresearch_spark.index.build import assign_doc_ids, make_seg_builder

    sub = assign_doc_ids(generate_corpus(spark, 40, 2), 2)
    seg_df = make_seg_builder(
        spark, analyzer, "content", True, out_partitions=2
    )(sub)
    plan = seg_df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("regexp_extract_all(") == 1, plan
    assert "xxhash64" not in plan and "Join" not in plan, plan
