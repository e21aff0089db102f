"""Consolidation tests: tier planner math + merge correctness.

Merge correctness gate: search results (identity + float32 score) are
IDENTICAL before and after consolidation — the merge only re-shards, never
changes ranking (global stats are segment-independent).
"""

import numpy as np
import pyarrow as pa
import pytest

from iresearch_spark.corpus import generate_corpus
from iresearch_spark.index.build import build_index
from iresearch_spark.index.manifest import read_manifest
from iresearch_spark.index.merge import consolidate, merge_segments, plan_tier
from iresearch_spark.search import And, Or, Phrase, SearchEngine, TermF

N_DOCS = 250
N_SEGMENTS = 8

QUERIES = [
    TermF(term="import"),
    Or(children=(TermF(term="void"), TermF(term="sym_9"), TermF(term="sym_100"))),
    And(children=(TermF(term="def"), TermF(term="sym_3"))),
    Phrase(terms=("import", "int")),
    TermF(term="uniq_11_a"),
]


def _results(spark, index_dir, k=15):
    eng = SearchEngine(spark, index_dir)
    out = []
    for q in QUERIES:
        rows = eng.search(q, k=k).collect()
        out.append([(r["repo"], r["path"], r["commit"], np.float32(r["score"])) for r in rows])
    return out


@pytest.fixture()
def index_dir(spark, tmp_path):
    d = str(tmp_path / "idx")
    corpus = generate_corpus(spark, N_DOCS, num_partitions=4, min_tokens=30,
                             max_tokens=300)
    build_index(spark, corpus, d, num_segments=N_SEGMENTS)
    return d


def test_plan_tier_prefers_small_even_windows():
    segs = [
        {"segment_id": i, "postings_bytes": 100, "docs": 10} for i in range(4)
    ] + [{"segment_id": 9, "postings_bytes": 10_000, "docs": 100}]
    batch = plan_tier(segs, max_segments=4, max_bytes=1 << 20, max_skew=0.4)
    assert batch == [0, 1, 2, 3]  # the big skewed segment is excluded


def test_plan_tier_respects_byte_cap():
    segs = [{"segment_id": i, "postings_bytes": 600, "docs": 1} for i in range(4)]
    assert plan_tier(segs, max_bytes=1000) == []  # any 2-window > cap


def test_merge_preserves_search_results(spark, index_dir):
    before = _results(spark, index_dir)
    man0 = read_manifest(index_dir)
    metrics = merge_segments(spark, index_dir, [0, 1, 2, 3])
    assert metrics["fan_in"] == 4
    man1 = read_manifest(index_dir)
    assert len(man1.segments) == len(man0.segments) - 3
    assert sum(s["docs"] for s in man1.segments) == N_DOCS
    after = _results(spark, index_dir)
    assert before == after


def test_consolidate_to_single_segment(spark, index_dir):
    before = _results(spark, index_dir)
    rounds = consolidate(
        spark, index_dir, max_segments=4, max_bytes=1 << 30, max_skew=1.0
    )
    assert rounds, "expected at least one merge round"
    man = read_manifest(index_dir)
    assert len(man.segments) < N_SEGMENTS
    assert sum(s["docs"] for s in man.segments) == N_DOCS
    # hierarchical: later merges consumed earlier merge outputs
    gens = [s["lineage"].get("generation", 0) for s in man.segments]
    assert max(gens) >= 1
    after = _results(spark, index_dir)
    assert before == after


def test_term_ranges_cover_every_term_once_in_byte_order():
    """The merge planner cuts the distinct terms into contiguous ranges
    [lo, hi) in UTF-8 byte order: every term lands in exactly one range,
    no range weighs more than max(budget, its heaviest term), and a range
    is closed only when its next term would overflow the budget."""
    from iresearch_spark.index.merge import term_ranges

    pool = ["0042", "_lead", "a", "import", "sym_1", "sym_10", "z", "é",
            "日本", "ＡＢ", "😀", "uniq_9_b", "int", "void"]
    rng = np.random.default_rng(7)
    terms = [pool[i] for i in rng.integers(0, len(pool), 60)]
    weights = rng.integers(1, 12, len(terms))
    weights[terms.index("import")] = 500  # heavier than the budget
    budget = 40
    ranges = term_ranges(terms, weights, budget)

    los = [lo.encode() for lo, _ in ranges]
    assert los == sorted(los) and len(set(los)) == len(los)
    assert [hi for _, hi in ranges] == [lo for lo, _ in ranges[1:]] + [None]
    per_term: dict[str, int] = {}
    for t, w in zip(terms, weights.tolist()):
        per_term[t] = per_term.get(t, 0) + w
    members = [[] for _ in ranges]
    for t in per_term:
        hit = [
            i for i, (lo, hi) in enumerate(ranges)
            if lo.encode() <= t.encode() and (hi is None or t.encode() < hi.encode())
        ]
        assert len(hit) == 1, (t, hit)
        members[hit[0]].append(t)
    loads = [sum(per_term[t] for t in m) for m in members]
    for m, load in zip(members, loads):
        assert load <= max(budget, max(per_term[t] for t in m))
    assert ["import"] in members  # the heavy term sits alone
    for i in range(len(ranges) - 1):
        assert loads[i] + per_term[ranges[i + 1][0]] > budget
    # contiguous in byte order (UTF-16 order would put 😀 before ＡＢ)
    flat = [t for m in members for t in sorted(m, key=str.encode)]
    assert flat == sorted(per_term, key=str.encode)
    assert term_ranges(pa.array([], pa.string()), np.empty(0, np.int64), 10) == []


def test_merged_segment_files_hold_disjoint_term_ranges(spark, tmp_path):
    """Each merge task writes one file of contiguous term ranges, so the
    term min/max statistics of a merged segment's files never overlap and
    a query's term pushdown can skip files. The 160-doc merge spans more
    than one range budget, so several tasks write; results are unchanged."""
    import glob

    import pyarrow.parquet as pq

    d = str(tmp_path / "idx")
    build_index(spark, generate_corpus(spark, 160, 2), d, num_segments=8)
    before = _results(spark, d)
    new_id = merge_segments(spark, d, list(range(8)))["new_segment_id"]
    spans = []
    for f in glob.glob(f"{d}/segments/segment_id={new_id}/*.parquet"):
        md = pq.ParquetFile(f).metadata
        col = md.schema.names.index("term")
        stats = [md.row_group(g).column(col).statistics for g in range(md.num_row_groups)]
        spans.append((min(s.min for s in stats), max(s.max for s in stats)))
    spans.sort()
    assert len(spans) >= 2, spans
    for (_, hi), (lo, _) in zip(spans, spans[1:]):
        assert hi.encode() < lo.encode(), spans
    assert _results(spark, d) == before


def _seg(sid, bytes_, docs=100, deleted=0):
    return {
        "segment_id": sid,
        "postings_bytes": bytes_,
        "docs": docs,
        "deleted_docs": deleted,
    }


def test_plan_bytes_below_avg_threshold():
    from iresearch_spark.index.merge import plan_bytes

    segs = [_seg(0, 100), _seg(1, 100), _seg(2, 1000)]  # avg = 400
    assert plan_bytes(segs, 0.5) == [0, 1]  # 0.5*400=200 >= 100
    assert plan_bytes(segs, 0.1) == []      # 40 < 100


def test_plan_bytes_accum_smallest_first_budget():
    from iresearch_spark.index.merge import plan_bytes_accum

    segs = [_seg(0, 500), _seg(1, 100), _seg(2, 400)]  # total 1000
    # budget 0.5*1000=500: takes 100 then 400, 500 over budget after
    assert plan_bytes_accum(segs, 0.5) == [1, 2]
    # live-scaling: half-deleted big segment weighs 250, fits with 100
    segs2 = [_seg(0, 500, docs=100, deleted=50), _seg(1, 100), _seg(2, 400)]
    assert plan_bytes_accum(segs2, 0.5) == [0, 1]


def test_plan_count_first_n():
    from iresearch_spark.index.merge import plan_count

    segs = [_seg(2, 1), _seg(0, 1), _seg(1, 1)]
    assert plan_count(segs, 2) == [0, 1]
    assert plan_count(segs) == [0, 1, 2]


def test_plan_docs_live_and_fill():
    from iresearch_spark.index.merge import plan_docs_fill, plan_docs_live

    segs = [
        _seg(0, 1, docs=100, deleted=100),  # fully dead
        _seg(1, 1, docs=100, deleted=60),   # live 40, fill 0.4
        _seg(2, 1, docs=1000, deleted=0),   # live 1000, fill 1.0
    ]
    # avg live = (0+40+1000)/3 ~= 346.7; 0.5*avg = 173 >= 40 and >= 0
    assert plan_docs_live(segs, 0.5) == [0, 1]
    assert plan_docs_fill(segs, 0.5) == [0, 1]   # fill <= 0.5
    assert plan_docs_fill(segs, 0.3) == [0]      # 0.4 > 0.3


def test_sharded_hot_term_merge_rank_identical(spark, tmp_path):
    """Blob sharding (shard_docs): a term in every doc splits into several
    disjoint doc-range rows at merge; queries (scored, WAND, phrase) must be
    identical to the unmerged index."""
    import pandas as pd
    from pyspark.sql import functions as F

    from iresearch_spark.index import merge_segments
    from iresearch_spark.search import Phrase, SearchEngine, TermF

    n = 600
    rows = []
    for i in range(n):
        # 'common' everywhere (with varying tf), 'pair marker' phrase in some
        extra = "common " * (i % 3) + ("pair marker " if i % 7 == 0 else "")
        rows.append(
            ("r", f"p{i:04d}", f"c{i:04d}", "t",
             f"common {extra}tok{i % 50} tok{i % 31} filler{i}")
        )
    pdf = pd.DataFrame(
        rows, columns=["repo", "path", "commit", "lang", "content"]
    )
    d = str(tmp_path / "idx_shard")
    build_index(spark, spark.createDataFrame(pdf), d, num_segments=3)

    def snap(eng, filt, wand=True):
        res = eng.search(filt, k=25, wand=wand).collect()
        return [(r["path"], round(r["score"], 6)) for r in res]

    eng0 = SearchEngine(spark, d)
    before_term = snap(eng0, TermF(term="common"))
    before_phrase = snap(eng0, Phrase(terms=("pair", "marker")))

    merge_segments(spark, d, [0, 1, 2], shard_docs=128)
    segs = spark.read.parquet(f"{d}/segments")
    n_shards = segs.filter(F.col("term") == "common").count()
    assert n_shards >= 2, "hot term must be sharded into multiple rows"
    # shards are block-aligned and bounded
    dc = [r["docs_count"] for r in
          segs.filter(F.col("term") == "common").collect()]
    assert max(dc) <= 256  # chunk = ceil-to-128 of <= shard target

    eng1 = SearchEngine(spark, d)
    assert snap(eng1, TermF(term="common")) == before_term
    assert snap(eng1, TermF(term="common"), wand=False) == before_term
    assert snap(eng1, Phrase(terms=("pair", "marker"))) == before_phrase


def test_resharded_segment_remerges_correctly(spark, tmp_path):
    """Merging a segment that ALREADY contains sharded rows must re-encode
    docs in ascending order (the _first tiebreak) — queries stay identical."""
    import pandas as pd
    from pyspark.sql import functions as F

    from iresearch_spark.index import merge_segments, read_manifest
    from iresearch_spark.search import SearchEngine, TermF

    rows = [
        ("r", f"p{i:04d}", f"c{i:04d}", "t", f"common tok{i % 11} x{i}")
        for i in range(400)
    ]
    pdf = pd.DataFrame(
        rows, columns=["repo", "path", "commit", "lang", "content"]
    )
    d = str(tmp_path / "idx_reshard")
    build_index(spark, spark.createDataFrame(pdf), d, num_segments=2)
    eng0 = SearchEngine(spark, d)
    before = [
        (r["path"], round(r["score"], 6))
        for r in eng0.search(TermF(term="common"), k=30).collect()
    ]

    merge_segments(spark, d, [0, 1], shard_docs=128)  # -> sharded seg
    sid = read_manifest(d).segments[0]["segment_id"]
    merge_segments(spark, d, [sid])  # re-merge WITHOUT sharding
    segs = spark.read.parquet(f"{d}/segments")
    assert segs.filter(F.col("term") == "common").count() == 1  # un-sharded
    eng1 = SearchEngine(spark, d)
    after = [
        (r["path"], round(r["score"], 6))
        for r in eng1.search(TermF(term="common"), k=30).collect()
    ]
    assert after == before


def test_sharded_merge_purges_tombstones(spark, tmp_path):
    """shard_docs + deletes: the purge renumber and the shard split must
    compose — tombstoned docs vanish, survivors keep their relative ranks."""
    import pandas as pd

    from iresearch_spark.index import mark_deleted, merge_segments
    from iresearch_spark.search import SearchEngine, TermF

    rows = [
        ("r", f"p{i:04d}", f"c{i:04d}", "t",
         f"common {'common ' * (i % 4)}tok{i % 13}")
        for i in range(500)
    ]
    pdf = pd.DataFrame(
        rows, columns=["repo", "path", "commit", "lang", "content"]
    )
    d = str(tmp_path / "idx_shard_del")
    build_index(spark, spark.createDataFrame(pdf), d, num_segments=2)

    victims = spark.createDataFrame(pdf.iloc[::7][["repo", "path", "commit"]])
    n = mark_deleted(spark, d, victims)
    assert n == len(pdf.iloc[::7])

    merge_segments(spark, d, [0, 1], shard_docs=128)
    eng1 = SearchEngine(spark, d)
    after = sorted(
        (r["path"], round(r["score"], 6))
        for r in eng1.search(TermF(term="common"), k=None).collect()
    )
    dead = {f"p{i:04d}" for i in range(0, 500, 7)}
    assert not any(p in dead for p, _ in after)

    # purge updates global stats, so the gate is equality with an index
    # built FRESH over only the live docs (scores are segmentation- and
    # shard-invariant thanks to manifest-global BM25 stats)
    live_pdf = pdf[~pdf.index.isin(pdf.iloc[::7].index)]
    d2 = str(tmp_path / "idx_live")
    build_index(spark, spark.createDataFrame(live_pdf), d2, num_segments=3)
    eng2 = SearchEngine(spark, d2)
    fresh = sorted(
        (r["path"], round(r["score"], 6))
        for r in eng2.search(TermF(term="common"), k=None).collect()
    )
    assert after == fresh


def test_merge_retried_after_failed_publish(spark, index_dir, monkeypatch):
    """A merge that dies before its publish leaves the new segment's data
    behind; retrying the same merge resets it, so the merged segment holds
    each term and each doc once and answers as before."""
    from pyspark.sql import functions as F

    from iresearch_spark.index import merge as merge_mod

    def hits():
        rows = SearchEngine(spark, index_dir).search(
            TermF(term="import"), k=None
        ).collect()
        return sorted(
            (r["repo"], r["path"], r["commit"], np.float32(r["score"]))
            for r in rows
        )

    before = hits()
    publish = merge_mod.write_manifest
    failed = []

    def publish_fails_once(*args, **kwargs):
        if not failed:
            failed.append(True)
            raise OSError("injected publish failure")
        return publish(*args, **kwargs)

    monkeypatch.setattr(merge_mod, "write_manifest", publish_fails_once)
    seg_ids = list(range(N_SEGMENTS))
    with pytest.raises(OSError, match="injected"):
        merge_segments(spark, index_dir, seg_ids)
    new_id = merge_segments(spark, index_dir, seg_ids)["new_segment_id"]

    segs = spark.read.parquet(f"{index_dir}/segments").filter(
        F.col("segment_id") == new_id
    )
    assert segs.count() == segs.select("field", "term").distinct().count()
    dm = spark.read.parquet(f"{index_dir}/docmeta").filter(
        F.col("segment_id") == new_id
    )
    assert dm.count() == dm.select("doc_id").distinct().count() == N_DOCS
    assert hits() == before
