"""The three workloads, their output checks and their end-to-end metrics.

Each workload draws its corpus row-id window and its query mix from the
seed, drives only the engine's public API from one client in a closed loop
(the next operation starts when the previous one has returned), and keeps
going until ``seconds`` have passed and it has the minimum operation count
of its scale.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback
from dataclasses import dataclass

import numpy as np

from perfbench import spark_session

FAILED = object()


@dataclass(frozen=True)
class Scale:
    query_docs: int
    query_segments: int
    query_pool: int
    warmup_queries: int
    min_queries: int
    bulk_docs: int
    bulk_segments: int
    min_builds: int
    batch_docs: int
    segments_per_batch: int
    max_batches: int
    min_batches: int
    setup_reps: int


SCALES = {
    "full": Scale(
        query_docs=1000, query_segments=8, query_pool=24, warmup_queries=10,
        min_queries=14,
        bulk_docs=1000, bulk_segments=8, min_builds=2,
        batch_docs=500, segments_per_batch=4, max_batches=4,
        min_batches=3, setup_reps=3,
    ),
    "tiny": Scale(
        query_docs=120, query_segments=4, query_pool=6, warmup_queries=2,
        min_queries=6,
        bulk_docs=120, bulk_segments=4, min_builds=1,
        batch_docs=60, segments_per_batch=2, max_batches=3,
        min_batches=2, setup_reps=2,
    ),
}

K = 10
MERGE_EVERY = 2  # batches between tier consolidations in ingest_merge_query
CORPUS_COLS = ("repo", "path", "commit", "lang", "content")


# ------------------------------------------------------------- inputs


def window_start(seed: int) -> int:
    """First corpus row id of the seed's window (windows never overlap)."""
    return 1_000_000 * (seed % 1_000_000)


def corpus_df(spark, start: int, n: int, batch_docs: int | None = None):
    """``iresearch_spark.corpus`` rows for ids [start, start + n); with
    ``batch_docs``, plus the micro-batch number of each row."""
    from iresearch_spark.corpus import CORPUS_SCHEMA, make_rows

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            rows = make_rows(ids)
            if batch_docs:
                rows["batch"] = ((ids - start) // batch_docs).astype("int32")
            yield rows

    schema = CORPUS_SCHEMA + (", batch int" if batch_docs else "")
    parts = max(1, min(n // 250, 8))
    return spark.range(start, start + n, numPartitions=parts).mapInPandas(
        gen, schema=schema
    )


def corpus_rows(start: int, n: int):
    from iresearch_spark.corpus import make_rows

    return make_rows(np.arange(start, start + n))


def text_bytes(pdf) -> int:
    return int(sum(pdf[c].str.encode("utf-8").str.len().sum() for c in CORPUS_COLS))


def dir_bytes(path: str) -> int:
    """Bytes of the index's files on disk, without checksum side files."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            if not name.startswith(".") and name != "_SUCCESS":
                total += os.path.getsize(os.path.join(root, name))
    return total


def _term(rank: int) -> str:
    from iresearch_spark.corpus import HOT_TERMS

    return HOT_TERMS[rank] if rank < len(HOT_TERMS) else f"sym_{rank - len(HOT_TERMS)}"


QUERY_KINDS = ("hot", "rare", "wand_or", "and_sel_or_hot", "phrase", "prefix")


def make_query(kind: str, rng: np.random.Generator):
    """One top-10 query of ``kind``; terms are picked by frequency rank in
    the corpus's Zipf vocabulary (ranks 0-7 are the hot terms)."""
    from iresearch_spark.search import And, Or, Phrase, Prefix, TermF

    def t(lo, hi):
        return TermF(term=_term(int(rng.integers(lo, hi))))

    if kind == "hot":
        return t(0, 8)
    if kind == "rare":
        return t(500, 3000)
    if kind == "wand_or":
        return Or(children=(t(20, 300), t(20, 300), t(20, 300)))
    if kind == "and_sel_or_hot":
        return And(children=(t(300, 1500), Or(children=(t(0, 8), t(0, 8)))))
    if kind == "phrase":
        return Phrase(terms=(_term(int(rng.integers(8, 40))),
                             _term(int(rng.integers(8, 40)))))
    if kind == "prefix":
        return Prefix(prefix=f"sym_{int(rng.integers(100, 1000))}")
    raise ValueError(kind)


def query_pool(rng: np.random.Generator, n: int, kinds=QUERY_KINDS) -> list:
    """``n`` distinct queries covering ``kinds`` in turn."""
    pool: list = []
    i = 0
    while len(pool) < n:
        q = make_query(kinds[i % len(kinds)], rng)
        i += 1
        if q not in pool:
            pool.append(q)
    return pool


def zipf_draws(rng: np.random.Generator, n_pool: int, n: int, s: float = 1.1):
    """Pool indexes drawn Zipf-style: popular queries repeat (term-stats
    cache hits), tail queries are new (misses)."""
    w = 1.0 / np.arange(1, n_pool + 1) ** s
    return rng.choice(n_pool, size=n, p=w / w.sum()).tolist()


# ---------------------------------------------------------------- run


class Run:
    """One benchmark run: the session, the tracer, timed operations and
    their failures."""

    def __init__(self, spark, tracer, scale: Scale, seed: int, seconds: float,
                 work_dir: str):
        self.spark = spark
        self.tracer = tracer
        self.scale = scale
        self.seed = seed
        self.seconds = seconds
        self.work = work_dir
        self.ops: list[dict] = []
        self.attempted = 0
        self.failed = 0
        self.setup_s: list[float] = []
        self.detail: dict = {}
        self.extra_layers: dict = {}
        # set by the workload: its long-lived reader, and the queries the
        # traced run asks wand_stats about
        self.engine = None
        self.wand_queries: list = []

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def timed(self, kind: str, fn):
        """Run ``fn`` as one operation: time it, span it, count it; an
        exception counts as a failed operation and returns FAILED."""
        self.attempted += 1
        rec = {"kind": kind}
        t0 = time.perf_counter()
        with self.tracer.span("op." + kind, op=len(self.ops)) as sp:
            try:
                result = fn()
            except Exception:  # noqa: BLE001 - an engine failure is a result
                traceback.print_exc(file=sys.stderr)
                self.failed += 1
                result = FAILED
        rec["s"] = time.perf_counter() - t0 if result is not FAILED else None
        rec["span"] = sp
        self.ops.append(rec)
        return result

    def fail(self, what: str) -> None:
        print(f"perfbench: wrong result: {what}", file=sys.stderr)
        self.failed += 1

    def query(self, eng, q, kind: str = "query"):
        def go():
            df = eng.search(q, k=K)
            with self.tracer.span("executor.collect"):
                return df.collect()

        rows = self.timed(kind, go)
        if rows is FAILED:
            return FAILED
        return [(r.repo, r.path, r.commit, np.float32(r.score)) for r in rows]

    def op_times(self, kind: str) -> list[float]:
        return [o["s"] for o in self.ops if o["kind"] == kind and o["s"] is not None]

    def op_spans(self, *kinds: str) -> list[dict]:
        return [o["span"] for o in self.ops if o["kind"] in kinds]

    def until(self, start: float, done: int, minimum: int) -> bool:
        return time.perf_counter() - start < self.seconds or done < minimum


def _p(xs, q: float) -> float:
    return float(np.percentile(xs, q)) if xs else 0.0


def _oracle_rows(oracle, q) -> list:
    return [(r[0], r[1], r[2], np.float32(r[3])) for r in oracle.search(q, K)]


def open_reader(run: Run, index_dir: str, q, check):
    """Set-up repetition: open a SearchEngine and answer a first query."""
    from iresearch_spark.search import SearchEngine

    t0 = time.perf_counter()
    eng = SearchEngine(run.spark, index_dir)
    rows = run.query(eng, q, kind="setup_query")
    run.setup_s.append(time.perf_counter() - t0)
    if rows is not FAILED:
        check(q, rows)
    return eng


def codec_bytes_per_doc(index_dir: str, docs: int) -> tuple[float, float]:
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    tbl = ds.dataset(f"{index_dir}/segments", format="parquet",
                     partitioning="hive").to_table(columns=["postings", "positions"])
    post = pc.sum(pc.binary_length(tbl["postings"])).as_py() or 0
    pos = pc.sum(pc.binary_length(tbl["positions"])).as_py() or 0
    return post / docs, pos / docs


# ---------------------------------------------------------- workloads


def query_topk(run: Run) -> dict:
    """Warm top-10 queries on a prebuilt index; build is set-up only."""
    from iresearch_spark.index import build_index
    from iresearch_spark.search import Phrase, Prefix
    from tests.oracle import OracleEngine

    sc = run.scale
    start = window_start(run.seed)
    idx = run.path("idx_query")
    build_index(run.spark, corpus_df(run.spark, start, sc.query_docs), idx,
                num_segments=sc.query_segments)
    pdf = corpus_rows(start, sc.query_docs)
    oracle = OracleEngine(pdf, sc.query_segments)
    expected: dict = {}

    def check(q, rows):
        if q not in expected:
            expected[q] = _oracle_rows(oracle, q)
        if rows != expected[q]:
            run.fail(f"top-{K} of {q!r} differs from the oracle")

    rng = np.random.default_rng(run.seed)
    pool = query_pool(rng, sc.query_pool)
    # the seed picks the terms; the order of kinds and the repeat pattern
    # are the workload's own, the same for every seed
    draws = zipf_draws(np.random.default_rng(0), len(pool), 4096)
    first = make_query("rare", rng)
    for _ in range(sc.setup_reps - 1):
        open_reader(run, idx, first, check).close()
    eng = run.engine = open_reader(run, idx, first, check)
    # JIT and codegen keep speeding queries up for ~20 queries after the
    # cold build: warm up on other terms, so the measured queries' term
    # stats are still uncached
    warm = [q for q in query_pool(rng, 3 * sc.warmup_queries) if q not in pool]
    warm_answers = [(q, run.query(eng, q, kind="warmup_query"))
                    for q in warm[: sc.warmup_queries]]

    answers = []
    t0 = time.perf_counter()
    while run.until(t0, len(answers), sc.min_queries):
        q = pool[draws[len(answers) % len(draws)]]
        answers.append((q, run.query(eng, q)))
    for q, rows in warm_answers + answers:  # checked after the clock stops
        if rows is not FAILED:
            check(q, rows)
    run.wand_queries = [q for q in pool[:6] if not isinstance(q, (Phrase, Prefix))]

    lat = run.op_times("query")
    run.detail.update({
        "queries": len(lat), "distinct_queries": len({q for q, _ in answers}),
        "query_p50_s": _p(lat, 50), "query_p90_s": _p(lat, 90),
    })
    return {
        "query_p50_s": statistics.median(lat),
        "docs_per_s": sc.query_docs * len(lat) / sum(lat),
        "index_bytes_per_input_byte": dir_bytes(idx) / text_bytes(pdf),
        "_index": (idx, sc.query_docs),
    }


def bulk_build(run: Run) -> dict:
    """Repeated warm build_index runs over one materialised corpus."""
    import pandas as pd

    from iresearch_spark.index import build_index, read_manifest
    from iresearch_spark.search import SearchEngine

    sc = run.scale
    start = window_start(run.seed)
    for r in range(sc.setup_reps):
        t0 = time.perf_counter()
        src_path = run.path(f"corpus_{r}")
        corpus_df(run.spark, start, sc.bulk_docs).write.parquet(src_path)
        run.setup_s.append(time.perf_counter() - t0)
    src = run.spark.read.parquet(src_path)
    pdf = pd.read_parquet(src_path)
    idx = run.path("idx_bulk")

    def build():
        build_index(run.spark, src, idx, num_segments=sc.bulk_segments)
        return sorted((s["segment_id"], s["content_hash"])
                      for s in read_manifest(idx).segments)

    rng = np.random.default_rng(run.seed)
    reference = run.timed("warmup_build", build)
    t0 = time.perf_counter()
    n = 0
    while run.until(t0, n, sc.min_builds):
        hashes = run.timed("build", build)
        n += 1
        if hashes is not FAILED and hashes != reference:
            run.fail("per-segment content_hash changed between builds")
        # time to the first answer from the freshly built index
        eng = SearchEngine(run.spark, idx)
        run.query(eng, make_query("rare", rng), "fresh_query")
        eng.close()
    lat = run.op_times("build")
    run.detail.update({"builds": len(lat),
                       "build_docs_per_s": sc.bulk_docs / statistics.median(lat)})
    return {
        "query_p50_s": statistics.median(run.op_times("fresh_query")),
        "docs_per_s": sc.bulk_docs / statistics.median(lat),
        "index_bytes_per_input_byte": dir_bytes(idx) / text_bytes(pdf),
        "_index": (idx, sc.bulk_docs),
    }


class CumulativeOracle:
    """The oracle over every document ingested so far. Each batch is
    indexed once by its own OracleEngine and folded into one engine whose
    global statistics are recomputed the way OracleEngine computes them."""

    def __init__(self):
        from tests.oracle import OracleEngine

        self.engine = None
        self.parts = 0
        self._cls = OracleEngine

    def add(self, pdf) -> None:
        from tests.oracle import F32

        part = self._cls(pdf, 1)
        if self.engine is None:
            self.engine = part
        else:
            o, tag = self.engine, self.parts
            for key, v in part.dl.items():
                o.dl[(tag, key[1])] = v
                o.identity[(tag, key[1])] = part.identity[key]
            for term, docs in part.postings.items():
                dst = o.postings.setdefault(term, {})
                for key, positions in docs.items():
                    dst[(tag, key[1])] = positions
            o.N = sum(1 for v in o.dl.values() if v > 0)
            o.total_tf = sum(o.dl.values())
            kb = F32(F32(o.k) * F32(o.b))
            o.norm_const = F32(F32(o.k) - kb)
            o.norm_length = F32(kb / F32(F32(o.total_tf) / F32(o.N)))
            o.vocab = sorted(o.postings)
        self.parts += 1

    def check(self, q, rows) -> str | None:
        """None if ``rows`` are a correct top-k: each doc's score equals
        the oracle's for that doc, and the score list equals the oracle's
        top-k scores (so the choice among docs tied at k is free)."""
        o = self.engine
        scores = o.eval(q)
        by_identity = {o.identity[key]: s for key, s in scores.items()}
        want = sorted((np.float32(s) for s in scores.values()), reverse=True)[:K]
        got = [r[3] for r in rows]
        if got != want:
            return f"scores {got} != oracle {want}"
        for r in rows:
            if by_identity.get(r[:3]) != r[3]:
                return f"doc {r[:3]} scored {r[3]}, oracle {by_identity.get(r[:3])}"
        return None


def ingest_merge_query(run: Run) -> dict:
    """Micro-batches, a tier consolidation every ``MERGE_EVERY`` batches,
    and a top-10 query on one long-lived engine after every publish."""
    from pyspark.sql import functions as F

    from iresearch_spark.index import read_manifest
    from iresearch_spark.index.merge import consolidate
    from iresearch_spark.streaming.incremental import IncrementalIndexer

    sc = run.scale
    bd = sc.batch_docs
    start = window_start(run.seed)
    src_path = run.path("batches")
    corpus_df(run.spark, start, bd * sc.max_batches, batch_docs=bd).write.partitionBy(
        "batch").parquet(src_path)
    src = run.spark.read.parquet(src_path)
    idx = run.path("idx_ingest")
    ix = IncrementalIndexer(run.spark, idx, segments_per_batch=sc.segments_per_batch)
    batch_bytes = 0  # postings bytes the batches wrote

    def ingest(b, kind):
        nonlocal batch_bytes
        run.timed(kind, lambda: ix.process_batch(
            src.filter(F.col("batch") == b).drop("batch"), b))
        batch_bytes += sum(
            s["postings_bytes"] for s in read_manifest(idx).segments
            if s.get("lineage", {}).get("batch_id") == b
        )

    ingest(0, "first_batch")
    rng = np.random.default_rng(run.seed)
    # the seed picks the terms; every run asks the kinds in the same order
    pool = query_pool(rng, 16, ("hot", "rare", "wand_or", "and_sel_or_hot"))
    answers: list[tuple[int, object, object]] = []  # (batches in, query, rows)

    def after_first_batch(q, rows):
        answers.append((1, q, rows))

    first = make_query("rare", rng)
    for _ in range(sc.setup_reps - 1):
        open_reader(run, idx, first, after_first_batch).close()
    eng = run.engine = open_reader(run, idx, first, after_first_batch)

    def fresh_query(batches_in):
        q = pool[len(answers) % len(pool)]
        answers.append((batches_in, q, run.query(eng, q, kind="fresh_query")))

    merges: list[dict] = []
    t0 = time.perf_counter()
    b = 1  # batches ingested
    while b < sc.max_batches and (
        run.until(t0, b - 1, sc.min_batches) or not merges
    ):
        ingest(b, "batch")
        b += 1
        fresh_query(b)
        if (b - 1) % MERGE_EVERY == 0:
            res = run.timed("merge", lambda: consolidate(run.spark, idx, max_rounds=1))
            if res is not FAILED:
                merges.extend(res)
            fresh_query(b)

    # checked after the clock stops, against the docs ingested at the time
    pdfs = [corpus_rows(start + i * bd, bd) for i in range(b)]
    oracle = CumulativeOracle()
    for n_in, q, rows in sorted(answers, key=lambda a: a[0]):
        while oracle.parts < n_in:
            oracle.add(pdfs[oracle.parts])
        if rows is not FAILED:
            err = oracle.check(q, rows)
            if err:
                run.fail(f"{q!r} after {n_in} batches: {err}")

    batch_s = run.op_times("batch")
    merge_s = run.op_times("merge")
    fresh_s = run.op_times("fresh_query")
    merged_docs = sum(m["docs"] for m in merges)
    run.detail.update({
        "batches": len(batch_s), "merges": len(merge_s),
        "ingest_batch_p50_s": statistics.median(batch_s),
        "merge_docs_per_s": merged_docs / sum(merge_s) if merge_s else 0.0,
        "fresh_query_p50_s": statistics.median(fresh_s),
    })
    if merges:
        run.extra_layers.update({
            "merge.fan_in": sum(m["fan_in"] for m in merges) / len(merges),
            "merge.bytes_rewritten_per_ingested_byte": (
                sum(m["postings_bytes"] for m in merges) / batch_bytes),
        })
    run.wand_queries = pool[:4]
    return {
        "query_p50_s": statistics.median(fresh_s),
        "docs_per_s": (b - 1) * bd / (sum(batch_s) + sum(merge_s)),
        "index_bytes_per_input_byte": (
            dir_bytes(idx) / sum(text_bytes(p) for p in pdfs)),
        "_index": (idx, b * bd),
    }


WORKLOADS = {
    "query_topk": query_topk,
    "bulk_build": bulk_build,
    "ingest_merge_query": ingest_merge_query,
}


def measure(run: Run, workload: str) -> dict:
    """Run the workload; return its end-to-end metrics (plus ``_index``)."""
    out = WORKLOADS[workload](run)
    out["setup_s"] = statistics.median(run.setup_s)
    out["peak_rss_mb"] = spark_session.peak_rss_mb()
    return out
