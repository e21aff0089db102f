#!/usr/bin/env python
"""Benchmark harness (driver contract).

Default mode: build the inverted index over ``$SPARK_GRAFT_SF_DIR`` (default
``/root/testdata/sf0.1``) on ``local[$SPARK_GRAFT_CPUS]``, run the headline
query set, and print ONE JSON line::

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

``--scaling`` mode: the in-sandbox stand-in for the north rule's N-vs-4N
cluster requirement — run the SAME index-build job (deterministic synthetic
corpus, identical input partitioning) at ``local[N]`` and ``local[4N]`` and
report docs/sec at both plus scaling efficiency = (thr_4N / thr_N) / 4.
Results are summarized in BASELINE.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time


def _fresh_dir(tag: str) -> str:
    d = os.path.join(tempfile.gettempdir(), f"iresearch_bench_{tag}")
    if os.path.isdir(d):
        shutil.rmtree(d)
    return d


def _time(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return round(time.perf_counter() - t0, 4)


def _time_best(fn, trials: int) -> float:
    """Min over ``trials`` runs — the noisy-host protocol (this sandbox's
    hypervisor shows 2-3x run-to-run swings on identical Spark jobs; a
    single cold sample recorded a 1.86 s figure for a query whose warm
    floor is 0.78 s). The first run doubles as the warm-up."""
    return min(_time(fn) for _ in range(max(1, trials)))


def _time_cold_and_best(fn, trials: int) -> tuple[float, float]:
    """(first-run cold time, min over all runs) — builds report both: the
    cold figure keeps JVM/python-worker spin-up visible, the min is the
    noise-robust throughput figure."""
    times = [_time(fn) for _ in range(max(1, trials))]
    return times[0], min(times)


def run_default(sf_dir: str, cpus: int) -> dict:
    from iresearch_spark.session import get_spark

    import __spark_entry__ as entry_mod

    spark = get_spark("iresearch_bench", cores=cpus)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    # ---- index build over the documents table (the flagship input)
    from iresearch_spark.index.build import build_index

    build_trials = int(os.environ.get("SPARK_GRAFT_BUILD_TRIALS", "2"))

    docs = entry_mod._corpus_from_documents(entry_mod._docs(spark, sf_dir))
    n_docs = docs.count()
    idx_dir = _fresh_dir(f"sf{sf}")
    # builds get the same best-of-warm protocol as queries: the first build
    # of a session pays JVM/python-worker spin-up and whatever the
    # hypervisor's core budget is that minute (observed 6x on one sample —
    # 61 s recorded for a build whose warm floor is ~9 s)
    build_cold_sec, build_sec = _time_cold_and_best(
        lambda: build_index(spark, docs, idx_dir, num_segments=8),
        build_trials,
    )
    entry_mod._INDEX_CACHE[os.path.abspath(sf_dir)] = idx_dir

    # ---- throughput build over the larger synthetic corpus (bench scale);
    # corpus is materialized first so the timer sees pure indexing work
    from iresearch_spark.corpus import generate_corpus

    n_synth = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "20000"))
    synth_src = _fresh_dir("synth_src")
    generate_corpus(spark, n_synth, num_partitions=4 * cpus).write.parquet(
        synth_src
    )
    synth = spark.read.parquet(synth_src)
    synth_dir = _fresh_dir("synth")
    synth_cold_sec, synth_sec = _time_cold_and_best(
        lambda: build_index(spark, synth, synth_dir, num_segments=2 * cpus),
        build_trials,
    )
    shutil.rmtree(synth_src, ignore_errors=True)

    # ---- headline queries (forced with count()); each timed as the min of
    # W warm trials so the recorded artifact reflects the query's cost, not
    # the hypervisor's noise (single cold samples have recorded 2-3x the
    # warm floor on this host)
    qs = entry_mod.queries()
    headline = [
        "ft_term_topk", "ft_term_topk_wand", "ft_disjunction_topk_wand",
        "ft_boolean_topk_wand",
        "ft_disjunction", "ft_conjunction", "ft_minmatch",
        "ft_phrase", "ft_phrase_hot", "ft_prefix", "ft_fuzzy",
        "ft_fuzzy_transpose", "ft_wildcard", "ft_range",
        "dedup_exact", "dedup_minhash_lsh", "dedup_simhash_pairs",
        "dedup_ngram_jaccard", "text_token_stats", "text_winnowing",
        "ann_cosine_topk", "ann_lsh_topk", "ann_ivf_topk",
    ]
    # min-of-4 warm, trials INTERLEAVED round-robin across queries: running
    # a query's trials back-to-back lets one multi-second hypervisor noise
    # episode poison every trial of that one query (observed: a query whose
    # interleaved floor is 0.55 s recorded 0.95 s when its 4 consecutive
    # trials landed inside a noise burst, while its neighbors read clean).
    # Round-robin passes decorrelate the trials at identical total cost.
    trials = int(os.environ.get("SPARK_GRAFT_BENCH_TRIALS", "4"))
    fns = [(name, qs[name]) for name in headline if name in qs]
    samples: dict[str, list[float]] = {name: [] for name, _ in fns}
    for _pass in range(max(1, trials)):
        for name, fn in fns:
            samples[name].append(_time(lambda: fn(spark, sf_dir).count()))
    q_times = {name: round(min(ts), 4) for name, ts in samples.items()}

    total = round(build_sec + sum(q_times.values()), 4)
    out = {
        "metric": "index_build_plus_query_sec",
        "value": total,
        "unit": "sec",
        "queries": q_times,
        "sf": float(sf),
        "index_build_sec": round(build_sec, 4),
        "index_build_cold_sec": round(build_cold_sec, 4),
        "index_docs": n_docs,
        "index_docs_per_sec": round(n_docs / build_sec, 2),
        "synth_docs": n_synth,
        "synth_build_sec": round(synth_sec, 4),
        "synth_build_cold_sec": round(synth_cold_sec, 4),
        "synth_docs_per_sec": round(n_synth / synth_sec, 2),
        "query_trials": trials,
        "build_trials": build_trials,
        "cpus": cpus,
    }
    spark.stop()
    for d in (idx_dir, synth_dir):
        shutil.rmtree(d, ignore_errors=True)
    return out


def run_merge_bench(cpus: int) -> dict:
    """Consolidation throughput artifact (BENCH_merge.json): build a
    many-segment synthetic index once, run a tier-policy consolidation to
    quiescence, and record docs/s, bytes in/out, per-round fan-in — the
    merge-side analogue of --wand-regimes (`merge_writer.cpp:1862-1890` is
    the reference's consolidation driver). A second timed merge re-runs the
    largest fan-in with ``shard_docs`` low enough that the giant-term shard
    escalation engages, and asserts it did (the plan-audit note)."""
    import pyspark.sql.functions as F

    from iresearch_spark.corpus import generate_corpus
    from iresearch_spark.index import read_manifest
    from iresearch_spark.index.build import build_index
    from iresearch_spark.index.merge import consolidate, merge_segments
    from iresearch_spark.session import get_spark

    n_docs = int(os.environ.get("SPARK_GRAFT_MERGE_DOCS", "200000"))
    n_segments = int(os.environ.get("SPARK_GRAFT_MERGE_SEGMENTS", "64"))
    spark = get_spark("iresearch_merge_bench", cores=cpus)
    src = _fresh_dir("merge_src")
    try:
        generate_corpus(spark, n_docs, num_partitions=4 * cpus).write.parquet(src)
        corpus = spark.read.parquet(src)

        def fresh_index(tag: str) -> str:
            d = _fresh_dir(f"merge_{tag}")
            build_index(spark, corpus, d, num_segments=n_segments)
            return d

        # ---- tier-policy consolidation to quiescence (timed)
        d = fresh_index("tier")
        man0 = read_manifest(d)
        bytes_in = sum(s["postings_bytes"] for s in man0.segments)
        t0 = time.perf_counter()
        recs = consolidate(spark, d, policy="tier")
        tier_sec = round(time.perf_counter() - t0, 4)
        man1 = read_manifest(d)
        docs_merged = sum(r["docs"] for r in recs)
        out = {
            "metric": "merge_docs_per_sec",
            "value": round(docs_merged / tier_sec, 2) if tier_sec else 0.0,
            "unit": "docs/sec",
            "docs": n_docs,
            "cpus": cpus,
            "segments_in": len(man0.segments),
            "segments_out": len(man1.segments),
            "rounds": len(recs),
            "fan_ins": [r["fan_in"] for r in recs],
            "docs_merged_total": docs_merged,
            "postings_bytes_in": bytes_in,
            "postings_bytes_out": sum(
                s["postings_bytes"] for s in man1.segments
            ),
            "tier_consolidate_sec": tier_sec,
        }
        shutil.rmtree(d, ignore_errors=True)

        # ---- full-index merge with the shard escalation forced on (plan
        # audit: HOT_TERMS postings at 200k docs are ~all-docs lists, each
        # heavier than a merge range's budget, so each sits alone in its
        # range, and shard_docs splits their merged blobs into disjoint
        # doc-range rows)
        d = fresh_index("sharded")
        seg_ids = [s["segment_id"] for s in read_manifest(d).segments]
        t0 = time.perf_counter()
        rec = merge_segments(spark, d, seg_ids, shard_docs=50_000)
        shard_sec = round(time.perf_counter() - t0, 4)
        seg = spark.read.parquet(f"{d}/segments").filter(
            F.col("segment_id") == rec["new_segment_id"]
        )
        agg = seg.agg(
            F.count("*").alias("rows"),
            F.countDistinct("field", "term").alias("terms"),
        ).collect()[0]
        sharded_terms = int(agg["rows"]) - int(agg["terms"])
        shutil.rmtree(d, ignore_errors=True)
        if sharded_terms <= 0:
            raise RuntimeError("giant-term shard escalation did not engage")
        out.update(
            {
                "full_merge_fan_in": rec["fan_in"],
                "full_merge_sec": shard_sec,
                "full_merge_docs_per_sec": round(rec["docs"] / shard_sec, 2),
                "sharded_terms": sharded_terms,
            }
        )
        return out
    finally:
        shutil.rmtree(src, ignore_errors=True)
        spark.stop()


def _scaling_build(cores: int, corpus_path: str, n_parts: int,
                   warmup_docs: int = 0, trials: int = 2) -> tuple[float, int]:
    """Best-of-N warm builds from a pre-materialized corpus table.

    The sandbox host has noisy neighbors (observed 3x run-to-run variance on
    identical jobs), so each configuration runs ``trials`` warm builds and
    reports the minimum — the standard noisy-host methodology."""
    from iresearch_spark.corpus import generate_corpus
    from iresearch_spark.index.build import build_index
    from iresearch_spark.session import get_spark

    spark = get_spark(f"iresearch_scaling_{cores}", cores=cores,
                      shuffle_partitions=n_parts)
    if warmup_docs:
        # JVM + python-worker spin-up, not billed to the timed run
        wdir = _fresh_dir(f"scale_warm_{cores}")
        build_index(spark, generate_corpus(spark, warmup_docs, cores), wdir,
                    num_segments=cores)
        shutil.rmtree(wdir, ignore_errors=True)
    corpus = spark.read.parquet(corpus_path)
    best = float("inf")
    docs = 0
    for _ in range(trials):
        idx_dir = _fresh_dir(f"scale_{cores}")
        t0 = time.perf_counter()
        m = build_index(spark, corpus, idx_dir, num_segments=n_parts)
        best = min(best, time.perf_counter() - t0)
        docs = m["docs"]
        shutil.rmtree(idx_dir, ignore_errors=True)
    spark.stop()
    return best, docs


def run_scaling(n_small: int) -> dict:
    """Same job, same input table and partitioning, at local[N] vs local[4N].

    The corpus is materialized to parquet once (untimed) so both runs time
    pure index-build work — the metric is indexing throughput, not synthetic
    data generation. The sandbox host has noisy neighbors and strong
    JIT/page-cache warm-up effects, so the protocol is: interleaved rounds
    (N, 4N, N, 4N), a generous warm-up build per session, two timed builds
    per session, min over everything per config.
    """
    from iresearch_spark.corpus import generate_corpus
    from iresearch_spark.session import get_spark

    n_docs = int(os.environ.get("SPARK_GRAFT_SCALING_DOCS", "400000"))
    rounds = int(os.environ.get("SPARK_GRAFT_SCALING_ROUNDS", "2"))
    n_parts = 16 * n_small  # fixed across both runs: identical work units
    n_large = 4 * n_small
    corpus_path = _fresh_dir("scale_corpus")
    spark = get_spark("iresearch_scaling_gen", cores=n_large)
    generate_corpus(spark, n_docs, num_partitions=n_parts).write.parquet(
        corpus_path
    )
    spark.stop()
    warm = max(10000, n_docs // 20)
    t_small = t_large = float("inf")
    docs = n_docs
    for _ in range(rounds):
        t, docs = _scaling_build(n_small, corpus_path, n_parts,
                                 warmup_docs=warm)
        t_small = min(t_small, t)
        t, _ = _scaling_build(n_large, corpus_path, n_parts,
                              warmup_docs=warm)
        t_large = min(t_large, t)
    shutil.rmtree(corpus_path, ignore_errors=True)
    thr_small = docs / t_small
    thr_large = docs / t_large
    eff = (thr_large / thr_small) / (n_large / n_small)
    return {
        "metric": "scaling_efficiency_N_vs_4N",
        "value": round(eff, 4),
        "unit": "ratio",
        "sf": n_docs,
        "queries": {},
        "cores_N": n_small,
        "cores_4N": n_large,
        "input_partitions": n_parts,
        "docs": docs,
        "elapsed_N_sec": round(t_small, 2),
        "elapsed_4N_sec": round(t_large, 2),
        "docs_per_sec_N": round(thr_small, 1),
        "docs_per_sec_4N": round(thr_large, 1),
    }


def run_scaling_query(n_small: int) -> dict:
    """Query-side N vs 4N: build ONE index (untimed), then run the same
    scan-heavy query batch at local[N] and local[4N] against it.

    The batch is exhaustive (k=None) scoring — per-query driver overhead
    (prepare, stats lookup, collect of a tiny result) is serial and would
    Amdahl-cap any sub-second query, so the measured work is the
    distributed per-segment score kernels, which is what actually scales
    with executors at 100 TB."""
    from iresearch_spark.corpus import generate_corpus
    from iresearch_spark.index.build import build_index
    from iresearch_spark.search import Or, SearchEngine, TermF
    from iresearch_spark.session import get_spark

    n_docs = int(os.environ.get("SPARK_GRAFT_SCALING_DOCS", "200000"))
    trials = int(os.environ.get("SPARK_GRAFT_BENCH_TRIALS", "3"))
    n_large = 4 * n_small
    n_parts = 16 * n_small
    idx = _fresh_dir("scale_q_idx")
    spark = get_spark("iresearch_qscale_build", cores=n_large,
                      shuffle_partitions=n_parts)
    build_index(spark, generate_corpus(spark, n_docs, n_parts), idx,
                num_segments=n_parts)
    spark.stop()

    # one HEAVY query per trial: per-query fixed cost (job submission,
    # stats lookup, count collect — ~1 s regardless of cores) is serial,
    # so the distributed fraction must dominate for the measurement to
    # reflect executor scaling, exactly as it does on a real cluster where
    # a query scans TBs rather than this sandbox corpus
    terms = ["import", "def", "return", "class", "self", "int", "for",
             "if", "else", "while", "in", "not", "and", "or", "len",
             "str", "list", "dict", "range", "print"]
    disj = Or(children=tuple(TermF(term=t) for t in terms))

    def batch_time(cores: int) -> float:
        spark = get_spark(f"iresearch_qscale_{cores}", cores=cores,
                          shuffle_partitions=n_parts)
        eng = SearchEngine(spark, idx)
        eng.search(disj, k=10).count()  # warm: stats, page cache, codegen
        best = float("inf")
        for _ in range(trials):
            t0 = time.perf_counter()
            eng.search(disj, k=None).count()
            best = min(best, time.perf_counter() - t0)
        spark.stop()
        return best

    t_small = batch_time(n_small)
    t_large = batch_time(n_large)
    shutil.rmtree(idx, ignore_errors=True)
    eff = (t_small / t_large) / (n_large / n_small)
    # two-point Amdahl fit t(c) = s + p/c: the serial component s (driver
    # planning, job scheduling, stats lookup, count collect — invariant in
    # corpus size) caps measured batch scaling at sandbox corpus sizes; the
    # distributed component p is what scales with executors at 100 TB
    p_fit = (t_small - t_large) / (1.0 / n_small - 1.0 / n_large)
    s_fit = t_small - p_fit / n_small
    return {
        "metric": "query_scaling_efficiency_N_vs_4N",
        "value": round(eff, 4),
        "unit": "ratio",
        "sf": n_docs,
        "queries": {},
        "cores_N": n_small,
        "cores_4N": n_large,
        "docs": n_docs,
        "batch_N_sec": round(t_small, 3),
        "batch_4N_sec": round(t_large, 3),
        "serial_sec_fit": round(s_fit, 3),
        "parallel_sec_fit": round(p_fit, 3),
    }


def run_wand_regimes(cpus: int) -> dict:
    """Regression-track the WAND regimes (r3 verdict ask #7): per regime,
    the exhaustive-vs-WAND wall-clock pair (best-of-N warm) plus the
    kernel's own block accounting (mode + skipped-block ratio from
    SearchEngine.wand_stats). Two deterministic fixtures:

    - ``dense``  — uniform docs: identical scores put every doc's upper
      bound at the k-th threshold, so the dense-survivor guard must fire
      (mode full_dense) and cap WAND's worst case near the documented
      ~1.1x of exhaustive.
    - ``clustered`` — high-scoring docs packed into the head blocks (doc
      ids follow path order): the bootstrap threshold prunes the tail
      (mode pruned) and WAND should skip most blocks.
    """
    from iresearch_spark.index.build import build_index
    from iresearch_spark.search import Or, SearchEngine, TermF
    from iresearch_spark.session import get_spark

    spark = get_spark("iresearch_wand_regimes", cores=cpus)
    trials = int(os.environ.get("SPARK_GRAFT_BENCH_TRIALS", "3"))
    n = int(os.environ.get("SPARK_GRAFT_WAND_DOCS", "50000"))
    schema = (
        "repo string, path string, commit string, lang string, "
        "content string"
    )

    filler = " ".join(f"w{j}" for j in range(60))
    fixtures = {
        "dense": [
            ("r", f"{i:06d}.py", "c", "py", "alpha beta gamma delta")
            for i in range(n)
        ],
        "clustered": [
            (
                "r",
                f"{i:06d}.py",
                "c",
                "py",
                "needle needle needle needle needle end"
                if i < n // 20
                else f"needle {filler}",
            )
            for i in range(n)
        ],
    }
    queries = {
        "dense": Or(children=(TermF(term="alpha"), TermF(term="beta"))),
        "clustered": TermF(term="needle"),
    }
    out: dict = {"metric": "wand_regimes", "docs": n, "cpus": cpus}
    for name, rows in fixtures.items():
        d = _fresh_dir(f"wand_{name}")
        build_index(
            spark, spark.createDataFrame(rows, schema), d, num_segments=4
        )
        eng = SearchEngine(spark, d)
        q = queries[name]
        wand_sec = _time_best(
            lambda: eng.search(q, k=10, wand=True).collect(), trials
        )
        exh_sec = _time_best(
            lambda: eng.search(q, k=10, wand=False).collect(), trials
        )
        st = eng.wand_stats(q, k=10).toPandas()
        bt = int(st["blocks_total"].sum())
        bd = int(st["blocks_decoded"].sum())
        out[name] = {
            "wand_sec": wand_sec,
            "exhaustive_sec": exh_sec,
            "wand_over_exhaustive": round(wand_sec / exh_sec, 3),
            "modes": sorted(st["mode"].unique().tolist()),
            "blocks_total": bt,
            "blocks_decoded": bd,
            # decode_ratio > 1 in fallback regimes (bootstrap + full pass);
            # skipped ratio is clamped to [0,1] so trend tracking reads
            # cleanly — the raw cost lives in decode_ratio.
            "decode_ratio": round(bd / bt, 4) if bt else None,
            "skipped_block_ratio": (
                round(max(0.0, 1 - bd / bt), 4) if bt else None
            ),
        }
        eng.close()
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scaling", action="store_true",
                    help="run the N vs 4N scaling-efficiency experiment")
    ap.add_argument("--scaling-query", action="store_true",
                    help="run the query-side N vs 4N experiment")
    ap.add_argument("--wand-regimes", action="store_true",
                    help="record exhaustive-vs-WAND pairs + block skips")
    ap.add_argument("--merge-bench", action="store_true",
                    help="record tier-consolidation + sharded-merge throughput")
    ap.add_argument("--n", type=int, default=8,
                    help="small cluster size N for --scaling (large = 4N)")
    args = ap.parse_args()

    if args.merge_bench:
        out = run_merge_bench(int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    elif args.wand_regimes:
        out = run_wand_regimes(int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    elif args.scaling_query:
        out = run_scaling_query(args.n)
    elif args.scaling:
        out = run_scaling(args.n)
    else:
        sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
        out = run_default(sf_dir, cpus)
    print(json.dumps(out))
    sys.stdout.flush()


if __name__ == "__main__":
    main()
