"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload query_topk --seed 1 --seconds 10 --trace 0

Run from the repository root. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (each
``{"value", "unit"}``). With ``--trace 0`` the metrics are the end-to-end
ones; with ``--trace 1`` Spark's event log is on, every operation's Spark
jobs are tagged with a job group per span, and the metrics are the
per-layer ones. The line before it holds workload details (sample counts,
the workload-specific latencies) and, when traced, the layers not measured.

Scratch files go to ``.perfbench_work/`` and are removed at exit; a traced
run leaves its spans in ``.perfbench_out/``. See README.md here.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")

# operation kinds inside the measured loops (set-up and warm-up excluded)
MEASURED = ("query", "fresh_query", "build", "batch", "merge")

END_TO_END = [
    ("setup_s", "s"),
    ("query_p50_s", "s"),
    ("docs_per_s", "docs/s"),
    ("index_bytes_per_input_byte", "ratio"),
    ("peak_rss_mb", "MB"),
]


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["query_topk", "bulk_build", "ingest_merge_query"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--scale", choices=["full", "tiny"], default="full",
                   help="tiny: a seconds-long smoke run for the benchmark's tests")
    return p.parse_args(argv)


def layer_metrics(run, e2e, spans_path, log_dir, index, start_s, first_job_s):
    from perfbench import layers, trace
    from perfbench.workloads import codec_bytes_per_doc

    logs = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {logs}")
    with open(logs[0]) as f:
        jobs, stages = trace.read_event_log(f)
    a = trace.Attribution(run.tracer.spans, jobs, stages)
    measured = run.op_spans(*MEASURED)
    out = {"session.start_s": start_s, "session.first_job_s": first_job_s}
    out.update(layers.query_layers(a, run.op_spans("query", "fresh_query")))
    out.update(layers.build_layers(a, run.op_spans("build", "batch")))
    out.update(layers.commit_layers(a, run.op_spans("build", "batch", "merge")))
    out.update(layers.merge_layers(a, run.op_spans("merge")))
    out.update(layers.spark_layers(a, measured))
    out.update(run.extra_layers)
    out["codec.postings_bytes_per_doc"], out["codec.positions_bytes_per_doc"] = (
        codec_bytes_per_doc(*index))
    # the end-to-end figures under tracing: set against an untraced run of
    # the same seed, they give the tracing overhead
    out["trace.query_p50_s"] = e2e["query_p50_s"]
    out["trace.docs_per_s"] = e2e["docs_per_s"]
    run.tracer.dump(spans_path)
    return out


def wand_ratio(run) -> float | None:
    """Blocks decoded over blocks total for the WAND-eligible queries,
    read through SearchEngine.wand_stats after the measured loop."""
    if run.engine is None or not run.wand_queries:
        return None
    total = decoded = 0
    for q in run.wand_queries:
        for r in run.engine.wand_stats(q, k=10).collect():
            total += r.blocks_total
            decoded += r.blocks_decoded
    return decoded / total if total else None


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import iresearch_spark  # noqa: F401
        import tests.oracle  # noqa: F401
    except ImportError as e:
        print(f"perfbench: run from the repository root ({e})", file=sys.stderr)
        return 2
    from perfbench import layers, spark_session, trace, workloads

    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    log_dir = os.path.join(WORK, "eventlog") if args.trace else None
    spark = None
    try:
        spark, start_s = spark_session.start_session(WORK, log_dir)
        first_job_s = None
        if args.trace:
            t0 = time.perf_counter()
            spark.range(1).count()
            first_job_s = time.perf_counter() - t0
        tracer = trace.Tracer(spark, job_groups=bool(args.trace))
        if args.trace:
            trace.patch_engine(tracer)
        run = workloads.Run(spark, tracer, workloads.SCALES[args.scale],
                            args.seed, args.seconds, WORK)
        try:
            e2e = workloads.measure(run, args.workload)
        finally:
            tracer.unpatch()
        index = e2e.pop("_index")
        wand = wand_ratio(run) if args.trace else None
        if run.engine is not None:
            run.engine.close()
        spark_session.close(spark)
        spark = None
        if args.trace:
            os.makedirs(OUT, exist_ok=True)
            values = layer_metrics(
                run, e2e, os.path.join(OUT, f"spans-{args.workload}-{args.seed}.json"),
                log_dir, index, start_s, first_job_s)
            if wand is not None:
                values["executor.wand_decode_ratio"] = wand
            names = layers.PER_LAYER
            missing = [n for n, _ in names if n not in values]
        else:
            values, names, missing = e2e, END_TO_END, []
    finally:
        if spark is not None:
            spark_session.close(spark)
        shutil.rmtree(WORK, ignore_errors=True)

    metrics = {n: {"value": float(values.get(n, 0.0)), "unit": u} for n, u in names}
    print(json.dumps({"detail": run.detail, "not_measured": missing}))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
