"""Per-layer metrics of a traced run, named after the engine's modules.

Each function takes the joined spans and event log (``trace.Attribution``)
and the benchmark's operation spans, and returns per-operation means. A
layer a workload does not exercise is left out; ``run.py`` reports it as
0 and names it as not measured.
"""

from __future__ import annotations

# (name, unit) of every per-layer metric, in BENCHMARK.json order
PER_LAYER = [
    ("executor.prepare_s", "s"),
    ("executor.dict_jobs_per_query", "ratio"),
    ("executor.norms_blob_s", "s"),
    ("executor.plan_s", "s"),
    ("executor.kernel_python_s", "s"),
    ("executor.kernel_tasks", "count"),
    ("executor.kernel_arrow_bytes", "bytes"),
    ("executor.scan_bytes", "bytes"),
    ("executor.scan_s", "s"),
    ("executor.finalize_s", "s"),
    ("executor.wand_decode_ratio", "ratio"),
    ("spark.jobs_per_query", "count"),
    ("spark.stages_per_query", "count"),
    ("spark.driver_gap_s", "s"),
    ("spark.gc_s", "s"),
    ("spark.tasks_failed", "count"),
    ("session.start_s", "s"),
    ("session.first_job_s", "s"),
    ("build.wave_s", "s"),
    ("build.invert_python_s", "s"),
    ("build.tokenize_jvm_s", "s"),
    ("build.shuffle_bytes", "bytes"),
    ("build.write_bytes", "bytes"),
    ("build.jobs_per_batch", "count"),
    ("codec.postings_bytes_per_doc", "bytes/doc"),
    ("codec.positions_bytes_per_doc", "bytes/doc"),
    ("manifest.commit_s", "s"),
    ("merge.merge_segments_s", "s"),
    ("merge.kernel_python_s", "s"),
    ("merge.bytes_rewritten_per_ingested_byte", "ratio"),
    ("merge.fan_in", "count"),
    ("trace.query_p50_s", "s"),
    ("trace.docs_per_s", "docs/s"),
]


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _self(a, root, name) -> float:
    return sum(a.self_time(s) for s in a.named(root, name))


def query_layers(a, ops: list[dict]) -> dict:
    """Query path (search.executor) and scheduling, per query."""
    if not ops:
        return {}

    def collect(op):
        return a.named(op, "executor.collect")

    def finalize(op):
        c = collect(op)
        done = a.kernel_done(c[0]) if c else None
        return c[0]["end"] - done if done is not None else 0.0

    def kernel(st):
        return st["py_run_ms"] > 0

    return {
        "executor.prepare_s": _mean(_self(a, op, "executor.prepare") for op in ops),
        "executor.dict_jobs_per_query": _mean(
            1.0 if a.job_ids(a.named(op, "executor.prepare")) else 0.0
            for op in ops
        ),
        "executor.norms_blob_s": _mean(
            _self(a, op, "executor.norms_blob") for op in ops),
        "executor.plan_s": _mean(_self(a, op, "executor.plan") for op in ops),
        "executor.kernel_python_s": _mean(
            a.stage_sum(collect(op), "py_run_ms") / 1000 for op in ops),
        "executor.kernel_tasks": _mean(
            a.stage_sum(collect(op), "tasks", where=kernel) for op in ops),
        "executor.kernel_arrow_bytes": _mean(
            a.stage_sum(collect(op), "py_sent") for op in ops),
        "executor.scan_bytes": _mean(a.stage_sum([op], "in_bytes") for op in ops),
        "executor.scan_s": _mean(a.stage_sum([op], "scan_ms") / 1000 for op in ops),
        "executor.finalize_s": _mean(finalize(op) for op in ops),
        "spark.jobs_per_query": _mean(len(a.job_ids([op])) for op in ops),
        "spark.stages_per_query": _mean(len(a.stage_ids([op])) for op in ops),
        "spark.driver_gap_s": _mean(
            sum(a.job_gap(c) for c in collect(op)) for op in ops),
    }


def build_layers(a, ops: list[dict]) -> dict:
    """Segment writing (index.build), per wave; jobs per build or batch."""
    waves = [w for op in ops for w in a.named(op, "build.wave")]
    if not waves:
        return {}
    n = len(waves)

    def jvm_map_side(st):
        return st["shuffle_w"] > 0 and st["py_run_ms"] == 0

    return {
        "build.wave_s": _mean(a.self_time(w) for w in waves),
        "build.invert_python_s": a.stage_sum(waves, "py_run_ms") / 1000 / n,
        "build.tokenize_jvm_s": (
            a.stage_sum(waves, "run_ms", where=jvm_map_side) / 1000 / n),
        "build.shuffle_bytes": a.stage_sum(waves, "shuffle_w") / n,
        "build.write_bytes": a.stage_sum(waves, "out_bytes") / n,
        "build.jobs_per_batch": _mean(len(a.job_ids([op])) for op in ops),
    }


def commit_layers(a, ops: list[dict]) -> dict:
    """Manifest and checkpoint writes (index.manifest) per publishing op."""
    if not ops:
        return {}
    return {
        "manifest.commit_s": _mean(
            sum(s["end"] - s["start"] for s in a.named(op, "manifest.commit"))
            for op in ops
        )
    }


def merge_layers(a, ops: list[dict]) -> dict:
    """Segment merges (index.merge), per merge_segments call."""
    merges = [m for op in ops for m in a.named(op, "merge.merge_segments")]
    if not merges:
        return {}
    return {
        "merge.merge_segments_s": _mean(a.self_time(m) for m in merges),
        "merge.kernel_python_s": (
            a.stage_sum(merges, "py_run_ms") / 1000 / len(merges)),
    }


def spark_layers(a, ops: list[dict]) -> dict:
    """JVM GC per operation, and failed tasks over the whole run."""
    return {
        "spark.gc_s": _mean(a.stage_sum([op], "gc_ms") / 1000 for op in ops),
        "spark.tasks_failed": float(sum(st["failed"] for st in a.stages.values())),
    }
