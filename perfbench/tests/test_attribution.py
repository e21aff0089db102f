"""Event-log-to-layer attribution on a small recorded log.

``data/query_events.jsonl`` is Spark's event log of two top-10 queries on a
120-doc, 4-segment index, trimmed to the fields the benchmark reads;
``data/query_spans.json`` holds the spans the traced run recorded for
them. The first query pays the term-dictionary job and the per-segment
norms build; the second is served from the engine's caches.
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import layers, trace

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


@pytest.fixture(scope="module")
def attribution():
    with open(os.path.join(DATA, "query_events.jsonl")) as f:
        jobs, stages = trace.read_event_log(f)
    with open(os.path.join(DATA, "query_spans.json")) as f:
        spans = json.load(f)
    return trace.Attribution(spans, jobs, stages)


def _ops(a):
    return [s for s in a.spans if s["name"] == "op.query"]


def test_every_job_belongs_to_a_span(attribution):
    a = attribution
    ids = {str(s["id"]) for s in a.spans}
    assert a.jobs and all(j["group"] in ids for j in a.jobs.values())
    ops = _ops(a)
    assert len(ops) == 2
    assert sorted(a.job_ids(ops)) == sorted(a.jobs)


def test_cold_query_runs_dictionary_and_norms_jobs(attribution):
    a = attribution
    cold, warm = _ops(a)
    assert a.job_ids(a.named(cold, "executor.prepare"))
    assert a.job_ids(a.named(cold, "executor.norms_blob"))
    assert not a.job_ids(a.named(warm, "executor.prepare"))
    assert not a.job_ids(a.named(warm, "executor.norms_blob"))
    assert len(a.job_ids([cold])) > len(a.job_ids([warm]))


def test_query_layers(attribution):
    a = attribution
    ops = _ops(a)
    m = layers.query_layers(a, ops)
    assert m["executor.dict_jobs_per_query"] == 0.5
    assert m["spark.jobs_per_query"] == len(a.jobs) / 2
    # the kernel is the only Python stage in a collect()
    assert m["executor.kernel_tasks"] >= 1
    assert m["executor.kernel_python_s"] > 0
    assert m["executor.kernel_arrow_bytes"] > 0
    assert m["executor.scan_bytes"] > 0
    for op in ops:
        (collect,) = a.named(op, "executor.collect")
        dur = collect["end"] - collect["start"]
        assert 0 <= a.job_gap(collect) <= dur
        done = a.kernel_done(collect)
        assert done is not None and collect["start"] < done <= collect["end"] + 0.01
        # self times of the op's spans add up to its duration
        total = sum(a.self_time(s) for s in a.subtree(op))
        assert total == pytest.approx(op["end"] - op["start"], abs=1e-6)


def test_job_gap_counts_uncovered_time_once():
    spans = [{"id": 0, "name": "executor.collect", "op": 0, "parent": None,
              "start": 10.0, "end": 20.0}]
    jobs = {
        1: {"group": "0", "start": 11.0, "end": 14.0, "stages": []},
        2: {"group": "0", "start": 13.0, "end": 15.0, "stages": []},
        3: {"group": "0", "start": 18.0, "end": 25.0, "stages": []},
    }
    a = trace.Attribution(spans, jobs, {})
    # covered: [11, 15] and [18, 20] -> 6 of 10 s
    assert a.job_gap(spans[0]) == pytest.approx(4.0)


def test_layers_without_work_are_left_out(attribution):
    a = attribution
    ops = _ops(a)
    assert layers.build_layers(a, ops) == {}
    assert layers.merge_layers(a, ops) == {}
    assert layers.query_layers(a, []) == {}
