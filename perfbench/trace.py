"""Spans recorded around calls into the engine, and their join with Spark's
event log.

A span is (id, name, op, parent, start, end): ``op`` ties the spans of one
benchmark operation together, ``parent`` is the span that caused it. Spans
live in memory and are written once, after the run. In a traced run every
span also sets its own Spark job group (the span id), so each job in the
event log belongs to exactly one span; a span's Spark work is the work of
its job group.

The engine is not modified: ``Tracer.patch`` wraps public functions
(``SearchEngine.prepare``, ``write_segment_wave`` and so on) in spans, and
``Tracer.unpatch`` restores them.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time


class Tracer:
    def __init__(self, spark=None, job_groups: bool = False):
        self.sc = spark.sparkContext if spark is not None else None
        self.job_groups = job_groups and self.sc is not None
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None):
        parent = self._stack[-1] if self._stack else None
        sp = {
            "id": len(self.spans),
            "name": name,
            "op": op if op is not None else (parent["op"] if parent else None),
            "parent": parent["id"] if parent else None,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, sp: dict | None) -> None:
        if not self.job_groups:
            return
        if sp is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(str(sp["id"]), sp["name"])

    def patch(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a wrapper that runs it inside a span."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        self._patched.append((owner, attr, orig))

    def unpatch(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)
            f.write("\n")


def patch_engine(tracer: Tracer) -> None:
    """Wrap the engine's layer entry points, named after their modules."""
    from iresearch_spark.index import build, merge
    from iresearch_spark.search.executor import SearchEngine
    from iresearch_spark.streaming import incremental

    tracer.patch(SearchEngine, "search", "executor.plan")
    tracer.patch(SearchEngine, "prepare", "executor.prepare")
    tracer.patch(SearchEngine, "norms_blob_df", "executor.norms_blob")
    # callers bind these by name at import, so patch every binding
    for mod in (build, incremental):
        tracer.patch(mod, "write_segment_wave", "build.wave")
    for mod in (build, incremental, merge):
        tracer.patch(mod, "write_manifest", "manifest.commit")
    for mod in (build, merge):
        tracer.patch(mod, "write_checkpoint", "manifest.commit")
    tracer.patch(merge, "merge_segments", "merge.merge_segments")


# ------------------------------------------------------------ event log

PY_RUN = "time to run Python workers"
PY_SENT = "data sent to Python workers"
SCAN_TIME = "scan time"


def _new_stage() -> dict:
    return {
        "job": None, "tasks": 0, "failed": 0, "run_ms": 0,
        "gc_ms": 0, "py_run_ms": 0, "py_sent": 0, "scan_ms": 0,
        "in_bytes": 0, "shuffle_w": 0, "out_bytes": 0,
        "submitted": None, "completed": None,
    }


def read_event_log(lines) -> tuple[dict, dict]:
    """Parse Spark event-log JSON lines into (jobs, stages).

    jobs: id -> {group, start, end, stages}; times in epoch seconds.
    stages: id -> per-stage task totals (run, GC and Python worker time in
    ms; input, shuffle-write, output and Python-sent bytes; scan time in
    ms; task and failed-task counts) plus submit/complete times.
    """
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    for line in lines:
        if not line.strip():
            continue
        e = json.loads(line)
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            ids = [s["Stage ID"] for s in e.get("Stage Infos", [])]
            jobs[e["Job ID"]] = {
                "group": group, "start": e["Submission Time"] / 1000.0,
                "end": None, "stages": ids,
            }
            for sid in ids:
                st = stages.setdefault(sid, _new_stage())
                if st["job"] is None:
                    st["job"] = e["Job ID"]
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            st = stages.setdefault(info["Stage ID"], _new_stage())
            if "Submission Time" in info:
                st["submitted"] = info["Submission Time"] / 1000.0
            if "Completion Time" in info:
                st["completed"] = info["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            st = stages.setdefault(e["Stage ID"], _new_stage())
            info = e.get("Task Info", {})
            m = e.get("Task Metrics") or {}
            st["tasks"] += 1
            if info.get("Failed") or info.get("Killed"):
                st["failed"] += 1
            st["run_ms"] += m.get("Executor Run Time", 0)
            st["gc_ms"] += m.get("JVM GC Time", 0)
            st["in_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            st["out_bytes"] += (m.get("Output Metrics") or {}).get(
                "Bytes Written", 0)
            st["shuffle_w"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            for acc in info.get("Accumulables", []):
                name = acc.get("Name")
                if name == PY_RUN:
                    st["py_run_ms"] += int(acc.get("Update", 0))
                elif name == PY_SENT:
                    st["py_sent"] += int(acc.get("Update", 0))
                elif name == SCAN_TIME:
                    st["scan_ms"] += int(acc.get("Update", 0))
    return jobs, stages


# ------------------------------------------------------- attribution


class Attribution:
    """Spans joined with the event log: Spark work per span subtree."""

    def __init__(self, spans: list[dict], jobs: dict, stages: dict):
        self.spans = spans
        self.jobs = jobs
        self.stages = stages
        self.children: dict[int, list[dict]] = {}
        for sp in spans:
            if sp["parent"] is not None:
                self.children.setdefault(sp["parent"], []).append(sp)
        self.jobs_by_group: dict[str, list[int]] = {}
        for jid, j in jobs.items():
            if j["group"] is not None:
                self.jobs_by_group.setdefault(j["group"], []).append(jid)

    def subtree(self, sp: dict) -> list[dict]:
        out, todo = [], [sp]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children.get(s["id"], []))
        return out

    def named(self, root: dict, name: str) -> list[dict]:
        return [s for s in self.subtree(root) if s["name"] == name]

    def self_time(self, sp: dict) -> float:
        """Duration minus the part covered by child spans (children of
        one span run one after another, so their durations add)."""
        dur = sp["end"] - sp["start"]
        return dur - sum(c["end"] - c["start"] for c in self.children.get(sp["id"], []))

    def job_ids(self, spans: list[dict]) -> list[int]:
        """Jobs of the spans and of every span below them."""
        ids: list[int] = []
        for sp in spans:
            for s in self.subtree(sp):
                ids.extend(self.jobs_by_group.get(str(s["id"]), []))
        return sorted(set(ids))

    def stage_ids(self, spans: list[dict]) -> list[int]:
        """Stages that ran (were submitted) for the spans' jobs."""
        out = set()
        for jid in self.job_ids(spans):
            for sid in self.jobs[jid]["stages"]:
                st = self.stages.get(sid)
                if st is not None and st["job"] == jid and st["submitted"] is not None:
                    out.add(sid)
        return sorted(out)

    def stage_sum(self, spans: list[dict], key: str, where=None) -> float:
        return sum(
            self.stages[s][key]
            for s in self.stage_ids(spans)
            if where is None or where(self.stages[s])
        )

    def job_gap(self, sp: dict) -> float:
        """Wall time of ``sp`` not covered by any of its subtree's jobs."""
        ivs = sorted(
            (max(self.jobs[j]["start"], sp["start"]),
             min(self.jobs[j]["end"] or sp["end"], sp["end"]))
            for j in self.job_ids([sp])
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in ivs:
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (sp["end"] - sp["start"]) - covered

    def kernel_done(self, sp: dict) -> float | None:
        """Completion time of the last Python-running stage under ``sp``."""
        ends = [
            self.stages[s]["completed"]
            for s in self.stage_ids([sp])
            if self.stages[s]["py_run_ms"] > 0 and self.stages[s]["completed"]
        ]
        return max(ends) if ends else None
