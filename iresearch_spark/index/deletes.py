"""Document deletion masks (the reference's update/delete model).

IResearch never modifies segment data: deletes write a per-segment document
mask, readers skip masked docs, and consolidation purges them with a dense
doc-id remap (`core/index/segment_writer.hpp:63-66`,
`core/utils/index_utils.hpp:384-385`, `merge_writer.cpp:1448-`). Spark
reading: a ``deletes`` parquet table of (segment_id, doc_id) tombstones,
appended per delete batch; the query kernel drops tombstoned docs at
posting-decode time; ``merge_segments`` always purges them: the merged
segment is rewritten without the tombstoned docs. The purged tombstones stay
in the table: segment ids are never reused, so they match no live doc.

Stats semantics mirror the reference: index-wide term/field statistics keep
counting masked docs until a consolidation purges them (the reference's
scorers also see stale stats between commits and cleanup; ranks over live
docs are unaffected because all docs share the same global constants).
"""

from __future__ import annotations

import os
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

from iresearch_spark.index.build import DOCMETA_SCHEMA
from iresearch_spark.index.manifest import read_manifest, write_manifest
from iresearch_spark.util import read_int32

DELETES_SCHEMA = "segment_id int, doc_id int"
_ARROW_SCHEMA = pa.schema([("segment_id", pa.int32()), ("doc_id", pa.int32())])


def deletes_df(spark: SparkSession, index_dir: str) -> DataFrame:
    return (
        spark.read.schema(DELETES_SCHEMA)
        .parquet(f"{index_dir}/deletes")
        .dropDuplicates(["segment_id", "doc_id"])
    )


def read_tombstones(index_dir: str) -> dict[int, np.ndarray]:
    """segment_id -> sorted unique tombstoned doc ids (int32), read on the
    driver with pyarrow, no Spark job (segment_writer.hpp:63-66 document
    mask). Queries and merge share it."""
    t = read_int32(f"{index_dir}/deletes", ["segment_id", "doc_id"])
    if t is None:
        return {}
    seg = t["segment_id"].to_numpy()
    doc = t["doc_id"].to_numpy()
    return {int(s): np.unique(doc[seg == s]) for s in np.unique(seg)}


def mark_deleted(spark: SparkSession, index_dir: str, keys: DataFrame) -> int:
    """Tombstone the docs identified by (repo, path, commit) rows.

    Resolves identity through docmeta, appends to the deletes table, and
    publishes a manifest generation with per-segment deleted counts.
    Returns the number of NEW tombstones; with none, it writes nothing."""
    dm = spark.read.schema(DOCMETA_SCHEMA).parquet(f"{index_dir}/docmeta")
    resolved = dm.join(
        keys.select("repo", "path", "commit"), ["repo", "path", "commit"]
    ).select("segment_id", "doc_id")
    return mark_deleted_rows(spark, index_dir, resolved)


def mark_deleted_rows(
    spark: SparkSession, index_dir: str, resolved: DataFrame
) -> int:
    """Tombstone pre-resolved (segment_id, doc_id) rows — the segment-aware
    path (e.g. replace_batch deleting only PRE-batch segments' copies)."""
    from dataclasses import replace

    man = read_manifest(index_dir)
    if man is None:
        raise FileNotFoundError(f"no manifest in {index_dir}")
    resolved = resolved.select("segment_id", "doc_id").dropDuplicates(
        ["segment_id", "doc_id"]
    )
    if os.path.isdir(f"{index_dir}/deletes"):
        # an anti-join needs no dropDuplicates of the tombstones
        old = spark.read.schema(DELETES_SCHEMA).parquet(f"{index_dir}/deletes")
        resolved = resolved.join(old, ["segment_id", "doc_id"], "anti")
    # the new tombstones are few (O(deletes)): one job collects them, and
    # the driver writes them as one file under a hidden name (pyarrow and
    # Spark skip it) renamed into place, or writes nothing when none is new
    new = resolved.toArrow().cast(_ARROW_SCHEMA)
    n_new = new.num_rows
    if not n_new:
        return 0
    out = f"{index_dir}/deletes"
    os.makedirs(out, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.parquet"
    pq.write_table(new.sort_by([("segment_id", "ascending"),
                                ("doc_id", "ascending")]), f"{out}/.{name}")
    os.replace(f"{out}/.{name}", f"{out}/{name}")
    tombs = read_tombstones(index_dir)
    segs = []
    for s in man.segments:
        s = dict(s)
        s["deleted_docs"] = int(tombs.get(s["segment_id"], np.empty(0)).size)
        segs.append(s)
    # replace() carries EVERY manifest attribute forward (a hand-copied
    # field list once silently reset with_payloads on delete publish,
    # corrupting payload reads)
    write_manifest(index_dir, replace(man, segments=segs))
    return n_new


def deletion_ratio(segment: dict) -> float:
    """Cleanup-policy input (`index_utils.hpp` cleanup at ratio >= 0.5)."""
    docs = segment.get("docs") or 0
    if not docs:
        return 0.0
    return (segment.get("deleted_docs") or 0) / docs


def plan_cleanup(segments: list[dict], min_ratio: float = 0.5) -> list[int]:
    """Segments whose deletion ratio justifies a purge rewrite
    (the reference alternates tier merges with this cleanup policy)."""
    return sorted(
        s["segment_id"]
        for s in segments
        if deletion_ratio(s) >= min_ratio
    )
