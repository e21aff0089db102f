"""Cross-index segment import.

`IndexWriter::Import` (`core/index/index_writer.hpp:518-525`) ingests the
segments of another index reader into the writer's index as new segments —
the restore / bulk-ship path. Because doc ids are segment-local in both the
reference and this engine, importing is PURE METADATA plus a file-level
segment copy: no postings rewrite, no doc-id remap. Imported segments get
fresh segment ids above the destination's current max; tombstones ride
along with their segment ids rewritten.

Scale note: the per-segment copy below is a local filesystem copytree; on
an object store this is a server-side prefix copy (no data through the
driver), and on HDFS a DistCp — the manifest append is identical either
way. The one Spark job is the deletes remap (a column replace + append).
"""

from __future__ import annotations

import os
import shutil
from dataclasses import replace

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from iresearch_spark.index.build import reset_segments
from iresearch_spark.index.manifest import read_manifest, write_manifest


def import_index(
    spark: SparkSession, dst_dir: str, src_dir: str
) -> dict:
    """Import every live segment of ``src_dir`` into ``dst_dir``.

    Indexes must agree on fields/analyzers/positions/sort (the reference
    demands codec/feature compatibility at Import time; both indexes are
    in the one postings format, or ``read_manifest`` refuses them). Returns
    ``{"imported": K, "mapping": {old_id: new_id}}``.
    """
    src = read_manifest(src_dir)
    dst = read_manifest(dst_dir)
    if src is None or dst is None:
        raise FileNotFoundError("both indexes need a manifest")
    if (
        src.field_specs() != dst.field_specs()
        or src.with_positions != dst.with_positions
        or (src.sort or None) != (dst.sort or None)
    ):
        raise ValueError(
            "incompatible indexes: fields/analyzers/positions/sort "
            f"differ ({src.field_specs()}/sort={src.sort} vs "
            f"{dst.field_specs()}/sort={dst.sort})"
        )

    base = 1 + max((s["segment_id"] for s in dst.segments), default=-1)
    src_ids = sorted(s["segment_id"] for s in src.segments)
    mapping = {old: base + i for i, old in enumerate(src_ids)}

    reset_segments(dst_dir, mapping.values())  # failed previous attempt
    for old, new in mapping.items():
        for sub in ("segments", "docmeta"):
            shutil.copytree(
                f"{src_dir}/{sub}/segment_id={old}",
                f"{dst_dir}/{sub}/segment_id={new}",
            )

    if os.path.isdir(f"{src_dir}/deletes"):
        from iresearch_spark.index.deletes import deletes_df

        mapping_expr = F.element_at(
            F.create_map(
                *[F.lit(x) for kv in mapping.items() for x in kv]
            ),
            F.col("segment_id"),
        )
        (
            deletes_df(spark, src_dir)
            # stale tombstones for segments no longer in the src manifest
            # (e.g. merged with cleanup=False) would remap to NULL — drop
            .filter(F.col("segment_id").isin(list(mapping)))
            .select(
                mapping_expr.cast("int").alias("segment_id"),
                F.col("doc_id"),
            )
            .write.mode("append")
            .parquet(f"{dst_dir}/deletes")
        )

    new_segs = []
    for s in src.segments:
        s = dict(s)
        s["segment_id"] = mapping[s["segment_id"]]
        lin = dict(s.get("lineage") or {})
        lin["imported_from"] = os.path.abspath(src_dir)
        s["lineage"] = lin
        new_segs.append(s)
    write_manifest(
        dst_dir,
        replace(
            dst,
            num_segments=base + len(src_ids),
            segments=dst.segments + new_segs,
        ),
    )
    return {"imported": len(src_ids), "mapping": mapping}
