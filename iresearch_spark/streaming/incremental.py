"""Incremental (streaming) index maintenance.

The reference is a batch/incremental indexer: each `IndexWriter::Commit()`
publishes a new generation containing freshly flushed segments, and
background consolidation merges small segments (`core/index/index_writer.cpp`
two-phase commit; SURVEY §2.6 "Streaming"). The Structured Streaming
analogue: a ``foreachBatch`` sink where every micro-batch becomes a set of
new segments plus an atomic manifest publish — one manifest generation per
micro-batch, exactly the reference's commit model.

Idempotence / exactly-once: Spark may retry a micro-batch after a failure.
Each committed batch id is recorded in the manifest; a replayed batch id is
skipped (classic foreachBatch dedup), and segment data written by a failed
attempt is wiped before the rewrite because the attempt's segment ids are
deterministic.

Scale notes: each micro-batch shuffles once on its own segment ids, exactly
like a batch wave; segment ids are disjoint across generations so queries
and consolidation see one uniform segments table. Small streaming segments
are expected — run `plan_tier` + `merge_segments` (consolidation) on a
cadence, like the reference's background consolidation thread.
"""

from __future__ import annotations

import glob
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from iresearch_spark.index.build import (
    make_dl_expr,
    make_seg_builder,
    segment_expr,
    write_segment_wave,
)
from iresearch_spark.index.manifest import (
    Manifest,
    prune_generations,
    read_manifest,
    write_manifest,
)


class IncrementalIndexer:
    """Appends micro-batches of corpus rows to an index as new segments.

    Use directly (``indexer.process_batch(df, batch_id)``) or as a
    Structured Streaming ``foreachBatch`` sink via :func:`index_stream`.
    """

    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        segments_per_batch: int = 4,
        field: str = "content",
        analyzer: str = "code",
        with_positions: bool = True,
        retain_generations: int | None = None,
    ):
        self.spark = spark
        self.index_dir = index_dir
        self.segments_per_batch = segments_per_batch
        self.field = field
        self.analyzer = analyzer
        self.with_positions = with_positions
        read_manifest(index_dir)  # refuses a legacy-format index up front
        # a per-micro-batch publisher is the one writer that accumulates
        # generations without bound; set a rolling window (e.g. 64) to
        # prune old snapshot files each publish. OPT-IN (default None =
        # keep everything): pruning deletes gen files that generation-
        # pinned point-in-time readers may still be holding open.
        self.retain_generations = retain_generations
        self._seg_builder = make_seg_builder(
            spark, analyzer, field, with_positions,
            out_partitions=segments_per_batch,
        )

    # ------------------------------------------------------------ manifest
    def _manifest(self) -> Manifest:
        m = read_manifest(self.index_dir)
        if m is None:
            m = Manifest(
                format_version=1,
                num_segments=0,
                field_name=self.field,
                analyzer=self.analyzer,
                with_positions=self.with_positions,
                segments=[],
            )
        return m

    def committed_batches(self) -> set[int]:
        m = read_manifest(self.index_dir)
        if m is None:
            return set()
        return {
            s["lineage"]["batch_id"]
            for s in m.segments
            if "batch_id" in s.get("lineage", {})
        }

    # ------------------------------------------------------------ batches
    def process_batch(self, batch_df: DataFrame, batch_id: int) -> dict:
        """foreachBatch body: new segments + one manifest generation."""
        m = self._manifest()
        if batch_id in self.committed_batches():
            return {"batch_id": batch_id, "skipped": True}

        base = 1 + max((s["segment_id"] for s in m.segments), default=-1)
        seg_ids = list(range(base, base + self.segments_per_batch))

        # wipe data left by a failed attempt of this batch (same ids)
        for sub in ("docmeta", "segments"):
            for d in glob.glob(f"{self.index_dir}/{sub}/segment_id=*"):
                if int(d.rsplit("=", 1)[1]) in set(seg_ids):
                    shutil.rmtree(d)

        w = Window.partitionBy("segment_id").orderBy("repo", "path", "commit")
        docs = (
            batch_df.withColumn(
                "segment_id",
                segment_expr(self.segments_per_batch) + F.lit(base),
            )
            .withColumn("doc_id", F.row_number().over(w))
        )
        recs = write_segment_wave(
            self.spark, docs, self.index_dir, seg_ids, self._seg_builder,
            self.field, lineage={"batch_id": int(batch_id), "generation": 1},
            dl_expr=make_dl_expr(self.analyzer),
        )
        live = {s["segment_id"]: s for s in m.segments}
        live.update(recs)
        write_manifest(
            self.index_dir,
            Manifest(
                format_version=m.format_version,
                num_segments=base + self.segments_per_batch,
                field_name=m.field_name,
                analyzer=m.analyzer,
                with_positions=m.with_positions,
                segments=sorted(live.values(), key=lambda s: s["segment_id"]),
                fields=m.fields,
                sort=m.sort,
                with_payloads=m.with_payloads,
                commit_payload=m.commit_payload,
            ),
        )
        if self.retain_generations:
            prune_generations(self.index_dir, self.retain_generations)
        return {
            "batch_id": batch_id,
            "segments": seg_ids,
            "docs": sum(r["docs"] for r in recs.values()),
        }

    def replace_batch(self, batch_df: DataFrame, batch_id: int) -> dict:
        """Document replacement (`index_writer.hpp:407 Replace`): insert the
        batch as new segments, then tombstone every PRE-EXISTING version of
        the batch's (repo, path) keys — the delete+insert pair the reference
        runs as one commit.

        Ours is two manifest generations (insert, then deletes), ordered
        insert-first so a crash between them leaves duplicates visible,
        never lost docs. Both halves are idempotent: a replayed batch id
        skips the insert, and the tombstone step targets exactly the
        docmeta rows whose (repo, path) is in the batch and that live
        OUTSIDE the batch's own segments — re-running it is a no-op.
        Re-invoke after a crash to finish.
        """
        from iresearch_spark.index.build import DOCMETA_SCHEMA
        from iresearch_spark.index.deletes import mark_deleted_rows

        res = self.process_batch(batch_df, batch_id)
        # the batch's own segment ids (from the manifest on replay): the
        # tombstone step targets every (repo, path) copy OUTSIDE them, so a
        # re-shipped IDENTICAL (repo, path, commit) still supersedes its
        # pre-existing copy instead of duplicating it
        batch_segs = {
            s["segment_id"]
            for s in self._manifest().segments
            if s.get("lineage", {}).get("batch_id") == batch_id
        }
        dm = self.spark.read.schema(DOCMETA_SCHEMA).parquet(
            f"{self.index_dir}/docmeta"
        )
        # no broadcast hint: micro-batches are usually small and AQE will
        # pick broadcast itself; forcing it would break on a huge backfill
        old = (
            dm.filter(~F.col("segment_id").isin(sorted(batch_segs)))
            .join(batch_df.select("repo", "path").distinct(), ["repo", "path"])
            .select("segment_id", "doc_id")
        )
        n = mark_deleted_rows(self.spark, self.index_dir, old)
        return {**res, "replaced": n}


def index_stream(
    stream_df: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    segments_per_batch: int = 4,
    trigger_seconds: float | None = None,
    **indexer_kwargs,
):
    """Attach an IncrementalIndexer to a streaming corpus DataFrame.

    ``stream_df`` must have the corpus shape (repo, path, commit, lang,
    content). Returns the started StreamingQuery; Spark's checkpoint plus
    the batch-id dedup in the manifest gives end-to-end exactly-once.
    """
    indexer = IncrementalIndexer(
        stream_df.sparkSession, index_dir,
        segments_per_batch=segments_per_batch, **indexer_kwargs,
    )

    writer = (
        stream_df.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(lambda df, bid: indexer.process_batch(df, bid))
    )
    if trigger_seconds is not None:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    else:
        writer = writer.trigger(availableNow=True)
    return writer.start()
