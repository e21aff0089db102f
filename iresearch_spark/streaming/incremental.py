"""Incremental (streaming) index maintenance.

The reference is a batch/incremental indexer: each `IndexWriter::Commit()`
publishes a new generation containing freshly flushed segments, and
background consolidation merges small segments (`core/index/index_writer.cpp`
two-phase commit; SURVEY §2.6 "Streaming"). The Structured Streaming
analogue: a ``foreachBatch`` sink where every micro-batch becomes a set of
new segments plus an atomic manifest publish — one manifest generation per
micro-batch, exactly the reference's commit model.

A batch follows its index: it is written through the same field setup,
doc-id assignment and segment writer as ``build_index``, with the fields,
analyzers, positions and primary sort recorded in the manifest. The
indexer's own ``field``/``analyzer``/``with_positions`` only seed a new
index.

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

from dataclasses import replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iresearch_spark.index.build import (
    assign_doc_ids,
    field_writers,
    new_manifest,
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
    ``field``, ``analyzer`` and ``with_positions`` default to the index's
    own (``content``/``code``/positions on for a new index); a value that
    conflicts with an existing index raises ``ValueError``.
    """

    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        segments_per_batch: int = 4,
        field: str | None = None,
        analyzer: str | None = None,
        with_positions: bool | None = None,
        retain_generations: int | None = None,
    ):
        self.spark = spark
        self.index_dir = index_dir
        self.segments_per_batch = segments_per_batch
        m = read_manifest(index_dir)  # refuses a legacy-format index up front
        if m is not None:
            for name, given, have in (
                ("field", field, m.field_name),
                ("analyzer", analyzer, m.analyzer),
                ("with_positions", with_positions, m.with_positions),
            ):
                if given is not None and given != have:
                    raise ValueError(
                        f"{name}={given!r} conflicts with {name}={have!r} "
                        f"of the index in {index_dir}"
                    )
        self._seed = new_manifest(
            [(field or "content", analyzer or "code")],
            True if with_positions is None else with_positions,
        )
        # a per-micro-batch publisher is the one writer that accumulates
        # generations without bound; set a rolling window (e.g. 64) to
        # prune old snapshot files each publish. OPT-IN (default None =
        # keep everything): pruning deletes gen files that generation-
        # pinned point-in-time readers may still be holding open.
        self.retain_generations = retain_generations

    # ------------------------------------------------------------ manifest
    def _manifest(self) -> Manifest:
        return read_manifest(self.index_dir) or self._seed

    def committed_batches(self) -> set[int]:
        return {
            s["lineage"]["batch_id"]
            for s in self._manifest().segments
            if "batch_id" in s.get("lineage", {})
        }

    # ------------------------------------------------------------ batches
    def process_batch(self, batch_df: DataFrame, batch_id: int) -> dict:
        """foreachBatch body: new segments + one manifest generation."""
        if batch_id in self.committed_batches():
            return {"batch_id": batch_id, "skipped": True}
        m = self._manifest()
        n = self.segments_per_batch
        base = 1 + max((s["segment_id"] for s in m.segments), default=-1)
        seg_ids = list(range(base, base + n))
        recs = write_segment_wave(
            self.spark,
            assign_doc_ids(batch_df, n, m.sort, base=base),
            self.index_dir,
            seg_ids,
            field_writers(
                self.spark, m.field_specs(), m.with_positions,
                out_partitions=n,
            ),
            lineage={"batch_id": int(batch_id), "generation": 1},
        )
        live = {s["segment_id"]: s for s in m.segments}
        live.update(recs)
        write_manifest(
            self.index_dir,
            replace(
                m,
                num_segments=base + n,
                segments=sorted(live.values(), key=lambda s: s["segment_id"]),
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
