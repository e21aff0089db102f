"""Segment consolidation: tier policy + vectorized k-way merge.

The Spark reading of `core/index/merge_writer.cpp` + the tier policy of
`core/utils/index_utils.hpp:251-325`:

- **plan_tier**: driver-side Python over manifest stats. Sorts candidate
  segments by size, slides a window, and picks the candidate set with the
  best score under the reference's constraints: merged bytes <= ``max_bytes``
  (default 8 GiB per `index_utils.hpp:371-380` scaled down here), size skew
  ``max/total <= 0.4``, fan-in between ``min_segments`` and ``max_segments``.
- **merge_segments**: because doc ids are remapped by *per-segment base
  offsets* (ascending old segment id, `merge_writer.cpp:1448-`), the k-way
  term merge degenerates to an ordered concatenation per term — no heap
  needed. A merge has a query's shape: the driver reads the inputs'
  ``(term, docs_count, total_tf)`` with pyarrow and cuts the terms, in
  UTF-8 byte order, into contiguous weighted ranges (:func:`term_ranges`);
  each ``spark.range(ranges).mapInArrow`` task reads its contiguous run of
  ranges as one term block from every input with pyarrow
  (:func:`read_inputs`). The task stays in Arrow end to end: each range's
  kernel sorts the rows with ``Table.sort_by``, decodes ALL its posting
  blobs in one vectorized pass straight from the Arrow buffers
  (``packed.decode_postings_many``), shifts doc ids by broadcast base
  offsets, concatenates per term in segment order, and re-encodes with
  ``packed.encode_postings_batch`` into Arrow columns — no per-term
  Python object. Each task writes one file, so a merged segment's files
  hold disjoint term intervals, as the reference writes its merged
  dictionary in term order (`merge_writer.cpp:1862-1890`).

Skew note (10^12-file scale): a range never splits a term, so a term
heavier than the budget sits alone in its range and no range carries more
than max(heaviest term, budget). Below 128 MB an input file is one parquet
row group, so the term filter of a task's read prunes nothing there: each
task decodes every input file its term block overlaps, and a merge reads
its inputs up to min(ranges, defaultParallelism) times. For terms that
outgrow a single blob, ``shard_docs`` splits the merged posting list into
several disjoint doc-range rows (block-aligned); the query kernel and WAND
are shard-aware, and re-merges of sharded rows restore doc order via a
first-block-doc tiebreak.
"""

from __future__ import annotations

from dataclasses import replace
from typing import Sequence

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
from pyspark.sql import SparkSession, Window
from pyspark.sql import functions as F

from iresearch_spark.codec import (
    decode_payloads,
    encode_payloads_batch,
)
from iresearch_spark.codec import packed
from iresearch_spark.index.build import (
    SEGMENTS_PAY_SCHEMA,
    SEGMENTS_SCHEMA,
    arrow_schema,
    docmeta_schema,
    reset_segments,
    segment_stats,
)
from iresearch_spark.index.deletes import DELETES_SCHEMA, read_tombstones
from iresearch_spark.index.manifest import (
    read_manifest,
    write_checkpoint,
    write_manifest,
)
from iresearch_spark.util import parquet_files

#: Weight budget of one merge range: the summed ``docs_count + total_tf``
#: of its input rows (the doc ids and positions ``merge_range`` decodes).
#: A ~1k-doc tier merge (0.9M weight) spans ~14 ranges, enough to fill
#: every task; on a 4-vCPU host a 5k-doc, 10-segment merge took 4.5 / 4.3
#: / 5.2 s (medians of 3) at 2^14 / 2^16 / 2^18: per-range cost below,
#: task imbalance above.
RANGE_BUDGET = 1 << 16


def term_ranges(terms, weights, budget: int) -> list[tuple[str, str | None]]:
    """Cut the distinct ``terms`` (UTF-8 byte order, the order the
    reference merges and writes them in, `merge_writer.cpp:1448-`) into
    contiguous ranges ``[lo, hi)`` (``hi`` None: unbounded). A range takes
    terms while its summed weight stays within ``budget``; a term is never
    split, so one heavier than the budget sits alone and every range weighs
    at most max(budget, its heaviest term)."""
    t = (
        pa.table({"term": terms, "w": weights})
        .group_by("term")
        .aggregate([("w", "sum")])
        .sort_by("term")
    )
    ends = np.cumsum(t["w_sum"].to_numpy())
    starts: list[int] = []
    i = 0
    while i < ends.size:
        starts.append(i)
        base = ends[i - 1] if i else 0
        i = max(int(np.searchsorted(ends, base + budget, "right")), i + 1)
    los = t["term"].take(pa.array(starts, pa.int64())).to_pylist()
    return list(zip(los, los[1:] + [None]))


def read_inputs(
    index_dir: str,
    seg_ids: Sequence[int],
    schema: pa.Schema,
    columns: list[str] | None = None,
    flt: ds.Expression | None = None,
) -> pa.Table:
    """The input segments' rows matching ``flt``, read with pyarrow (the
    plan on the driver, each term block in its merge task);
    ``segment_id`` comes from the partition path."""
    parts = []
    for sid in seg_ids:
        t = ds.dataset(
            parquet_files(f"{index_dir}/segments/segment_id={sid}"),
            schema=schema, format="parquet",
        ).to_table(columns=columns, filter=flt)
        parts.append(t.add_column(
            0, "segment_id", pa.array(np.full(t.num_rows, sid, np.int32))
        ))
    return pa.concat_tables(parts)


def plan_tier(
    segments: list[dict],
    min_segments: int = 2,
    max_segments: int = 10,
    max_bytes: int = 8 << 30,
    max_skew: float = 0.4,
) -> list[int]:
    """Pick one merge batch (list of segment_ids), or [] if nothing qualifies.

    Reference scoring (index_utils.hpp:251-325): prefer windows with more
    segments and lower size skew.
    """
    cands = sorted(segments, key=lambda s: (s["postings_bytes"], s["segment_id"]))
    best: tuple[float, list[int]] | None = None
    n = len(cands)
    for i in range(n):
        for w in range(min_segments, max_segments + 1):
            if i + w > n:
                break
            window = cands[i : i + w]
            total = sum(s["postings_bytes"] for s in window)
            if total > max_bytes or total == 0:
                continue
            skew = max(s["postings_bytes"] for s in window) / total
            if skew > max_skew and w > 1:
                continue
            score = w - skew  # more segments, less skew
            ids = [s["segment_id"] for s in window]
            if best is None or score > best[0]:
                best = (score, ids)
    return sorted(best[1]) if best else []


def _live(s: dict) -> int:
    return int(s.get("docs") or 0) - int(s.get("deleted_docs") or 0)


def plan_bytes(segments: list[dict], threshold: float = 0.5) -> list[int]:
    """ConsolidateBytes (`index_utils.cpp:52-82`): merge a segment if
    ``threshold > segment_bytes / (all_segment_bytes / #segments)`` — i.e.
    everything smaller than ``threshold`` x the average segment size."""
    if not segments:
        return []
    t = min(max(float(threshold), 0.0), 1.0)
    avg = sum(s["postings_bytes"] for s in segments) / len(segments)
    return sorted(
        s["segment_id"] for s in segments if avg * t >= s["postings_bytes"]
    )


def plan_bytes_accum(segments: list[dict], threshold: float = 0.5) -> list[int]:
    """ConsolidateBytesAccum (`index_utils.cpp:84-122`): smallest-first
    greedy pack while ``(candidate_bytes_sum) <= threshold *
    all_segment_bytes``; sizes are live-scaled (SizeWithoutRemovals)."""
    t = min(max(float(threshold), 0.0), 1.0)
    sized = []
    for s in segments:
        docs = int(s.get("docs") or 0)
        scale = (_live(s) / docs) if docs else 1.0
        sized.append((s["postings_bytes"] * scale, s["segment_id"]))
    budget = sum(sz for sz, _ in sized) * t
    acc, out = 0.0, []
    for sz, sid in sorted(sized):
        if acc + sz <= budget:
            acc += sz
            out.append(sid)
    return sorted(out)


def plan_count(segments: list[dict], threshold: int | None = None) -> list[int]:
    """ConsolidateCount (`index_utils.cpp:124-134`): merge the first
    ``threshold`` segments in reader order (ascending segment_id)."""
    ids = sorted(s["segment_id"] for s in segments)
    return ids if threshold is None else ids[: int(threshold)]


def plan_docs_live(segments: list[dict], threshold: float = 0.5) -> list[int]:
    """ConsolidateDocsLive (`index_utils.cpp:159-`): merge a segment if
    ``threshold >= live_docs / (all_live_docs / #segments)`` — small-by-live
    -docs segments, plus fully-dead ones unconditionally."""
    if not segments:
        return []
    t = min(max(float(threshold), 0.0), 1.0)
    avg = sum(_live(s) for s in segments) / len(segments)
    return sorted(
        s["segment_id"]
        for s in segments
        if _live(s) == 0 or avg * t >= _live(s)
    )


def plan_docs_fill(segments: list[dict], threshold: float = 0.5) -> list[int]:
    """ConsolidateDocsFill (`index_utils.cpp:136-157`): merge a segment if
    ``threshold >= live_docs / total_docs`` (fill factor), plus fully-dead
    segments unconditionally."""
    t = min(max(float(threshold), 0.0), 1.0)
    out = []
    for s in segments:
        docs = int(s.get("docs") or 0)
        if _live(s) == 0 or (docs and docs * t >= _live(s)):
            out.append(s["segment_id"])
    return sorted(out)


def merge_segments(
    spark: SparkSession,
    index_dir: str,
    seg_ids: Sequence[int],
    cleanup: bool = True,
    shard_docs: int | None = None,
) -> dict:
    """Merge the given segments into one new segment; returns merge metrics.

    Tombstoned docs (deletes table) are PURGED: the per-segment doc-id maps
    drop masked docs and re-number the survivors densely, exactly the
    reference's ``doc_id_map`` remap (`merge_writer.cpp:1448-`).

    ``shard_docs``: when set, a term whose merged posting list exceeds this
    many docs is written as multiple disjoint doc-range rows (block-aligned)
    instead of one giant blob — the two-level escalation for terms that
    outgrow a single blob at 10^12-doc scale. Query side is shard-aware
    (executor concatenates; WAND skips per shard). Already-sharded input
    rows re-merge correctly (ordered by each row's first-block doc).

    A merge retried after a failure before its publish rewrites the same
    ``new_segment_id`` from scratch: its partitions are reset first."""
    import os

    man = read_manifest(index_dir)
    if man is None:
        raise FileNotFoundError(f"no manifest in {index_dir}")
    # public API: normalize — remap base offsets accumulate in iteration
    # order, which MUST be ascending segment_id to match merge_range's sort
    seg_ids = sorted({int(s) for s in seg_ids})
    by_id = {s["segment_id"]: s for s in man.segments}
    new_id = max(max(by_id) + 1, man.num_segments)
    # a retry of a merge that died before its publish gets the same new_id
    reset_segments(index_dir, [new_id])

    # DRIVER STATE IS O(tombstones + K), never O(docs): doc ids are dense
    # 1..docs per segment (build/merge invariant), so the reference's
    # doc_id_map (`merge_writer.cpp:1448-`) degenerates to per-segment BASE
    # OFFSETS; with deletes, the dense renumber is
    # ``new = base + old - #(deleted <= old)`` computed from the (small)
    # sorted tombstone list — no docmeta collect.
    deleted = {
        sid: ids
        for sid, ids in read_tombstones(index_dir).items()
        if sid in seg_ids
    }

    bases: dict[int, int] = {}
    acc = 0
    for sid in seg_ids:
        bases[sid] = acc
        n_docs_seg = int(by_id[sid]["docs"])
        acc += n_docs_seg - int(deleted.get(sid, np.empty(0)).size)
    bc = spark.sparkContext.broadcast((bases, deleted))

    with_positions = man.with_positions
    with_payloads = man.with_payloads
    # explicit schemas: no inference job per read, and every column is
    # present (all-null where a field or index has no positions)
    out_schema = SEGMENTS_PAY_SCHEMA if with_payloads else SEGMENTS_SCHEMA
    extra_names = [
        name for name, _ in man.field_specs() if name != man.field_name
    ]

    arrow_out = arrow_schema(out_schema)

    def merge_range(t: pa.Table) -> pa.Table:
        if t.num_rows == 0:
            return arrow_out.empty_table()
        bases_l, deleted_l = bc.value
        # first-block doc as tiebreak: input segments may already carry
        # SHARDED rows for a term; doc order must ascend across shards so
        # the delta encoder sees monotonic ids
        ld, ld_offs, _ = packed.flat_values(t["last_docs"])
        first = np.where(
            np.diff(ld_offs) > 0, np.append(ld, 0)[ld_offs[:-1]], 0
        )
        t = t.append_column("_first", pa.array(first)).sort_by(
            [(c, "ascending") for c in ("field", "term", "segment_id", "_first")]
        )
        n_rows = t.num_rows
        counts = t["docs_count"].to_numpy().astype(np.int64)
        docs, freqs = packed.decode_postings_many(
            t["postings"], counts, t["block_offsets"]
        )
        row_of = np.repeat(np.arange(n_rows, dtype=np.int64), counts)
        seg_arr = t["segment_id"].to_numpy().astype(np.int64)[row_of]
        new_docs = np.zeros(len(docs), dtype=np.int64)
        for sid in np.unique(seg_arr):
            m = seg_arr == sid
            d = docs[m]
            base = bases_l[int(sid)]
            dels = deleted_l.get(int(sid))
            if dels is None or dels.size == 0:
                new_docs[m] = base + d
            else:
                pos = np.searchsorted(dels, d)
                member = (pos < dels.size) & (dels[np.minimum(pos, dels.size - 1)] == d)
                nd = base + d - np.searchsorted(dels, d, side="right")
                nd[member] = 0  # purged doc entries (tombstoned) drop out
                new_docs[m] = nd
        keep = new_docs > 0
        # conservative per-entry norm carried from the INPUT block's
        # min_norm: the WAND bound only needs min_norm <= every true dl in
        # the new block (smaller norm -> larger, still-safe upper bound), so
        # merge never touches per-doc norms — no O(docs) dl broadcast
        mn, mn_offs, _ = packed.flat_values(t["min_norms"])
        row_starts = np.cumsum(counts) - counts
        rank_in_row = np.arange(len(docs), dtype=np.int64) - row_starts[row_of]
        dls = mn[mn_offs[:-1][row_of] + rank_in_row // 128]

        # per-output-term lengths: rows are (term, segment) sorted, so terms
        # are contiguous; ordered concat replaces the reference's heap merge
        terms, fields = t["term"], t["field"]
        term_change = np.ones(n_rows, dtype=bool)
        # a range holds every field's rows of its terms, so one term can
        # come in several fields
        term_change[1:] = pc.or_(
            pc.not_equal(terms[1:], terms[:-1]),
            pc.not_equal(fields[1:], fields[:-1]),
        ).to_numpy()
        trow_starts = np.flatnonzero(term_change)
        term_of_row = np.cumsum(term_change) - 1
        term_lengths = np.bincount(
            term_of_row[row_of][keep], minlength=trow_starts.size
        ).astype(np.int64)
        meta = np.flatnonzero(term_lengths)
        lengths = term_lengths[meta]

        kept_docs = new_docs[keep]
        kept_freqs = freqs[keep]
        kept_dls = dls[keep]
        # blob sharding (the "salted two-level merge" escalation): a term
        # whose merged postings exceed ``shard_docs`` docs is written as
        # SEVERAL rows of disjoint consecutive doc ranges (block-aligned
        # chunks), bounding every blob; the query kernel concatenates
        # shards in first-doc order (executor rows_by_term)
        if shard_docs:
            # ceil(L / ceil(L / shard_docs)), rounded up to whole blocks
            per = -(-lengths // -(-lengths // shard_docs))
            chunk = np.where(lengths > shard_docs, (per + 127) // 128 * 128, lengths)
            pieces = -(-lengths // chunk)
            meta = np.repeat(meta, pieces)
            shards = np.repeat(chunk, pieces)
            shards[np.cumsum(pieces) - 1] = lengths - chunk * (pieces - 1)
            lengths = shards
        src = trow_starts[meta]
        cols = {
            "segment_id": pa.array(np.full(lengths.size, new_id, dtype=np.int32)),
            "field": fields.take(src),
            "term": terms.take(src),
            "docs_count": pa.array(lengths.astype(np.int32)),
            "total_tf": pa.array(
                np.add.reduceat(kept_freqs, np.cumsum(lengths) - lengths)
                if kept_freqs.size
                else np.empty(0, np.int64)
            ),
            **packed.encode_postings_batch(
                kept_docs, kept_freqs, kept_dls, lengths
            ).columns("postings"),
        }
        # payload indexes carry positions even when with_positions=False
        # (build gates the encoder on `with_positions or with_payloads`);
        # dropping them here would desync pay_lens/payloads from the
        # positions permutation and break term_payloads after a merge.
        # The data gate is PER OUTPUT TERM, never per range: a range
        # holds many (field, term) pairs, so a mixed multi-field payload
        # index built with with_positions=False can land positions-bearing
        # rows (payload field) and null rows (plain fields) in the SAME
        # range. Null rows get zero placeholders through the shared
        # permutation and their output terms are nulled back out below,
        # mirroring the payload branch.
        has_pos = t["positions"].is_valid().to_numpy()
        if (with_positions or with_payloads) and has_pos.any():
            # one cross-row vectorized decode of the whole range (the
            # chunks of every row width-grouped at once — a per-row decode
            # loop measured 3.2x slower)
            flat_pos = packed.decode_positions_many(
                t["positions"], freqs, counts, t["pos_offsets"]
            )
            # an output term's rows all come from one (field, term) —
            # term_change splits on field — so the representative input
            # row decides whether the term really carries positions
            src_has_pos = has_pos[src]
            cols.update(packed.encode_positions_batch(
                kept_freqs, flat_pos[np.repeat(keep, freqs)], lengths
            ).columns("positions", None if src_has_pos.all() else src_has_pos))
        else:
            cols["positions"] = pa.nulls(lengths.size, pa.binary())
            cols["pos_offsets"] = pa.nulls(lengths.size, pa.list_(pa.int64()))
        if with_payloads:
            # payloads ride the positions permutation: per-row decode (each
            # row's pay blobs are standalone), row-order concat == the
            # occurrence order of `freqs`, then the same keep mask. Rows of
            # non-payload fields (mixed multi-field index) carry null pay
            # blobs: their occurrences get b'' placeholders and the output
            # row's pay columns are nulled back out below.
            pay_lens = t["pay_lens"].to_pylist()
            payloads = t["payloads"].to_pylist()
            pays = []
            for i in range(n_rows):
                f_row = freqs[row_starts[i] : row_starts[i] + counts[i]]
                if pay_lens[i] is not None:
                    pays.append(decode_payloads(pay_lens[i], payloads[i], f_row))
                else:
                    pays.append(np.full(int(f_row.sum()), b"", dtype=object))
            flat_pay = (
                np.concatenate(pays) if pays else np.empty(0, dtype=object)
            )
            lb, db = encode_payloads_batch(
                kept_freqs, flat_pay[np.repeat(keep, freqs)], lengths
            )
            # an output term's rows all come from one field (term_change
            # splits on field), so the representative input row decides
            src_has_pay = t["pay_lens"].is_valid().to_numpy()[src]
            cols["pay_lens"] = pa.array(
                [b if src_has_pay[j] else None for j, b in enumerate(lb)],
                pa.binary(),
            )
            cols["payloads"] = pa.array(
                [b if src_has_pay[j] else None for j, b in enumerate(db)],
                pa.binary(),
            )
        return pa.table(cols, schema=arrow_out)

    in_schema = arrow_out.remove(0)  # segment_id: the path
    # the plan holds the inputs' (term, weight) rows on the driver: O(term
    # rows), never O(postings)
    w = read_inputs(
        index_dir, seg_ids, in_schema, ["term", "docs_count", "total_tf"]
    )
    ranges = term_ranges(
        w["term"],
        w["docs_count"].to_numpy().astype(np.int64) + w["total_tf"].to_numpy(),
        RANGE_BUDGET,
    )

    def merge_task(batches):
        # spark.range hands each task a contiguous run of range ids: one
        # read of its whole term block from every input, then one
        # merge_range per range
        ids = np.concatenate([b["id"].to_numpy() for b in batches])
        first, last = int(ids.min()), int(ids.max())
        lo, hi = ranges[first][0], ranges[last][1]
        flt = ds.field("term") >= lo
        if hi is not None:
            flt &= ds.field("term") < hi
        block = read_inputs(index_dir, seg_ids, in_schema, flt=flt).sort_by("term")
        # Arrow sorts and Python compares strings in UTF-8 byte order
        cuts = np.searchsorted(
            block["term"].to_numpy(zero_copy_only=False),
            [r[0] for r in ranges[first + 1 : last + 1]],
        ).tolist()
        for i, j in zip([0, *cuts], [*cuts, block.num_rows]):
            yield from merge_range(block.slice(i, j - i)).to_batches()

    if ranges:
        spark.range(
            len(ranges),
            numPartitions=min(len(ranges), spark.sparkContext.defaultParallelism),
        ).mapInArrow(merge_task, schema=out_schema).write.mode(
            "append"
        ).partitionBy("segment_id").parquet(f"{index_dir}/segments")

    # docmeta remap: DISTRIBUTED dense renumber (no driver collect) — live
    # docs get ``base_offset + row_number() over (segment, order by doc_id)``,
    # exactly the kernel's searchsorted arithmetic over dense ids
    dm_src = (
        spark.read.schema(docmeta_schema(extra_names))
        .parquet(f"{index_dir}/docmeta")
        .filter(F.col("segment_id").isin(list(seg_ids)))
    )
    if deleted:
        # an anti-join needs no dropDuplicates of the tombstones
        dels = spark.read.schema(DELETES_SCHEMA).parquet(f"{index_dir}/deletes")
        dm_src = dm_src.join(
            F.broadcast(dels), ["segment_id", "doc_id"], "anti"
        )
    base_map = F.create_map(
        *[F.lit(x) for sid in seg_ids for x in (sid, bases[sid])]
    )
    rn = F.row_number().over(
        Window.partitionBy("segment_id").orderBy("doc_id")
    )
    dm_new = (
        dm_src.withColumn(
            "new_doc_id",
            (base_map[F.col("segment_id")] + rn).cast("int"),
        )
        .withColumn("doc_id", F.col("new_doc_id"))
        .drop("new_doc_id")
        .withColumn("segment_id", F.lit(new_id).cast("int"))
    )
    dm_new.write.mode("append").partitionBy("segment_id").parquet(
        f"{index_dir}/docmeta"
    )

    rec = segment_stats(
        spark, index_dir, [new_id], man.field_name, extra_names,
        lineage={
            "merged_from": list(seg_ids),
            "fan_in": len(seg_ids),
            "generation": 1 + max(
                by_id[s]["lineage"].get("generation", 0) for s in seg_ids
            ),
        },
    )[new_id]
    write_checkpoint(index_dir, rec)
    new_segments = [s for s in man.segments if s["segment_id"] not in seg_ids]
    write_manifest(index_dir, replace(man, segments=new_segments + [rec]))
    if cleanup:
        reset_segments(index_dir, seg_ids)
        for sid in seg_ids:
            p = f"{index_dir}/checkpoints/seg-{sid:06d}.json"
            if os.path.exists(p):
                os.remove(p)
        # the purged tombstones stay in the deletes table: segment ids are
        # never reused (new ids start above every live id), so they match
        # no live doc, and leaving the table alone leaves no crash window
        # in which other segments' tombstones are lost
    bc.unpersist()
    return {
        "new_segment_id": new_id,
        "fan_in": len(seg_ids),
        "docs": rec["docs"],
        "terms": rec["terms"],
        "postings_bytes": rec["postings_bytes"],
    }


#: ConsolidationPolicy registry (`index_utils.cpp` MakePolicy overloads).
POLICIES = {
    "tier": plan_tier,
    "bytes": plan_bytes,
    "bytes_accum": plan_bytes_accum,
    "count": plan_count,
    "docs_live": plan_docs_live,
    "docs_fill": plan_docs_fill,
}


def consolidate(
    spark: SparkSession,
    index_dir: str,
    max_rounds: int = 10,
    policy: str = "tier",
    **policy_kwargs,
) -> list[dict]:
    """Run merges under the named policy until no candidate batch remains."""
    plan = POLICIES[policy]
    out = []
    for _ in range(max_rounds):
        man = read_manifest(index_dir)
        if man is None:
            raise FileNotFoundError(f"no manifest in {index_dir}")
        batch = plan(man.segments, **policy_kwargs)
        if not batch or len(batch) < 2:
            break
        out.append(merge_segments(spark, index_dir, batch))
    return out
