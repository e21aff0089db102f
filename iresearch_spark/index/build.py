"""Index build: corpus -> per-segment inverted index tables + manifest.

Spark-first reading of the reference indexing dataflow
(`core/index/segment_writer.cpp` + `core/index/field_data.cpp:985-1162`):

- segment assignment: ``crc32(repo \\0 path \\0 commit) % num_segments`` —
  deterministic and parallelism-invariant, so doc ids survive task retries and
  resume (the reference's per-thread segment sharding, made reproducible).
- dense per-segment ``doc_id`` starting at 1 (`core/utils/type_limits.hpp:45-47`)
  via ``row_number() over (partition by segment order by repo, path, commit)``.
- one invert kernel (:func:`invert`), run per segment by a grouped Arrow
  UDF = the invert→flush pipeline (`field_data::invert` :985-1080 + flush
  :1124-1162): Arrow dictionary-encodes the tokens and byte-sorts the terms,
  numpy builds the postings, and it emits one row per term with a
  bit-packed posting blob (:mod:`iresearch_spark.codec.packed`), block
  offsets and block-max (WAND) metadata. An analyzer with a Catalyst twin
  tokenizes JVM-side and ships token strings through Arrow; any other
  analyzer tokenizes in the Python task. Both feed the same kernel.
- ``docmeta`` table = docmap + norms in one: identity, sha256 invariant,
  Norm2 ``dl`` (raw token count, `core/index/norm.hpp:135-142`), computed
  JVM-side with ``regexp_extract_all`` where the analyzer has a Catalyst
  twin (it must agree with the kernel's token counts; tested).
- waves = commit generations: segments are built in bounded batches; each wave
  ends with per-segment checkpoints + an atomic manifest publish
  (`index_writer.cpp:2360-2380` two-phase commit). Resume skips checkpointed
  segments and reproduces a byte-identical manifest.

Scale notes (100 TB / 1000 executors): the only wide exchange is the hash
shuffle on ``segment_id`` (reused logically by the window sort and the grouped
UDF); ``num_segments`` bounds per-task memory exactly like the reference's
``segment_docs_max`` (`index_writer.hpp:122-139`). Everything downstream of
the shuffle is embarrassingly parallel per segment.
"""

from __future__ import annotations

import base64
import os
import shutil
import time
from dataclasses import replace
from typing import Iterable

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from iresearch_spark.analysis import (
    CODE_TOKEN_PATTERN,
    CODE_TOKEN_PATTERN_CI,
    get_analyzer,
    get_payload_analyzer,
    is_payload_analyzer,
)
from iresearch_spark.codec import (
    encode_payloads_batch,
    encode_span_payloads_batch,
)
from iresearch_spark.codec.packed import (
    encode_positions_batch,
    encode_postings_batch,
)
from iresearch_spark.index.manifest import (
    Manifest,
    read_checkpoints,
    read_manifest,
    write_checkpoint,
    write_manifest,
)

SEGMENTS_SCHEMA = (
    "segment_id int, field string, term string, docs_count int, total_tf long, "
    "postings binary, block_offsets array<long>, last_docs array<long>, "
    "max_freqs array<long>, min_norms array<long>, "
    "positions binary, pos_offsets array<long>"
)

# Payload-bearing variant (IndexFeatures::PAY): two extra binary columns —
# varint sizes stream + raw data buffer, the reference's pay_sizes/pay_buf
# split (`formats_10.cpp:230-265`). Non-payload readers keep using
# SEGMENTS_SCHEMA: parquet column pruning never touches the pay bytes, the
# same economics as the reference's separate .pay file.
SEGMENTS_PAY_SCHEMA = SEGMENTS_SCHEMA + ", pay_lens binary, payloads binary"

DOCMETA_SCHEMA = (
    "segment_id int, doc_id int, repo string, path string, commit string, "
    "lang string, content_sha256 string, dl int"
)


def segment_expr(num_segments: int):
    """Deterministic segment assignment; replicable in plain Python (oracle)."""
    key = F.concat_ws("\x00", F.col("repo"), F.col("path"), F.col("commit"))
    return F.pmod(F.crc32(key), F.lit(num_segments)).cast("int")


def assign_doc_ids(
    corpus: DataFrame, num_segments: int,
    sort_by: list[str] | None = None, base: int = 0,
) -> DataFrame:
    """Dense per-segment doc ids. ``sort_by`` is the PLUGGABLE primary sort
    (the reference's sorted-index comparator, `core/index/comparer.hpp`):
    doc ids ascend by these columns within each segment, with the identity
    triple appended as tiebreak so assignment stays a total order
    (determinism/resume invariant). ``base`` shifts the segment ids, so a
    micro-batch's segments sit above the index's existing ones."""
    order = list(sort_by or []) + ["repo", "path", "commit"]
    w = Window.partitionBy("segment_id").orderBy(*order)
    return corpus.withColumn(
        "segment_id", segment_expr(num_segments) + F.lit(base)
    ).withColumn("doc_id", F.row_number().over(w))


# Analyzers with a JVM (Catalyst expression) twin. When available, the build
# tokenizes JVM-side and the kernel receives each doc's tokens as an Arrow
# string array, which it dictionary-encodes without making a Python string
# object per token: millions of those per partition hit a memory-bandwidth
# wall (measured: a kernel that allocates them stops scaling at ~8
# concurrent workers).
JVM_TOKENIZERS = {
    "code": lambda col: F.regexp_extract_all(
        F.lower(F.coalesce(col, F.lit(""))), F.lit(CODE_TOKEN_PATTERN), F.lit(0)
    ),
}
JVM_TOKENIZERS["segmentation"] = JVM_TOKENIZERS["code"]

# Payload analyzers whose token SPANS are computable JVM-side: the same
# regexp drives regexp_extract_all (tokens, original case) and split (the
# n+1 inter-token gaps); per-token char spans follow from cumulative
# gap/token lengths — the technique the ft_stored_offsets DuckDB oracle
# already validates char-exact. The kernel then sees Arrow token strings
# plus integer gap/token lengths, keeping the OFFS-enabled build on the same
# memory-bandwidth profile as the plain JVM build (no per-row re.finditer +
# struct.pack).
JVM_SPAN_TOKENIZERS = {"code_offsets": CODE_TOKEN_PATTERN_CI}


def make_dl_expr(analyzer: str, column: str = "content"):
    """Per-doc token count (the Norm2 ``dl``) under the BUILD analyzer —
    must match what the invert kernel counts, or BM25 norms are wrong.
    JVM expression when a Catalyst twin exists, else an Arrow UDF running
    the same Python analyzer."""
    if analyzer in JVM_TOKENIZERS:
        return F.size(JVM_TOKENIZERS[analyzer](F.col(column)))
    if analyzer in JVM_SPAN_TOKENIZERS:
        # token count is case-invariant: the CI pattern over the original
        # text yields exactly the tokens the payload analyzer lowercases
        return F.size(
            F.regexp_extract_all(
                F.coalesce(F.col(column), F.lit("")),
                F.lit(JVM_SPAN_TOKENIZERS[analyzer]),
                F.lit(0),
            )
        )
    if is_payload_analyzer(analyzer):
        pfn = get_payload_analyzer(analyzer)

        @F.pandas_udf("int")
        def dl_pay_udf(s: pd.Series) -> pd.Series:
            if s.dtype == object:
                s = s.fillna("")
            toks, _ = pfn(s)
            return toks.str.len().astype("int32")

        return dl_pay_udf(F.col(column))
    fn = get_analyzer(analyzer)
    # no string coalesce for null-sensitive analyzers: `numeric` (non-object
    # dtype, naturally skipped), `boolean`/`null` whose whole job is to
    # distinguish NULL from a value (a bool column with NULLs arrives as
    # object dtype, so the fillna('') would mask them), and the whole-value
    # analyzers (identity/norm/collation) where NULL = absent field = zero
    # tokens — a fillna here would count a phantom empty-string token and
    # corrupt the Norm2 dl for missing-field docs
    fill_nulls = analyzer not in (
        "boolean", "null", "identity", "norm", "collation"
    )

    @F.pandas_udf("int")
    def dl_udf(s: pd.Series) -> pd.Series:
        if fill_nulls and s.dtype == object:
            s = s.fillna("")
        return fn(s).str.len().astype("int32")

    return dl_udf(F.col(column))


def arrow_schema(ddl: str) -> pa.Schema:
    """The Arrow twin of a segments DDL schema (the invert kernel's output)."""
    types = {
        "int": pa.int32(), "long": pa.int64(), "string": pa.string(),
        "binary": pa.binary(), "array<long>": pa.list_(pa.int64()),
    }
    return pa.schema([(n, types[t]) for n, t in map(str.split, ddl.split(", "))])


def invert(
    segment_id: int,
    field: str,
    doc_ids: np.ndarray,
    toks: pa.ListArray,
    with_positions: bool,
    span_lens: tuple[np.ndarray, np.ndarray] | None = None,
    payloads: pa.Array | None = None,
) -> pa.Table:
    """One segment's tokens -> one row per term with encoded postings, terms
    in UTF-8 byte order (the reference keys postings by the term bytes and
    sorts them at flush, `field_data.cpp:985-1080`, `:1145-1148`).

    ``toks`` holds each doc's token list (list<string>, aligned with
    ``doc_ids``); a token's position is its list ordinal. Term ids come
    from ``pc.dictionary_encode`` and their order from ``pc.sort_indices``,
    so the term strings stay in Arrow: no token becomes a Python ``str``.
    A payload field (SEGMENTS_PAY_SCHEMA) passes one per-token payload:
    ``span_lens`` = (gap before the token, token) char lengths, from which
    each token's stored-OFFS char span is rebuilt, or ``payloads`` =
    arbitrary bytes (binary). Payloads imply positions (the pay stream is
    position-aligned, `field_data.cpp:79-96`)."""
    with_pay = span_lens is not None or payloads is not None
    schema = arrow_schema(SEGMENTS_PAY_SCHEMA if with_pay else SEGMENTS_SCHEMA)
    counts = pc.list_value_length(toks).to_numpy().astype(np.int64)
    flat = toks.flatten()
    total = len(flat)
    if total == 0:
        return schema.empty_table()
    doc_rep = np.repeat(doc_ids, counts)
    doc_starts = np.cumsum(counts) - counts
    pos = np.arange(total, dtype=np.int64) - np.repeat(doc_starts, counts)

    enc = pc.dictionary_encode(flat)
    term_order = pc.sort_indices(enc.dictionary)
    rank = np.empty(len(term_order), dtype=np.int64)
    rank[term_order.to_numpy()] = np.arange(len(term_order))
    sort_key = rank[enc.indices.to_numpy()]
    order = np.lexsort((doc_rep, sort_key))  # stable: keeps pos ascending
    sc, sd, sp = sort_key[order], doc_rep[order], pos[order]

    posting_start = np.empty(total, dtype=bool)
    posting_start[0] = True
    posting_start[1:] = (sc[1:] != sc[:-1]) | (sd[1:] != sd[:-1])
    pstarts = np.flatnonzero(posting_start)
    freqs = np.diff(np.append(pstarts, total))
    p_docs = sd[pstarts]
    p_terms = sc[pstarts]

    term_start_mask = np.empty(pstarts.size, dtype=bool)
    term_start_mask[0] = True
    term_start_mask[1:] = p_terms[1:] != p_terms[:-1]
    tstarts = np.flatnonzero(term_start_mask)
    term_lengths = np.diff(np.append(tstarts, pstarts.size))
    n_terms = term_lengths.size

    dl_lookup = np.zeros(int(doc_ids.max()) + 1, dtype=np.int64)
    dl_lookup[doc_ids] = counts
    longs = pa.list_(pa.int64())
    cols = {
        "segment_id": pa.array(np.full(n_terms, segment_id, dtype=np.int32)),
        "field": pa.repeat(pa.scalar(field, pa.string()), n_terms),
        # every distinct token is a term: the sorted dictionary is the terms
        "term": enc.dictionary.take(term_order).cast(pa.string()),
        "docs_count": pa.array(term_lengths.astype(np.int32)),
        "total_tf": pa.array(np.add.reduceat(freqs, tstarts)),
        **encode_postings_batch(
            p_docs, freqs, dl_lookup[p_docs], term_lengths
        ).columns("postings"),
        "positions": pa.nulls(n_terms, pa.binary()),
        "pos_offsets": pa.nulls(n_terms, longs),
    }
    if with_positions or with_pay:
        cols.update(
            encode_positions_batch(freqs, sp, term_lengths).columns("positions")
        )
    if span_lens is not None:
        gaps, lens = span_lens
        # within-doc cumulative sum of (gap + token) lengths is each
        # token's END char offset; start = end - token length
        cs = np.cumsum(gaps + lens)
        ends = cs - np.repeat(np.concatenate([[0], cs])[doc_starts], counts)
        lb, db = encode_span_payloads_batch(
            freqs, (ends - lens)[order], ends[order], term_lengths
        )
    elif payloads is not None:
        lb, db = encode_payloads_batch(
            freqs,
            payloads.take(pa.array(order)).to_numpy(zero_copy_only=False),
            term_lengths,
        )
    if with_pay:
        cols["pay_lens"] = pa.array(lb, pa.binary())
        cols["payloads"] = pa.array(db, pa.binary())
    return pa.table(cols, schema=schema)


def make_seg_builder(
    spark: SparkSession,
    analyzer: str,
    field: str,
    with_positions: bool,
    out_partitions: int | None = None,
    column: str | None = None,
):
    """Returns seg_builder(sub) -> segments DataFrame (SEGMENTS_SCHEMA, or
    SEGMENTS_PAY_SCHEMA for a payload analyzer), one row per (segment,
    term), sorted by term within each segment.

    ``column`` is the source column to analyze (defaults to the field name —
    index field names mirror source columns). Every analyzer ends in the one
    :func:`invert` kernel, run per segment by ``applyInArrow``. An analyzer
    with a Catalyst twin (``JVM_TOKENIZERS``, ``JVM_SPAN_TOKENIZERS``)
    tokenizes JVM-side, once, and ships each doc's token array through
    Arrow; any other analyzer tokenizes in the Python task."""
    column = column or field
    with_pay = is_payload_analyzer(analyzer)
    schema = SEGMENTS_PAY_SCHEMA if with_pay else SEGMENTS_SCHEMA

    def keys(t: pa.Table) -> tuple[int, str, np.ndarray]:
        """invert's leading arguments for one segment's input table."""
        return (
            t["segment_id"][0].as_py(), field,
            t["doc_id"].to_numpy().astype(np.int64),
        )

    if analyzer in JVM_TOKENIZERS:

        def tokenize(sub: DataFrame) -> DataFrame:
            return sub.select(
                "segment_id", "doc_id",
                JVM_TOKENIZERS[analyzer](F.col(column)).alias("toks"),
            )

        def run(t: pa.Table) -> pa.Table:
            return invert(*keys(t), t["toks"].combine_chunks(), with_positions)

    elif analyzer in JVM_SPAN_TOKENIZERS:

        def tokenize(sub: DataFrame) -> DataFrame:
            # materialize the token array once per doc (a named column —
            # putting the regexp expression inline next to transform makes
            # Catalyst re-evaluate it per produced row; measured 10x
            # slowdown). Tokens in ORIGINAL case (spans refer to the
            # original text) + the n+1 inter-token gaps; lower per token
            # afterwards — the twin of code_offsets_analyzer's finditer pass
            pat = JVM_SPAN_TOKENIZERS[analyzer]
            raw = F.coalesce(F.col(column), F.lit(""))
            pre = sub.select(
                "segment_id",
                "doc_id",
                F.regexp_extract_all(raw, F.lit(pat), F.lit(0)).alias("toks_ci"),
                F.split(raw, pat, -1).alias("gaps"),
            )
            return pre.select(
                "segment_id",
                "doc_id",
                F.expr("transform(toks_ci, t -> lower(t))").alias("toks"),
                F.expr(
                    "transform(slice(gaps, 1, size(toks_ci)), g -> length(g))"
                ).alias("gls"),
                F.expr("transform(toks_ci, t -> length(t))").alias("tls"),
            )

        def run(t: pa.Table) -> pa.Table:
            gls, tls = (
                t[c].combine_chunks().flatten().to_numpy().astype(np.int64)
                for c in ("gls", "tls")
            )
            return invert(
                *keys(t), t["toks"].combine_chunks(), with_positions,
                span_lens=(gls, tls),
            )

    else:
        fn = get_payload_analyzer(analyzer) if with_pay else get_analyzer(analyzer)

        def tokenize(sub: DataFrame) -> DataFrame:
            return sub.select(
                "segment_id", "doc_id", F.col(column).alias("content")
            )

        def run(t: pa.Table) -> pa.Table:
            content = t["content"].to_pandas()
            tokens, pays = fn(content) if with_pay else (fn(content), None)
            return invert(
                *keys(t), pa.array(tokens, pa.list_(pa.string())),
                with_positions,
                payloads=(
                    None if pays is None
                    else pa.array(pays, pa.list_(pa.binary())).flatten()
                ),
            )

    def build(sub: DataFrame) -> DataFrame:
        out = tokenize(sub).groupBy("segment_id").applyInArrow(run, schema=schema)
        # explicit partition count: AQE would coalesce the small-by-bytes
        # kernel output into a couple of partitions, serializing the (CPU
        # heavy) parquet encode of the blob/array columns into 1-2 tasks.
        # One task per segment also yields the one-file-per-segment layout.
        n_out = out_partitions or spark.sparkContext.defaultParallelism
        return out.repartition(n_out, "segment_id").sortWithinPartitions(
            "segment_id", "term"
        )

    return build


def docmeta_schema(extra_fields: Iterable[str] = ()) -> str:
    """DOCMETA_SCHEMA plus per-secondary-field norm columns ``dl_<name>``."""
    extras = "".join(f", dl_{name} int" for name in extra_fields)
    return DOCMETA_SCHEMA + extras


def field_writers(
    spark: SparkSession,
    fields: list[tuple[str, str]],
    with_positions: bool,
    out_partitions: int | None = None,
) -> list[tuple[str, object, object]]:
    """[(name, seg_builder, dl_expr)] for the field specs [(name, analyzer),
    ...]; the first entry is the primary field (norm column ``dl``), the
    others are secondary fields (norm columns ``dl_<name>``)."""
    return [
        (
            name,
            make_seg_builder(
                spark, az, name, with_positions, out_partitions=out_partitions
            ),
            make_dl_expr(az, name),
        )
        for name, az in fields
    ]


def new_manifest(
    fields: list[tuple[str, str]],
    with_positions: bool,
    num_segments: int = 0,
    sort_by: list[str] | None = None,
    commit_payload: bytes | None = None,
) -> Manifest:
    """The manifest of an index over ``fields`` with no segments yet."""
    field, analyzer = fields[0]
    return Manifest(
        format_version=1,
        num_segments=num_segments,
        field_name=field,
        analyzer=analyzer,
        with_positions=with_positions,
        segments=[],
        fields=[[n, a] for n, a in fields] if len(fields) > 1 else None,
        sort=list(sort_by) if sort_by else None,
        with_payloads=any(is_payload_analyzer(a) for _, a in fields),
        commit_payload=(
            base64.b64encode(commit_payload).decode("ascii")
            if commit_payload is not None
            else None
        ),
    )


def reset_segments(index_dir: str, seg_ids: Iterable[int]) -> None:
    """Delete the docmeta and segments partitions of ``seg_ids``. Every
    writer resets the ids it is about to write, so data left by an attempt
    that died before its publish is never appended to twice; merge also
    uses it to drop the inputs it consumed."""
    for sub in ("docmeta", "segments"):
        for sid in seg_ids:
            shutil.rmtree(
                f"{index_dir}/{sub}/segment_id={sid}", ignore_errors=True
            )


def segment_stats(
    spark: SparkSession,
    index_dir: str,
    seg_ids: list[int],
    field: str,
    extra_names: list[str],
    lineage: dict,
) -> dict[int, dict]:
    """Manifest records of the written segments ``seg_ids``: one driver-side
    collect over their docmeta and segments partitions (the reference
    computes the segment meta as it flushes or merges,
    `segment_writer.hpp:91-119`, `merge_writer.cpp:1862-1890`).
    ``extra_names`` are the secondary fields, whose doc stats go under
    ``fields``. ``terms`` counts distinct (field, term): a merge with
    ``shard_docs`` writes a big term as several rows. Explicit schemas: an
    all-empty wave writes no files, and inference would fail."""
    field_aggs = []
    for name in extra_names:
        c = F.col(f"dl_{name}")
        field_aggs.append(
            F.sum(F.when(c > 0, 1).otherwise(0)).alias(f"dwf_{name}")
        )
        field_aggs.append(F.sum(c).alias(f"ttf_{name}"))
    dstats = (
        spark.read.schema(docmeta_schema(extra_names))
        .parquet(f"{index_dir}/docmeta")
        .filter(F.col("segment_id").isin(seg_ids))
        .groupBy("segment_id")
        .agg(
            F.count("*").alias("docs"),
            F.sum(F.when(F.col("dl") > 0, 1).otherwise(0)).alias(
                "docs_with_field"
            ),
            F.sum("dl").alias("total_term_freq"),
            *field_aggs,
        )
    )
    # hashed by segment_id once, the rows are already clustered for the
    # distinct (field, term) count: one exchange, not two; the postings
    # blobs are reduced to their length and hash before it
    sstats = (
        spark.read.schema(SEGMENTS_SCHEMA).parquet(f"{index_dir}/segments")
        .filter(F.col("segment_id").isin(seg_ids))
        .select(
            "segment_id", "field", "term", "docs_count",
            F.length("postings").alias("nbytes"),
            F.xxhash64("term", "docs_count", "total_tf", "postings").alias("h"),
        )
        .repartition("segment_id")
        .groupBy("segment_id")
        .agg(
            F.countDistinct("field", "term").alias("terms"),
            F.sum("docs_count").alias("sum_doc_freq"),
            F.sum("nbytes").alias("postings_bytes"),
            F.min("term").alias("min_term"),
            F.max("term").alias("max_term"),
            F.expr("bit_xor(h)").alias("content_hash"),
        )
    )
    stats = {
        r["segment_id"]: r.asDict()
        for r in dstats.join(sstats, "segment_id", "left").collect()
    }
    out: dict[int, dict] = {}
    for seg in seg_ids:
        r = stats.get(seg, {})
        rec = {
            "segment_id": seg,
            "field": field,
            "docs": int(r.get("docs") or 0),
            "docs_with_field": int(r.get("docs_with_field") or 0),
            "total_term_freq": int(r.get("total_term_freq") or 0),
            "terms": int(r.get("terms") or 0),
            "sum_doc_freq": int(r.get("sum_doc_freq") or 0),
            "postings_bytes": int(r.get("postings_bytes") or 0),
            "min_term": r.get("min_term"),
            "max_term": r.get("max_term"),
            "content_hash": int(r.get("content_hash") or 0),
            "lineage": dict(lineage),
        }
        if extra_names:
            rec["fields"] = {
                name: {
                    "docs_with_field": int(r.get(f"dwf_{name}") or 0),
                    "total_term_freq": int(r.get(f"ttf_{name}") or 0),
                }
                for name in extra_names
            }
        out[seg] = rec
    return out


def write_segment_wave(
    spark: SparkSession,
    docs: DataFrame,
    index_dir: str,
    pending: list[int],
    writers: list[tuple[str, object, object]],
    lineage: dict,
) -> dict[int, dict]:
    """Reset the pending segment ids, write their docmeta + segment rows,
    then collect per-segment stats and record checkpoints. ``docs`` must
    already carry (segment_id, doc_id); ``writers`` is
    :func:`field_writers`' output. Shared by batch waves and streaming
    batches.

    The reference indexes N fields per doc
    (`core/index/segment_writer.hpp:91-119`): a secondary field's norms
    live in the docmeta column ``dl_<name>`` and its term rows carry
    ``field = name``."""
    reset_segments(index_dir, pending)
    sub = docs.filter(F.col("segment_id").isin(pending))
    (field, seg_builder, dl_expr), *extra = writers

    docmeta = sub.select(
        F.col("segment_id"),
        F.col("doc_id"),
        F.col("repo"),
        F.col("path"),
        F.col("commit"),
        F.col("lang"),
        F.sha2(F.coalesce(F.col("content"), F.lit("")), 256).alias(
            "content_sha256"
        ),
        dl_expr.alias("dl"),
        *(extra_dl.alias(f"dl_{name}") for name, _, extra_dl in extra),
    )
    docmeta.write.mode("append").partitionBy("segment_id").parquet(
        f"{index_dir}/docmeta"
    )

    seg_df = seg_builder(sub)
    for _, extra_builder, _ in extra:
        # allowMissingColumns: a payload field (SEGMENTS_PAY_SCHEMA) can mix
        # with plain fields — the pay columns null-fill on the plain side
        seg_df = seg_df.unionByName(
            extra_builder(sub), allowMissingColumns=True
        )
    seg_df.write.mode("append").partitionBy("segment_id").parquet(
        f"{index_dir}/segments"
    )

    out = segment_stats(
        spark, index_dir, pending, field, [n for n, _, _ in extra], lineage
    )
    for rec in out.values():
        write_checkpoint(index_dir, rec)
    return out


def _plan_waves(num_segments: int, waves: int) -> list[list[int]]:
    ids = list(range(num_segments))
    waves = max(1, min(waves, num_segments))
    size = (num_segments + waves - 1) // waves
    return [ids[i : i + size] for i in range(0, num_segments, size)]


def build_index(
    spark: SparkSession,
    corpus: DataFrame,
    index_dir: str,
    num_segments: int = 16,
    field: str = "content",
    analyzer: str = "code",
    with_positions: bool = True,
    waves: int = 1,
    fail_after_waves: int | None = None,
    resume: bool = False,
    fields: list[tuple[str, str]] | None = None,
    sort_by: list[str] | None = None,
    commit_payload: bytes | None = None,
) -> dict:
    """Build (or resume) the index; returns build metrics.

    ``fields`` = [(source_column, analyzer), ...] indexes several fields per
    doc (title+body+path in the reference, `segment_writer.hpp:91-119`); the
    first entry is the primary field and overrides ``field``/``analyzer``.
    ``sort_by`` = primary-sort columns (sorted index, comparer.hpp): doc
    ids ascend by these within each segment.
    ``fail_after_waves`` injects a driver-side failure after N committed waves
    (for the resume test, FIXTURES.md F6).
    Postings and positions are always written in the bit-packed format
    (:mod:`iresearch_spark.codec.packed`, `formats_10.cpp:86-131`
    analogue). A resume refuses, with ``ValueError``, an index whose
    published manifest records another format.
    """
    from pyspark import StorageLevel

    if resume:
        read_manifest(index_dir)  # refuses a legacy-format index

    t0 = time.time()
    # One shuffle + in-partition sort assigns segment & doc ids; persist so
    # the two consumers (docmeta write, invert kernel) and per-wave scans
    # reuse it instead of recomputing the upstream lineage. At 100 TB this
    # becomes a staging-table write (same role: pay the exchange once).
    docs = assign_doc_ids(corpus, num_segments, sort_by).persist(
        StorageLevel.MEMORY_AND_DISK
    )

    if not resume and os.path.isdir(index_dir):
        shutil.rmtree(index_dir)
    # a resumed build skips checkpointed segments; a segment written but
    # never checkpointed is rebuilt (write_segment_wave resets its data)
    seg_records: dict[int, dict] = read_checkpoints(index_dir) if resume else {}
    fields = fields or [(field, analyzer)]
    writers = field_writers(
        spark, fields, with_positions, out_partitions=num_segments
    )
    man = new_manifest(
        fields, with_positions, num_segments, sort_by, commit_payload
    )
    committed_waves = 0

    for wave_idx, seg_batch in enumerate(_plan_waves(num_segments, waves)):
        pending = [s for s in seg_batch if s not in seg_records]
        if pending:
            seg_records.update(
                write_segment_wave(
                    spark, docs, index_dir, pending, writers,
                    lineage={"wave": wave_idx, "generation": 0},
                )
            )

        # commit: publish manifest covering everything checkpointed so far
        write_manifest(
            index_dir,
            replace(
                man,
                segments=sorted(
                    seg_records.values(), key=lambda s: s["segment_id"]
                ),
            ),
        )
        committed_waves += 1
        if fail_after_waves is not None and committed_waves >= fail_after_waves:
            raise RuntimeError(
                f"injected failure after {committed_waves} committed waves"
            )

    docs.unpersist()
    total_docs = sum(r["docs"] for r in seg_records.values())
    elapsed = time.time() - t0
    return {
        "docs": total_docs,
        "segments": len(seg_records),
        "terms": sum(r["terms"] for r in seg_records.values()),
        "postings_bytes": sum(r["postings_bytes"] for r in seg_records.values()),
        "elapsed_sec": elapsed,
        "docs_per_sec": total_docs / elapsed if elapsed > 0 else 0.0,
    }
