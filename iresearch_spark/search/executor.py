"""Query execution: prepare (global stats) -> per-segment vectorized kernel.

Mirrors the reference query lifecycle (`core/search/filter.hpp:38-99`,
SURVEY §3.2) Spark-first:

1. **prepare** (driver): rewrite the filter tree, expand multi-term leaves
   against the term dictionary, collect *global* stats — docs_with_field /
   total_term_freq from the manifest, docs_with_term summed over the live
   segments' dictionary rows — and bake per-term-instance score constants
   (c0) exactly like `Scorer::collect` (`bm25.cpp:366-410`). Global, never
   per-segment stats: the rank-identity requirement of
   `term_filter.cpp:92-129`. The dictionary is read on the driver with
   pyarrow (term filter pushed into the read, no Spark job); only Fuzzy
   leaves run a Spark dictionary job (the banded Levenshtein).
2. **execute** (cluster): one Spark task per group of live segments —
   ``spark.range`` over the snapshot's segments in ``min(live segments,
   defaultParallelism)`` partitions, fed to ``mapInPandas``. For each of
   its segments a task reads the postings rows the query needs from
   ``segments/segment_id=S`` with pyarrow (``_read_postings``), and one
   Arrow kernel evaluates the boolean tree with numpy set ops (conjunction
   = intersect1d ordered by cost, disjunction = bincount-union with
   min_match, exclusion = isin mask — SURVEY §2.5) and returns the
   segment-local top-k. Its per-doc side (norms, tombstones) is packed on
   the driver and broadcast once per snapshot (``norms_blob_df``): no
   docmeta scan or norms exchange per query. The kernel then reads the
   (repo, path, commit, lang) identity of its top-k docs only, from its
   own segment's docmeta partition. Executors therefore read ``index_dir``
   through the filesystem: it must be a path every executor sees.
3. **reduce**: global ``orderBy(score desc, segment_id, doc_id).limit(k)``
   over the kernel output (ties broken by ascending docID, like the
   reference test expectations) — a TakeOrderedAndProject with no join and
   no exchange. A top-k query is one Spark job.

Block-max WAND (`formats_10.cpp:2426-2806` wanderator, adapted to a batch
engine): for single-term / flat-disjunction queries the kernel first builds a
dense per-doc score upper bound from the blockmax columns *without touching
posting blobs*, bootstraps a threshold from the highest-upper-bound candidate
docs, then decodes only blocks that can contain a top-k doc. Upper-bound
arithmetic runs in float64 with a nextafter margin so pruning can never drop
a doc the exhaustive float32 scorer would keep; WAND-on therefore returns
bit-identical results to WAND-off (tested).

Read-side efficiency: the needed (field, term) set, OR-ed with each
unscored-rest leaf's ``_leaf_expr``, is pushed into each task's pyarrow
read of its segment (segments are written sorted by term, so row groups
prune on their term statistics); the positions/pos_offsets columns are only
selected for positional queries (column pruning == the reference's separate
.pos file).
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from dataclasses import dataclass, field as dc_field
from functools import reduce
from operator import or_
from typing import Any

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iresearch_spark.index.build import DOCMETA_SCHEMA, SEGMENTS_SCHEMA
from iresearch_spark.index.deletes import read_tombstones
from iresearch_spark.index.manifest import read_manifest
from iresearch_spark.search.filters import (
    All,
    And,
    Empty,
    ExistsF,
    Filter,
    Fuzzy,
    damerau_levenshtein,  # noqa: F401 (re-export for callers)
    levenshtein,
)
from iresearch_spark.search.numeric import GranularRange as GranularRangeF
from iresearch_spark.search.filters import (
    NGramSimilarity,
    Not,
    Or,
    Phrase,
    Prefix,
    Proxy as ProxyF,
    SamePosition,
    TermF,
    TermRange,
    TermsF,
    Wildcard,
    rewrite,
)
from iresearch_spark.search.scorers import BM25
from iresearch_spark.util import parquet_files, read_int32


@dataclass
class _Prepared:
    tree: dict
    instances: list[dict]  # {"term": str, "c0": float, "scored": bool}
    needs_positions: bool
    consts: dict
    needed_terms: list[str]
    # (field, leaf) specs whose UNSCORED rest is evaluated executor-side:
    # the leaf predicate is pushed into each segment's postings read and the
    # kernel unions the matching postings per segment — matched terms beyond
    # scored_terms_limit never reach the driver (the reference's bit_union
    # over the sampled-out rest, `multiterm_query.cpp:36-106`)
    rest_specs: list[tuple] = dc_field(default_factory=list)


def _like_body(pattern: str) -> str:
    """Spark SQL LIKE -> unanchored regex body (%% any seq, _ any char,
    backslash escapes — `wildcard_utils.cpp` semantics, same as Spark's
    LIKE), valid in both Python ``re`` and RE2 (pyarrow): a literal ASCII
    punctuation char is written ``\\xhh``."""
    out = []
    i = 0
    while i < len(pattern):
        c = pattern[i]
        if c == "\\":
            if i + 1 >= len(pattern):
                # Spark LIKE raises on a dangling escape; mirror that
                # rather than read it as a literal backslash
                raise ValueError(
                    "the pattern '%s' is invalid: dangling escape" % pattern
                )
            i += 1
            c = pattern[i]
        elif c in "%_":
            out.append(".*" if c == "%" else ".")
            i += 1
            continue
        out.append(c if c.isalnum() or ord(c) > 127 else "\\x%02x" % ord(c))
        i += 1
    return "".join(out)


def _prefix_bounds(prefix: str) -> ds.Expression:
    """``prefix <= term < successor(prefix)``: the range of terms starting
    with ``prefix`` (code-point order == UTF-8 byte order), on which pyarrow
    prunes row groups by their term min/max statistics."""
    term = ds.field("term")
    expr = term >= prefix
    stem = prefix.rstrip("\U0010ffff")
    if stem:
        c = ord(stem[-1]) + 1
        expr = expr & (term < stem[:-1] + chr(0xE000 if 0xD800 <= c < 0xE000 else c))
    return expr


def _like_prefix(pattern: str) -> str:
    """The literal prefix of a LIKE pattern (escapes resolved), up to its
    first unescaped ``%``/``_``."""
    out = []
    i = 0
    while i < len(pattern) and pattern[i] not in "%_":
        if pattern[i] == "\\":
            i += 1
        out.append(pattern[i])
        i += 1
    return "".join(out)


def _leaf_expr(leaf) -> ds.Expression:
    """Term-set predicate of a Prefix/Wildcard/TermRange leaf — the
    driver-side dictionary read, each task's postings read and the kernel's
    unscored rest evaluate it: the exact predicate, AND-ed with a term range
    for row-group pruning.
    Python str comparison is code-point order == UTF-8 byte order, the
    string order of Spark and Arrow."""
    term = ds.field("term")
    if isinstance(leaf, Prefix):
        return _prefix_bounds(leaf.prefix) & pc.starts_with(term, leaf.prefix)
    if isinstance(leaf, Wildcard):
        # not pc.match_like: it misreads an escaped backslash (LIKE a\\\\b%
        # does not match a\\b.py)
        rx = "(?s)^(?:" + _like_body(leaf.pattern) + ")$"
        return _prefix_bounds(_like_prefix(leaf.pattern)) & pc.match_substring_regex(
            term, rx
        )
    if isinstance(leaf, TermRange):
        expr = ds.scalar(True)
        if leaf.min_term is not None:
            expr &= (
                term >= leaf.min_term if leaf.include_min else term > leaf.min_term
            )
        if leaf.max_term is not None:
            expr &= (
                term <= leaf.max_term if leaf.include_max else term < leaf.max_term
            )
        return expr
    raise TypeError(leaf)  # pragma: no cover


def _terms_expr(pairs) -> list[ds.Expression]:
    """One ``field == f & term in (...)`` predicate per field of the
    (field, term) ``pairs``."""
    by_field: dict[str, set[str]] = {}
    for fld, term in pairs:
        by_field.setdefault(fld, set()).add(term)
    return [
        (ds.field("field") == fld) & ds.field("term").isin(sorted(terms))
        for fld, terms in sorted(by_field.items())
    ]


# what the driver reads of a segment's dictionary, what a task reads of its
# postings, and what the kernel reads of its docmeta; explicit schemas: a
# merged segment's files declare ``field`` not-null and a built segment's do
# not
_DICT_SCHEMA = pa.schema(
    [("field", pa.string()), ("term", pa.string()), ("docs_count", pa.int32())]
)
_POSTINGS_SCHEMA = pa.schema(
    [*_DICT_SCHEMA, ("postings", pa.binary())]
    + [(c, pa.list_(pa.int64()))
       for c in ("block_offsets", "last_docs", "max_freqs", "min_norms")]
    + [("positions", pa.binary()), ("pos_offsets", pa.list_(pa.int64()))]
)
_IDENTITY = ("repo", "path", "commit", "lang")
_IDENTITY_SCHEMA = pa.schema(
    [("doc_id", pa.int32())] + [(c, pa.string()) for c in _IDENTITY]
)


def _read_identity(
    index_dir: str, segment_id: int, doc_ids: np.ndarray
) -> pd.DataFrame:
    """(doc_id, repo, path, commit, lang) of ``doc_ids`` from one segment's
    docmeta partition; an empty id list reads nothing."""
    if doc_ids.size == 0:
        return _IDENTITY_SCHEMA.empty_table().to_pandas()
    return pq.read_table(
        f"{index_dir}/docmeta/segment_id={segment_id}",
        schema=_IDENTITY_SCHEMA,
        filters=ds.field("doc_id").isin(doc_ids.tolist()),
    ).to_pandas()


def _read_postings(
    index_dir: str, segment_id: int, prep: _Prepared
) -> pd.DataFrame:
    """The rows of one segment's postings that ``prep`` needs, read with
    pyarrow in the kernel's task: the needed (field, term) set, OR-ed with
    each unscored-rest leaf's ``_leaf_expr``, is pushed into the read, and
    ``positions``/``pos_offsets`` are selected only for positional queries.
    A tree without terms (all, exists) reads nothing."""
    exprs = _terms_expr(prep.needed_terms) + [
        (ds.field("field") == fld) & _leaf_expr(leaf)
        for fld, leaf in prep.rest_specs
    ]
    cols = _POSTINGS_SCHEMA.names
    if not prep.needs_positions:
        cols = cols[:-2]  # positions, pos_offsets
    files = (
        parquet_files(f"{index_dir}/segments/segment_id={segment_id}")
        if exprs else []
    )
    return ds.dataset(files, schema=_POSTINGS_SCHEMA, format="parquet").to_table(
        columns=cols, filter=reduce(or_, exprs, ds.scalar(False))
    ).to_pandas()


def _pack_norms(index_dir: str, segment_id: int, dl_cols: list[str]) -> dict:
    """One segment's norms from its docmeta partition: ``{"ndocs": n,
    col: int32[n] for col in dl_cols}`` (index = doc_id - 1, null -> 0).
    A segment without docmeta rows (an empty wave) packs to ndocs 0."""
    t = read_int32(
        f"{index_dir}/docmeta/segment_id={segment_id}", ["doc_id", *dl_cols]
    )
    if t is None or t.num_rows == 0:
        return {"ndocs": 0, **{c: np.empty(0, np.int32) for c in dl_cols}}
    ids = t["doc_id"].to_numpy().astype(np.int64)
    n = int(ids.max())
    out: dict = {"ndocs": n}
    for c in dl_cols:
        a = np.zeros(n, dtype=np.int32)
        a[ids - 1] = t[c].fill_null(0).to_numpy()
        out[c] = a
    return out


class SearchEngine:
    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        scorer=None,
        generation: int | None = None,
    ):
        """``generation``: point-in-time read of a retained committed
        snapshot (`core/index/index_reader.hpp:35-153` reopens any
        ``segments_N``); None == latest. Every scan is restricted to the
        pinned manifest's segment set, so pre-merge segments retained with
        ``merge_segments(cleanup=False)`` read exactly as committed.
        Tombstones are NOT versioned: the document mask is always the
        current deletes table (documented deviation — the reference
        versions masks per segment meta)."""
        from iresearch_spark.util import LRUCache

        self.spark = spark
        self.index_dir = index_dir
        self.scorer = scorer or BM25()
        self.generation = generation
        # proxy_filter cache: repr(filter) -> persisted full match set.
        # Snapshot semantics: entries bake in the document mask at
        # materialization time; a new manifest publish (delete/merge/commit)
        # invalidates the cache via the stamp check in _search_proxy.
        # Bounded LRU: eviction unpersists the cached match set, so a
        # long-lived reader can't pin unbounded executor storage.
        self._proxy_cache = LRUCache(
            64, on_evict=lambda _k, df: df.unpersist()
        )
        self.proxy_hits = 0
        # term-stats cache: ("t", field, term) -> df and
        # ("l"/"lb", field, leaf) -> [(term, df)] — see _batch_lookup.
        # Bounded LRU (was: crude clear-at-100k) — the reference's analogue
        # is the per-reader term dictionary cache, likewise bounded.
        self._stats_cache = LRUCache(65536)
        # packed norms (see norms_blob_df): per-segment arrays kept across
        # publishes, and this snapshot's broadcasts (dropped on publish)
        self._norms_cache: dict[tuple, dict] = {}
        self._norms_bc: dict[int, Any] | None = None
        # this snapshot's dictionary dataset (pyarrow), built once per
        # manifest stamp so a query does not re-list the segment directories
        self._dict: ds.Dataset | None = None
        # serializes the stamp check/reload so a concurrent reader can't
        # observe a half-reloaded manifest view (long-lived service shape:
        # queries race publishes — tests/test_concurrent_reader.py)
        import threading

        self._stamp_lock = threading.RLock()
        # one build per proxy match set at a time: a second concurrent
        # build of the same set would evict the first's cache entry before
        # its count() materialized it, leaving the materialized blocks
        # persisted with no entry to unpersist them
        self._proxy_lock = threading.RLock()
        self._load_manifest()
        self._manifest_stamp = self._stamp()

    def _load_manifest(self) -> None:
        """(Re)load every manifest-derived attribute: the segment view and
        the per-field GLOBAL stats (multi-field: segment_writer.hpp:91-119;
        primary field stats live at the segment record's top level,
        secondary fields under rec["fields"][name])."""
        m = read_manifest(self.index_dir, self.generation)
        if m is None:
            raise FileNotFoundError(f"no manifest in {self.index_dir}")
        self.manifest = m
        self._seg_ids = sorted(int(s["segment_id"]) for s in m.segments)
        self.field = m.field_name
        self.field_stats: dict[str, tuple[int, int]] = {}
        for name, _az in m.field_specs():
            if name == m.field_name:
                dwf = sum(s["docs_with_field"] for s in m.segments)
                ttf = sum(s["total_term_freq"] for s in m.segments)
            else:
                dwf = sum(
                    s.get("fields", {}).get(name, {}).get("docs_with_field", 0)
                    for s in m.segments
                )
                ttf = sum(
                    s.get("fields", {}).get(name, {}).get("total_term_freq", 0)
                    for s in m.segments
                )
            self.field_stats[name] = (dwf, ttf)
        self.docs_with_field, self.total_term_freq = self.field_stats[self.field]

    def _check_stamp(self) -> None:
        """React to a new manifest publish since the last check: drop the
        snapshot-scoped caches (proxy match sets, term stats, norms, the
        dictionary dataset) and — for a
        live (non-pinned) engine — reload the manifest-derived segment view
        and global stats, so a long-lived reader sees new commits and
        merges (the reference's reopen). A generation-pinned engine keeps
        its immutable segment view (point-in-time semantics) but still
        drops caches: the document mask is unversioned, so a delete publish
        must not be served from stale match sets."""
        with self._stamp_lock:
            stamp = self._stamp()
            if stamp != self._manifest_stamp:
                self.clear_proxy_cache()
                self._stats_cache.clear()
                self._release_norms()
                self._dict = None
                if self.generation is None:
                    self._load_manifest()
                self._manifest_stamp = stamp

    def _stamp(self) -> tuple:
        """(mtime_ns, size) of the manifest file this engine reads — cheap
        change detector for cache invalidation on manifest publish.

        Generation-pinned (point-in-time) engines additionally track the
        LIVE manifest.json: the deletes mask is unversioned (always
        current), so a mark_deleted publish — which rewrites manifest.json
        but never the retained gen-N file — must still invalidate proxy
        match sets materialized under the old mask."""
        from iresearch_spark.index.manifest import (
            generation_path,
            manifest_path,
        )

        live = os.stat(manifest_path(self.index_dir))
        if self.generation is None:
            return (live.st_mtime_ns, live.st_size)
        pinned = os.stat(generation_path(self.index_dir, self.generation))
        return (
            pinned.st_mtime_ns,
            pinned.st_size,
            live.st_mtime_ns,
            live.st_size,
        )

    def _seg_filter(self, df: DataFrame) -> DataFrame:
        """Restrict a per-segment table scan to the pinned manifest's
        segment set — partition pruning on the segment_id partition column,
        and the correctness guard that makes retained (merged-away or
        not-yet-committed) segment directories invisible."""
        return df.filter(F.col("segment_id").isin(self._seg_ids))

    def _resolve_field(self, name: str) -> str:
        """Leaf field resolution: only the legacy default 'content' falls
        back to the primary field (filter dataclasses default to
        field_name='content'); any other unknown name is a user error and
        raises instead of silently searching the primary field."""
        if name in self.field_stats:
            return name
        if name == "content":
            return self.field
        raise KeyError(
            f"unknown field {name!r}; indexed fields: "
            f"{sorted(self.field_stats)}"
        )

    # ------------------------------------------------------------- helpers
    def _read_dictionary(self, expr: ds.Expression) -> pa.Table:
        """(field, term, df) of the live segments' dictionary rows matching
        ``expr``, df summed over segments and term shards — read on the
        driver with pyarrow, no Spark job. Segments are written sorted by
        term, so the term bounds in ``expr`` prune row groups."""
        with self._stamp_lock:
            self._check_stamp()
            if self._dict is None:
                files = [
                    f
                    for sid in self._seg_ids
                    for f in parquet_files(
                        f"{self.index_dir}/segments/segment_id={sid}"
                    )
                ]
                self._dict = ds.dataset(files, schema=_DICT_SCHEMA, format="parquet")
            dictionary = self._dict
        t = dictionary.to_table(filter=expr)
        t = t.group_by(["field", "term"]).aggregate([("docs_count", "sum")])
        return t.rename_columns(
            ["df" if c == "docs_count_sum" else c for c in t.column_names]
        )

    def norms_blob_df(self) -> dict[int, Any]:
        """Per-SEGMENT packed norms of this snapshot: segment_id -> one
        ``SparkContext.broadcast`` of ``{"ndocs", "dl"[, "dl_<field>"...],
        "deleted_ids"}`` — dense per-doc token counts, an int32 array per
        field (index = doc_id - 1; doc ids are dense 1..docs per segment —
        the build/merge invariant), plus the sorted tombstone ids. This is
        the kernel's whole per-doc side: no docmeta scan or exchange per
        query. The reference likewise opens each segment's norms once per
        reader (`core/index/norm.hpp:75-197`) and keeps unchanged segments
        across reopens (`index_reader.hpp:35-153`).

        The driver reads each segment's docmeta partition with pyarrow (no
        Spark job) and caches it by (segment_id, content_hash, docs), so a
        publish packs only segments this reader has not seen; driver cost:
        4 bytes x docs x indexed fields. Each publish re-reads the deletes
        table and broadcasts afresh; old broadcasts are unpersisted, never
        destroyed, so a DataFrame built before the publish still collects
        its own snapshot. (The name predates the broadcast form;
        ``perfbench/trace.py`` wraps it as the executor.norms_blob layer.)"""
        with self._stamp_lock:
            self._check_stamp()
            if self._norms_bc is None:
                extra = sorted(n for n in self.field_stats if n != self.field)
                dl_cols = ["dl"] + [f"dl_{n}" for n in extra]
                cache = {}
                for s in self.manifest.segments:
                    sid = int(s["segment_id"])
                    key = (sid, int(s.get("content_hash") or 0),
                           int(s.get("docs") or 0))
                    cache[key] = self._norms_cache.get(key) or _pack_norms(
                        self.index_dir, sid, dl_cols)
                self._norms_cache = cache  # drops merged-away segments
                dels = read_tombstones(self.index_dir)
                sc = self.spark.sparkContext
                none = np.empty(0, np.int32)
                self._norms_bc = {
                    key[0]: sc.broadcast(
                        {**blob, "deleted_ids": dels.get(key[0], none)}
                    )
                    for key, blob in cache.items()
                }
            return self._norms_bc

    def _release_norms(self) -> None:
        """Unpersist this snapshot's norms broadcasts (not destroy: a plan
        built before a publish may still read them)."""
        if self._norms_bc is not None:
            for bc in self._norms_bc.values():
                bc.unpersist()
            self._norms_bc = None

    def docmeta_df(self) -> DataFrame:
        self._check_stamp()
        return self._seg_filter(
            self.spark.read.schema(DOCMETA_SCHEMA).parquet(
                f"{self.index_dir}/docmeta"
            )
        )

    # columns resident in the docmeta table (stored at index time)
    DOCMETA_STORED = ("repo", "path", "commit", "lang", "content_sha256")

    def stored_fields(
        self,
        hits: DataFrame,
        cols: list[str],
        source: DataFrame | None = None,
        key: tuple[str, ...] = ("repo", "path", "commit"),
    ) -> DataFrame:
        """Columnstore-style stored-field read (`columnstore2.hpp:38-63`
        analogue): resolve matched (segment_id, doc_id) rows — e.g.
        ``search(..., with_identity=False)`` output — to the requested
        stored columns with COLUMN PRUNING. The source table IS the
        columnstore: parquet column chunks play the reference's per-column
        blocks, and the pruned ReadSchema is the analogue of opening only
        the requested columns' streams. Identity-resident columns
        (repo/path/commit/lang/content_sha256) are served straight from
        docmeta; any other column joins ``source`` on the identity ``key``
        (AQE broadcasts whichever side is bounded — a top-k hits side is).

        Returns (segment_id, doc_id, *cols) plus any hit columns (score).

        ``source`` rows must be unique per identity ``key`` (each matched
        doc resolves to exactly one stored row — the columnstore invariant);
        a duplicate-keyed source would silently duplicate hit rows."""
        cols = list(cols)
        reserved = set(hits.columns) | {"segment_id", "doc_id"}
        clash = [c for c in cols if c in reserved]
        if clash:
            raise ValueError(
                f"requested columns {clash} collide with hit/identity "
                "columns; alias them on the hits side first"
            )
        extra = [c for c in cols if c not in self.DOCMETA_STORED]
        ident = [c for c in cols if c not in extra]
        need_key = list(key) if extra else []
        dm = self.docmeta_df().select(
            "segment_id", "doc_id", *dict.fromkeys(ident + need_key)
        )
        out = dm.join(hits, ["segment_id", "doc_id"])
        if extra:
            if source is None:
                raise ValueError(
                    f"columns {extra} are not stored in docmeta; pass the "
                    "source table via source="
                )
            out = out.join(source.select(*key, *extra), list(key))
        hit_extras = [
            c for c in hits.columns if c not in ("segment_id", "doc_id")
        ]
        return out.select("segment_id", "doc_id", *cols, *hit_extras)

    def term_payloads(self, term: str, field_name: str = "content") -> DataFrame:
        """Per-position payload read (IndexFeatures::PAY): one row per
        occurrence of ``term`` with the payload bytes the analyzer attached
        at that position (`core/analysis/token_attributes.hpp:67-72`; the
        pos/pay iterator of `formats_10.cpp:1106-1239`). The scan reads the
        pay columns ONLY for the requested term (pushed term filter +
        column pruning = the reference opening the .pay file on demand).

        Returns (segment_id, doc_id, repo, path, commit, pos, payload)."""
        self._check_stamp()
        if not getattr(self.manifest, "with_payloads", False):
            raise ValueError(
                "index was not built with a payload analyzer "
                "(manifest.with_payloads is false)"
            )
        from iresearch_spark.codec import decode_payloads, packed
        from iresearch_spark.index.build import SEGMENTS_PAY_SCHEMA

        fld = self._resolve_field(field_name)
        seg = self._seg_filter(
            self.spark.read.schema(SEGMENTS_PAY_SCHEMA)
            .parquet(f"{self.index_dir}/segments")
            .select(
                "segment_id", "field", "term", "docs_count", "postings",
                "block_offsets", "positions", "pos_offsets",
                "pay_lens", "payloads",
            )
        ).filter((F.col("field") == fld) & (F.col("term") == term))

        def kernel(it):
            # one input row per (segment, term-shard) — a handful of rows,
            # each decoded vectorized; never per-occurrence Python beyond
            # the payload byte-slicing itself (variable-width by nature)
            for pdf in it:
                outs = []
                for r in pdf.itertuples():
                    if r.pay_lens is None:  # field indexed without PAY
                        continue
                    docs, freqs = packed.decode_postings(
                        r.postings,
                        int(r.docs_count),
                        np.asarray(r.block_offsets, dtype=np.int64),
                    )
                    pos = packed.decode_positions(
                        r.positions,
                        freqs,
                        np.asarray(r.pos_offsets, dtype=np.int64)
                        if r.pos_offsets is not None
                        else None,
                    )
                    pay = decode_payloads(r.pay_lens, r.payloads, freqs)
                    outs.append(
                        pd.DataFrame(
                            {
                                "segment_id": np.full(
                                    pos.size, r.segment_id, np.int32
                                ),
                                "doc_id": np.repeat(docs, freqs).astype(
                                    np.int32
                                ),
                                "pos": pos.astype(np.int32),
                                "payload": pay,
                            }
                        )
                    )
                if outs:
                    yield pd.concat(outs)

        out = seg.mapInPandas(
            kernel, schema="segment_id int, doc_id int, pos int, payload binary"
        )
        if os.path.isdir(f"{self.index_dir}/deletes"):
            from iresearch_spark.index.deletes import deletes_df

            out = out.join(
                deletes_df(self.spark, self.index_dir),
                ["segment_id", "doc_id"],
                "left_anti",
            )
        ident = self.docmeta_df().select(
            "segment_id", "doc_id", "repo", "path", "commit"
        )
        return out.join(ident, ["segment_id", "doc_id"])

    def term_offsets(
        self, term: str, field_name: str = "content"
    ) -> DataFrame:
        """Stored OFFS read (`core/analysis/token_attributes.hpp:37-47`):
        for an index built with the ``code_offsets`` analyzer, each
        position's payload is the token's original-text character span
        packed as two big-endian uint32s; this unpacks them entirely
        JVM-side (binary substring → hex → conv) — no Python per row.

        Returns (segment_id, doc_id, repo, path, commit, pos, start_off,
        end_off). Complements `search/highlight.py`'s recompute-at-query
        inversion: this path serves whole-corpus offset export, where
        recomputation would re-analyze every doc."""

        def u32(col, pos):
            return F.conv(
                F.hex(F.expr(f"substring({col}, {pos}, 4)")), 16, 10
            ).cast("int")

        res = self.term_payloads(term, field_name)
        return res.select(
            "segment_id", "doc_id", "repo", "path", "commit", "pos",
            u32("payload", 1).alias("start_off"),
            u32("payload", 5).alias("end_off"),
        )

    @staticmethod
    def _leaf_pred(leaf: Fuzzy):
        """Term-set predicate of a Fuzzy leaf (JVM column expression,
        pushed into its Spark dictionary job). Transposition-aware fuzzy
        (Damerau, levenshtein_filter.hpp:67) over-approximates with
        levenshtein <= 2*d (a transposition costs <=2 plain edits); exact
        Damerau post-filters driver-side."""
        q = leaf.term
        lev_cap = leaf.max_distance * (
            2 if leaf.with_transpositions else 1
        )
        # Options::prefix (levenshtein_filter.hpp:60-66): the automaton
        # is built over prefix+term, so matched terms carry the prefix
        # verbatim and the distance applies to the remainder — here the
        # startswith prune plus the same preds over the suffix
        npfx = len(leaf.prefix)
        if npfx:
            rest = F.col("term").substr(
                F.lit(npfx + 1), F.length("term")
            )
            rest_len = F.length("term") - npfx
        else:
            rest = F.col("term")
            rest_len = F.length("term")
        length_pred = (
            rest_len >= len(q) - leaf.max_distance
        ) & (rest_len <= len(q) + leaf.max_distance)
        if npfx:
            length_pred = (
                F.col("term").startswith(leaf.prefix) & length_pred
            )
        # Alignment prefilter standing in for the reference's parametric
        # Levenshtein-automaton ∩ FST walk (levenshtein_filter.cpp:
        # 137-263), which only touches feasible dictionary prefixes.
        # NOTE a first-character startswith prune would be UNSOUND: an
        # insertion at position 0 ("xspark" vs "spark", d=1) admits ANY
        # first character, so no prefix range can be skipped outright.
        # The sound pigeonhole: if lev(m, q) <= cap, the first cap+1
        # chars of m cannot all be edits (each costs 1), so some m[j]
        # (j <= cap) is an exact MATCH of some q[i] with |i-j| <= cap.
        # That membership test is a handful of substring/IN ops —
        # Catalyst's And short-circuits in codegen, so terms failing it
        # (the overwhelming majority of a big dictionary) never reach
        # the Levenshtein DP at all.
        branches = [
            F.substring(rest, j + 1, 1).isin(
                sorted(set(q[: j + lev_cap + 1]))
            )
            for j in range(lev_cap + 1)
        ]
        # terms shorter than cap+1 chars can be all-edits: let them
        # through to the exact check
        prefilter = (rest_len <= lev_cap) | reduce(or_, branches)
        # banded DP: threshold arg makes levenshtein O(cap*len) and
        # early-exits with -1 past the cap, instead of the full O(len^2)
        lev_ok = F.levenshtein(rest, F.lit(q), lev_cap) > -1
        return length_pred & prefilter & lev_ok

    def _batch_lookup(
        self,
        pairs: set[tuple[str, str]],
        leaves: list[tuple[str, Filter, bool]],
    ) -> tuple[
        dict[tuple[str, str], int],
        dict[tuple[str, Filter, bool], list[tuple[str, int]]],
    ]:
        """Global df of every literal term and the matched terms of every
        multi-term leaf of a query, from ONE driver-side dictionary read
        (``_read_dictionary``): the reference walks its in-memory FST per
        leaf (`core/index/index_reader.hpp:35-153`); we read the live
        segments' (field, term, docs_count) rows with the term filter pushed
        into the parquet read. Fuzzy is the one leaf that still runs a Spark
        dictionary job: its banded Levenshtein predicate is a JVM
        expression (``_leaf_pred``).

        ``leaves`` holds (field, leaf, bounded) keys; a repeated key is
        looked up once. A bounded key (a standalone Prefix/Wildcard/
        TermRange) keeps only the TOP ``scored_terms_limit`` matched terms
        by (df desc, term asc) — the ONLY driver-side materialization for
        such a leaf. Its unscored rest
        never becomes an instance: its predicate is pushed into each
        task's postings read and unioned executor-side
        (`multiterm_query.cpp:36-106` bit_union;
        `limited_sample_collector.hpp:45-244` keeps exactly this bounded
        scored sample). The read holds a leaf's matched (term, df) rows in
        Arrow memory until that sort. Any other key keeps every matched
        term, in term order.

        Returns ``(dfs, matches)``: global docs_count per literal (field,
        term) pair, and the matched (term, df) list per leaf key."""
        # term-stats cache — the analogue of the reference holding its term
        # dictionary (FST + per-term meta) in memory per open reader:
        # repeat lookups of the same literal or multi-term leaf serve from
        # the engine and skip the dictionary read entirely. Stats come from
        # committed segment metadata (tombstones don't rewrite df — same as
        # the reference until a merge purges), so validity is the manifest
        # stamp, shared with the proxy cache via _check_stamp.
        self._check_stamp()
        entry_stamp = self._manifest_stamp
        dfs: dict[tuple[str, str], int] = {}
        matches: dict[tuple[str, Filter, bool], list[tuple[str, int]]] = {}
        miss_pairs: set[tuple[str, str]] = set()
        for p in pairs:
            hit = self._stats_cache.get(("t",) + p)
            if hit is None:
                miss_pairs.add(p)
                dfs[p] = 0
            else:
                dfs[p] = hit

        def cache_key(key: tuple[str, Filter, bool]) -> tuple:
            fld, leaf, bounded = key
            return ("lb" if bounded else "l", fld, leaf)

        miss_leaves: list[tuple[str, Filter, bool]] = []
        fuzzy_leaves: list[tuple[str, Filter, bool]] = []
        for key in dict.fromkeys(leaves):
            hit = self._stats_cache.get(cache_key(key))
            if hit is not None:
                matches[key] = list(hit)  # copy: callers own their list
            elif isinstance(key[1], Fuzzy):
                fuzzy_leaves.append(key)
                matches[key] = []
            else:
                miss_leaves.append(key)

        literal_exprs = _terms_expr(miss_pairs)
        leaf_exprs = [
            (ds.field("field") == fld) & _leaf_expr(leaf)
            for fld, leaf, _bounded in miss_leaves
        ]
        if literal_exprs or leaf_exprs:
            rows = self._read_dictionary(reduce(or_, literal_exprs + leaf_exprs))
            if literal_exprs:
                lit = rows.filter(reduce(or_, literal_exprs))
                for fld, term, df in zip(
                    *(lit[c].to_pylist() for c in ("field", "term", "df"))
                ):
                    dfs[(fld, term)] = df
            for key, expr in zip(miss_leaves, leaf_exprs):
                hit = rows.filter(expr)
                if key[2]:
                    hit = hit.sort_by(
                        [("df", "descending"), ("term", "ascending")]
                    ).slice(0, int(key[1].scored_terms_limit))
                matches[key] = list(
                    zip(hit["term"].to_pylist(), hit["df"].to_pylist())
                )
        if fuzzy_leaves:
            preds = [
                (F.col("field") == fld) & self._leaf_pred(leaf)
                for fld, leaf, _bounded in fuzzy_leaves
            ]
            rows = (
                self._seg_filter(
                    self.spark.read.schema(SEGMENTS_SCHEMA).parquet(
                        f"{self.index_dir}/segments"
                    )
                )
                .filter(reduce(or_, preds))
                .groupBy("field", "term")
                .agg(F.sum("docs_count").alias("df"))
                .select("term", "df", *(p.alias(f"m{j}") for j, p in enumerate(preds)))
                .collect()
            )
            for r in rows:
                for j, key in enumerate(fuzzy_leaves):
                    if r[f"m{j}"]:
                        matches[key].append((r["term"], int(r["df"])))
        # stamp-guarded insert: stats collected under the OLD snapshot must
        # not land in the cache after a concurrent publish's clear
        cacheable = self._manifest_stamp == entry_stamp
        if cacheable:
            for p in miss_pairs:
                self._stats_cache[("t",) + p] = dfs[p]
        for key in miss_leaves + fuzzy_leaves:
            leaf = key[1]
            if isinstance(leaf, Fuzzy) and leaf.with_transpositions:
                npfx = len(leaf.prefix)
                matches[key] = [
                    (t, df_)
                    for t, df_ in matches[key]
                    if damerau_levenshtein(t[npfx:], leaf.term)
                    <= leaf.max_distance
                ]
            if not key[2]:
                matches[key].sort(key=lambda td: td[0])
            if cacheable:
                # store an immutable snapshot so no caller aliasing can
                # corrupt the cache
                self._stats_cache[cache_key(key)] = tuple(matches[key])
        return dfs, matches

    # ------------------------------------------------------------- prepare
    def prepare(self, f: Filter, dtype_name: str = "float32") -> _Prepared:
        dtype = np.float32 if dtype_name == "float32" else np.float64
        f = rewrite(f)
        scorer = self.scorer
        instances: list[dict] = []
        needs_positions = False
        used_fields: set[str] = {self.field}

        fconsts: dict[str, tuple[float, float]] = {}

        def field_nc_nl(fld: str) -> tuple[float, float]:
            """Per-field norm constants (avgdl is a FIELD property)."""
            if fld not in fconsts:
                dwf, ttf = self.field_stats[fld]
                nc, nl = scorer.field_consts(dwf, ttf, dtype)
                fconsts[fld] = (float(nc), float(nl))
            return fconsts[fld]

        # pass 1: collect literal (field, term) pairs + multi-term leaves so
        # that ALL dictionary lookups happen in ONE pushed-down scan.
        # Standalone Prefix/Wildcard/TermRange leaves are BOUNDED: only the
        # top scored_terms_limit terms are collected (the unscored rest is
        # evaluated executor-side via rest_specs). Fuzzy (match set bounded
        # by the edit automaton), phrase slots (need per-term positions) and
        # granular-range tries (bounded by trie width) collect fully.
        literal_pairs: list[tuple[str, str]] = []
        leaf_keys: list[tuple[str, Filter, bool]] = []  # (field, leaf, bounded)

        def collect_terms(node: Filter):
            if isinstance(node, TermF):
                literal_pairs.append(
                    (self._resolve_field(node.field_name), node.term)
                )
            elif isinstance(node, TermsF):
                fld = self._resolve_field(node.field_name)
                literal_pairs.extend((fld, t) for t, _ in node.pairs())
            elif isinstance(node, NGramSimilarity):
                fld = self._resolve_field(node.field_name)
                literal_pairs.extend((fld, t) for t in node.terms)
            elif isinstance(node, SamePosition):
                literal_pairs.extend(
                    (self._resolve_field(fl), t) for fl, t in node.pairs()
                )
            elif isinstance(node, Phrase):
                fld = self._resolve_field(node.field_name)
                for el in node.terms:
                    if isinstance(el, str):
                        literal_pairs.append((fld, el))
                    elif isinstance(el, TermF):
                        literal_pairs.append((fld, el.term))
                    elif isinstance(el, TermsF):
                        literal_pairs.extend((fld, t) for t, _ in el.pairs())
                    elif isinstance(el, (Prefix, Wildcard, TermRange, Fuzzy)):
                        leaf_keys.append((fld, el, False))
                    else:
                        raise TypeError(f"bad phrase element {el!r}")
            elif isinstance(node, (Prefix, Wildcard, TermRange, Fuzzy)):
                fld = self._resolve_field(node.field_name)
                leaf_keys.append((fld, node, not isinstance(node, Fuzzy)))
            elif isinstance(node, GranularRangeF):
                from iresearch_spark.search.numeric import granular_ranges

                fld = self._resolve_field(node.field_name)
                for tr in granular_ranges(
                    node.min_val, node.max_val,
                    include_min=node.include_min,
                    include_max=node.include_max,
                ):
                    leaf_keys.append((fld, tr, False))
            elif isinstance(node, (And, Or)):
                for c in node.children:
                    collect_terms(c)
            elif isinstance(node, Not):
                collect_terms(node.child)

        collect_terms(f)
        dfs, leaf_matches = self._batch_lookup(set(literal_pairs), leaf_keys)
        rest_specs: list[tuple[str, Filter]] = []

        def add_instance(
            fld: str, term: str, df: int, boost: float, scored: bool
        ) -> int:
            used_fields.add(fld)
            nc, nl = field_nc_nl(fld)
            if scored:
                idf = scorer.idf(self.field_stats[fld][0], df, dtype)
                c0 = float(scorer.c0(boost, idf, dtype))
            else:
                c0 = 0.0
            instances.append(
                {
                    "field": fld,
                    "term": term,
                    "c0": c0,
                    "scored": scored,
                    "nc": nc,
                    "nl": nl,
                }
            )
            return len(instances) - 1

        def leaf_terms(fld: str, leaf: Filter) -> list[tuple[str, int]]:
            return leaf_matches[(fld, leaf, False)]

        def expand_multiterm(leaf, boost: float) -> dict:
            fld = self._resolve_field(leaf.field_name)
            if isinstance(leaf, Fuzzy):
                # Fuzzy expands driver-side: the automaton bounds the match
                # set, and exact Damerau post-filtering needs the strings.
                # UNLIKE the sampled multi-term leaves, a positive
                # scored_terms_limit RESTRICTS the match set: the reference
                # routes by_edit_distance through top_terms_collector
                # (levenshtein_filter.cpp:196-221), keeping only the best
                # `limit` terms by (similarity boost, term bytes) — larger
                # wins both — where boost = 1 - d/min(|term|, |target|)
                # (:47-53, :160-162) and target = prefix+term (:178-180).
                # Every kept term is scored; limit=0 keeps all.
                matched = list(leaf_terms(fld, leaf))
                limit = leaf.scored_terms_limit
                if limit and len(matched) > limit:
                    dist_fn = (
                        damerau_levenshtein
                        if leaf.with_transpositions
                        else levenshtein
                    )
                    npfx = len(leaf.prefix)
                    target_size = max(1, npfx + len(leaf.term))

                    def _boost(t: str) -> float:
                        d = dist_fn(t[npfx:], leaf.term)
                        return 1.0 - d / max(1, min(len(t), target_size))

                    matched.sort(
                        key=lambda td: (_boost(td[0]), td[0].encode()),
                        reverse=True,
                    )
                    matched = matched[:limit]
                matched.sort(key=lambda td: (-td[1], td[0]))
                tids = [
                    add_instance(fld, t, df, boost, True)
                    for t, df in matched
                ]
                if not tids:
                    return {"op": "empty"}
                return {"op": "terms", "tids": tids, "min_match": 1}
            # Prefix/Wildcard/TermRange: only the top scored_terms_limit
            # terms (by df desc) were collected — they get scored instances;
            # the UNSCORED REST never reaches the driver: the kernel unions
            # its postings per segment from the pushed-predicate scan
            # (`multiterm_query.cpp:36-106` bit_union)
            used_fields.add(fld)
            scored = leaf_matches[(fld, leaf, True)]
            tids = [add_instance(fld, t, df, boost, True) for t, df in scored]
            rest_specs.append((fld, leaf))
            return {
                "op": "terms",
                "tids": tids,
                "min_match": 1,
                "rest": len(rest_specs) - 1,
            }

        def compile_node(node: Filter, boost: float) -> dict:
            b = boost * node.boost
            if isinstance(node, Empty):
                return {"op": "empty"}
            if isinstance(node, All):
                return {"op": "all", "boost": b}
            if isinstance(node, TermF):
                fld = self._resolve_field(node.field_name)
                tid = add_instance(fld, node.term, dfs[(fld, node.term)], b, True)
                return {"op": "terms", "tids": [tid], "min_match": 1}
            if isinstance(node, TermsF):
                fld = self._resolve_field(node.field_name)
                # per-term boost folds into that term's c0 (c0 is linear in
                # boost, bm25.cpp:319-364), matching the reference's
                # boosted search_terms (terms_filter.hpp:33-100)
                tids = [
                    add_instance(fld, t, dfs[(fld, t)], b * tb, True)
                    for t, tb in node.pairs()
                ]
                return {"op": "terms", "tids": tids, "min_match": node.min_match}
            if isinstance(node, (Prefix, Wildcard, TermRange, Fuzzy)):
                return expand_multiterm(node, b)
            if isinstance(node, GranularRangeF):
                from iresearch_spark.search.numeric import granular_ranges

                fld = self._resolve_field(node.field_name)
                tids = []
                for tr in granular_ranges(
                    node.min_val, node.max_val,
                    include_min=node.include_min,
                    include_max=node.include_max,
                ):
                    tids.extend(
                        add_instance(fld, t, df, b, False)
                        for t, df in leaf_terms(fld, tr)
                    )
                if not tids:
                    return {"op": "empty"}
                # unscored trie-term union; constant score = boost (the
                # reference's by_granular_range-as-filter usage)
                return {
                    "op": "const",
                    "boost": b,
                    "child": {"op": "terms", "tids": tids, "min_match": 1},
                }
            if isinstance(node, NGramSimilarity):
                nonlocal needs_positions
                needs_positions = True
                fld = self._resolve_field(node.field_name)
                tids = [
                    add_instance(fld, t, dfs[(fld, t)], b, False)
                    for t in node.terms
                ]
                return {
                    "op": "ngram_sim",
                    "tids": tids,
                    "threshold": float(node.threshold),
                    "boost": float(b),
                }
            if isinstance(node, SamePosition):
                needs_positions = True
                prs = [
                    (self._resolve_field(fl), t) for fl, t in node.pairs()
                ]
                if not prs:
                    return {"op": "empty"}
                # one SCORED instance per (field, term): the reference
                # compiles a score per child iterator with its own term
                # stats (same_position_filter.cpp:214-217, :160-166) and
                # merges with kSum (:176-181) — unlike a phrase, which
                # accumulates idf into one buffer and scores phrase freq
                tids = [
                    add_instance(fld, t, dfs[(fld, t)], b, True)
                    for fld, t in prs
                ]
                return {"op": "same_pos", "tids": tids}
            if isinstance(node, Phrase):
                needs_positions = True
                fld = self._resolve_field(node.field_name)
                # each phrase slot is a term SET: a plain string (fixed
                # phrase) or a multi-term leaf (variadic phrase,
                # phrase_filter.hpp:38-150 "variadic" case). Slot df for idf
                # = union docs_count of the slot's terms.
                groups: list[list[int]] = []
                slot_dfs: list[int] = []
                for el in node.terms:
                    if isinstance(el, str):
                        slot_terms = [(el, dfs[(fld, el)])]
                    elif isinstance(el, TermF):
                        slot_terms = [(el.term, dfs[(fld, el.term)])]
                    elif isinstance(el, TermsF):
                        slot_terms = [
                            (t, dfs[(fld, t)]) for t, _ in el.pairs()
                        ]
                    elif isinstance(el, (Prefix, Wildcard, TermRange, Fuzzy)):
                        slot_terms = leaf_terms(fld, el)
                    else:
                        raise TypeError(f"bad phrase element {el!r}")
                    groups.append(
                        [add_instance(fld, t, df_, b, False)
                         for t, df_ in slot_terms]
                    )
                    slot_dfs.append(sum(df_ for _, df_ in slot_terms))
                # stats accumulate across slots into one buffer
                # (bm25.cpp:381 `stats->idf +=`): c0 = boost*(k+1)*sum(idf)
                idf_sum = dtype(0.0)
                for df_ in slot_dfs:
                    idf_sum = dtype(
                        idf_sum
                        + self.scorer.idf(self.field_stats[fld][0], df_, dtype)
                    )
                c0 = float(self.scorer.c0(b, idf_sum, dtype))
                nc, nl = field_nc_nl(fld)
                return {"op": "phrase", "groups": groups, "c0": c0,
                        "positions": list(node.positions()),
                        "field": fld, "nc": nc, "nl": nl}
            if isinstance(node, ExistsF):
                if node.prefix_match:
                    # prefix mode (column_existence_filter.cpp:95-127):
                    # kSum disjunction over every indexed field whose name
                    # starts with the prefix, each a const-boost mask
                    # iterator — the columns() seek-and-scan over OUR
                    # field registry (field names stand in for column
                    # names; the prefix is matched literally, no
                    # primary-field aliasing)
                    flds = sorted(
                        fl for fl in self.field_stats
                        if fl.startswith(node.field_name)
                    )
                    if not flds:
                        return {"op": "empty"}
                    used_fields.update(flds)
                    return {
                        "op": "or",
                        "children": [
                            {"op": "exists", "boost": b, "field": fl}
                            for fl in flds
                        ],
                        "min_match": 1,
                        "merge": "sum",
                    }
                fld = self._resolve_field(node.field_name)
                used_fields.add(fld)
                return {"op": "exists", "boost": b, "field": fld}
            if isinstance(node, Or):
                negs = [c for c in node.children if isinstance(c, Not)]
                if negs:
                    # a Not child of an Or excludes from the WHOLE
                    # disjunction, adding one zero-boost all-docs include
                    # per negation ("we do not boost negation") —
                    # group_filters, boolean_filter.cpp:105-128. The
                    # zero-boost alls count toward min_match exactly as
                    # the reference's incl entries do.
                    pos = [
                        c for c in node.children if not isinstance(c, Not)
                    ]
                    inner = {
                        "op": "or",
                        "children": [compile_node(c, b) for c in pos]
                        + [{"op": "all", "boost": 0.0} for _ in negs],
                        "min_match": node.min_match,
                        "merge": node.merge_type,
                    }
                    return {
                        "op": "and",
                        "children": [inner],
                        "excludes": [
                            compile_node(c.child, b) for c in negs
                        ],
                    }
                if all(isinstance(c, TermF) for c in node.children):
                    tids = [
                        add_instance(
                            self._resolve_field(c.field_name),
                            c.term,
                            dfs[(self._resolve_field(c.field_name), c.term)],
                            b * c.boost,
                            True,
                        )
                        for c in node.children
                    ]
                    return {"op": "terms", "tids": tids,
                            "min_match": node.min_match,
                            "merge": node.merge_type}
                return {
                    "op": "or",
                    "children": [compile_node(c, b) for c in node.children],
                    "min_match": node.min_match,
                    "merge": node.merge_type,
                }
            if isinstance(node, And):
                pos, neg = [], []
                for c in node.children:
                    if isinstance(c, Not):
                        neg.append(compile_node(c.child, b))
                    else:
                        pos.append(compile_node(c, b))
                if not pos:
                    pos = [{"op": "all", "boost": b}]
                return {"op": "and", "children": pos, "excludes": neg,
                        "merge": node.merge_type}
            if isinstance(node, Not):
                return {
                    "op": "and",
                    "children": [{"op": "all", "boost": b}],
                    "excludes": [compile_node(node.child, b)],
                }
            raise TypeError(f"cannot compile {node!r}")

        tree = compile_node(f, 1.0)
        needed = sorted({(i["field"], i["term"]) for i in instances})
        return _Prepared(
            tree=tree,
            instances=instances,
            needs_positions=needs_positions,
            consts={
                "dtype": dtype_name,
                "scorer": self.scorer,
                "primary": self.field,
                "fields": sorted(used_fields),
            },
            needed_terms=needed,
            rest_specs=rest_specs,
        )

    # ------------------------------------------------------------- execute
    def search(
        self,
        f: Filter,
        k: int | None = 10,
        wand: bool = True,
        dtype: str = "float32",
        with_identity: bool = True,
    ) -> DataFrame:
        """Top-k (k int) or all-matches (k=None, scores without truncation)."""
        if isinstance(f, ProxyF):
            hits = self._search_proxy(f, dtype)
        else:
            hits = self._run_kernel(
                self.prepare(f, dtype), k, wand and k is not None,
                identity=with_identity,
            )
        return self._finalize(hits, k, with_identity)

    def wand_stats(
        self, f: Filter, k: int = 10, dtype: str = "float32"
    ) -> DataFrame:
        """Diagnostic: per-segment WAND regime + block-decode accounting
        for a top-k query — (segment_id, mode, blocks_total,
        blocks_decoded).
        ``mode`` records which branch the kernel took
        (pruned / full_dense dense-survivor fallback / full_small /
        full_lowmatch, and their and_* conjunction twins; 'exhaustive'
        means the tree wasn't WAND-eligible). blocks_total counts the
        skippable blocks registered by dense_ub (for conjunctions: the
        non-lead children — the lead child decodes whole postings by
        design). The skipped-block ratio 1 - decoded/total is the
        regression-tracked signal behind the ~1.1x dense-corpus worst-case
        guard (bench.py --wand-regimes). Runs through the same kernel
        launch as ``search``, so it has one row per live segment: a
        segment holding none of the query's postings reports
        ('exhaustive', 0, 0)."""
        return self._run_kernel(self.prepare(f, dtype), k, True, stats=True)

    def _run_kernel(
        self,
        prep: _Prepared,
        k: int | None,
        wand: bool,
        stats: bool = False,
        identity: bool = False,
    ) -> DataFrame:
        """The one kernel launch behind ``search`` and ``wand_stats``: the
        snapshot's live segments, spread over ``min(live segments,
        defaultParallelism)`` tasks by ``spark.range``, each run through the
        kernel (``_make_kernel``) with this snapshot's norms broadcasts. No
        exchange: a task reads its segments' postings itself. With
        ``identity`` the kernel also emits the (repo, path, commit, lang)
        of its segment-local top-k."""
        norms = self.norms_blob_df()  # one snapshot: keys = live segments
        seg_ids = sorted(norms)
        if stats:
            schema = ("segment_id int, mode string, blocks_total long, "
                      "blocks_decoded long")
        else:
            score = "float" if prep.consts["dtype"] == "float32" else "double"
            schema = f"segment_id int, doc_id int, score {score}"
            if identity:
                schema += "".join(f", {c} string" for c in _IDENTITY)
        kernel = _make_kernel(prep, k, wand, norms, self.index_dir, stats, identity)

        def run(batches):
            for pdf in batches:
                for i in pdf["id"]:
                    yield kernel(seg_ids[i])

        tasks = min(len(seg_ids), self.spark.sparkContext.defaultParallelism)
        return self.spark.range(
            len(seg_ids), numPartitions=max(tasks, 1)
        ).mapInPandas(run, schema=schema)

    def _finalize(
        self, hits: DataFrame, k: int | None, with_identity: bool
    ) -> DataFrame:
        """Global ``orderBy(score desc, segment_id, doc_id)`` over the
        kernel output, bounded by ``limit(k)`` (a TakeOrderedAndProject) —
        no join: identity columns come from the kernel. Without identity,
        an all-matches result (k=None) is returned unordered."""
        if with_identity:
            hits = hits.select(*_IDENTITY, "score", "segment_id", "doc_id")
        else:
            hits = hits.select("segment_id", "doc_id", "score")
            if k is None:
                return hits
        out = hits.orderBy(F.desc("score"), F.asc("segment_id"), F.asc("doc_id"))
        return out if k is None else out.limit(k)

    def _search_proxy(self, f: "ProxyF", dtype: str) -> DataFrame:
        """proxy_filter (`core/search/proxy_filter.cpp`): materialize the
        wrapped filter's FULL match set once (persisted (segment, doc,
        score, identity) rows — the reference's cached bitset, with scores
        so any k can be served), reuse it for every subsequent execution.
        Returns the match set, unordered, for ``_finalize``.

        Cache validity is tied to the manifest snapshot: a publish (e.g.
        ``mark_deleted``, merge, new commit) changes the manifest file, and
        the stamp check here drops every cached match set so deletes are
        never served from a stale proxy."""
        with self._proxy_lock:
            self._check_stamp()
            entry_stamp = self._manifest_stamp
            key = (repr(f.child), dtype)
            cached = self._proxy_cache.get(key)
            if cached is None:
                child = f.child
                if isinstance(child, ProxyF):
                    cached = self._search_proxy(child, dtype)
                else:
                    cached = self._run_kernel(
                        self.prepare(child, dtype), None, False, identity=True
                    )
                cached = cached.persist()
                cached.count()  # materialize now so later queries only read
                # insert only if no publish raced the build: a match set
                # materialized under the OLD snapshot inserted AFTER a
                # post-publish clear would be served as current forever
                # (nested _check_stamp calls advance _manifest_stamp, so a
                # mid-build publish observed anywhere fails this guard; an
                # unobserved one leaves the stamp stale and the next check
                # clears the entry — either way no stale serve)
                if self._manifest_stamp == entry_stamp:
                    self._proxy_cache[key] = cached
                else:
                    cached.unpersist()  # serve this (pre-publish) query once
            else:
                self.proxy_hits += 1
        out = cached
        if f.boost != 1.0:
            score_type = "float" if dtype == "float32" else "double"
            out = out.withColumn(
                "score",
                (F.col("score") * F.lit(float(f.boost))).cast(score_type),
            )
        return out

    def clear_proxy_cache(self) -> None:
        self._proxy_cache.clear()  # LRU on_evict unpersists each entry

    def close(self) -> None:
        """Release every resource this reader holds: persisted proxy match
        sets, the term-stats cache, the norms broadcasts (unpersisted), the
        driver-side packed norms and the snapshot's dictionary dataset.
        Idempotent — a closed engine
        re-materializes lazily if reused."""
        with self._stamp_lock:
            self.clear_proxy_cache()
            self._stats_cache.clear()
            self._release_norms()
            self._norms_cache = {}
            self._dict = None


# ----------------------------------------------------------------- kernel

# ScoreMergeType (scorer.hpp:223-237): how matched sub-scores combine per
# doc — the reduction ufunc and its identity
_MERGE = {
    "sum": (np.add, 0.0),
    "max": (np.maximum, -np.inf),
    "min": (np.minimum, np.inf),
}


def _make_kernel(
    prep: _Prepared,
    k: int,
    wand: bool,
    norms: dict,
    index_dir: str,
    stats: bool = False,
    identity: bool = False,
):
    """The per-segment kernel, called with a segment id in a Spark task:
    it reads the segment's postings rows that ``prep`` needs
    (``_read_postings``) and its own broadcast of ``norms``
    (``norms_blob_df()``'s map). After its segment-local top-k, a kernel
    with ``identity`` reads the identity of those docs only, from its
    segment's docmeta partition. Both reads go through the filesystem at
    ``index_dir``. A corrupt postings or positions blob raises
    ``ValueError`` naming the segment, field and term."""
    tree = prep.tree
    instances = prep.instances
    consts = prep.consts
    rest_specs = prep.rest_specs

    def kernel(segment_id: int) -> pd.DataFrame:
        from iresearch_spark.codec import packed

        dtype = np.float32 if consts["dtype"] == "float32" else np.float64
        scorer = consts["scorer"]
        primary_field = consts["primary"]
        left = _read_postings(index_dir, segment_id, prep)

        @contextmanager
        def blob_of(key: tuple[str, str]):
            """Name the segment, field and term of a corrupt blob."""
            try:
                yield
            except ValueError as e:
                raise ValueError(
                    f"corrupt blob of segment {segment_id}, field "
                    f"{key[0]!r}, term {key[1]!r}: {e}"
                ) from e

        # this segment's packed norms (norms_blob_df): dense int32 dl array
        # per field (index = doc_id - 1) + sorted tombstone ids
        seg_norms = norms[segment_id].value
        ndocs = seg_norms["ndocs"]
        # a merge's cleanup removes docmeta, then segments: a docmeta
        # partition still present after the read means the read was whole
        docmeta = f"{index_dir}/docmeta/segment_id={segment_id}"
        if ndocs and not os.path.isdir(docmeta):
            raise FileNotFoundError(
                f"segment {segment_id} of this query's snapshot was removed "
                f"from {index_dir} by a later publish"
            )
        # per-field dense norm lookups (primary field's norms are ``dl``,
        # secondary fields ride in ``dl_<name>``)
        dl_arrs: dict[str, np.ndarray] = {}

        def dl_arr_of(fld: str) -> np.ndarray:
            if fld not in dl_arrs:
                col = "dl" if fld == primary_field else f"dl_{fld}"
                a = np.zeros(ndocs + 1, dtype=np.int64)
                a[1:] = seg_norms[col]
                dl_arrs[fld] = a
            return dl_arrs[fld]

        del_arr = np.zeros(ndocs + 1, dtype=bool)
        del_arr[seg_norms["deleted_ids"]] = True

        # (field, term) -> segment rowS: normally one row, but a giant
        # term's postings may be SHARDED into several disjoint doc-range
        # rows (merge_segments shard_docs, the salted-blob escalation);
        # shards concatenate in ascending-doc order (sorted by first block's
        # last_doc)
        rows_by_term: dict[tuple[str, str], list] = {}
        for row in left.itertuples(index=False):
            rows_by_term.setdefault((row.field, row.term), []).append(row)
        for shards in rows_by_term.values():
            if len(shards) > 1:
                shards.sort(
                    key=lambda r: int(r.last_docs[0]) if len(r.last_docs) else 0
                )

        decode_cache: dict[tuple, tuple[np.ndarray, np.ndarray]] = {}
        raw_cache: dict[tuple, tuple[np.ndarray, np.ndarray]] = {}
        shard_cache: dict[tuple, list] = {}
        pos_cache: dict[tuple, np.ndarray] = {}

        def shard_decodes(key: tuple[str, str]) -> list:
            """Per-shard (docs, freqs) decodes, in shard order — shared by
            raw_postings and flat_positions so sharded blobs decode once."""
            if key not in shard_cache:
                with blob_of(key):
                    shard_cache[key] = [
                        packed.decode_postings(
                            r.postings,
                            int(r.docs_count),
                            np.asarray(r.block_offsets, dtype=np.int64),
                        )
                        for r in rows_by_term.get(key, [])
                    ]
            return shard_cache[key]

        def raw_postings(key: tuple[str, str]):
            """Undeleted-unfiltered decode — the positions blob is aligned to
            THESE freqs; the document mask is applied downstream."""
            if key not in raw_cache:
                parts = shard_decodes(key)
                if not parts:
                    raw_cache[key] = (
                        np.empty(0, dtype=np.int64),
                        np.empty(0, dtype=np.int64),
                    )
                elif len(parts) == 1:
                    raw_cache[key] = parts[0]
                else:
                    raw_cache[key] = (
                        np.concatenate([p[0] for p in parts]),
                        np.concatenate([p[1] for p in parts]),
                    )
            return raw_cache[key]

        def full_postings(key: tuple[str, str]):
            if key not in decode_cache:
                d, f_ = raw_postings(key)
                keep = ~del_arr[d]  # document mask applied at decode
                decode_cache[key] = (d[keep], f_[keep])
            return decode_cache[key]

        def flat_positions(key: tuple[str, str]) -> np.ndarray:
            """Full positions decode, aligned to raw (pre-mask) freqs —
            per shard (each shard's positions blob aligns to its own
            freqs), concatenated in shard order like raw_postings."""
            if key not in pos_cache:
                shards = rows_by_term[key]
                decs = shard_decodes(key)
                with blob_of(key):
                    parts = [
                        packed.decode_positions(
                            r.positions,
                            f_s,
                            np.asarray(r.pos_offsets, dtype=np.int64)
                            if getattr(r, "pos_offsets", None) is not None
                            else None,
                        )
                        for r, (_, f_s) in zip(shards, decs)
                    ]
                pos_cache[key] = (
                    parts[0]
                    if len(parts) == 1
                    else np.concatenate(parts)
                    if parts
                    else np.empty(0, np.int64)
                )
            return pos_cache[key]

        def positions_for(key: tuple[str, str], cand: np.ndarray):
            """(doc_rep, pos) arrays of the term's occurrences restricted to
            the sorted candidate docs — one vectorized gather, no per-doc
            loop."""
            d_raw, f_raw = raw_postings(key)
            if d_raw.size == 0 or cand.size == 0:
                e = np.empty(0, dtype=np.int64)
                return e, e
            flat = flat_positions(key)
            starts = np.concatenate([[0], np.cumsum(f_raw)])
            sel = np.flatnonzero(np.isin(d_raw, cand, assume_unique=True))
            lengths = f_raw[sel]
            tot = int(lengths.sum())
            if tot == 0:
                e = np.empty(0, dtype=np.int64)
                return e, e
            out_starts = np.concatenate([[0], np.cumsum(lengths)])[:-1]
            idx = np.arange(tot, dtype=np.int64) + np.repeat(
                starts[sel] - out_starts, lengths
            )
            return np.repeat(d_raw[sel], lengths), flat[idx]

        def inst_key(tid: int) -> tuple[str, str]:
            inst = instances[tid]
            return (inst["field"], inst["term"])

        def inst_score(tid: int, docs: np.ndarray, freqs: np.ndarray) -> np.ndarray:
            inst = instances[tid]
            if not inst["scored"]:
                return np.zeros(docs.size, dtype=dtype)
            c0 = dtype(inst["c0"])
            return scorer.score(
                freqs,
                dl_arr_of(inst["field"])[docs],
                c0,
                dtype(inst["nc"]),
                dtype(inst["nl"]),
                dtype,
            )

        def merge_union(parts_d, parts_s, min_match, merge):
            """Union with min_match; sub-scores combined per ScoreMergeType
            (sum/max/min, scorer.hpp:223-237)."""
            all_d = np.concatenate(parts_d)
            all_s = np.concatenate(parts_s)
            if all_d.size == 0:
                return all_d.astype(np.int64), all_s.astype(dtype)
            uniq, inv = np.unique(all_d, return_inverse=True)
            red, init = _MERGE[merge]
            scores = np.full(uniq.size, init, dtype)
            red.at(scores, inv, all_s)
            counts = np.bincount(inv, minlength=uniq.size)
            mask = counts >= min_match
            return uniq[mask], scores[mask]

        # -------------------------------------------------- exhaustive eval
        def eval_node(node: dict) -> tuple[np.ndarray, np.ndarray]:
            op = node["op"]
            if op == "empty":
                return np.empty(0, np.int64), np.empty(0, dtype)
            if op == "all":
                docs = np.flatnonzero(~del_arr[1:]).astype(np.int64) + 1
                return docs, np.zeros(docs.size, dtype)
            if op == "exists":
                dl_f = dl_arr_of(node.get("field", primary_field))
                docs = (
                    np.flatnonzero((dl_f[1:] > 0) & ~del_arr[1:]).astype(
                        np.int64
                    )
                    + 1
                )
                return docs, np.full(docs.size, dtype(node["boost"]), dtype)
            if op == "terms":
                parts_d, parts_s = [], []
                for tid in node["tids"]:
                    d, f_ = full_postings(inst_key(tid))
                    parts_d.append(d)
                    parts_s.append(inst_score(tid, d, f_))
                rid = node.get("rest")
                if rid is not None:
                    # executor-side unscored rest (bit_union,
                    # multiterm_query.cpp:36-106): every segment row
                    # matching the leaf predicate beyond the scored
                    # sample contributes a zero-score doc set — the term
                    # list never left the executors
                    fld, leaf = rest_specs[rid]
                    skip = {
                        instances[tid]["term"]
                        for tid in node["tids"]
                        if instances[tid]["field"] == fld
                    }
                    terms = pa.table({"term": pa.array(
                        [t for fl, t in rows_by_term if fl == fld and t not in skip],
                        pa.string(),
                    )}).filter(_leaf_expr(leaf))["term"]
                    for t in terms.to_pylist():
                        d, f_ = full_postings((fld, t))
                        if d.size:
                            parts_d.append(d)
                            parts_s.append(np.zeros(d.size, dtype))
                if not parts_d:
                    return np.empty(0, np.int64), np.empty(0, dtype)
                return merge_union(parts_d, parts_s, node["min_match"],
                                   node.get("merge", "sum"))
            if op == "or":
                parts = [eval_node(c) for c in node["children"]]
                return merge_union([p[0] for p in parts],
                                   [p[1] for p in parts],
                                   node["min_match"],
                                   node.get("merge", "sum"))
            if op == "and":
                parts = [eval_node(c) for c in node["children"]]
                # cost order: smallest doc set leads (conjunction.hpp:438-460)
                order = np.argsort([p[0].size for p in parts], kind="stable")
                inter = parts[order[0]][0]
                for j in order[1:]:
                    inter = np.intersect1d(inter, parts[j][0], assume_unique=True)
                # the AndQuery is built with the filter's merge_type
                red, init = _MERGE[node.get("merge", "sum")]
                scores = np.full(inter.size, init, dtype)
                for d, s in parts:  # child order (float determinism)
                    red(scores, s[np.searchsorted(d, inter)], out=scores)
                for ex in node.get("excludes", []):
                    ed, _ = eval_node(ex)
                    keep = ~np.isin(inter, ed, assume_unique=True)
                    inter, scores = inter[keep], scores[keep]
                return inter, scores
            if op == "const":
                d, _ = eval_node(node["child"])
                return d, np.full(d.size, dtype(node["boost"]), dtype)
            if op == "phrase":
                return eval_phrase(node)
            if op == "same_pos":
                return eval_same_pos(node)
            if op == "ngram_sim":
                return eval_ngram_sim(node)
            raise ValueError(op)

        def positional_matches(slots: list[list], shifts) -> np.ndarray:
            """Packed ``doc << 31 | pos`` keys at which every slot has one
            of its member (field, term) keys at position ``pos + shift``.
            Candidates are the docs holding some member of every slot. Slot
            i contributes the key set {(doc, p - shift_i)} (union over its
            members, deduped), and a key counted once per slot matches — a
            slot repeated n times contributes exactly n counts. doc < 2^31
            (int32 ids) and pos < 2^31 (positions are token ordinals,
            bounded by dl)."""
            cand = None
            for members in slots:
                if not members:
                    return np.empty(0, np.int64)
                docs = reduce(np.union1d, [full_postings(t)[0] for t in members])
                cand = docs if cand is None else np.intersect1d(
                    cand, docs, assume_unique=True)
            if cand.size == 0:
                return np.empty(0, np.int64)
            key_sets = []
            for members, shift in zip(slots, shifts):
                parts = []
                for t in members:
                    d_rep, p = positions_for(t, cand)
                    adj = p - np.int64(shift)
                    ok = adj >= 0
                    parts.append((d_rep[ok] << np.int64(31)) | adj[ok])
                key_sets.append(np.unique(np.concatenate(parts)))
            uq, cnt = np.unique(np.concatenate(key_sets), return_counts=True)
            return uq[cnt == len(slots)]

        def eval_same_pos(node: dict) -> tuple[np.ndarray, np.ndarray]:
            """by_same_position kernel (same_position_filter.cpp:38-99):
            conjunction of the (field, term) postings, a doc surviving iff
            at least one position is shared by EVERY term
            (`find_same_position`); score = kSum of the per-term scores at
            each term's RAW in-doc freq (:160-181) — position verification
            gates matching, not freq."""
            tids = node["tids"]
            keys = [inst_key(t) for t in tids]
            matched = positional_matches([[k] for k in keys], [0] * len(keys))
            docs = np.unique(matched >> np.int64(31))
            if docs.size == 0:
                return docs, np.empty(0, dtype)
            total = np.zeros(docs.size, dtype=dtype)
            for k, tid in zip(keys, tids):
                d, f_ = full_postings(k)
                total += inst_score(tid, docs, f_[np.searchsorted(d, docs)])
            return docs, total

        def eval_phrase(node: dict) -> tuple[np.ndarray, np.ndarray]:
            """Phrase kernel: each slot is a term set (one term, or a
            variadic slot's matched terms) at its phrase position; score
            is the phrase freq — the matched occurrences per doc."""
            matched = positional_matches(
                [[inst_key(t) for t in g] for g in node["groups"]],
                node["positions"],
            )
            if matched.size == 0:
                return np.empty(0, np.int64), np.empty(0, dtype)
            docs, phrase_freqs = np.unique(matched >> np.int64(31),
                                           return_counts=True)
            c0 = dtype(node["c0"])
            scores = scorer.score(
                phrase_freqs,
                dl_arr_of(node.get("field", primary_field))[docs],
                c0,
                dtype(node["nc"]),
                dtype(node["nl"]),
                dtype,
            )
            return docs, scores

        def eval_ngram_sim(node: dict) -> tuple[np.ndarray, np.ndarray]:
            """LCS-based ngram similarity (ngram_similarity_query.cpp,
            simplified: match degree = longest positionally-ordered common
            subsequence of query grams and the doc's gram occurrences)."""
            tids = node["tids"]
            k = len(tids)
            thr = node["threshold"]
            min_d = max(1, int(np.ceil(thr * k)))
            terms = [inst_key(t) for t in tids]
            uniq_terms = list(dict.fromkeys(terms))
            postings = {t: full_postings(t) for t in uniq_terms}
            mult = {t: terms.count(t) for t in uniq_terms}
            present = [t for t in uniq_terms if postings[t][0].size]
            if not present:
                return np.empty(0, np.int64), np.empty(0, dtype)
            # conservative upper bound of match degree per doc
            all_d = np.concatenate([postings[t][0] for t in present])
            weights = np.concatenate(
                [np.full(postings[t][0].size, mult[t]) for t in present]
            )
            uniq_docs, inv = np.unique(all_d, return_inverse=True)
            ub = np.zeros(uniq_docs.size, dtype=np.int64)
            np.add.at(ub, inv, weights)
            cand = uniq_docs[ub >= min_d]
            if cand.size == 0:
                return cand, np.empty(0, dtype)
            # flat event stream over ALL candidate docs at once: one event
            # per (doc, occurrence position, query-gram index). The per-doc
            # LCS DP is batched by processing events in within-doc RANK
            # order — rank r of every doc updates one dp row per doc in a
            # single vectorized step, so the Python loop is max-events-per-
            # doc iterations (not n_cand * events).
            gram_idx = {t: [i for i, q in enumerate(terms) if q == t]
                        for t in uniq_terms}
            ev_doc_parts, ev_pos_parts, ev_gram_parts = [], [], []
            for t in present:
                d_rep, p = positions_for(t, cand)
                for gi in gram_idx[t]:
                    ev_doc_parts.append(d_rep)
                    ev_pos_parts.append(p)
                    ev_gram_parts.append(
                        np.full(d_rep.size, gi, dtype=np.int64)
                    )
            if not ev_doc_parts:
                return np.empty(0, np.int64), np.empty(0, dtype)
            ev_doc = np.concatenate(ev_doc_parts)
            ev_pos = np.concatenate(ev_pos_parts)
            ev_gram = np.concatenate(ev_gram_parts)
            di = np.searchsorted(cand, ev_doc)  # compact doc index
            # same-pos events sorted by DESCENDING gram index so one token
            # occurrence can never serve two query slots; doc-major
            order_ = np.lexsort((-ev_gram, ev_pos, di))
            di_s, seq = di[order_], ev_gram[order_]
            run_lengths = np.bincount(di_s, minlength=cand.size)
            run_starts = np.concatenate([[0], np.cumsum(run_lengths)])[:-1]
            rank = np.arange(di_s.size, dtype=np.int64) - np.repeat(
                run_starts, run_lengths
            )
            # regroup by rank level: events of rank r are one contiguous slice
            lvl_order = np.lexsort((di_s, rank))
            di_l, seq_l = di_s[lvl_order], seq[lvl_order]
            max_rank = int(run_lengths.max())
            bounds = np.searchsorted(rank[lvl_order],
                                     np.arange(max_rank + 1, dtype=np.int64))
            dp = np.zeros((cand.size, k + 1), dtype=np.int64)
            cols = np.arange(k + 1, dtype=np.int64)[None, :]
            for lvl in range(max_rank):
                lo, hi = bounds[lvl], bounds[lvl + 1]
                dd, ss = di_l[lo:hi], seq_l[lo:hi]
                sub = dp[dd]  # dd is unique within a rank level
                prev = sub[np.arange(dd.size), ss] + 1
                dp[dd] = np.where(
                    cols > ss[:, None],
                    np.maximum(sub, prev[:, None]),
                    sub,
                )
            d_vals = dp[:, k]
            sel = (d_vals >= min_d) & (d_vals / k >= thr - 1e-12)
            return (
                cand[sel].astype(np.int64),
                (node["boost"] * d_vals[sel] / k).astype(dtype),
            )

        # -------------------------------------------------- WAND path
        # diagnostic accounting (wand_stats): which regime the kernel took
        # and how many posting blocks it decoded vs the total available —
        # the skipped-block ratio is the regression-tracked WAND signal
        diag = {"mode": "exhaustive", "blocks_total": 0, "blocks_decoded": 0}

        def dense_ub(tids):
            """Dense per-doc SUM of block upper bounds (float64, safe) +
            per-term block info, from the blockmax columns only — no
            posting blob is touched. The sum bound stays a valid upper
            bound for max/min score merges too (scores are non-negative:
            max_t s_t <= sum_t ub_t, min over matched <= sum)."""
            ub = np.zeros(ndocs + 2, dtype=np.float64)
            blockinfo = {}
            for tid in tids:
                shard_infos = []
                prev_last = 0  # shards are disjoint ascending doc ranges
                for r in rows_by_term[inst_key(tid)]:
                    last = np.asarray(r.last_docs, dtype=np.int64)
                    first = np.concatenate([[prev_last], last[:-1]]) + 1
                    if last.size:
                        prev_last = int(last[-1])
                    bub = scorer.block_upper_bound(
                        np.asarray(r.max_freqs, dtype=np.int64),
                        np.asarray(r.min_norms, dtype=np.int64),
                        dtype(instances[tid]["c0"]),
                        dtype(instances[tid]["nc"]),
                        dtype(instances[tid]["nl"]),
                        dtype,
                    ).astype(np.float64)
                    np.add.at(ub, first, bub)
                    np.add.at(ub, last + 1, -bub)
                    shard_infos.append((r, first, last))
                    diag["blocks_total"] += int(last.size)
                blockinfo[tid] = shard_infos
            return np.cumsum(ub)[: ndocs + 1], blockinfo

        def score_subset(tids, blockinfo, cand_mask, merge="sum"):
            """Exact scores over the masked docs, decoding ONLY blocks that
            intersect the mask; per-doc combination follows ScoreMergeType
            exactly like merge_union (sum accumulates in tid order — the
            same float32 op order as the exhaustive path). Returns the
            dense score array plus the per-doc MATCHED-TERM COUNT (the
            min_match input, `min_match_disjunction.hpp:62-200`)."""
            red, init = _MERGE[merge]
            acc = np.full(ndocs + 1, init, dtype)
            counts = np.zeros(ndocs + 1, dtype=np.int32)
            cum = np.concatenate([[0], np.cumsum(cand_mask)])
            for tid in tids:
                for r, first, last in blockinfo.get(tid, []):
                    need = (
                        cum[np.minimum(last + 1, ndocs + 1)] - cum[first]
                    ) > 0
                    bids = np.flatnonzero(need)
                    if bids.size == 0:
                        continue
                    diag["blocks_decoded"] += int(bids.size)
                    with blob_of(inst_key(tid)):
                        d, f_, _ = packed.decode_blocks(
                            r.postings,
                            np.asarray(r.block_offsets, dtype=np.int64),
                            np.asarray(r.last_docs, dtype=np.int64),
                            int(r.docs_count),
                            bids,
                        )
                    sel = cand_mask[d] & ~del_arr[d]
                    d, f_ = d[sel], f_[sel]
                    acc[d] = red(acc[d], inst_score(tid, d, f_))
                    # a term's shards are disjoint doc ranges, so each doc
                    # appears at most once per tid — plain += is exact
                    counts[d] += 1
            return acc, counts

        def descendant_tids(n: dict) -> list[int]:
            """Scored term ids under a wandable subtree that have rows in
            this segment, in tree order (excludes contribute no score and
            are NOT collected)."""
            if n["op"] == "terms":
                return [t for t in n["tids"] if inst_key(t) in rows_by_term]
            return [t for c in n["children"] for t in descendant_tids(c)]

        def node_cost(n: dict) -> int:
            return sum(
                int(r.docs_count)
                for t in descendant_tids(n)
                for r in rows_by_term[inst_key(t)]
            )

        def doc_mask(docs: np.ndarray) -> np.ndarray:
            mask = np.zeros(ndocs + 1, dtype=bool)
            mask[docs] = True
            return mask

        def eval_masked(node: dict, cand_mask, blockinfo):
            """Generic masked evaluator: exact (dense score, dense matched)
            over docs inside ``cand_mask`` only, decoding just the posting
            blocks that intersect the mask. Mirrors eval_node's semantics
            AND float op order for terms/or/and subtrees (per-doc sums run
            child-major then tid-major, exactly like merge_union over
            concatenated parts), so WAND results stay bit-identical to the
            exhaustive path (`formats_10.cpp:2426-2806` wanderator-inside-
            boolean analogue)."""
            op = node["op"]
            if op == "terms":
                acc, counts = score_subset(
                    node["tids"], blockinfo, cand_mask,
                    node.get("merge", "sum"),
                )
                return acc, counts >= node["min_match"]
            if op == "or":
                red, init = _MERGE[node.get("merge", "sum")]
                acc = np.full(ndocs + 1, init, dtype)
                counts = np.zeros(ndocs + 1, dtype=np.int32)
                for c in node["children"]:
                    acc_c, m_c = eval_masked(c, cand_mask, blockinfo)
                    # matched children combine in child order (the same
                    # per-doc order as merge_union's ufunc.at)
                    acc = np.where(m_c, red(acc, acc_c), acc)
                    counts += m_c
                return acc, counts >= node["min_match"]
            if op == "and":
                matched = cand_mask.copy()
                acc = np.zeros(ndocs + 1, dtype)
                for c in node["children"]:
                    acc_c, m_c = eval_masked(c, cand_mask, blockinfo)
                    acc += np.where(m_c, acc_c, dtype(0))
                    matched &= m_c
                for ex in node.get("excludes", []):
                    ed, _ = eval_node(ex)
                    matched[ed] = False
                return acc, matched
            raise ValueError(op)  # pragma: no cover — gated by wandable

        def two_phase(universe, ub, exact_on, tag: str):
            """The wanderator's bootstrap-then-prune pass
            (`formats_10.cpp:2426-2806`) over the sorted candidate docs
            ``universe``, whose float64 score upper bounds ``ub`` are
            aligned with it; ``exact_on(docs)`` returns the exact (docs,
            scores) of the matches among the sorted ``docs``. The regime
            lands in ``diag["mode"]`` as ``tag`` + full_small / full_lowmatch
            / full_dense / pruned."""
            C = max(4 * k, 256)
            if universe.size <= C:
                diag["mode"] = tag + "full_small"
                return exact_on(universe)
            # bootstrap threshold from the top-C upper-bound docs
            docs1 = np.sort(universe[np.argpartition(ub, -C)[-C:]])
            docs_a, scores_a = exact_on(docs1)
            if docs_a.size < k:
                diag["mode"] = tag + "full_lowmatch"
                return exact_on(universe)
            theta = np.partition(scores_a, -k)[-k]
            # already have exact scores for the bootstrap docs
            surv = universe[
                (ub >= np.float64(theta)) & ~doc_mask(docs1)[universe]
            ]
            # degenerate pruning guard: on low-score-variance corpora the
            # k-th threshold sits below most docs' upper bounds, so phase 2
            # would re-decode nearly every block AFTER the bootstrap pass —
            # 2x an exhaustive scan. When the survivor set is dense, one
            # full pass is strictly cheaper (the reference's wanderator has
            # the same regime: dense hot-term disjunctions skip nothing).
            if surv.size > 0.25 * universe.size:
                diag["mode"] = tag + "full_dense"
                return exact_on(universe)
            diag["mode"] = tag + "pruned"
            # the phases' doc sets are disjoint: each matched doc's exact
            # score comes from exactly one of them
            docs_b, scores_b = exact_on(surv)
            docs = np.concatenate([docs_a, docs_b])
            order_ = np.argsort(docs, kind="stable")
            return docs[order_], np.concatenate([scores_a, scores_b])[order_]

        def wand_flat(node: dict) -> tuple[np.ndarray, np.ndarray]:
            """Two-phase block-max WAND for any wandable terms/or subtree —
            including min_match>1 disjunctions and Or-of-And nests — over
            every doc of the segment. The dense per-doc SUM of every
            descendant term's block upper bounds is a valid bound for any
            sum/max/min merge combination over non-negative scores (and
            min_match only shrinks the match set), so one bound serves the
            whole tree."""
            tids = descendant_tids(node)
            if not tids:
                return np.empty(0, np.int64), np.empty(0, dtype)
            ub, blockinfo = dense_ub(tids)

            def exact_on(docs: np.ndarray):
                acc, matched = eval_masked(node, doc_mask(docs), blockinfo)
                hit = np.flatnonzero(matched)
                return hit, acc[hit]

            return two_phase(np.arange(ndocs + 1), ub, exact_on, "")

        def wand_and(node: dict) -> tuple[np.ndarray, np.ndarray]:
            """Block-max pruning for a top-k conjunction of wandable
            subtrees (`And(term, Or(terms))`, min_match children, nested
            Or-of-And, with excludes): the cheapest child (by summed
            docs_count) decodes exhaustively and its docs are the
            two-phase universe; every other child decodes ONLY blocks that
            intersect the docs being scored (the wanderator's leaf-level
            skip, `formats_10.cpp:2426-2806`), and a doc's bound is s_lead
            + the sum of the other children's block upper bounds
            (`score.hpp:33-62` max.tail analogue). Excludes are removed
            from the lead BEFORE the threshold bootstrap (an excluded doc
            must never inflate theta). Exact scores accumulate per child in
            CHILD order — the same float32 op order as the exhaustive
            'and' — so results are bit-identical to WAND-off."""
            children = node["children"]
            costs = [node_cost(c) for c in children]
            lead = int(np.argmin(costs))
            d_lead, s_lead = eval_node(children[lead])
            for ex in node.get("excludes", []):
                if d_lead.size == 0:
                    break
                ed, _ = eval_node(ex)
                keep = ~np.isin(d_lead, ed, assume_unique=True)
                d_lead, s_lead = d_lead[keep], s_lead[keep]
            if d_lead.size == 0:
                return d_lead, s_lead
            others = []
            for j, c in enumerate(children):
                if j == lead:
                    continue
                tids = descendant_tids(c)
                if not tids:  # child matches nothing here -> empty conj
                    return np.empty(0, np.int64), np.empty(0, dtype)
                ub_j, binfo_j = dense_ub(tids)
                others.append((j, c, binfo_j, ub_j))

            def exact_on(docs_sub: np.ndarray):
                """Conjunction-exact (docs, scores) restricted to the given
                candidate docs (subset of d_lead)."""
                mask = doc_mask(docs_sub)
                accs: dict[int, np.ndarray] = {}
                alive = docs_sub
                for j, c, binfo, _ub in others:
                    acc_j, matched_j = eval_masked(c, mask, binfo)
                    accs[j] = np.where(matched_j, acc_j, dtype(0))
                    alive = alive[matched_j[alive]]
                if alive.size == 0:
                    return alive, np.empty(0, dtype)
                scores = np.zeros(alive.size, dtype)
                for j in range(len(children)):  # child order = float order
                    if j == lead:
                        scores += s_lead[np.searchsorted(d_lead, alive)]
                    else:
                        scores += accs[j][alive]
                return alive, scores

            ub_total = s_lead.astype(np.float64)
            for _j, _c, _binfo, ub_j in others:
                ub_total = ub_total + ub_j[d_lead]
            return two_phase(d_lead, ub_total, exact_on, "and_")

        def wandable_subtree(n: dict) -> bool:
            """True when every scored leaf under ``n`` is a plain terms set
            (no unscored rest), every conjunction merges by sum, and
            min_match is satisfiable — the shapes the wanderator serves
            (`formats_10.cpp:2426-2806`, `min_match_disjunction.hpp`).
            Excludes under 'and' are allowed (they only shrink the match
            set, so the sum-of-UBs bound stays valid)."""
            op = n["op"]
            if op == "terms":
                return (
                    n.get("rest") is None
                    and bool(n["tids"])
                    and n["min_match"] <= len(n["tids"])
                    and all(instances[t]["scored"] for t in n["tids"])
                )
            if op == "or":
                return (
                    bool(n["children"])
                    and n["min_match"] <= len(n["children"])
                    and all(wandable_subtree(c) for c in n["children"])
                )
            if op == "and":
                # the wand_and kernel accumulates child scores by SUM; a
                # kMax/kMin conjunction runs exhaustive
                return (
                    n.get("merge", "sum") == "sum"
                    and bool(n["children"])
                    and all(wandable_subtree(c) for c in n["children"])
                )
            return False

        # a one-child conjunction (an Or with negations) runs exhaustive
        if (
            wand
            and wandable_subtree(tree)
            and (tree["op"] != "and" or len(tree["children"]) >= 2)
        ):
            docs, scores = (wand_and if tree["op"] == "and" else wand_flat)(tree)
        else:
            docs, scores = eval_node(tree)
        if stats:
            return pd.DataFrame(
                {
                    "segment_id": pd.Series([segment_id], dtype="int32"),
                    "mode": pd.Series([diag["mode"]], dtype=object),
                    "blocks_total": pd.Series(
                        [diag["blocks_total"]], dtype="int64"
                    ),
                    "blocks_decoded": pd.Series(
                        [diag["blocks_decoded"]], dtype="int64"
                    ),
                }
            )
        order = np.lexsort((docs, -scores))
        if k is not None:
            order = order[:k]
        hits = pd.DataFrame(
            {
                "segment_id": np.full(order.size, segment_id, dtype=np.int32),
                "doc_id": docs[order].astype(np.int32),
                "score": scores[order].astype(dtype),
            }
        )
        if not identity:
            return hits
        return hits.merge(
            _read_identity(index_dir, segment_id, hits["doc_id"].to_numpy()),
            on="doc_id",
        )

    return kernel
