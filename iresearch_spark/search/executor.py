"""Query execution: prepare (global stats) -> per-segment vectorized kernel.

Mirrors the reference query lifecycle (`core/search/filter.hpp:38-99`,
SURVEY §3.2) Spark-first:

1. **prepare** (driver): rewrite the filter tree, expand multi-term leaves
   against the term dictionary (a pushed-down scan of the segments table),
   collect *global* stats — docs_with_field / total_term_freq from the
   manifest, docs_with_term via one aggregate over the needed postings rows —
   and bake per-term-instance score constants (c0) exactly like
   `Scorer::collect` (`bm25.cpp:366-410`). Global, never per-segment stats:
   the rank-identity requirement of `term_filter.cpp:92-129`.
2. **execute** (cluster): group the needed postings rows by segment; one
   Arrow kernel per segment evaluates the boolean tree with numpy set ops
   (conjunction = intersect1d ordered by cost, disjunction = bincount-union
   with min_match, exclusion = isin mask — SURVEY §2.5) and returns the
   segment-local top-k. Its per-doc side (norms, tombstones) is packed on
   the driver and broadcast once per snapshot (``norms_blob_df``): no
   docmeta scan or norms exchange per query.
3. **reduce**: global ``orderBy(score desc, segment_id, doc_id).limit(k)``
   (ties broken by ascending docID, like the reference test expectations),
   then a broadcast join back to docmeta for (repo, path, commit) identity,
   re-ordered under the same bounded ``limit(k)``.

Block-max WAND (`formats_10.cpp:2426-2806` wanderator, adapted to a batch
engine): for single-term / flat-disjunction queries the kernel first builds a
dense per-doc score upper bound from the blockmax columns *without touching
posting blobs*, bootstraps a threshold from the highest-upper-bound candidate
docs, then decodes only blocks that can contain a top-k doc. Upper-bound
arithmetic runs in float64 with a nextafter margin so pruning can never drop
a doc the exhaustive float32 scorer would keep; WAND-on therefore returns
bit-identical results to WAND-off (tested).

Scan-side efficiency: the term filter and the field filter are pushed into
the Parquet scan of the segments table (In/StartsWith/Like predicates); the
positions/pos_offsets columns are only selected for phrase queries (column
pruning == the reference's separate .pos file).
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field
from typing import Any

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iresearch_spark.index.build import DOCMETA_SCHEMA, SEGMENTS_SCHEMA
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


@dataclass
class _Prepared:
    tree: dict
    instances: list[dict]  # {"term": str, "c0": float, "scored": bool}
    needs_positions: bool
    consts: dict
    needed_terms: list[str]
    # (field, leaf) specs whose UNSCORED rest is evaluated executor-side:
    # the leaf predicate is pushed into the segment scan and the kernel
    # unions the matching postings per segment — matched terms beyond
    # scored_terms_limit never reach the driver (the reference's bit_union
    # over the sampled-out rest, `multiterm_query.cpp:36-106`)
    rest_specs: list[tuple] = dc_field(default_factory=list)


def _like_regex(pattern: str):
    """Spark SQL LIKE -> compiled regex (%% any seq, _ any char, backslash
    escapes — `wildcard_utils.cpp` semantics, same as _leaf_pred's LIKE)."""
    import re

    out = []
    i = 0
    while i < len(pattern):
        c = pattern[i]
        if c == "\\":
            if i + 1 >= len(pattern):
                # Spark LIKE raises on a dangling escape; mirror that so
                # the kernel twin can never diverge from the Spark-side
                # scan predicate (which would already have errored).
                raise ValueError(
                    "the pattern '%s' is invalid: dangling escape" % pattern
                )
            out.append(re.escape(pattern[i + 1]))
            i += 2
            continue
        if c == "%":
            out.append(".*")
        elif c == "_":
            out.append(".")
        else:
            out.append(re.escape(c))
        i += 1
    return re.compile("(?s)\\A" + "".join(out) + "\\Z")


def _term_matches(leaf, term: str, _rx_cache: dict = {}) -> bool:
    """Kernel-side twin of _leaf_pred for the executor-side unscored rest
    (Prefix/Wildcard/TermRange only; Fuzzy expands driver-side — its match
    set is bounded by the edit-distance automaton). Python str comparison
    is code-point order == UTF-8 byte order, matching Spark's string
    ordering for the range bounds."""
    if isinstance(leaf, Prefix):
        return term.startswith(leaf.prefix)
    if isinstance(leaf, TermRange):
        if leaf.min_term is not None:
            if term < leaf.min_term or (
                term == leaf.min_term and not leaf.include_min
            ):
                return False
        if leaf.max_term is not None:
            if term > leaf.max_term or (
                term == leaf.max_term and not leaf.include_max
            ):
                return False
        return True
    if isinstance(leaf, Wildcard):
        rx = _rx_cache.get(leaf.pattern)
        if rx is None:
            rx = _rx_cache[leaf.pattern] = _like_regex(leaf.pattern)
        return rx.match(term) is not None
    raise TypeError(leaf)  # pragma: no cover


def _read_int32(path: str, cols: list[str]) -> pa.Table | None:
    """Driver-side pyarrow read of int32 columns from a Spark-written
    parquet directory (None if absent). The explicit schema null-fills a
    missing column the way a Spark read with a schema does, and reads a
    directory without data files as zero rows."""
    import os

    if not os.path.isdir(path):
        return None
    return pq.read_table(path, schema=pa.schema([(c, pa.int32()) for c in cols]))


def _pack_norms(index_dir: str, segment_id: int, dl_cols: list[str]) -> dict:
    """One segment's norms from its docmeta partition: ``{"ndocs": n,
    col: int32[n] for col in dl_cols}`` (index = doc_id - 1, null -> 0).
    A segment without docmeta rows (an empty wave) packs to ndocs 0."""
    t = _read_int32(
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


def _read_tombstones(index_dir: str) -> dict[int, np.ndarray]:
    """segment_id -> sorted unique tombstoned doc ids (int32) from the
    deletes table (segment_writer.hpp:63-66 document mask)."""
    t = _read_int32(f"{index_dir}/deletes", ["segment_id", "doc_id"])
    if t is None:
        return {}
    seg = t["segment_id"].to_numpy()
    doc = t["doc_id"].to_numpy()
    return {int(s): np.unique(doc[seg == s]) for s in np.unique(seg)}


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
        # serializes the stamp check/reload so a concurrent reader can't
        # observe a half-reloaded manifest view (long-lived service shape:
        # queries race publishes — tests/test_concurrent_reader.py)
        import threading

        self._stamp_lock = threading.RLock()
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
        # posting-block codec every decode in this engine dispatches on
        self._postings_codec = getattr(m, "postings_codec", "varint")
        # positions-stream codec (recorded separately: pre-packed-positions
        # indexes carry packed postings but varint positions)
        self._positions_codec = getattr(m, "positions_codec", "varint")
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
        snapshot-scoped caches (proxy match sets, term stats) and — for a
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
        import os

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
    def segments_df(self, with_positions: bool) -> DataFrame:
        cols = [
            "segment_id", "field", "term", "docs_count", "total_tf",
            "postings", "block_offsets", "last_docs", "max_freqs", "min_norms",
        ]
        if with_positions:
            cols += ["positions", "pos_offsets"]
        return self._seg_filter(
            self.spark.read.schema(SEGMENTS_SCHEMA)
            .parquet(f"{self.index_dir}/segments")
            .select(*cols)
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
                dels = _read_tombstones(self.index_dir)
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
        import os

        from iresearch_spark.codec import decode_payloads, postings_codec
        from iresearch_spark.index.build import SEGMENTS_PAY_SCHEMA

        cmod = postings_codec(self._postings_codec)
        pmod = postings_codec(self._positions_codec)
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
                    docs, freqs = cmod.decode_postings(
                        r.postings,
                        int(r.docs_count),
                        np.asarray(r.block_offsets, dtype=np.int64),
                    )
                    pos = pmod.decode_positions(
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
    def _leaf_pred(leaf):
        """Term-set predicate of a multi-term leaf (JVM column expression,
        pushed into the dictionary scan). Transposition-aware fuzzy
        (Damerau, levenshtein_filter.hpp:67) over-approximates with
        levenshtein <= 2*d (a transposition costs <=2 plain edits); exact
        Damerau post-filters driver-side."""
        if isinstance(leaf, Prefix):
            return F.col("term").startswith(leaf.prefix)
        if isinstance(leaf, Wildcard):
            # Spark's LIKE uses backslash as the default escape char, same
            # as the reference automaton's \% \_ escapes (wildcard_utils.cpp)
            return F.col("term").like(leaf.pattern)
        if isinstance(leaf, TermRange):
            pred = F.lit(True)
            if leaf.min_term is not None:
                pred = pred & (
                    F.col("term") >= leaf.min_term
                    if leaf.include_min
                    else F.col("term") > leaf.min_term
                )
            if leaf.max_term is not None:
                pred = pred & (
                    F.col("term") <= leaf.max_term
                    if leaf.include_max
                    else F.col("term") < leaf.max_term
                )
            return pred
        if isinstance(leaf, Fuzzy):
            from functools import reduce
            from operator import or_

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
        raise TypeError(leaf)  # pragma: no cover

    def _batch_lookup(
        self,
        pairs: set[tuple[str, str]],
        leaves: list[tuple[str, Filter]],
    ) -> tuple[dict[tuple[str, str], int], list[list[tuple[str, int]]]]:
        """ONE dictionary job for every literal term and multi-term leaf of
        a query: the reference walks its in-memory FST per leaf; we pay one
        pushed-down parquet scan total instead of one Spark job per leaf.

        Returns ``(dfs, matches)``: global docs_count per literal (field,
        term) pair, and the matched (term, df) list per leaf."""
        from functools import reduce
        from operator import or_

        # term-stats cache — the analogue of the reference holding its term
        # dictionary (FST + per-term meta) in memory per open reader
        # (`core/index/index_reader.hpp:35-153`): repeat lookups of the same
        # literal or multi-term leaf serve from the engine and skip the
        # dictionary job entirely. Stats come from committed segment
        # metadata (tombstones don't rewrite df — same as the reference
        # until a merge purges), so validity is the manifest stamp, shared
        # with the proxy cache via _check_stamp.
        self._check_stamp()
        entry_stamp = self._manifest_stamp
        dfs: dict[tuple[str, str], int] = {}
        matches: list[list[tuple[str, int]]] = [[] for _ in leaves]
        miss_pairs: set[tuple[str, str]] = set()
        for p in pairs:
            hit = self._stats_cache.get(("t",) + p)
            if hit is None:
                miss_pairs.add(p)
                dfs[p] = 0
            else:
                dfs[p] = hit
        miss_leaves: list[tuple[int, str, Filter]] = []
        for i, (fld, leaf) in enumerate(leaves):
            hit = self._stats_cache.get(("l", fld, leaf))
            if hit is None:
                miss_leaves.append((i, fld, leaf))
            else:
                matches[i] = list(hit)  # copy: callers own their list

        by_field: dict[str, set[str]] = {}
        for fld, term in miss_pairs:
            by_field.setdefault(fld, set()).add(term)
        literal_preds = [
            (F.col("field") == fld) & F.col("term").isin(sorted(terms))
            for fld, terms in sorted(by_field.items())
        ]
        leaf_preds = [
            (F.col("field") == fld) & self._leaf_pred(leaf)
            for _i, fld, leaf in miss_leaves
        ]
        all_preds = literal_preds + leaf_preds
        if not all_preds:
            return dfs, matches
        combined = reduce(or_, all_preds)
        sel = [F.col("field"), F.col("term"), F.col("df")]
        sel += [p.alias(f"m{j}") for j, p in enumerate(leaf_preds)]
        rows = (
            self._seg_filter(
                self.spark.read.schema(SEGMENTS_SCHEMA)
                .parquet(f"{self.index_dir}/segments")
            )
            .filter(combined)
            .groupBy("field", "term")
            .agg(F.sum("docs_count").alias("df"))
            .select(*sel)
            .collect()
        )
        for r in rows:
            key = (r["field"], r["term"])
            if key in miss_pairs:
                dfs[key] = int(r["df"])
            for j, (i, _fld, _leaf) in enumerate(miss_leaves):
                if r[f"m{j}"]:
                    matches[i].append((r["term"], int(r["df"])))
        # stamp-guarded insert: stats collected under the OLD snapshot must
        # not land in the cache after a concurrent publish's clear
        cacheable = self._manifest_stamp == entry_stamp
        if cacheable:
            for p in miss_pairs:
                self._stats_cache[("t",) + p] = dfs[p]
        for i, fld, leaf in miss_leaves:
            if isinstance(leaf, Fuzzy) and leaf.with_transpositions:
                npfx = len(leaf.prefix)
                matches[i] = [
                    (t, df_)
                    for t, df_ in matches[i]
                    if damerau_levenshtein(t[npfx:], leaf.term)
                    <= leaf.max_distance
                ]
            matches[i].sort(key=lambda td: td[0])
            if cacheable:
                # store an immutable snapshot so no caller aliasing can
                # corrupt the cache
                self._stats_cache[("l", fld, leaf)] = tuple(matches[i])
        return dfs, matches

    def _bounded_leaf_lookup(
        self, bounded: list[tuple[str, Filter]]
    ) -> dict[tuple[str, Filter], list[tuple[str, int]]]:
        """TOP ``scored_terms_limit`` matched terms (by df desc, term asc)
        per standalone multi-term leaf — the ONLY driver-side
        materialization for Prefix/Wildcard/TermRange. The unscored rest is
        never collected: its predicate is pushed into the kernel's segment
        scan and unioned executor-side (`multiterm_query.cpp:36-106`
        bit_union; `limited_sample_collector.hpp:45-244` keeps exactly this
        bounded scored sample). One Spark job for all missing leaves via a
        union of per-leaf limited aggregates."""
        self._check_stamp()
        entry_stamp = self._manifest_stamp
        out: dict[tuple[str, Filter], list[tuple[str, int]]] = {}
        miss: list[tuple[str, Filter]] = []
        for key in bounded:
            hit = self._stats_cache.get(("lb",) + key)
            if hit is None:
                miss.append(key)
            else:
                out[key] = list(hit)
        if miss:
            seg = self._seg_filter(
                self.spark.read.schema(SEGMENTS_SCHEMA)
                .parquet(f"{self.index_dir}/segments")
                .select("field", "term", "docs_count")
            )
            parts = []
            for j, (fld, leaf) in enumerate(miss):
                parts.append(
                    seg.filter(
                        (F.col("field") == fld) & self._leaf_pred(leaf)
                    )
                    .groupBy("term")
                    .agg(F.sum("docs_count").alias("df"))
                    .orderBy(F.desc("df"), F.asc("term"))
                    .limit(int(leaf.scored_terms_limit))
                    .select(F.lit(j).alias("leaf"), "term", "df")
                )
            from functools import reduce

            got: dict[int, list[tuple[str, int]]] = {
                j: [] for j in range(len(miss))
            }
            for r in reduce(DataFrame.unionAll, parts).collect():
                got[r["leaf"]].append((r["term"], int(r["df"])))
            cacheable = self._manifest_stamp == entry_stamp
            for j, key in enumerate(miss):
                lst = got[j]
                lst.sort(key=lambda td: (-td[1], td[0]))
                if cacheable:  # same stamp-guard as _collect_stats
                    self._stats_cache[("lb",) + key] = tuple(lst)
                out[key] = list(lst)
        return out

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
        leaf_list: list[tuple[str, Filter]] = []
        leaf_index: dict[tuple[str, Filter], int] = {}
        bounded_list: list[tuple[str, Filter]] = []
        bounded_seen: set[tuple[str, Filter]] = set()

        def reg_leaf(fld: str, leaf: Filter) -> None:
            key = (fld, leaf)
            if key not in leaf_index:
                leaf_index[key] = len(leaf_list)
                leaf_list.append(key)

        def reg_bounded(fld: str, leaf: Filter) -> None:
            key = (fld, leaf)
            if key not in bounded_seen:
                bounded_seen.add(key)
                bounded_list.append(key)

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
                        reg_leaf(fld, el)
                    else:
                        raise TypeError(f"bad phrase element {el!r}")
            elif isinstance(node, Fuzzy):
                reg_leaf(self._resolve_field(node.field_name), node)
            elif isinstance(node, (Prefix, Wildcard, TermRange)):
                reg_bounded(self._resolve_field(node.field_name), node)
            elif isinstance(node, GranularRangeF):
                from iresearch_spark.search.numeric import granular_ranges

                fld = self._resolve_field(node.field_name)
                for tr in granular_ranges(
                    node.min_val, node.max_val,
                    include_min=node.include_min,
                    include_max=node.include_max,
                ):
                    reg_leaf(fld, tr)
            elif isinstance(node, (And, Or)):
                for c in node.children:
                    collect_terms(c)
            elif isinstance(node, Not):
                collect_terms(node.child)

        collect_terms(f)
        dfs, leaf_matches = self._batch_lookup(set(literal_pairs), leaf_list)
        bounded_matches = self._bounded_leaf_lookup(bounded_list)
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
            return leaf_matches[leaf_index[(fld, leaf)]]

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
            scored = bounded_matches[(fld, leaf)]
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
                "codec": self._postings_codec,
                "pos_codec": self._positions_codec,
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
            return self._search_proxy(f, k, dtype, with_identity)
        prep = self.prepare(f, dtype)
        local_topk = self._run_kernel(prep, k, wand and k is not None)
        return self._finalize(local_topk, k, with_identity)

    def wand_stats(
        self, f: Filter, k: int = 10, dtype: str = "float32"
    ) -> DataFrame:
        """Diagnostic: per-segment WAND regime + block-decode accounting
        for a top-k query — (segment_id, mode, blocks_total,
        blocks_decoded), one row per segment the query's kernel runs on.
        ``mode`` records which branch the kernel took
        (pruned / full_dense dense-survivor fallback / full_small /
        full_lowmatch, and their and_* conjunction twins; 'exhaustive'
        means the tree wasn't WAND-eligible). blocks_total counts the
        skippable blocks registered by dense_ub (for conjunctions: the
        non-lead children — the lead child decodes whole postings by
        design). The skipped-block ratio 1 - decoded/total is the
        regression-tracked signal behind the ~1.1x dense-corpus worst-case
        guard (bench.py --wand-regimes). Runs through the same scan and
        kernel launch as ``search``."""
        return self._run_kernel(self.prepare(f, dtype), k, True, stats=True)

    def _run_kernel(
        self, prep: _Prepared, k: int | None, wand: bool, stats: bool = False
    ) -> DataFrame:
        """The one scan + kernel launch behind ``search`` and
        ``wand_stats``: the postings rows the prepared tree needs (term and
        field predicates pushed into the segments scan), grouped by segment
        into the kernel with this snapshot's norms broadcasts."""
        with self._stamp_lock:  # norms and scan from the same snapshot
            norms = self.norms_blob_df()
            seg_df = self.segments_df(prep.needs_positions)
        if prep.needed_terms or prep.rest_specs:
            from functools import reduce
            from operator import or_

            by_field: dict[str, list[str]] = {}
            for fld, t in prep.needed_terms:
                by_field.setdefault(fld, []).append(t)
            preds = [
                (F.col("field") == fld) & F.col("term").isin(terms)
                for fld, terms in sorted(by_field.items())
            ]
            # executor-side unscored rest: push each multi-term leaf's
            # predicate into the scan so its postings reach the kernel
            # without a driver-side term list
            preds += [
                (F.col("field") == fld) & self._leaf_pred(leaf)
                for fld, leaf in prep.rest_specs
            ]
            seg_df = seg_df.filter(reduce(or_, preds))
        else:
            seg_df = seg_df.filter(F.col("field") == self.field).limit(0)
        if _matches_without_postings(prep.tree):
            # all/exists match docs that have no postings row: one null stub
            # row per live segment makes every segment a kernel group
            stubs = self.spark.range(1).select(
                F.explode(
                    F.array(*map(F.lit, sorted(norms))).cast("array<int>")
                ).alias("segment_id")
            )
            seg_df = seg_df.unionByName(stubs, allowMissingColumns=True)
        if stats:
            schema = ("segment_id int, mode string, blocks_total long, "
                      "blocks_decoded long")
        else:
            score = "float" if prep.consts["dtype"] == "float32" else "double"
            schema = f"segment_id int, doc_id int, score {score}"
        return seg_df.groupby("segment_id").applyInPandas(
            _make_kernel(prep, k, wand, norms, stats), schema=schema
        )

    def _finalize(
        self, local_topk: DataFrame, k: int | None, with_identity: bool
    ) -> DataFrame:
        """Global order/limit + identity join back to docmeta."""
        if k is None:
            global_topk = local_topk
        else:
            global_topk = local_topk.orderBy(
                F.desc("score"), F.asc("segment_id"), F.asc("doc_id")
            ).limit(k)
        if not with_identity:
            return global_topk
        dm = self.docmeta_df().select(
            "segment_id", "doc_id", "repo", "path", "commit", "lang"
        )
        # broadcast only the bounded top-k side; an all-matches result
        # (k=None, e.g. an exists/whole-corpus query) is unbounded — let AQE
        # pick the join strategy instead of forcing a full-result broadcast
        right = F.broadcast(global_topk) if k is not None else global_topk
        out = (
            dm.join(right, ["segment_id", "doc_id"])
            .select("repo", "path", "commit", "lang", "score", "segment_id", "doc_id")
            .orderBy(F.desc("score"), F.asc("segment_id"), F.asc("doc_id"))
        )
        # the join has at most k rows: limit(k) plans a TakeOrderedAndProject
        # instead of a range-partitioned sort (sampling job + exchange)
        return out if k is None else out.limit(k)

    def _search_proxy(
        self, f: "ProxyF", k: int | None, dtype: str, with_identity: bool
    ) -> DataFrame:
        """proxy_filter (`core/search/proxy_filter.cpp`): materialize the
        wrapped filter's FULL match set once (persisted (segment, doc,
        score) rows — the reference's cached bitset, with scores so any k
        can be served), reuse it for every subsequent execution.

        Cache validity is tied to the manifest snapshot: a publish (e.g.
        ``mark_deleted``, merge, new commit) changes the manifest file, and
        the stamp check here drops every cached match set so deletes are
        never served from a stale proxy."""
        self._check_stamp()
        entry_stamp = self._manifest_stamp
        key = (repr(f.child), dtype)
        cached = self._proxy_cache.get(key)
        if cached is None:
            cached = self.search(
                f.child, k=None, wand=False, dtype=dtype, with_identity=False
            ).persist()
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
        return self._finalize(out, k, with_identity)

    def clear_proxy_cache(self) -> None:
        self._proxy_cache.clear()  # LRU on_evict unpersists each entry

    def close(self) -> None:
        """Release every resource this reader holds: persisted proxy match
        sets, the term-stats cache, the norms broadcasts (unpersisted) and
        the driver-side packed norms. Idempotent — a closed engine
        re-materializes lazily if reused."""
        with self._stamp_lock:
            self.clear_proxy_cache()
            self._stats_cache.clear()
            self._release_norms()
            self._norms_cache = {}


# ----------------------------------------------------------------- kernel


def _matches_without_postings(node: dict) -> bool:
    """True when the compiled tree holds an ``all`` or ``exists`` node —
    the ops that match docs of a segment with no postings row."""
    subs = node.get("children", []) + node.get("excludes", [])
    subs += [node["child"]] if "child" in node else []
    return node["op"] in ("all", "exists") or any(
        map(_matches_without_postings, subs))


def _make_kernel(
    prep: _Prepared, k: int, wand: bool, norms: dict, stats: bool = False
):
    """The per-segment kernel; ``norms`` is ``norms_blob_df()``'s map, of
    which a task reads only its own segment's broadcast."""
    tree = prep.tree
    instances = prep.instances
    consts = prep.consts
    rest_specs = prep.rest_specs

    def kernel(left: pd.DataFrame) -> pd.DataFrame:
        from iresearch_spark.codec import postings_codec

        cmod = postings_codec(consts.get("codec", "varint"))
        pos_mod = postings_codec(consts.get("pos_codec", "varint"))
        dtype = np.float32 if consts["dtype"] == "float32" else np.float64
        scorer = consts["scorer"]
        primary_field = consts["primary"]
        out_cols = {"segment_id": [], "doc_id": [], "score": []}
        empty = pd.DataFrame(
            {
                "segment_id": pd.Series([], dtype="int32"),
                "doc_id": pd.Series([], dtype="int32"),
                "score": pd.Series([], dtype=consts["dtype"]),
            }
        )
        segment_id = int(left["segment_id"].iloc[0])
        # this segment's packed norms (norms_blob_df): dense int32 dl array
        # per field (index = doc_id - 1) + sorted tombstone ids
        seg_norms = norms[segment_id].value
        ndocs = seg_norms["ndocs"]
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
            if row.term is not None:  # skip the all/exists stub row
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
                shard_cache[key] = [
                    cmod.decode_postings(
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
                parts = [
                    pos_mod.decode_positions(
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
            if merge == "sum":
                scores = np.zeros(uniq.size, dtype)
                np.add.at(scores, inv, all_s)
            elif merge == "max":
                scores = np.full(uniq.size, -np.inf, dtype)
                np.maximum.at(scores, inv, all_s)
            elif merge == "min":
                scores = np.full(uniq.size, np.inf, dtype)
                np.minimum.at(scores, inv, all_s)
            else:  # pragma: no cover
                raise ValueError(merge)
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
                    for key in rows_by_term:
                        if key[0] != fld or key[1] in skip:
                            continue
                        if not _term_matches(leaf, key[1]):
                            continue
                        d, f_ = full_postings(key)
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
                merge = node.get("merge", "sum")
                if merge == "sum":
                    scores = np.zeros(inter.size, dtype)
                    for d, s in parts:  # sum in child order (float determinism)
                        idx = np.searchsorted(d, inter)
                        scores += s[idx]
                else:
                    # kMax/kMin conjunction merge (scorer.hpp:223-237; the
                    # AndQuery is built with the filter's merge_type)
                    red = np.maximum if merge == "max" else np.minimum
                    scores = None
                    for d, s in parts:
                        g = s[np.searchsorted(d, inter)]
                        scores = g if scores is None else red(scores, g)
                    if scores is None:
                        scores = np.zeros(inter.size, dtype)
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

        def eval_same_pos(node: dict) -> tuple[np.ndarray, np.ndarray]:
            """by_same_position kernel (same_position_filter.cpp:38-99):
            conjunction of the (field, term) postings, a doc surviving iff
            at least one position is shared by EVERY term
            (`find_same_position`); score = kSum of the per-term scores at
            each term's RAW in-doc freq (:160-181) — position verification
            gates matching, not freq."""
            tids = node["tids"]
            keys = [inst_key(t) for t in tids]
            posts = [full_postings(k) for k in keys]
            cand = posts[0][0]
            for d, _ in posts[1:]:
                if cand.size == 0:
                    break
                cand = np.intersect1d(cand, d, assume_unique=True)
            if cand.size:
                n = len(keys)
                parts = []
                for k in keys:
                    d_rep, p = positions_for(k, cand)
                    parts.append(np.unique((d_rep << np.int64(31)) | p))
                uq, cnt = np.unique(np.concatenate(parts), return_counts=True)
                # a key counted len(keys) times occurs in every slot —
                # duplicated (field, term) slots contribute exactly their
                # multiplicity, so the bar stays n for them too
                docs = np.unique(uq[cnt == n] >> np.int64(31))
            else:
                docs = np.empty(0, np.int64)
            if docs.size == 0:
                return docs, np.empty(0, dtype)
            total = np.zeros(docs.size, dtype=dtype)
            for k, tid in zip(keys, tids):
                d, f_ = full_postings(k)
                total += inst_score(tid, docs, f_[np.searchsorted(d, docs)])
            return docs, total

        def eval_phrase(node: dict) -> tuple[np.ndarray, np.ndarray]:
            groups = node["groups"]
            # per slot: union of member-term postings
            slot_docs: list[np.ndarray] = []
            slot_members: list[list[str]] = []
            for g in groups:
                terms_g = [inst_key(t) for t in g]
                terms_g = [t for t in terms_g if t in rows_by_term]
                if not terms_g:
                    return np.empty(0, np.int64), np.empty(0, dtype)
                docs_u = (
                    full_postings(terms_g[0])[0]
                    if len(terms_g) == 1
                    else np.union1d(
                        *[full_postings(t)[0] for t in terms_g]
                    )
                    if len(terms_g) == 2
                    else np.unique(
                        np.concatenate([full_postings(t)[0] for t in terms_g])
                    )
                )
                slot_docs.append(docs_u)
                slot_members.append(terms_g)
            cand = slot_docs[0]
            for d in slot_docs[1:]:
                cand = np.intersect1d(cand, d, assume_unique=True)
            if cand.size == 0:
                return cand, np.empty(0, dtype)
            # flat vectorized verify (no per-doc loop): slot i contributes
            # the key set {(doc, pos - i)} (union over member terms); a
            # phrase occurrence at (doc, p) exists iff the key (doc, p)
            # appears in ALL n_slots key sets — count keys across slots and
            # keep those seen n_slots times. (doc, pos) packs into one int64:
            # doc < 2^31 (int32 ids) and pos < 2^31 (positions are token
            # ordinals, bounded by dl).
            n_slots = len(slot_members)
            slot_pos = node.get("positions") or list(range(n_slots))
            key_parts: list[np.ndarray] = []
            for i, terms_g in enumerate(slot_members):
                shift = np.int64(slot_pos[i])
                parts = []
                for t in terms_g:
                    d_rep, p = positions_for(t, cand)
                    adj = p - shift
                    ok = adj >= 0
                    parts.append((d_rep[ok] << np.int64(31)) | adj[ok])
                keys = np.concatenate(parts) if parts else np.empty(0, np.int64)
                # dedupe within the slot: member-term unions may overlap
                key_parts.append(np.unique(keys))
            all_keys = np.concatenate(key_parts)
            uniq_keys, counts = np.unique(all_keys, return_counts=True)
            matched = uniq_keys[counts == n_slots]
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
            if merge == "sum":
                acc = np.zeros(ndocs + 1, dtype)
            elif merge == "max":
                acc = np.full(ndocs + 1, -np.inf, dtype)
            else:
                acc = np.full(ndocs + 1, np.inf, dtype)
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
                    d, f_, _ = cmod.decode_blocks(
                        r.postings,
                        np.asarray(r.block_offsets, dtype=np.int64),
                        np.asarray(r.last_docs, dtype=np.int64),
                        int(r.docs_count),
                        bids,
                    )
                    sel = cand_mask[d] & ~del_arr[d]
                    d, f_ = d[sel], f_[sel]
                    s = inst_score(tid, d, f_)
                    if merge == "sum":
                        acc[d] += s
                    elif merge == "max":
                        acc[d] = np.maximum(acc[d], s)
                    else:
                        acc[d] = np.minimum(acc[d], s)
                    # a term's shards are disjoint doc ranges, so each doc
                    # appears at most once per tid — plain += is exact
                    counts[d] += 1
            return acc, counts

        def descendant_tids(n: dict) -> list[int]:
            """Scored term ids under a wandable subtree, in tree order
            (excludes contribute no score and are NOT collected)."""
            if n["op"] == "terms":
                return list(n["tids"])
            out: list[int] = []
            for c in n["children"]:
                out.extend(descendant_tids(c))
            return out

        def node_cost(n: dict) -> int:
            cost = 0
            for t in descendant_tids(n):
                for r in rows_by_term.get(inst_key(t), []):
                    cost += int(r.docs_count)
            return cost

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
                merge = node.get("merge", "sum")
                if merge == "sum":
                    acc = np.zeros(ndocs + 1, dtype)
                elif merge == "max":
                    acc = np.full(ndocs + 1, -np.inf, dtype)
                else:
                    acc = np.full(ndocs + 1, np.inf, dtype)
                counts = np.zeros(ndocs + 1, dtype=np.int32)
                for c in node["children"]:
                    acc_c, m_c = eval_masked(c, cand_mask, blockinfo)
                    if merge == "sum":
                        # x + 0.0 == x exactly: unmatched children are
                        # no-ops, matched ones add in child order (the
                        # same per-doc order as merge_union's add.at)
                        acc += np.where(m_c, acc_c, dtype(0))
                    elif merge == "max":
                        acc = np.where(m_c, np.maximum(acc, acc_c), acc)
                    else:
                        acc = np.where(m_c, np.minimum(acc, acc_c), acc)
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

        def wand_flat(node: dict) -> tuple[np.ndarray, np.ndarray]:
            """Two-phase block-max WAND for any wandable terms/or subtree —
            including min_match>1 disjunctions and Or-of-And nests. The
            dense per-doc SUM of every descendant term's block upper bounds
            is a valid bound for any sum/max/min merge combination over
            non-negative scores (and min_match only shrinks the match set),
            so one bound serves the whole tree."""
            tids = [
                t for t in descendant_tids(node)
                if inst_key(t) in rows_by_term
            ]
            if not tids:
                return np.empty(0, np.int64), np.empty(0, dtype)
            ub, blockinfo = dense_ub(tids)

            def full_pass(mode: str):
                diag["mode"] = mode
                acc, matched = eval_masked(
                    node, np.ones(ndocs + 1, dtype=bool), blockinfo
                )
                docs = np.flatnonzero(matched)
                return docs, acc[docs]

            # bootstrap threshold from top-C upper-bound docs
            C = max(4 * k, 256)
            if ndocs + 1 <= C:
                return full_pass("full_small")
            top_ub_docs = np.argpartition(ub, -C)[-C:]
            mask1 = np.zeros(ndocs + 1, dtype=bool)
            mask1[top_ub_docs] = True
            acc1, matched1 = eval_masked(node, mask1, blockinfo)
            cand1 = np.flatnonzero(matched1)
            if cand1.size < k:
                return full_pass("full_lowmatch")
            s1 = acc1[cand1]
            theta = np.partition(s1, -k)[-k]
            mask2 = ub >= np.float64(theta)
            mask2 &= ~mask1  # already have exact scores for mask1 docs
            # degenerate pruning guard: on low-score-variance corpora the
            # k-th threshold sits below most docs' upper bounds, so phase 2
            # would re-decode nearly every block AFTER the bootstrap pass —
            # 2x an exhaustive scan. When the survivor set is dense, one
            # full pass is strictly cheaper (the reference's wanderator has
            # the same regime: dense hot-term disjunctions skip nothing).
            if mask2.sum() > 0.25 * (ndocs + 1):
                return full_pass("full_dense")
            diag["mode"] = "pruned"
            acc2, matched2 = eval_masked(node, mask2, blockinfo)
            # phase masks are disjoint: each matched doc's exact score
            # lives in exactly one acc (works for sum AND max/min merges)
            acc = np.where(matched1, acc1, acc2)
            matched = matched1 | matched2
            docs = np.flatnonzero(matched)
            return docs, acc[docs]

        def wand_and(node: dict) -> tuple[np.ndarray, np.ndarray]:
            """Block-max pruning for a top-k conjunction of wandable
            subtrees (`And(term, Or(terms))`, min_match children, nested
            Or-of-And, with excludes): the cheapest child (by summed
            docs_count) decodes exhaustively and bounds the candidate set;
            every other child decodes ONLY blocks that intersect it (the
            wanderator's leaf-level skip, `formats_10.cpp:2426-2806`), with
            a bootstrap threshold over s_lead + sum of the other children's
            block upper bounds (`score.hpp:33-62` max.tail analogue)
            pruning candidates that can never reach the top k. Excludes are
            removed from the lead BEFORE the threshold bootstrap (an
            excluded doc must never inflate theta). Exact scores accumulate
            per child in CHILD order — the same float32 op order as the
            exhaustive 'and' — so results are bit-identical to WAND-off."""
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
                tids = [
                    t for t in descendant_tids(c)
                    if inst_key(t) in rows_by_term
                ]
                if not tids:  # child matches nothing here -> empty conj
                    return np.empty(0, np.int64), np.empty(0, dtype)
                ub_j, binfo_j = dense_ub(tids)
                others.append((j, c, binfo_j, ub_j))

            def exact_on(docs_sub: np.ndarray):
                """Conjunction-exact (docs, scores) restricted to the given
                candidate docs (subset of d_lead)."""
                mask = np.zeros(ndocs + 1, dtype=bool)
                mask[docs_sub] = True
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

            C = max(4 * k, 256)
            if d_lead.size <= C:
                diag["mode"] = "and_full_small"
                return exact_on(d_lead)
            ub_total = s_lead.astype(np.float64)
            for _j, _c, _binfo, ub_j in others:
                ub_total = ub_total + ub_j[d_lead]
            top_idx = np.argpartition(ub_total, -C)[-C:]
            docs1 = np.sort(d_lead[top_idx])
            a_docs1, a_scores1 = exact_on(docs1)
            if a_docs1.size < k:
                diag["mode"] = "and_full_lowmatch"
                return exact_on(d_lead)
            theta = np.partition(a_scores1, -k)[-k]
            in_phase1 = np.zeros(ndocs + 1, dtype=bool)
            in_phase1[docs1] = True
            surv = d_lead[
                (ub_total >= np.float64(theta)) & ~in_phase1[d_lead]
            ]
            if surv.size > 0.25 * d_lead.size:  # dense-survivor guard
                diag["mode"] = "and_full_dense"
                return exact_on(d_lead)
            diag["mode"] = "and_pruned"
            a_docs2, a_scores2 = exact_on(surv)
            docs = np.concatenate([a_docs1, a_docs2])
            scores = np.concatenate([a_scores1, a_scores2])
            order_ = np.argsort(docs, kind="stable")
            return docs[order_], scores[order_]

        def wandable_subtree(n: dict) -> bool:
            """True when every scored leaf under ``n`` is a plain terms set
            (no unscored rest), all merges are sum/max/min, and min_match
            is satisfiable — the shapes the wanderator serves
            (`formats_10.cpp:2426-2806`, `min_match_disjunction.hpp`).
            Excludes under 'and' are allowed (they only shrink the match
            set, so the sum-of-UBs bound stays valid)."""
            op = n["op"]
            if op == "terms":
                return (
                    n.get("rest") is None
                    and n.get("merge", "sum") in ("sum", "max", "min")
                    and bool(n["tids"])
                    and n["min_match"] <= len(n["tids"])
                    and all(instances[t]["scored"] for t in n["tids"])
                )
            if op == "or":
                return (
                    n.get("merge", "sum") in ("sum", "max", "min")
                    and bool(n["children"])
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

        use_wand = (
            wand and tree["op"] in ("terms", "or") and wandable_subtree(tree)
        )
        use_wand_and = (
            wand
            and tree["op"] == "and"
            and tree.get("merge", "sum") == "sum"
            and len(tree["children"]) >= 2
            and all(wandable_subtree(c) for c in tree["children"])
        )
        if use_wand:
            docs, scores = wand_flat(tree)
        elif use_wand_and:
            docs, scores = wand_and(tree)
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
        if docs.size == 0:
            return empty
        order = np.lexsort((docs, -scores))
        if k is not None:
            order = order[:k]
        out_cols["segment_id"] = np.full(order.size, segment_id, dtype=np.int32)
        out_cols["doc_id"] = docs[order].astype(np.int32)
        out_cols["score"] = scores[order]
        return pd.DataFrame(out_cols)

    return kernel
