"""Bit-packed posting-block codec — the engine's one postings format.

The reference bit-packs each full 128-doc block at the block's own bit
width (`core/formats/formats_10.cpp:86-131` via
`core/utils/bit_packing.cpp`); partial tail blocks fall back to
byte-granular encoding. This module is the numpy re-expression:

- one ``postings`` blob per (segment, field, term). Full 128-doc blocks
  are a ``[w_d:u8][w_f:u8]`` header, then ``16*w_d`` bytes of MSB-first
  bit-packed doc deltas (128 values at ``w_d`` bits each — always
  byte-aligned since ``128*w % 8 == 0``), then ``16*w_f`` bytes of freqs.
  Widths are per-block (`bit_packing.hpp` maxbits analogue).
- the tail block (< 128 docs) is delta+LEB128 varint (``[deltas...,
  freqs...]``, :mod:`iresearch_spark.codec.varint`) — one partial block
  per term never pays a fixed-width header.
- ``block_offsets`` (a stored column): byte offset of each block inside
  the blob. It replaces the reference's skip list
  (`core/formats/skip_list.hpp`): random access to any block is an O(1)
  slice. Decoders REQUIRE it.
- ``last_docs`` / ``max_freqs`` / ``min_norms`` per block: the WAND data
  of `core/formats/wand_writer.hpp:137-221` (kWandTagMinNorm variant:
  competitive = max freq + min norm, norm >= freq invariant).

Positions (`encode_positions_batch` / `decode_positions` below) live in a
separate blob, so queries that don't need them never read the bytes
(Parquet column pruning == the reference's separate .pos file). They are
bit-packed the same way (`formats_10.cpp:230-265` pos block write):
128-OCCURRENCE chunks with a 1-byte width header + ``16*w`` bytes each,
varint tail. Chunk boundaries follow occurrence count, not posting blocks;
the stored ``pos_offsets`` column records per-chunk byte offsets (decode
can also header-walk without them). Payload streams (pay_lens / payloads)
stay varint+raw (:mod:`iresearch_spark.codec.postings`).

The batch functions (build's invert kernel and merge) hold no per-term
Python object, as the reference writes and merges postings as flat
streams (`formats_10.cpp:86-131`, `merge_writer.cpp:1862-1890`). The
encoders return an :class:`Encoded`: one data buffer of every term's blob
with its offsets, and each per-block column as flat values with per-term
list offsets; :meth:`Encoded.columns` wraps those buffers in Arrow arrays
without a copy. The many-row decoders take the Arrow columns and read
their value buffers and offsets in place (:func:`flat_values`). The
query kernel's single-list ``decode_postings`` / ``decode_blocks`` /
``decode_positions`` take one blob.

Corrupt input raises ``ValueError``: every full block/chunk header must
hold widths in 1..32 (doc ids, freqs and positions are int32) and span
exactly the bytes up to the next block, inside its own row's blob, and a
row must carry one block offset per 128 postings.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
import pyarrow as pa

from iresearch_spark.codec.varint import (
    decode_varints,
    encode_varints,
    varint_lengths,
)

BLOCK_SIZE = 128  # cf. core/formats/formats_10.cpp:90
MAX_WIDTH = 32
#: Largest offset an Arrow binary or list array holds (int32): a batch
#: whose buffer outgrows it is wrapped in several chunks.
MAX_OFFSET = 2**31 - 1


def _widths(maxvals: np.ndarray) -> np.ndarray:
    """Per-value bit_length (exact for ints < 2**53: frexp exponent)."""
    m = np.ascontiguousarray(maxvals, dtype=np.int64)
    w = np.frexp(m.astype(np.float64))[1].astype(np.int64)
    return np.maximum(w, 1)


def _pack_group(vals: np.ndarray, w: int) -> np.ndarray:
    """(B, 128) uint64 values -> (B, 16*w) packed bytes, MSB-first."""
    shifts = np.arange(w - 1, -1, -1, dtype=np.uint64)
    bits = ((vals[:, :, None] >> shifts) & np.uint64(1)).astype(np.uint8)
    return np.packbits(bits.reshape(vals.shape[0], -1), axis=1)


def _unpack_group(packed: np.ndarray, w: int) -> np.ndarray:
    """(B, 16*w) bytes -> (B, 128) uint64 values."""
    bits = np.unpackbits(packed, axis=1).reshape(packed.shape[0], BLOCK_SIZE, w)
    shifts = np.arange(w - 1, -1, -1, dtype=np.uint64)
    return (bits.astype(np.uint64) << shifts).sum(axis=2, dtype=np.uint64)


def _check_ranges(offs: np.ndarray, ends: np.ndarray, size: int) -> None:
    """Every block's byte range ``offs[i]:ends[i]`` lies inside the blob."""
    if offs.size and (
        offs.min() < 0 or (ends < offs).any() or ends.max() > size
    ):
        raise ValueError("corrupt packed blob: block range outside the blob")


def _gather_ranges(starts: np.ndarray, ends: np.ndarray) -> np.ndarray:
    """Indices of the concatenated ranges ``starts[i]:ends[i]``."""
    lens = ends - starts
    return np.repeat(starts - (np.cumsum(lens) - lens), lens) + np.arange(
        int(lens.sum()), dtype=np.int64
    )


def _read_widths(
    buf: np.ndarray, offs: np.ndarray, ends: np.ndarray, n_hdr: int
) -> np.ndarray:
    """(B, n_hdr) header widths of the full blocks/chunks at ``offs``, each
    of which must span exactly ``offs:ends`` (ranges already checked to lie
    inside ``buf``)."""
    if (ends - offs < n_hdr).any():
        raise ValueError("corrupt packed blob: block shorter than its header")
    w = buf[offs[:, None] + np.arange(n_hdr)].astype(np.int64)
    if w.size and (w.min() < 1 or w.max() > MAX_WIDTH):
        raise ValueError(
            f"corrupt packed blob: bit width outside 1..{MAX_WIDTH}"
        )
    if (offs + n_hdr + 16 * w.sum(axis=1) != ends).any():
        raise ValueError("corrupt packed blob: block length mismatch")
    return w


class Encoded(NamedTuple):
    """Many terms' encoded blobs and per-block columns, as flat buffers:
    term ``t``'s blob is ``data[offsets[t]:offsets[t + 1]]`` and its
    entries of each column in ``lists`` are
    ``lists[name][list_offsets[t]:list_offsets[t + 1]]``."""

    data: np.ndarray
    offsets: np.ndarray
    lists: dict[str, np.ndarray]
    list_offsets: np.ndarray

    def _chunks(self) -> list[tuple[int, int]]:
        """Term runs ``[i, j)`` whose bytes and list entries each fit
        Arrow's int32 offsets: one run unless a buffer outgrows them."""
        n = self.offsets.size - 1
        runs, i = [], 0
        while True:
            j = min(
                int(np.searchsorted(o, o[i] + MAX_OFFSET, "right")) - 1
                for o in (self.offsets, self.list_offsets)
            )
            if j == i < n:
                raise ValueError(
                    f"one encoded term exceeds {MAX_OFFSET} bytes or entries"
                )
            runs.append((i, j))
            if j >= n:
                return runs
            i = j

    def columns(
        self, blob: str, valid: np.ndarray | None = None
    ) -> dict[str, pa.ChunkedArray]:
        """The blob column (named ``blob``) and the list columns as Arrow
        arrays over this batch's buffers; rows where ``valid`` is False
        are null."""
        out: dict[str, list] = {blob: [], **{k: [] for k in self.lists}}
        for i, j in self._chunks():
            o, lo = self.offsets[i : j + 1], self.list_offsets[i : j + 1]
            validity = mask = None
            if valid is not None:
                validity = pa.py_buffer(np.packbits(valid[i:j], bitorder="little"))
                mask = pa.array(~valid[i:j])
            out[blob].append(pa.BinaryArray.from_buffers(
                pa.binary(), j - i, [
                    validity,
                    pa.py_buffer((o - o[0]).astype(np.int32)),
                    pa.py_buffer(self.data[o[0] : o[-1]]),
                ],
            ))
            lo32 = pa.array((lo - lo[0]).astype(np.int32))
            for k, v in self.lists.items():
                out[k].append(pa.ListArray.from_arrays(
                    lo32, pa.array(v[lo[0] : lo[-1]]), mask=mask
                ))
        return {k: pa.chunked_array(v) for k, v in out.items()}


def flat_values(col) -> tuple[np.ndarray, np.ndarray, np.ndarray | None]:
    """A binary or ``list<int64>`` Arrow column as ``(values, offsets,
    valid)``: row ``i`` is ``values[offsets[i]:offsets[i + 1]]``, and
    ``valid`` is None when no row is null. A single-chunk column (sliced
    or not) is read in place; the chunks of a multi-chunk column are
    concatenated."""
    parts = []
    for c in getattr(col, "chunks", [col]):
        if not len(c):
            continue
        if pa.types.is_binary(c.type):
            _, ob, db = c.buffers()
            offs = np.frombuffer(ob, np.int32)[c.offset : c.offset + len(c) + 1]
            vals = np.frombuffer(db, np.uint8) if db else np.empty(0, np.uint8)
        else:
            offs, vals = c.offsets.to_numpy(), c.values.to_numpy()
        valid = c.is_valid().to_numpy(zero_copy_only=False) if c.null_count else None
        parts.append((vals, offs.astype(np.int64), valid))
    if len(parts) == 1:
        return parts[0]
    if not parts:
        dtype = np.uint8 if pa.types.is_binary(col.type) else np.int64
        return np.empty(0, dtype), np.zeros(1, np.int64), None
    lens = [np.diff(o) for _, o, _ in parts]
    valid = None
    if any(v is not None for *_, v in parts):
        valid = np.concatenate([
            np.ones(n.size, bool) if v is None else v
            for n, (*_, v) in zip(lens, parts)
        ])
    return (
        np.concatenate([v[o[0] : o[-1]] for v, o, _ in parts]),
        np.concatenate([[0], np.cumsum(np.concatenate(lens))]),
        valid,
    )


def encode_postings_batch(
    docs: np.ndarray,
    freqs: np.ndarray,
    dls: np.ndarray,
    term_lengths: np.ndarray,
) -> Encoded:
    """Encode MANY posting lists in one vectorized pass.

    ``docs``/``freqs``/``dls`` are the term-major concatenation of every
    term's posting list (doc ids ascending within each term, ``dls`` the
    per-doc Norm2 value feeding block min_norm); ``term_lengths[t]`` =
    number of postings of term t. One global encode replaces a per-term
    Python loop — this keeps the segment-flush kernel (the analogue of
    `field_data.cpp:1124-1162` flush) vectorized when a segment has
    hundreds of thousands of unique terms.

    Returns the blobs (``postings``) and the per-block ``block_offsets``,
    ``last_docs``, ``max_freqs`` and ``min_norms`` of every term as one
    :class:`Encoded`.
    """
    nt = np.ascontiguousarray(term_lengths, dtype=np.int64)
    T = nt.size
    N = int(nt.sum())
    blocks_per_term = (nt + BLOCK_SIZE - 1) // BLOCK_SIZE
    list_offsets = np.concatenate([[0], np.cumsum(blocks_per_term)])
    if N == 0:
        e = np.empty(0, dtype=np.int64)
        return Encoded(
            np.empty(0, np.uint8), np.zeros(T + 1, np.int64),
            dict.fromkeys(("block_offsets", "last_docs", "max_freqs", "min_norms"), e),
            list_offsets,
        )
    docs = np.ascontiguousarray(docs, dtype=np.int64)
    freqs = np.ascontiguousarray(freqs, dtype=np.int64)
    dls = np.ascontiguousarray(dls, dtype=np.int64)

    term_starts = np.concatenate([[0], np.cumsum(nt)])[:-1]
    idx = np.arange(N, dtype=np.int64)
    term_of = np.repeat(np.arange(T, dtype=np.int64), nt)
    rank_in_term = idx - term_starts[term_of]

    deltas = np.empty(N, dtype=np.int64)
    deltas[1:] = docs[1:] - docs[:-1]
    deltas[term_starts] = docs[term_starts]

    block_within = rank_in_term // BLOCK_SIZE
    block_term_offsets = list_offsets[:-1]
    block_id = block_term_offsets[term_of] + block_within
    total_blocks = int(list_offsets[-1])
    block_sizes = np.bincount(block_id, minlength=total_blocks).astype(np.int64)
    within_block = rank_in_term - BLOCK_SIZE * block_within

    term_of_block = np.repeat(np.arange(T, dtype=np.int64), blocks_per_term)
    block_within_of_block = (
        np.arange(total_blocks, dtype=np.int64)
        - block_term_offsets[term_of_block]
    )
    block_first_posting = (
        term_starts[term_of_block] + BLOCK_SIZE * block_within_of_block
    )
    is_full = block_sizes == BLOCK_SIZE

    maxd = np.maximum.reduceat(deltas, block_first_posting)
    maxf_all = np.maximum.reduceat(freqs, block_first_posting)
    wd = _widths(maxd)
    wf = _widths(maxf_all)

    # ---- per-block byte lengths
    blen = np.zeros(total_blocks, dtype=np.int64)
    blen[is_full] = 2 + 16 * (wd[is_full] + wf[is_full])

    tail_blocks = np.flatnonzero(~is_full)
    if tail_blocks.size:
        tail_seq = np.full(total_blocks, -1, dtype=np.int64)
        tail_seq[tail_blocks] = np.arange(tail_blocks.size, dtype=np.int64)
        tsizes = block_sizes[tail_blocks]
        tail_val_starts = np.concatenate([[0], np.cumsum(2 * tsizes)])[:-1]
        tail_posting = ~is_full[block_id]
        tp = np.flatnonzero(tail_posting)
        base = tail_val_starts[tail_seq[block_id[tp]]]
        tail_values = np.empty(int(2 * tsizes.sum()), dtype=np.uint64)
        tail_values[base + within_block[tp]] = deltas[tp].astype(np.uint64)
        tail_values[
            base + block_sizes[block_id[tp]] + within_block[tp]
        ] = freqs[tp].astype(np.uint64)
        tlens = varint_lengths(tail_values)
        tcum = np.concatenate([[0], np.cumsum(tlens)])
        tail_byte_starts = tcum[tail_val_starts]
        tail_byte_lens = np.diff(np.append(tail_byte_starts, tcum[-1]))
        blen[tail_blocks] = tail_byte_lens
        tail_buf = np.frombuffer(encode_varints(tail_values), dtype=np.uint8)

    # ---- offsets (within-term) and absolute block starts
    bcum = np.concatenate([[0], np.cumsum(blen)])
    term_buf_start = bcum[list_offsets]
    block_start_abs = bcum[:-1]
    block_byte_off = block_start_abs - term_buf_start[term_of_block]
    out = np.zeros(int(bcum[-1]), dtype=np.uint8)

    # ---- full blocks: headers + width-grouped packed sections
    fb = np.flatnonzero(is_full)
    if fb.size:
        out[block_start_abs[fb]] = wd[fb].astype(np.uint8)
        out[block_start_abs[fb] + 1] = wf[fb].astype(np.uint8)
        gather = block_first_posting[:, None] + np.arange(
            BLOCK_SIZE, dtype=np.int64
        )
        for w in np.unique(wd[fb]):
            grp = fb[wd[fb] == w]
            vals = deltas[gather[grp]].astype(np.uint64)
            packed = _pack_group(vals, int(w))
            tgt = (
                block_start_abs[grp][:, None]
                + 2
                + np.arange(16 * int(w), dtype=np.int64)
            ).ravel()
            out[tgt] = packed.ravel()
        for w in np.unique(wf[fb]):
            grp = fb[wf[fb] == w]
            vals = freqs[gather[grp]].astype(np.uint64)
            packed = _pack_group(vals, int(w))
            tgt = (
                block_start_abs[grp][:, None]
                + 2
                + 16 * wd[grp][:, None]
                + np.arange(16 * int(w), dtype=np.int64)
            ).ravel()
            out[tgt] = packed.ravel()

    # ---- tail blocks: scatter the shared varint buffer
    if tail_blocks.size:
        tgt = np.repeat(
            block_start_abs[tail_blocks] - tail_byte_starts, tail_byte_lens
        ) + np.arange(int(tail_byte_lens.sum()), dtype=np.int64)
        # (block_start + local arange) written as one global arange with a
        # per-tail base correction
        out[tgt] = tail_buf

    # ---- WAND metadata
    block_last_posting = block_first_posting + block_sizes - 1
    return Encoded(
        out,
        term_buf_start,
        {
            "block_offsets": block_byte_off,
            "last_docs": docs[block_last_posting],
            "max_freqs": maxf_all,
            "min_norms": np.minimum.reduceat(dls, block_first_posting),
        },
        list_offsets,
    )


def _decode_selected(
    buf: np.ndarray,
    offs: np.ndarray,
    ends: np.ndarray,
    sizes: np.ndarray,
) -> tuple[np.ndarray, np.ndarray]:
    """Decode the given blocks (byte ranges ``offs[i]:ends[i]``, posting
    counts ``sizes[i]``) -> (deltas, freqs) concatenated in block order."""
    out_n = int(sizes.sum())
    deltas = np.empty(out_n, dtype=np.int64)
    freqs = np.empty(out_n, dtype=np.int64)
    out_starts = np.concatenate([[0], np.cumsum(sizes)])[:-1]
    is_full = sizes == BLOCK_SIZE
    _check_ranges(offs, ends, buf.size)

    fb = np.flatnonzero(is_full)
    if fb.size:
        wd, wf = _read_widths(buf, offs[fb], ends[fb], 2).T
        for w in np.unique(wd):
            grp = fb[wd == w]
            src = (
                offs[grp][:, None]
                + 2
                + np.arange(16 * int(w), dtype=np.int64)
            )
            vals = _unpack_group(buf[src], int(w))
            deltas[out_starts[grp][:, None] + np.arange(BLOCK_SIZE)] = (
                vals.astype(np.int64)
            )
        for w in np.unique(wf):
            grp = fb[wf == w]
            src = (
                offs[grp][:, None]
                + 2
                + 16 * wd[wf == w][:, None]
                + np.arange(16 * int(w), dtype=np.int64)
            )
            vals = _unpack_group(buf[src], int(w))
            freqs[out_starts[grp][:, None] + np.arange(BLOCK_SIZE)] = (
                vals.astype(np.int64)
            )

    tb = np.flatnonzero(~is_full)
    if tb.size:
        tsizes = sizes[tb]
        tvals = decode_varints(
            buf[_gather_ranges(offs[tb], ends[tb])], int(2 * tsizes.sum())
        )
        sec0 = np.concatenate([[0], np.cumsum(2 * tsizes)])[:-1]
        tout = np.concatenate([[0], np.cumsum(tsizes)])[:-1]
        n_t = int(tsizes.sum())
        i = np.arange(n_t, dtype=np.int64)
        sel_of = np.repeat(np.arange(tb.size, dtype=np.int64), tsizes)
        within = i - tout[sel_of]
        d = tvals[sec0[sel_of] + within].astype(np.int64)
        f = tvals[sec0[sel_of] + tsizes[sel_of] + within].astype(np.int64)
        dst_idx = np.repeat(out_starts[tb], tsizes) + within
        deltas[dst_idx] = d
        freqs[dst_idx] = f
    return deltas, freqs


def _block_sizes(n: int, offs: np.ndarray) -> np.ndarray:
    """Posting count of each of an ``n``-doc list's blocks; ``offs`` (its
    stored block offsets) must have one entry per block."""
    starts = np.arange(0, n, BLOCK_SIZE, dtype=np.int64)
    if offs.size != starts.size:
        raise ValueError(
            f"corrupt packed blob: {offs.size} block offsets for "
            f"{starts.size} blocks"
        )
    return np.diff(np.append(starts, n))


def decode_postings(
    blob: bytes, docs_count: int, block_offsets: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Full decode of one posting list -> (doc_ids, freqs)."""
    n = int(docs_count)
    if n == 0:
        e = np.empty(0, dtype=np.int64)
        return e, e
    offs = np.ascontiguousarray(block_offsets, dtype=np.int64)
    buf = np.frombuffer(blob, dtype=np.uint8)
    ends = np.append(offs[1:], len(blob))
    deltas, freqs = _decode_selected(buf, offs, ends, _block_sizes(n, offs))
    return np.cumsum(deltas), freqs


def decode_postings_many(
    postings: pa.Array | pa.ChunkedArray,
    docs_counts: np.ndarray,
    block_offsets: pa.Array | pa.ChunkedArray,
) -> tuple[np.ndarray, np.ndarray]:
    """Decode MANY posting blobs (the merge path) from the Arrow
    ``postings`` and ``block_offsets`` columns, read in place: every
    row's block ranges and posting counts come from one vectorized pass,
    then one width-grouped unpack covers ALL rows' blocks at once. Returns
    the concatenation ``(doc_ids, freqs)`` across all rows, in row order —
    the inverse of :func:`encode_postings_batch`. Each row must carry
    ceil(docs_count/128) block offsets, and each block must lie inside
    its own row's blob."""
    nt = np.ascontiguousarray(docs_counts, dtype=np.int64)
    buf, blob_offs, _ = flat_values(postings)
    vals, list_offs, _ = flat_values(block_offsets)
    nb = (nt + BLOCK_SIZE - 1) // BLOCK_SIZE
    bad = np.flatnonzero(np.diff(list_offs) != nb)
    if bad.size:
        r = bad[0]
        raise ValueError(
            f"corrupt packed blob: {list_offs[r + 1] - list_offs[r]} block "
            f"offsets for {nb[r]} blocks in row {r}"
        )
    if int(nt.sum()) == 0:
        e = np.empty(0, dtype=np.int64)
        return e, e
    row = np.repeat(np.arange(nt.size, dtype=np.int64), nb)
    row_block0 = np.cumsum(nb) - nb
    within = np.arange(row.size, dtype=np.int64) - row_block0[row]
    offs = vals[list_offs[row] + within]
    # a block ends where the next one of its row starts, the last at its
    # row's blob end; the last block holds the row's remainder postings
    blob_len = np.diff(blob_offs)
    has = np.flatnonzero(nb)
    last = row_block0[has] + nb[has] - 1
    ends = np.empty_like(offs)
    ends[:-1] = offs[1:]
    ends[last] = blob_len[has]
    sizes = np.full(row.size, BLOCK_SIZE, dtype=np.int64)
    sizes[last] = nt[has] - BLOCK_SIZE * (nb[has] - 1)
    if ((offs < 0) | (ends < offs) | (ends > blob_len[row])).any():
        raise ValueError("corrupt packed blob: block range outside its row's blob")
    base = blob_offs[:-1][row]
    deltas, freqs = _decode_selected(buf, base + offs, base + ends, sizes)
    term_starts = np.cumsum(nt) - nt
    cs = np.cumsum(deltas)
    cs_before = np.concatenate([[0], cs])[term_starts]
    doc_ids = cs - np.repeat(cs_before, nt)
    return doc_ids, freqs


def encode_positions_batch(
    freqs: np.ndarray, flat_positions: np.ndarray, term_lengths: np.ndarray
) -> Encoded:
    """Vectorized positions encoding for many terms at once.

    ``flat_positions`` is the term-major / doc-major / position-ascending
    concatenation of every occurrence position; per-doc counts are
    ``freqs`` (so counts are not stored). Positions are delta-encoded
    within each doc (absolute at each doc start). Per term, full
    128-occurrence chunks are ``[w:u8] + 16*w`` bytes of MSB-first packed
    deltas, the tail (< 128 occurrences) is varint. Returns the blobs
    (``positions``) and their ``pos_offsets`` as one :class:`Encoded`;
    offsets are per-CHUNK byte offsets (including the tail chunk when
    present).
    """
    nt = np.ascontiguousarray(term_lengths, dtype=np.int64)
    T = nt.size
    freqs = np.ascontiguousarray(freqs, dtype=np.int64)
    flat = np.ascontiguousarray(flat_positions, dtype=np.int64)
    total = int(freqs.sum())
    if flat.size != total:
        raise ValueError("flat_positions length != sum(freqs)")

    posting_starts = np.cumsum(freqs) - freqs
    deltas = np.diff(flat, prepend=np.int64(0))
    deltas[posting_starts] = flat[posting_starts]

    occ_cum = np.concatenate([[0], np.cumsum(freqs)])
    occ_per_term = np.diff(occ_cum[np.concatenate([[0], np.cumsum(nt)])])
    occ_starts = np.cumsum(occ_per_term) - occ_per_term

    full_per_term = occ_per_term // BLOCK_SIZE
    tail_per_term = occ_per_term - full_per_term * BLOCK_SIZE
    total_full = int(full_per_term.sum())

    # ---- full chunks: global table + per-chunk widths
    term_of_chunk = np.repeat(np.arange(T, dtype=np.int64), full_per_term)
    chunk_term_off = np.cumsum(full_per_term) - full_per_term
    chunk_within = (
        np.arange(total_full, dtype=np.int64) - chunk_term_off[term_of_chunk]
    )
    chunk_first = occ_starts[term_of_chunk] + BLOCK_SIZE * chunk_within
    gather = chunk_first[:, None] + np.arange(BLOCK_SIZE, dtype=np.int64)
    wd = _widths(deltas[gather].max(axis=1, initial=0))
    chunk_len = 1 + 16 * wd
    term_full_bytes = np.bincount(
        term_of_chunk, weights=chunk_len, minlength=T
    ).astype(np.int64)

    # ---- tail: one shared varint buffer
    term_of_occ = np.repeat(np.arange(T, dtype=np.int64), occ_per_term)
    within_occ = np.arange(total, dtype=np.int64) - occ_starts[term_of_occ]
    tail_mask = within_occ >= BLOCK_SIZE * full_per_term[term_of_occ]
    tail_vals = deltas[tail_mask].astype(np.uint64)
    term_tail_bytes = np.bincount(
        term_of_occ[tail_mask], weights=varint_lengths(tail_vals), minlength=T
    ).astype(np.int64)

    term_bytes = term_full_bytes + term_tail_bytes
    offsets = np.concatenate([[0], np.cumsum(term_bytes)])
    term_blob_start = offsets[:-1]
    out = np.zeros(int(offsets[-1]), dtype=np.uint8)

    # ---- write full chunks (width-grouped, like the doc-block encoder)
    ccum = np.concatenate([[0], np.cumsum(chunk_len)])
    chunk_off_in_term = ccum[:-1] - ccum[chunk_term_off][term_of_chunk]
    chunk_abs = term_blob_start[term_of_chunk] + chunk_off_in_term
    out[chunk_abs] = wd.astype(np.uint8)
    for w in np.unique(wd):
        grp = np.flatnonzero(wd == w)
        vals = deltas[gather[grp]].astype(np.uint64)
        packed = _pack_group(vals, int(w))
        tgt = (
            chunk_abs[grp][:, None] + 1 + np.arange(16 * int(w), dtype=np.int64)
        ).ravel()
        out[tgt] = packed.ravel()

    # ---- write tails (scatter the shared varint buffer)
    if tail_vals.size:
        tail_abs_start = term_blob_start + term_full_bytes
        out[_gather_ranges(tail_abs_start, tail_abs_start + term_tail_bytes)] = (
            np.frombuffer(encode_varints(tail_vals), dtype=np.uint8)
        )

    # ---- per-chunk offsets: the full chunks, then the tail chunk if any
    has_tail = tail_per_term > 0
    list_offsets = np.concatenate([[0], np.cumsum(full_per_term + has_tail)])
    pos_offsets = np.empty(int(list_offsets[-1]), dtype=np.int64)
    pos_offsets[list_offsets[term_of_chunk] + chunk_within] = chunk_off_in_term
    pos_offsets[list_offsets[:-1][has_tail] + full_per_term[has_tail]] = (
        term_full_bytes[has_tail]
    )
    return Encoded(out, offsets, {"pos_offsets": pos_offsets}, list_offsets)


def decode_positions(
    blob: bytes, freqs: np.ndarray, pos_offsets: np.ndarray | None = None
) -> np.ndarray:
    """Full decode of one positions blob -> flat positions (per-doc
    cumsum'd). Uses the stored per-chunk ``pos_offsets`` when given and
    consistent; otherwise header-walks the full chunks."""
    freqs = np.ascontiguousarray(freqs, dtype=np.int64)
    stored = None
    if pos_offsets is not None:
        o = np.ascontiguousarray(pos_offsets, dtype=np.int64)
        stored = (o, np.asarray([0, o.size], np.int64), None)
    return _decode_positions(
        (np.frombuffer(blob, dtype=np.uint8),
         np.asarray([0, len(blob)], np.int64), None),
        freqs, np.asarray([freqs.size], np.int64), stored,
    )


def decode_positions_many(
    positions: pa.Array | pa.ChunkedArray,
    freqs: np.ndarray,
    counts: np.ndarray,
    pos_offsets: pa.Array | pa.ChunkedArray | None = None,
) -> np.ndarray:
    """Cross-row vectorized decode of MANY positions blobs — the merge hot
    path (`merge.py` decodes an entire term range at once; a per-row
    decode loop measured 3.2x slower).

    - ``positions``: the Arrow blob column, read in place; null rows
      yield zero placeholders (mixed multi-field ranges where only the
      payload field carries positions).
    - ``freqs``: flat per-posting freqs, row-major (all rows concatenated).
    - ``counts``: per-row posting counts (``sum(counts) == len(freqs)``).
    - ``pos_offsets``: the stored chunk offsets column, or None; rows
      without usable offsets are header-walked.

    Returns the flat positions for all rows concatenated (zeros for null
    rows), identical to a per-row decode loop.
    """
    return _decode_positions(
        flat_values(positions), freqs, counts,
        None if pos_offsets is None else flat_values(pos_offsets),
    )


def _decode_positions(blobs, freqs, counts, stored) -> np.ndarray:
    """The positions decoder over ``flat_values``-shaped ``blobs`` and
    ``stored`` chunk offsets (or None). The chunk grid restarts per row:
    every full chunk's byte range comes from one vectorized pass over the
    stored offsets (a Python header walk only for rows without them),
    then one width-grouped unpack covers all rows; tails are gathered into
    ONE contiguous varint buffer (varint streams concatenate) and decoded
    in a single call. The final per-doc absolutization runs on the global
    delta array: each doc's first delta is absolute, so the row/doc grid
    needs no special-casing."""
    buf, blob_offs, valid = blobs
    counts = np.ascontiguousarray(counts, dtype=np.int64)
    freqs = np.ascontiguousarray(freqs, dtype=np.int64)
    post_cum = np.concatenate([[0], np.cumsum(counts)])
    occ_cum = np.concatenate([[0], np.cumsum(freqs)])
    total = int(occ_cum[-1])
    if total == 0:
        return np.empty(0, dtype=np.int64)
    row_occ_start = occ_cum[post_cum[:-1]]
    row_occ = occ_cum[post_cum[1:]] - row_occ_start

    present = row_occ > 0
    if valid is not None:
        present &= valid
    blob_start = blob_offs[:-1]
    blob_len = np.diff(blob_offs)
    n_full = np.where(present, row_occ // BLOCK_SIZE, 0)
    tail_occ = np.where(present, row_occ - n_full * BLOCK_SIZE, 0)
    n_chunks = n_full + (tail_occ > 0)

    # ---- full chunks' (row, within-row start, end), from the stored
    # offsets where a row has one per chunk, else by a header walk
    tail_off = np.zeros(n_full.size, dtype=np.int64)  # within-row
    use = np.zeros(n_full.size, dtype=bool)
    if stored is not None:
        vals, list_offs, ovalid = stored
        use = np.diff(list_offs) == n_chunks
        if ovalid is not None:
            use &= ovalid
    rows = np.flatnonzero(use & (n_full > 0))
    nf = n_full[rows]
    c_row = np.repeat(rows, nf)
    c_k = np.arange(c_row.size, dtype=np.int64) - np.repeat(np.cumsum(nf) - nf, nf)
    if rows.size:
        # a row's entry nf is its tail chunk's offset, when it has a tail
        padded = np.append(vals, 0)
        c_off = padded[list_offs[c_row] + c_k]
        tail_off[rows] = np.where(
            tail_occ[rows] > 0, padded[list_offs[rows] + nf], blob_len[rows]
        )
    else:
        c_off = np.empty(0, dtype=np.int64)
    walk_rows, walk_offs = [], []
    for i in np.flatnonzero(~use & (n_full > 0)):
        offs_row = np.empty(n_full[i], dtype=np.int64)
        o = 0
        for k in range(n_full[i]):
            if o >= blob_len[i]:
                raise ValueError("corrupt packed blob: chunk past the blob end")
            offs_row[k] = o
            o += 1 + 16 * int(buf[blob_start[i] + o])
        tail_off[i] = o
        walk_rows.append(np.full(offs_row.size, i))
        walk_offs.append(offs_row)
    c_row = np.concatenate([c_row, *walk_rows]).astype(np.int64)
    c_k = np.concatenate(
        [c_k, *(np.arange(o.size, dtype=np.int64) for o in walk_offs)]
    )
    c_off = np.concatenate([c_off, *walk_offs])
    c_end = np.empty_like(c_off)
    c_end[:-1] = c_off[1:]
    last = c_k == n_full[c_row] - 1
    c_end[last] = tail_off[c_row[last]]
    if ((c_off < 0) | (c_end < c_off) | (c_end > blob_len[c_row])).any():
        raise ValueError("corrupt packed blob: block range outside its row's blob")

    deltas = np.zeros(total, dtype=np.int64)
    if c_row.size:
        chunk_abs = blob_start[c_row] + c_off
        chunk_dst = row_occ_start[c_row] + BLOCK_SIZE * c_k
        wd = _read_widths(buf, chunk_abs, blob_start[c_row] + c_end, 1)[:, 0]
        lane = np.arange(BLOCK_SIZE, dtype=np.int64)
        for w in np.unique(wd):
            grp = np.flatnonzero(wd == w)
            src = (
                chunk_abs[grp][:, None]
                + 1
                + np.arange(16 * int(w), dtype=np.int64)
            )
            deltas[chunk_dst[grp][:, None] + lane] = _unpack_group(
                buf[src], int(w)
            ).astype(np.int64)

    # ---- tails: gather byte ranges into one stream, decode once
    tail_rows = np.flatnonzero(tail_occ > 0)
    if tail_rows.size:
        t_start = blob_start[tail_rows] + tail_off[tail_rows]
        tvals = decode_varints(
            buf[_gather_ranges(t_start, blob_offs[1:][tail_rows])],
            int(tail_occ[tail_rows].sum()),
        )
        d_start = row_occ_start[tail_rows] + BLOCK_SIZE * n_full[tail_rows]
        deltas[_gather_ranges(d_start, d_start + tail_occ[tail_rows])] = (
            tvals.astype(np.int64)
        )

    doc_starts = occ_cum[:-1]
    cs = np.cumsum(deltas)
    cs_before = np.concatenate([[0], cs])[doc_starts]
    return cs - np.repeat(cs_before, freqs)


def decode_blocks(
    blob: bytes,
    block_offsets: np.ndarray,
    last_docs: np.ndarray,
    docs_count: int,
    block_ids: np.ndarray,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode only the selected blocks (the WAND skip path).

    Returns ``(doc_ids, freqs, block_of_each_posting)`` for the union of the
    selected blocks, in ascending doc order; each block's first doc id is
    rebased on the previous block's ``last_docs`` entry.
    """
    n = int(docs_count)
    block_ids = np.asarray(block_ids, dtype=np.int64)
    if n == 0 or block_ids.size == 0:
        e = np.empty(0, dtype=np.int64)
        return e, e, e
    offs_all = np.ascontiguousarray(block_offsets, dtype=np.int64)
    ends_all = np.append(offs_all[1:], len(blob))
    all_sizes = _block_sizes(n, offs_all)
    buf = np.frombuffer(blob, dtype=np.uint8)
    sizes = all_sizes[block_ids]
    deltas, freqs = _decode_selected(
        buf, offs_all[block_ids], ends_all[block_ids], sizes
    )
    out_starts = np.concatenate([[0], np.cumsum(sizes)])[:-1]
    bases = np.where(block_ids > 0, last_docs[block_ids - 1], 0).astype(
        np.int64
    )
    cs = np.cumsum(deltas)
    cs_before = np.concatenate([[0], cs])[out_starts]
    correction = bases - cs_before
    doc_ids = cs + np.repeat(correction, sizes)
    sel_of = np.repeat(np.arange(block_ids.size, dtype=np.int64), sizes)
    return doc_ids, freqs, block_ids[sel_of]
