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

Corrupt input raises ``ValueError``: every full block/chunk header must
hold widths in 1..32 (doc ids, freqs and positions are int32) and span
exactly the bytes up to the next block, inside the blob.
"""

from __future__ import annotations

import numpy as np

from iresearch_spark.codec.varint import (
    decode_varints,
    encode_varints,
    varint_lengths,
)

BLOCK_SIZE = 128  # cf. core/formats/formats_10.cpp:90
MAX_WIDTH = 32


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


def encode_postings_batch(
    docs: np.ndarray,
    freqs: np.ndarray,
    dls: np.ndarray,
    term_lengths: np.ndarray,
) -> tuple[list[bytes], list[np.ndarray], list[np.ndarray], list[np.ndarray], list[np.ndarray]]:
    """Encode MANY posting lists in one vectorized pass.

    ``docs``/``freqs``/``dls`` are the term-major concatenation of every
    term's posting list (doc ids ascending within each term, ``dls`` the
    per-doc Norm2 value feeding block min_norm); ``term_lengths[t]`` =
    number of postings of term t. One global encode + slicing replaces a
    per-term Python loop — this keeps the segment-flush kernel (the
    analogue of `field_data.cpp:1124-1162` flush) vectorized when a
    segment has hundreds of thousands of unique terms.

    Returns per-term lists: ``(blobs, block_offsets, last_docs, max_freqs,
    min_norms)``.
    """
    nt = np.ascontiguousarray(term_lengths, dtype=np.int64)
    T = nt.size
    N = int(nt.sum())
    if N == 0:
        return [], [], [], [], []
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
    blocks_per_term = (nt + BLOCK_SIZE - 1) // BLOCK_SIZE
    block_term_offsets = np.concatenate([[0], np.cumsum(blocks_per_term)])[:-1]
    block_id = block_term_offsets[term_of] + block_within
    total_blocks = int(blocks_per_term.sum())
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
    term_buf_start = bcum[block_term_offsets]
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
    last_docs_all = docs[block_last_posting]
    min_norms_all = np.minimum.reduceat(dls, block_first_posting)

    blob_all = out.tobytes()
    term_byte_end = np.append(term_buf_start[1:], int(bcum[-1]))
    blobs = [
        blob_all[term_buf_start[t] : term_byte_end[t]] for t in range(T)
    ]
    cuts = np.cumsum(blocks_per_term)[:-1]
    return (
        blobs,
        np.split(block_byte_off, cuts),
        np.split(last_docs_all, cuts),
        np.split(maxf_all, cuts),
        np.split(min_norms_all, cuts),
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
        pieces = [buf[offs[b] : ends[b]] for b in tb]
        tsizes = sizes[tb]
        tvals = decode_varints(np.concatenate(pieces), int(2 * tsizes.sum()))
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
    blobs: list[bytes],
    docs_counts: np.ndarray,
    block_offsets_list: list[np.ndarray],
) -> tuple[np.ndarray, np.ndarray]:
    """Decode MANY posting blobs (the merge path): one width-grouped unpack
    over ALL rows' blocks at once. Returns the concatenation ``(doc_ids,
    freqs)`` across all rows, in row order — the inverse of
    :func:`encode_postings_batch`."""
    nt = np.ascontiguousarray(docs_counts, dtype=np.int64)
    T = nt.size
    N = int(nt.sum())
    if N == 0:
        e = np.empty(0, dtype=np.int64)
        return e, e
    buf = np.concatenate(
        [np.frombuffer(b, dtype=np.uint8) for b in blobs]
    )
    blob_lens = np.array([len(b) for b in blobs], dtype=np.int64)
    buf_starts = np.concatenate([[0], np.cumsum(blob_lens)])[:-1]
    offs_parts, ends_parts, sizes_parts = [], [], []
    for t in range(T):
        o = np.ascontiguousarray(block_offsets_list[t], dtype=np.int64)
        offs_parts.append(buf_starts[t] + o)
        ends_parts.append(
            buf_starts[t] + np.append(o[1:], blob_lens[t])
        )
        sizes_parts.append(_block_sizes(int(nt[t]), o))
    offs = np.concatenate(offs_parts)
    ends = np.concatenate(ends_parts)
    sizes = np.concatenate(sizes_parts).astype(np.int64)
    deltas, freqs = _decode_selected(buf, offs, ends, sizes)
    term_starts = np.concatenate([[0], np.cumsum(nt)])[:-1]
    cs = np.cumsum(deltas)
    cs_before = np.concatenate([[0], cs])[term_starts]
    doc_ids = cs - np.repeat(cs_before, nt)
    return doc_ids, freqs


def encode_positions_batch(
    freqs: np.ndarray, flat_positions: np.ndarray, term_lengths: np.ndarray
) -> tuple[list[bytes], list[np.ndarray]]:
    """Vectorized positions encoding for many terms at once.

    ``flat_positions`` is the term-major / doc-major / position-ascending
    concatenation of every occurrence position; per-doc counts are
    ``freqs`` (so counts are not stored). Positions are delta-encoded
    within each doc (absolute at each doc start). Per term, full
    128-occurrence chunks are ``[w:u8] + 16*w`` bytes of MSB-first packed
    deltas, the tail (< 128 occurrences) is varint. Returns per-term
    ``(blobs, offsets)``; offsets are per-CHUNK byte offsets (including the
    tail chunk when present).
    """
    nt = np.ascontiguousarray(term_lengths, dtype=np.int64)
    T = nt.size
    N = int(nt.sum())
    if N == 0:
        return [], []
    freqs = np.ascontiguousarray(freqs, dtype=np.int64)
    flat = np.ascontiguousarray(flat_positions, dtype=np.int64)
    total = int(freqs.sum())
    if flat.size != total:
        raise ValueError("flat_positions length != sum(freqs)")

    posting_starts = np.concatenate([[0], np.cumsum(freqs)])[:-1]
    deltas = np.diff(flat, prepend=np.int64(0))
    deltas[posting_starts] = flat[posting_starts]

    term_posting_starts = np.concatenate([[0], np.cumsum(nt)])[:-1]
    occ_per_term = np.add.reduceat(freqs, term_posting_starts)
    occ_starts = np.concatenate([[0], np.cumsum(occ_per_term)])[:-1]

    full_per_term = occ_per_term // BLOCK_SIZE
    tail_per_term = occ_per_term - full_per_term * BLOCK_SIZE
    total_full = int(full_per_term.sum())

    # ---- full chunks: global table + per-chunk widths
    if total_full:
        term_of_chunk = np.repeat(np.arange(T, dtype=np.int64), full_per_term)
        chunk_term_off = np.concatenate([[0], np.cumsum(full_per_term)])[:-1]
        chunk_within = (
            np.arange(total_full, dtype=np.int64)
            - chunk_term_off[term_of_chunk]
        )
        chunk_first = occ_starts[term_of_chunk] + BLOCK_SIZE * chunk_within
        gather = chunk_first[:, None] + np.arange(BLOCK_SIZE, dtype=np.int64)
        wd = _widths(deltas[gather].max(axis=1))
        chunk_len = 1 + 16 * wd
        term_full_bytes = np.zeros(T, dtype=np.int64)
        np.add.at(term_full_bytes, term_of_chunk, chunk_len)
    else:
        wd = np.empty(0, dtype=np.int64)
        chunk_len = np.empty(0, dtype=np.int64)
        term_full_bytes = np.zeros(T, dtype=np.int64)

    # ---- tail: one shared varint buffer
    term_of_occ = np.repeat(np.arange(T, dtype=np.int64), occ_per_term)
    within_occ = np.arange(total, dtype=np.int64) - occ_starts[term_of_occ]
    tail_mask = within_occ >= BLOCK_SIZE * full_per_term[term_of_occ]
    tail_vals = deltas[tail_mask].astype(np.uint64)
    term_tail_bytes = np.zeros(T, dtype=np.int64)
    if tail_vals.size:
        tlens = varint_lengths(tail_vals)
        np.add.at(term_tail_bytes, term_of_occ[tail_mask], tlens)
        tail_buf = np.frombuffer(encode_varints(tail_vals), dtype=np.uint8)

    term_bytes = term_full_bytes + term_tail_bytes
    term_blob_start = np.concatenate([[0], np.cumsum(term_bytes)])[:-1]
    out = np.zeros(int(term_bytes.sum()), dtype=np.uint8)

    # ---- write full chunks (width-grouped, like the doc-block encoder)
    if total_full:
        ccum = np.concatenate([[0], np.cumsum(chunk_len)])
        chunk_off_in_term = ccum[:-1] - ccum[chunk_term_off][term_of_chunk]
        chunk_abs = term_blob_start[term_of_chunk] + chunk_off_in_term
        out[chunk_abs] = wd.astype(np.uint8)
        for w in np.unique(wd):
            grp = np.flatnonzero(wd == w)
            vals = deltas[gather[grp]].astype(np.uint64)
            packed = _pack_group(vals, int(w))
            tgt = (
                chunk_abs[grp][:, None]
                + 1
                + np.arange(16 * int(w), dtype=np.int64)
            ).ravel()
            out[tgt] = packed.ravel()

    # ---- write tails (scatter the shared varint buffer)
    if tail_vals.size:
        tail_abs_start = term_blob_start + term_full_bytes
        tail_buf_start = np.concatenate([[0], np.cumsum(term_tail_bytes)])[:-1]
        tgt = np.repeat(
            tail_abs_start - tail_buf_start, term_tail_bytes
        ) + np.arange(int(term_tail_bytes.sum()), dtype=np.int64)
        out[tgt] = tail_buf

    blob_all = out.tobytes()
    blobs = [
        blob_all[term_blob_start[t] : term_blob_start[t] + term_bytes[t]]
        for t in range(T)
    ]

    # ---- per-chunk offsets (full chunks + tail chunk when present)
    offsets: list[np.ndarray] = []
    if total_full:
        fcuts = np.concatenate([[0], np.cumsum(full_per_term)])
    for t in range(T):
        if full_per_term[t]:
            offs_t = chunk_off_in_term[fcuts[t] : fcuts[t + 1]]
        else:
            offs_t = np.empty(0, dtype=np.int64)
        if tail_per_term[t]:
            offs_t = np.append(offs_t, term_full_bytes[t])
        offsets.append(offs_t)
    return blobs, offsets


def decode_positions(
    blob: bytes, freqs: np.ndarray, pos_offsets: np.ndarray | None = None
) -> np.ndarray:
    """Full decode of one positions blob -> flat positions (per-doc
    cumsum'd). Uses the stored per-chunk ``pos_offsets`` when given and
    consistent; otherwise header-walks the full chunks."""
    freqs = np.ascontiguousarray(freqs, dtype=np.int64)
    return decode_positions_many([blob], freqs, [freqs.size], [pos_offsets])


def decode_positions_many(
    blobs,
    freqs: np.ndarray,
    counts: np.ndarray,
    offsets=None,
) -> np.ndarray:
    """Cross-row vectorized decode of MANY positions blobs — the merge hot
    path (`merge.py` decodes an entire term bucket at once; a per-row
    decode loop measured 3.2x slower).

    - ``blobs``: sequence of per-row blobs; ``None`` rows yield zero
      placeholders (mixed multi-field buckets where only the payload
      field carries positions).
    - ``freqs``: flat per-posting freqs, row-major (all rows concatenated).
    - ``counts``: per-row posting counts (``sum(counts) == len(freqs)``).
    - ``offsets``: optional sequence of per-row stored chunk offsets
      (``pos_offsets``); rows without usable offsets are header-walked.

    Returns the flat positions for all rows concatenated (zeros for
    ``None`` rows), identical to a per-row decode loop. The chunk grid
    restarts per row, so full chunks are collected per row (a short loop
    over rows that HAVE >=128 occurrences — hot terms only) and then
    width-group decoded globally; tails are gathered into ONE contiguous
    varint buffer (varint streams concatenate) and decoded in a single
    call. The final per-doc absolutization runs on the global delta array:
    each doc's first delta is absolute, so the row/doc grid needs no
    special-casing.
    """
    R = len(blobs)
    counts = np.ascontiguousarray(counts, dtype=np.int64)
    freqs = np.ascontiguousarray(freqs, dtype=np.int64)
    post_cum = np.concatenate([[0], np.cumsum(counts)])
    occ_cum = np.concatenate([[0], np.cumsum(freqs)])
    total = int(occ_cum[-1])
    if total == 0:
        return np.empty(0, dtype=np.int64)
    row_occ_start = occ_cum[post_cum[:-1]]
    row_occ = occ_cum[post_cum[1:]] - row_occ_start

    present = np.fromiter((b is not None for b in blobs), dtype=bool, count=R)
    present &= row_occ > 0
    blob_len = np.fromiter(
        (len(blobs[i]) if present[i] else 0 for i in range(R)),
        dtype=np.int64,
        count=R,
    )
    buf = np.frombuffer(
        b"".join(blobs[i] for i in np.flatnonzero(present)), dtype=np.uint8
    )
    blob_start = np.zeros(R, dtype=np.int64)
    blob_start[present] = (
        np.concatenate([[0], np.cumsum(blob_len[present])])[:-1]
    )

    n_full = np.where(present, row_occ // BLOCK_SIZE, 0)
    tail_occ = np.where(present, row_occ - n_full * BLOCK_SIZE, 0)

    deltas = np.zeros(total, dtype=np.int64)

    # ---- full chunks: per-row offset collection (hot-term rows only),
    # then one width-grouped unpack over the global buffer
    tail_off = np.zeros(R, dtype=np.int64)  # within-row byte offset
    full_rows = np.flatnonzero(n_full > 0)
    if full_rows.size:
        chunk_abs_parts: list[np.ndarray] = []
        chunk_end_parts: list[np.ndarray] = []
        chunk_dst_parts: list[np.ndarray] = []
        for i in full_rows:
            nf = int(n_full[i])
            has_tail = tail_occ[i] > 0
            offs_i = offsets[i] if offsets is not None else None
            n_chunks = nf + (1 if has_tail else 0)
            if offs_i is not None and len(offs_i) == n_chunks:
                offs_row = np.ascontiguousarray(offs_i, dtype=np.int64)
                tail_off[i] = offs_row[nf] if has_tail else blob_len[i]
                offs_row = offs_row[:nf]
            else:  # header-walk (offsets column absent or stale)
                offs_row = np.empty(nf, dtype=np.int64)
                o = 0
                base = int(blob_start[i])
                for k in range(nf):
                    if o >= blob_len[i]:
                        raise ValueError(
                            "corrupt packed blob: chunk past the blob end"
                        )
                    offs_row[k] = o
                    o += 1 + 16 * int(buf[base + o])
                tail_off[i] = o
            ends_row = np.append(offs_row[1:], tail_off[i])
            _check_ranges(offs_row, ends_row, int(blob_len[i]))
            chunk_abs_parts.append(blob_start[i] + offs_row)
            chunk_end_parts.append(blob_start[i] + ends_row)
            chunk_dst_parts.append(
                row_occ_start[i]
                + BLOCK_SIZE * np.arange(nf, dtype=np.int64)
            )
        chunk_abs = np.concatenate(chunk_abs_parts)
        chunk_dst = np.concatenate(chunk_dst_parts)
        wd = _read_widths(
            buf, chunk_abs, np.concatenate(chunk_end_parts), 1
        )[:, 0]
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
        t_len = blob_len[tail_rows] - tail_off[tail_rows]
        n_bytes = int(t_len.sum())
        lcum = np.concatenate([[0], np.cumsum(t_len)])[:-1]
        gather = (
            np.repeat(t_start - lcum, t_len)
            + np.arange(n_bytes, dtype=np.int64)
        )
        vals = decode_varints(buf[gather], int(tail_occ[tail_rows].sum()))
        d_start = row_occ_start[tail_rows] + BLOCK_SIZE * n_full[tail_rows]
        d_len = tail_occ[tail_rows]
        dcum = np.concatenate([[0], np.cumsum(d_len)])[:-1]
        dst = (
            np.repeat(d_start - dcum, d_len)
            + np.arange(int(d_len.sum()), dtype=np.int64)
        )
        deltas[dst] = vals.astype(np.int64)

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
