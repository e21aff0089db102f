"""Per-position payload streams (IndexFeatures::PAY).

The reference stores per-position user bytes in the prox/pay stream as a
sizes buffer plus a data buffer (`core/formats/formats_10.cpp:230-265`
``pay_sizes`` / ``pay_buf_``). We keep the same split as two parquet
columns: ``pay_lens``, a LEB128 varint sizes stream, and ``payloads``, the
raw concatenated data buffer. Either decodes standalone. Occurrences are in
the same term-major / doc-major / position-ascending order as the positions
stream (:func:`iresearch_spark.codec.packed.encode_positions_batch`).

Everything is numpy-vectorized; no per-element Python on the encode side.
"""

from __future__ import annotations

import numpy as np

from iresearch_spark.codec.varint import (
    decode_varints,
    encode_varints,
    varint_lengths,
)


def encode_payloads_batch(
    freqs: np.ndarray,
    flat_payloads: np.ndarray,
    term_lengths: np.ndarray,
) -> tuple[list[bytes], list[bytes]]:
    """Vectorized per-position payload encoding for many terms at once.

    ``flat_payloads``: object array of ``bytes``, one per occurrence, in the
    same term-major / doc-major / position-ascending order as
    ``encode_positions_batch``'s ``flat_positions``. Returns per-term
    ``(len_blobs, data_blobs)``.
    """
    nt = np.ascontiguousarray(term_lengths, dtype=np.int64)
    T = nt.size
    if T == 0:
        return [], []
    freqs = np.ascontiguousarray(freqs, dtype=np.int64)
    total = int(freqs.sum())
    if len(flat_payloads) != total:
        raise ValueError("flat_payloads length != sum(freqs)")
    lens = np.fromiter(
        (len(p) for p in flat_payloads), dtype=np.int64, count=total
    )
    # occurrences per term: sum of freqs over each term's posting range
    term_starts = np.concatenate([[0], np.cumsum(nt)])[:-1]
    occ_per_term = np.add.reduceat(freqs, term_starts) if total else nt * 0
    occ_starts = np.concatenate([[0], np.cumsum(occ_per_term)])

    lblob_all = encode_varints(lens.astype(np.uint64))
    lcum = np.concatenate([[0], np.cumsum(varint_lengths(lens.astype(np.uint64)))])
    lb = [
        lblob_all[lcum[occ_starts[t]] : lcum[occ_starts[t + 1]]]
        for t in range(T)
    ]
    db = [
        b"".join(flat_payloads[occ_starts[t] : occ_starts[t + 1]])
        for t in range(T)
    ]
    return lb, db


def encode_span_payloads_batch(
    freqs: np.ndarray,
    flat_starts: np.ndarray,
    flat_ends: np.ndarray,
    term_lengths: np.ndarray,
) -> tuple[list[bytes], list[bytes]]:
    """Fixed-width (8-byte) span payload encoding — the stored OFFS
    attribute's pay stream (`formats_10.cpp:3618-3634` offset write), fully
    vectorized: each occurrence's payload is its original-text char span as
    two big-endian uint32s, byte-identical to ``struct.pack(">II", s, e)``
    fed through :func:`encode_payloads_batch`, without materializing a
    Python ``bytes`` object per occurrence (the r4 per-row-Python build
    bottleneck).

    ``flat_starts``/``flat_ends``: per-occurrence spans in the same
    term-major / doc-major / position-ascending order as
    ``encode_positions_batch``'s ``flat_positions``. Returns per-term
    ``(len_blobs, data_blobs)``.
    """
    nt = np.ascontiguousarray(term_lengths, dtype=np.int64)
    T = nt.size
    if T == 0:
        return [], []
    freqs = np.ascontiguousarray(freqs, dtype=np.int64)
    total = int(freqs.sum())
    starts = np.ascontiguousarray(flat_starts, dtype=np.int64)
    ends = np.ascontiguousarray(flat_ends, dtype=np.int64)
    if starts.size != total or ends.size != total:
        raise ValueError("flat span arrays length != sum(freqs)")
    pairs = np.empty((total, 2), dtype=">u4")
    pairs[:, 0] = starts
    pairs[:, 1] = ends
    data = pairs.tobytes()
    term_starts = np.concatenate([[0], np.cumsum(nt)])[:-1]
    occ_per_term = np.add.reduceat(freqs, term_starts) if total else nt * 0
    occ_starts = np.concatenate([[0], np.cumsum(occ_per_term)])
    # every payload is 8 bytes -> the varint sizes stream is one 0x08 byte
    # per occurrence (matching encode_payloads_batch on 8-byte payloads)
    lb = [b"\x08" * int(occ_per_term[t]) for t in range(T)]
    db = [
        data[int(occ_starts[t]) * 8 : int(occ_starts[t + 1]) * 8]
        for t in range(T)
    ]
    return lb, db


def decode_payloads(
    len_blob: bytes, data_blob: bytes, freqs: np.ndarray
) -> np.ndarray:
    """Decode one term's payload streams -> object array of ``bytes`` per
    occurrence (aligned with ``decode_positions`` output order)."""
    freqs = np.ascontiguousarray(freqs, dtype=np.int64)
    total = int(freqs.sum())
    if total == 0:
        return np.empty(0, dtype=object)
    lens = decode_varints(len_blob, total).astype(np.int64)
    ends = np.cumsum(lens)
    starts = ends - lens
    if int(ends[-1]) != len(data_blob):
        raise ValueError("payload data buffer length mismatch")
    out = np.empty(total, dtype=object)
    for i in range(total):
        out[i] = data_blob[starts[i] : ends[i]]
    return out
