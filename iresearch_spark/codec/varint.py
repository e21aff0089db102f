"""Fully vectorized LEB128 varint codec (numpy, no per-element Python).

Plays the role of the reference's byte-level varint utilities
(`core/utils/bytes_utils.hpp:53-125`); encode/decode whole arrays at once so
the posting-list kernels stay Arrow/numpy-vectorized end to end.
Values are unsigned (doc-id deltas, frequencies, position deltas are all >=0).
"""

from __future__ import annotations

import numpy as np

_THRESHOLDS = [np.uint64(1) << np.uint64(7 * i) for i in range(1, 9)]


def varint_lengths(values: np.ndarray) -> np.ndarray:
    """Byte length of the varint encoding of each value (1..9; inputs < 2^63)."""
    v = values.astype(np.uint64, copy=False)
    lengths = np.ones(v.shape, dtype=np.int64)
    for t in _THRESHOLDS:
        lengths += (v >= t).astype(np.int64)
    return lengths


def encode_varints(values: np.ndarray) -> bytes:
    """Encode a uint array as a concatenated varint byte stream."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    if v.size == 0:
        return b""
    lengths = varint_lengths(v)
    total = int(lengths.sum())
    ends = np.cumsum(lengths)
    starts = ends - lengths
    # For output byte j of value i: out[starts[i]+j] = (v[i] >> 7j) & 0x7F
    idx_val = np.repeat(np.arange(v.size, dtype=np.int64), lengths)
    pos_in_val = np.arange(total, dtype=np.int64) - np.repeat(starts, lengths)
    shifted = v[idx_val] >> (np.uint64(7) * pos_in_val.astype(np.uint64))
    out = (shifted & np.uint64(0x7F)).astype(np.uint8)
    cont = pos_in_val < (lengths[idx_val] - 1)
    out[cont] |= np.uint8(0x80)
    return out.tobytes()


def decode_varints(buf: bytes | np.ndarray, count: int | None = None) -> np.ndarray:
    """Decode a varint byte stream back into a uint64 array.

    If ``count`` is given it is validated against the decoded length.
    """
    b = np.frombuffer(buf, dtype=np.uint8) if not isinstance(buf, np.ndarray) else buf
    if b.size == 0:
        if count:
            raise ValueError(f"empty varint stream, expected {count} values")
        return np.empty(0, dtype=np.uint64)
    if b[-1] & 0x80:
        raise ValueError("varint stream ends inside a value")
    is_last = (b & 0x80) == 0
    ends = np.flatnonzero(is_last)
    n = ends.size
    starts = np.empty(n, dtype=np.int64)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    group_sizes = ends - starts + 1
    pos_in_val = np.arange(b.size, dtype=np.int64) - np.repeat(starts, group_sizes)
    chunks = (b & np.uint8(0x7F)).astype(np.uint64) << (
        np.uint64(7) * pos_in_val.astype(np.uint64)
    )
    values = np.add.reduceat(chunks, starts)
    if count is not None and count != n:
        raise ValueError(f"varint stream decoded {n} values, expected {count}")
    return values
