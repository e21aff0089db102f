"""Kernel unit tests for the varint primitive and the posting-list codec.

Mirrors the reference's codec round-trip strategy
(`/root/reference/tests/formats/` formats round-trips), with the F4 fixture
lengths {1, 2, 127, 128, 129, 10k} plus seeded random lists.
"""

import numpy as np
import pytest

from iresearch_spark.codec import decode_varints, encode_varints
from iresearch_spark.codec.packed import (
    BLOCK_SIZE,
    decode_blocks,
    decode_positions,
    decode_postings,
    encode_positions_batch,
    encode_postings_batch,
)

RNG = np.random.default_rng(42)


@pytest.mark.parametrize(
    "values",
    [
        np.array([], dtype=np.uint64),
        np.array([0], dtype=np.uint64),
        np.array([1, 127, 128, 129, 16383, 16384, 2**32 - 1, 2**40], dtype=np.uint64),
        RNG.integers(0, 2**50, size=10_000).astype(np.uint64),
    ],
)
def test_varint_roundtrip(values):
    blob = encode_varints(values)
    out = decode_varints(blob, len(values)) if len(values) else decode_varints(blob)
    assert out.dtype == np.uint64
    np.testing.assert_array_equal(out, values)


def _random_posting(n, max_doc=None, seed=0):
    rng = np.random.default_rng(seed)
    max_doc = max_doc or max(n * 3, 10)
    docs = np.sort(rng.choice(np.arange(1, max_doc + 1), size=n, replace=False))
    freqs = rng.integers(1, 50, size=n).astype(np.int64)
    dls = freqs + rng.integers(0, 500, size=n)  # dl >= freq invariant
    return docs.astype(np.int64), freqs, dls


def _encode_one(docs, freqs, dls):
    """One posting list through the batch encoder -> per-list tuple."""
    enc = encode_postings_batch(docs, freqs, dls, np.asarray([docs.size]))
    cols = enc.columns("postings")
    return (cols["postings"][0].as_py(),) + tuple(
        np.asarray(cols[k][0].as_py(), np.int64)
        for k in ("block_offsets", "last_docs", "max_freqs", "min_norms")
    )


@pytest.mark.parametrize("n", [1, 2, 127, 128, 129, 255, 256, 1000, 10_000])
def test_postings_roundtrip(n):
    docs, freqs, dls = _random_posting(n, seed=n)
    blob, offs, last_docs, max_freqs, min_norms = _encode_one(docs, freqs, dls)
    out_docs, out_freqs = decode_postings(blob, n, offs)
    np.testing.assert_array_equal(out_docs, docs)
    np.testing.assert_array_equal(out_freqs, freqs)
    nblocks = (n + BLOCK_SIZE - 1) // BLOCK_SIZE
    assert offs.size == last_docs.size == max_freqs.size == min_norms.size == nblocks
    # blockmax metadata is exact
    for b in range(nblocks):
        s, e = b * BLOCK_SIZE, min((b + 1) * BLOCK_SIZE, n)
        assert last_docs[b] == docs[e - 1]
        assert max_freqs[b] == freqs[s:e].max()
        assert min_norms[b] == dls[s:e].min()


@pytest.mark.parametrize("n", [1, 129, 1000, 10_000])
def test_decode_selected_blocks(n):
    docs, freqs, dls = _random_posting(n, seed=100 + n)
    blob, offs, last_docs, _, _ = _encode_one(docs, freqs, dls)
    nblocks = offs.size
    rng = np.random.default_rng(7)
    for trial in range(4):
        k = rng.integers(1, nblocks + 1)
        sel = np.sort(rng.choice(nblocks, size=k, replace=False))
        out_docs, out_freqs, out_blocks = decode_blocks(blob, offs, last_docs, n, sel)
        mask = np.isin(np.arange(n) // BLOCK_SIZE, sel)
        np.testing.assert_array_equal(out_docs, docs[mask])
        np.testing.assert_array_equal(out_freqs, freqs[mask])
        np.testing.assert_array_equal(out_blocks, (np.arange(n) // BLOCK_SIZE)[mask])


@pytest.mark.parametrize("n", [1, 5, 128, 129, 2000])
def test_positions_roundtrip(n):
    rng = np.random.default_rng(n)
    freqs = rng.integers(1, 8, size=n).astype(np.int64)
    flat = np.concatenate(
        [np.sort(rng.choice(1000, size=f, replace=False)) for f in freqs]
    ).astype(np.int64)
    cols = encode_positions_batch(freqs, flat, np.asarray([n])).columns("positions")
    blob = cols["positions"][0].as_py()
    pos_offs = np.asarray(cols["pos_offsets"][0].as_py(), np.int64)
    np.testing.assert_array_equal(decode_positions(blob, freqs, pos_offs), flat)
    np.testing.assert_array_equal(decode_positions(blob, freqs), flat)
    # one offset per 128-occurrence chunk, the varint tail included
    assert pos_offs.size == (int(freqs.sum()) + BLOCK_SIZE - 1) // BLOCK_SIZE


def test_singleton_posting():
    # cf. reference single-doc inlining (formats_10.cpp:676): degenerate list
    docs = np.array([42], dtype=np.int64)
    freqs = np.array([3], dtype=np.int64)
    dls = np.array([10], dtype=np.int64)
    blob, offs, last_docs, max_freqs, min_norms = _encode_one(docs, freqs, dls)
    d, f = decode_postings(blob, 1, offs)
    assert d.tolist() == [42] and f.tolist() == [3]
    assert last_docs.tolist() == [42] and max_freqs.tolist() == [3]
