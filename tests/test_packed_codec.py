"""Bit-packed posting-block codec ("packed", `formats_10.cpp:86-131` /
`utils/bit_packing.cpp` analogue): array-level round trips against the
input lists, refusal of corrupt blobs, end-to-end rank identity against the
naive oracle, merge/manifest persistence, and the bytes win on dense
postings."""

import json
import os

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from iresearch_spark.codec import packed as P
from iresearch_spark.index import build_index

SCHEMA = (
    "repo string, path string, commit string, lang string, content string"
)
N_DOCS = 600
N_SEGMENTS = 4


def _manifest_codecs(d: str) -> tuple[str, str]:
    with open(os.path.join(d, "manifest.json")) as f:
        m = json.load(f)
    return m.get("postings_codec"), m.get("positions_codec")


# ------------------------------------------------------------- array level


def _encode(docs, freqs, dls, nt):
    """The encoder's Arrow columns, and the same as per-term lists
    ``(blobs, block_offsets, last_docs, max_freqs, min_norms)``."""
    cols = P.encode_postings_batch(docs, freqs, dls, nt).columns("postings")
    per_term = [cols["postings"].to_pylist()] + [
        [np.asarray(x, np.int64) for x in cols[k].to_pylist()]
        for k in ("block_offsets", "last_docs", "max_freqs", "min_norms")
    ]
    return cols, per_term


@st.composite
def posting_lists(draw, min_len=1):
    """Per term: a drawn length, a drawn upper bound per column (so bit
    widths from 1 to the maximum all occur) and a drawn seed for the
    values. Drawing every value through ``st.lists`` overruns Hypothesis's
    per-example data budget on long lists."""
    T = draw(st.integers(1, 6))
    lengths, docs, freqs, dls = [], [], [], []
    for _ in range(T):
        n = draw(st.integers(min_len, 400))
        rng = np.random.default_rng(draw(st.integers(0, 2**32 - 1)))
        gap_hi = draw(st.integers(1, 1 << 20))
        f_hi = draw(st.integers(1, 1 << 16))
        dl_hi = draw(st.integers(1, 1 << 16))
        d = np.cumsum(rng.integers(1, gap_hi, n, endpoint=True))
        f = rng.integers(1, f_hi, n, endpoint=True)
        dl = rng.integers(1, dl_hi, n, endpoint=True)
        lengths.append(n)
        docs.append(d)
        freqs.append(f)
        dls.append(dl)
    return (
        np.concatenate(docs),
        np.concatenate(freqs),
        np.concatenate(dls),
        np.asarray(lengths, dtype=np.int64),
    )


@settings(max_examples=40, deadline=None)
@given(posting_lists())
def test_packed_postings_roundtrip(data):
    docs, freqs, dls, nt = data
    cols, (pb, po, pl, pmf, pmn) = _encode(docs, freqs, dls, nt)
    ts = np.concatenate([[0], np.cumsum(nt)])
    for t in range(nt.size):
        n = int(nt[t])
        d_t, f_t, dl_t = (a[ts[t] : ts[t + 1]] for a in (docs, freqs, dls))
        # block metadata (the WAND data): per 128-posting block
        starts = np.arange(0, n, P.BLOCK_SIZE)
        ends = np.minimum(starts + P.BLOCK_SIZE, n)
        assert np.array_equal(pl[t], d_t[ends - 1])
        assert np.array_equal(pmf[t], np.maximum.reduceat(f_t, starts))
        assert np.array_equal(pmn[t], np.minimum.reduceat(dl_t, starts))
        d2, f2 = P.decode_postings(pb[t], n, po[t])
        assert np.array_equal(d2, d_t) and np.array_equal(f2, f_t)
        # selected-block decode on a pseudo-random block subset
        nb = len(po[t])
        sel = np.unique(np.arange(nb)[:: max(1, nb // 3)])
        sd, sf, sb = P.decode_blocks(pb[t], po[t], pl[t], n, sel)
        mask = np.isin(np.arange(n) // P.BLOCK_SIZE, sel)
        assert np.array_equal(sd, d_t[mask])
        assert np.array_equal(sf, f_t[mask])
        assert np.array_equal(sb, (np.arange(n) // P.BLOCK_SIZE)[mask])
    dm, fm = P.decode_postings_many(cols["postings"], nt, cols["block_offsets"])
    assert np.array_equal(dm, docs) and np.array_equal(fm, freqs)


@settings(max_examples=40, deadline=None)
@given(posting_lists(min_len=P.BLOCK_SIZE), st.data())
def test_corrupt_postings_raise_value_error(data, draw):
    """A zero or >32 bit width in a full block's header, or a truncated
    blob, raises ValueError from the full decoders — never IndexError,
    never arrays."""
    docs, freqs, dls, nt = data
    cols, (pb, po, *_) = _encode(docs, freqs, dls, nt)
    t = draw.draw(st.integers(0, nt.size - 1))
    n, blob = int(nt[t]), bytearray(pb[t])
    kind = draw.draw(st.sampled_from(["zero", "wide", "truncate"]))
    if kind == "truncate":
        blob = blob[: draw.draw(st.integers(0, len(blob) - 1))]
    else:
        full = n // P.BLOCK_SIZE  # blocks 0..full-1 carry width headers
        b = draw.draw(st.integers(0, full - 1))
        hdr = int(po[t][b]) + draw.draw(st.integers(0, 1))  # doc/freq width
        blob[hdr] = 0 if kind == "zero" else draw.draw(st.integers(33, 255))
    blob = bytes(blob)
    with pytest.raises(ValueError, match="corrupt|varint"):
        P.decode_postings(blob, n, po[t])
    rows = list(pb)
    rows[t] = blob
    with pytest.raises(ValueError, match="corrupt|varint"):
        P.decode_postings_many(
            pa.array(rows, pa.binary()), nt, cols["block_offsets"]
        )


def _lists(lengths, seed=0):
    """Term-major posting lists of the given lengths (0 allowed)."""
    rng = np.random.default_rng(seed)
    docs = [np.sort(rng.choice(5000, n, replace=False)) + 1 for n in lengths]
    freqs = rng.integers(1, 30, int(sum(lengths)))
    return np.concatenate(docs), freqs, freqs + 5, np.asarray(lengths, np.int64)


def _per_row(pb, nt, po):
    """The per-row ``decode_postings`` results, concatenated."""
    out = [P.decode_postings(b, int(n), o) for b, n, o in zip(pb, nt, po)]
    return tuple(np.concatenate([[]] + [x[i] for x in out]) for i in (0, 1))


def test_decode_many_reads_sliced_and_chunked_columns():
    """The merge task hands ``decode_postings_many`` a slice of a term
    block (``block.slice(i, n)``: an offset > 0 into shared buffers) and
    columns made of several chunks; rows with zero postings carry an
    empty blob and no block offsets. Each decodes to the per-row
    ``decode_postings`` results."""
    lengths = [3, 300, 128, 1, 0, 129, 0, 40, 256, 7]
    docs, freqs, dls, nt = _lists(lengths)
    nz = nt > 0
    cols, (pb, po, *_) = _encode(docs, freqs, dls, nt[nz])
    # zero-posting rows, spliced in where _lists put them
    blobs, offs = iter(pb), iter(po)
    pb = [next(blobs) if n else b"" for n in nt]
    po = [next(offs) if n else np.empty(0, np.int64) for n in nt]
    post = pa.array(pb, pa.binary())
    boff = pa.array([o.tolist() for o in po], pa.list_(pa.int64()))
    d, f = P.decode_postings_many(post, nt, boff)
    assert np.array_equal(d, docs) and np.array_equal(f, freqs)
    for i, n in [(1, 4), (3, 5), (4, 1), (9, 1), (2, 0)]:
        exp = _per_row(pb[i : i + n], nt[i : i + n], po[i : i + n])
        got = P.decode_postings_many(
            post.slice(i, n), nt[i : i + n], boff.slice(i, n)
        )
        assert all(np.array_equal(g, e) for g, e in zip(got, exp)), (i, n)
    # chunked: separate buffers per chunk, and chunks that are slices
    for cut in (1, 4, 7):
        two = [
            pa.chunked_array([c.slice(0, cut), pa.concat_arrays([c.slice(cut)])])
            for c in (post, boff)
        ]
        d, f = P.decode_postings_many(two[0], nt, two[1])
        assert np.array_equal(d, docs) and np.array_equal(f, freqs), cut


def test_decode_many_refuses_an_offset_into_the_next_row():
    """A block offset moved into the next row's bytes raises ValueError
    instead of decoding the neighbour's postings, for a single-block row
    and for the last block of a multi-block row."""
    docs, freqs, dls, nt = _lists([5, 300, 9, 200])
    cols, (pb, po, *_) = _encode(docs, freqs, dls, nt)
    for row, block in [(0, 0), (1, 2), (1, 0), (2, 0)]:
        bad = [o.tolist() for o in po]
        bad[row][block] = len(pb[row]) + 1  # inside row + 1's blob
        with pytest.raises(ValueError, match="corrupt"):
            P.decode_postings_many(
                cols["postings"], nt, pa.array(bad, pa.list_(pa.int64()))
            )
    short = [o.tolist() for o in po]
    short[1] = short[1][:-1]  # one offset fewer than ceil(300/128) blocks
    with pytest.raises(ValueError, match="block offsets for 3 blocks"):
        P.decode_postings_many(
            cols["postings"], nt, pa.array(short, pa.list_(pa.int64()))
        )


def test_encoded_columns_chunk_at_the_offset_limit(monkeypatch):
    """A batch whose bytes outgrow Arrow's int32 offsets is wrapped in
    several chunks, each within the limit, instead of wrapping around;
    the chunked columns hold the same rows. One blob past the limit is
    refused."""
    docs, freqs, dls, nt = _lists([300, 40, 200, 129, 1, 90, 256])
    enc = P.encode_postings_batch(docs, freqs, dls, nt)
    whole = enc.columns("postings")
    assert whole["postings"].num_chunks == 1
    monkeypatch.setattr(P, "MAX_OFFSET", int(np.diff(enc.offsets).max()) + 10)
    chunked = enc.columns("postings")
    assert chunked["postings"].num_chunks > 1
    for c in chunked["postings"].chunks:
        assert sum(len(b) for b in c.to_pylist()) <= P.MAX_OFFSET
    for k in whole:
        assert chunked[k].to_pylist() == whole[k].to_pylist(), k
    d, f = P.decode_postings_many(
        chunked["postings"], nt, chunked["block_offsets"]
    )
    assert np.array_equal(d, docs) and np.array_equal(f, freqs)
    monkeypatch.setattr(P, "MAX_OFFSET", int(np.diff(enc.offsets).max()) - 1)
    with pytest.raises(ValueError, match="exceeds"):
        enc.columns("postings")


def test_packed_beats_varint_on_dense_blocks():
    """Dense hot-term postings (delta=1, tiny freqs) are the 100 TB scan
    case. Byte-granular varint spends at least one byte per doc delta and
    one per freq (2 bytes per posting); packed spends 1 + 2 bits per
    posting plus a 2-byte header per 128-doc block."""
    n = 128 * 64
    docs = np.arange(1, n + 1, dtype=np.int64)
    freqs = np.full(n, 2, dtype=np.int64)
    dls = np.full(n, 50, dtype=np.int64)
    nt = np.asarray([n], dtype=np.int64)
    _, (pb, *_) = _encode(docs, freqs, dls, nt)
    assert len(pb[0]) == 64 * (2 + 16 * (1 + 2))
    assert len(pb[0]) < 0.35 * 2 * n


# ------------------------------------------------------------ engine level


@pytest.fixture(scope="module")
def corpora(spark, tmp_path_factory):
    """One packed index and the naive oracle over the same corpus."""
    from iresearch_spark.corpus import generate_corpus, make_corpus_pdf
    from tests.oracle import OracleEngine

    d = str(tmp_path_factory.mktemp("idx_packed"))
    build_index(
        spark, generate_corpus(spark, N_DOCS, 4), d, num_segments=N_SEGMENTS
    )
    return d, OracleEngine(make_corpus_pdf(N_DOCS), N_SEGMENTS)


def _battery():
    from iresearch_spark.search import And, Or, Phrase, Prefix, TermF, TermsF

    return [
        TermF(term="import"),
        Or(children=(TermF(term="import"), TermF(term="def"))),
        TermsF(terms=("import", "def", "sym_2"), min_match=2),
        And(children=(TermF(term="import"), TermF(term="def"))),
        Prefix(prefix="sym"),
        Phrase(terms=("import", "def")),
    ]


def _docs_scores(rows):
    return [(r[0], r[1], r[2], np.float32(r[3])) for r in rows]


def test_packed_engine_rank_identity(spark, corpora):
    """Every query shape returns the oracle's rows (same docs, float32
    scores and order), through WAND and exhaustive evaluation."""
    from iresearch_spark.search import SearchEngine

    d, oracle = corpora
    eng = SearchEngine(spark, d)
    for q in _battery():
        exp = oracle.search(q, k=20)
        for wand in (True, False):
            got = [
                (r["repo"], r["path"], r["commit"], r["score"],
                 r["segment_id"], r["doc_id"])
                for r in eng.search(q, k=20, wand=wand).collect()
            ]
            assert _docs_scores(got) == _docs_scores(exp), (q, wand)
            assert [g[4:] for g in got] == [e[4:] for e in exp], (q, wand)
    eng.close()


def test_packed_survives_merge_and_records_codec(spark, corpora):
    """Consolidation re-encodes packed and keeps the manifest's format
    keys; post-merge results still equal the oracle's."""
    from iresearch_spark.index import read_manifest
    from iresearch_spark.index.merge import merge_segments
    from iresearch_spark.search import SearchEngine

    d, oracle = corpora
    seg_ids = [s["segment_id"] for s in read_manifest(d).segments]
    merge_segments(spark, d, seg_ids)
    assert _manifest_codecs(d) == ("packed", "packed")
    assert len(read_manifest(d).segments) == 1
    eng = SearchEngine(spark, d)
    for q in _battery():
        got = [(r["repo"], r["path"], r["commit"], r["score"])
               for r in eng.search(q, k=20).collect()]
        assert _docs_scores(got) == _docs_scores(oracle.search(q, k=20)), q
    eng.close()


def test_delete_publish_preserves_manifest_attrs(spark, tmp_path):
    """Regression (found in r5): mark_deleted's manifest rewrite hand-copied
    a field subset, silently resetting manifest attributes — a delete then
    corrupted every later read."""
    from iresearch_spark.index import read_manifest
    from iresearch_spark.index.deletes import mark_deleted

    rows = [("r", f"{i:03d}.py", "c", "py", f"alpha beta doc{i}")
            for i in range(40)]
    d = str(tmp_path / "idx_del_codec")
    build_index(
        spark, spark.createDataFrame(rows, SCHEMA), d, num_segments=2,
        analyzer="code_payload",
    )
    keys = spark.createDataFrame(
        [("r", "003.py", "c")], "repo string, path string, commit string"
    )
    mark_deleted(spark, d, keys)
    assert _manifest_codecs(d) == ("packed", "packed")
    assert read_manifest(d).with_payloads


# ------------------------------------------------------- default + resume


def test_default_codec_is_packed(spark, tmp_path):
    """A new index records the packed format for postings and positions
    (the manifest keys a reader checks before decoding)."""
    rows = [("r", f"{i:03d}.py", "c", "py", f"alpha beta doc{i}")
            for i in range(30)]
    d = str(tmp_path / "idx_default_codec")
    build_index(spark, spark.createDataFrame(rows, SCHEMA), d,
                num_segments=2)
    assert _manifest_codecs(d) == ("packed", "packed")


def test_resume_codec_mismatch_raises(spark, tmp_path):
    """Resuming a build whose published manifest records another postings
    format (a legacy index: no codec keys) is refused — its segments are
    unreadable, and mixing formats in one index would be too."""
    from iresearch_spark.corpus import generate_corpus

    corpus = generate_corpus(spark, 120, num_partitions=2)
    d = str(tmp_path / "mismatch")
    with pytest.raises(RuntimeError, match="injected failure"):
        build_index(spark, corpus, d, num_segments=4, waves=2,
                    fail_after_waves=1)
    p = os.path.join(d, "manifest.json")
    with open(p) as f:
        m = json.load(f)
    for key in ("postings_codec", "positions_codec"):
        m.pop(key)
    with open(p, "w") as f:
        json.dump(m, f)
    with pytest.raises(ValueError, match="codec"):
        build_index(spark, corpus, d, num_segments=4, waves=2, resume=True)


def test_incremental_defaults_to_packed_on_new_index(spark, tmp_path):
    """A brand-new streaming index records the packed format, and appended
    batches keep it."""
    from iresearch_spark.streaming.incremental import IncrementalIndexer

    d = str(tmp_path / "idx_stream_codec")
    ix = IncrementalIndexer(spark, d, segments_per_batch=2)
    for batch in range(2):
        rows = [("r", f"{batch}_{i:03d}.py", "c", "py", f"gamma delta doc{i}")
                for i in range(20)]
        ix.process_batch(spark.createDataFrame(rows, SCHEMA), batch_id=batch)
        assert _manifest_codecs(d) == ("packed", "packed")
