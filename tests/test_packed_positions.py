"""Bit-packed POSITIONS stream (`formats_10.cpp:230-265` pos block write
via `bit_packing.cpp`): array-level round trips against the input
positions, refusal of corrupt blobs, end-to-end phrase/offsets/payload
identity against the naive oracle, merge + manifest persistence, and the
refusal of legacy manifests (indexes written before packed became the one
postings format)."""

import json
import os

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from iresearch_spark.codec import packed as P
from iresearch_spark.index import build_index, read_manifest

SCHEMA = (
    "repo string, path string, commit string, lang string, content string"
)
CODEC_KEYS = ("postings_codec", "positions_codec")


def _manifest_json(d: str) -> dict:
    with open(os.path.join(d, "manifest.json")) as f:
        return json.load(f)


def _strip_codec_keys(d: str, keys=CODEC_KEYS) -> None:
    """Rewrite ``d``'s manifest as a legacy one, without ``keys``."""
    m = _manifest_json(d)
    for key in keys:
        m.pop(key)
    with open(os.path.join(d, "manifest.json"), "w") as f:
        json.dump(m, f)


# ------------------------------------------------------------- array level


def _encode(freqs, flat, nt):
    """The encoder's Arrow columns, and the same as per-term lists
    ``(blobs, pos_offsets)``."""
    cols = P.encode_positions_batch(freqs, flat, nt).columns("positions")
    return cols, (
        cols["positions"].to_pylist(),
        [np.asarray(x, np.int64) for x in cols["pos_offsets"].to_pylist()],
    )


@st.composite
def position_streams(draw):
    """(freqs, flat_positions, term_lengths): term-major / doc-major /
    position-ascending, arbitrary gaps (absolute at each doc start)."""
    T = draw(st.integers(1, 5))
    lengths, freqs, flats = [], [], []
    for _ in range(T):
        n = draw(st.integers(1, 40))  # postings in this term
        lengths.append(n)
        # values from a drawn seed under drawn upper bounds: drawing each
        # one overruns Hypothesis's per-example data budget
        rng = np.random.default_rng(draw(st.integers(0, 2**32 - 1)))
        f_hi = draw(st.integers(1, 30))
        gap_hi = draw(st.integers(0, 1 << 18))
        for f in rng.integers(1, f_hi, n, endpoint=True).tolist():
            gaps = rng.integers(0, gap_hi, f, endpoint=True)
            # first gap is the absolute first position; rest are deltas >= 1
            pos = np.cumsum(
                gaps + np.concatenate([[0], np.ones(f - 1, dtype=np.int64)])
            )
            freqs.append(f)
            flats.append(pos)
    return (
        np.asarray(freqs, dtype=np.int64),
        np.concatenate(flats),
        np.asarray(lengths, dtype=np.int64),
    )


@settings(max_examples=40, deadline=None)
@given(position_streams())
def test_packed_positions_roundtrip(data):
    freqs, flat, nt = data
    _, (pb, poffs) = _encode(freqs, flat, nt)
    ts = np.concatenate([[0], np.cumsum(nt)])[:-1]
    occ = np.concatenate([[0], np.cumsum(freqs)])
    for t in range(nt.size):
        f_t = freqs[ts[t] : ts[t] + nt[t]]
        exp = flat[occ[ts[t]] : occ[ts[t] + nt[t]]]
        # decodes with stored chunk offsets AND by header-walking
        assert np.array_equal(exp, P.decode_positions(pb[t], f_t, poffs[t]))
        assert np.array_equal(exp, P.decode_positions(pb[t], f_t))


@settings(max_examples=40, deadline=None)
@given(position_streams(), st.data())
def test_corrupt_positions_raise_value_error(data, draw):
    """A zero or >32 bit width in a full chunk's header, or a truncated
    blob, raises ValueError with and without stored offsets — never
    IndexError, never arrays."""
    freqs, flat, nt = data
    # one extra term with >= 128 occurrences, so a full chunk exists
    hot = np.full(draw.draw(st.integers(5, 40)), 30, dtype=np.int64)
    freqs = np.concatenate([freqs, hot])
    flat = np.concatenate([flat, np.tile(np.arange(1, 31), hot.size)])
    nt = np.append(nt, hot.size)
    cols, (pb, poffs) = _encode(freqs, flat, nt)
    t = nt.size - 1
    f_t = freqs[-hot.size :]
    blob = bytearray(pb[t])
    kind = draw.draw(st.sampled_from(["zero", "wide", "truncate"]))
    if kind == "truncate":
        blob = blob[: draw.draw(st.integers(0, len(blob) - 1))]
    else:
        full = int(f_t.sum()) // P.BLOCK_SIZE
        hdr = int(poffs[t][draw.draw(st.integers(0, full - 1))])
        blob[hdr] = 0 if kind == "zero" else draw.draw(st.integers(33, 255))
    blob = bytes(blob)
    rows = list(pb)
    rows[t] = blob
    for offs in (poffs[t], None):
        with pytest.raises(ValueError, match="corrupt|varint"):
            P.decode_positions(blob, f_t, offs)
    for offs in (cols["pos_offsets"], None):
        with pytest.raises(ValueError, match="corrupt|varint"):
            P.decode_positions_many(pa.array(rows, pa.binary()), freqs, nt, offs)


def test_decode_positions_many_reads_sliced_and_chunked_columns():
    """Positions decode from a slice of a term block (offset > 0), from a
    multi-chunk column and with rows of zero postings equals the per-row
    ``decode_positions`` results, with stored offsets and without."""
    rng = np.random.default_rng(3)
    nt = np.asarray([4, 0, 60, 1, 0, 25, 90], np.int64)
    freqs = rng.integers(1, 9, int(nt.sum()))
    flat = np.concatenate(
        [np.sort(rng.choice(400, f, replace=False)) for f in freqs]
    )
    nz = nt > 0
    _, (pb, poffs) = _encode(freqs, flat, nt[nz])
    blobs, offs = iter(pb), iter(poffs)
    pb = [next(blobs) if n else b"" for n in nt]
    po = [next(offs).tolist() if n else [] for n in nt]
    pos = pa.array(pb, pa.binary())
    off = pa.array(po, pa.list_(pa.int64()))
    post = np.concatenate([[0], np.cumsum(nt)])

    def per_row(i, n):
        return np.concatenate([[]] + [
            P.decode_positions(pb[r], freqs[post[r] : post[r + 1]], po[r])
            for r in range(i, i + n)
        ])

    for i, n in [(0, 7), (2, 3), (1, 1), (4, 3), (6, 1)]:
        f = freqs[post[i] : post[i + n]]
        for o in (off.slice(i, n), None):
            got = P.decode_positions_many(pos.slice(i, n), f, nt[i : i + n], o)
            assert np.array_equal(got, per_row(i, n)), (i, n)
    for cut in (2, 5):
        two = [
            pa.chunked_array([c.slice(0, cut), pa.concat_arrays([c.slice(cut)])])
            for c in (pos, off)
        ]
        assert np.array_equal(
            P.decode_positions_many(two[0], freqs, nt, two[1]), flat
        )


def test_decode_positions_many_refuses_an_offset_into_the_next_row():
    """A stored chunk offset moved into the next row's bytes raises
    ValueError instead of decoding the neighbour's positions."""
    freqs = np.full(70, 4, dtype=np.int64)  # 2 x 140 occurrences
    flat = np.tile(np.asarray([1, 5, 9, 30], dtype=np.int64), 70)
    nt = np.asarray([35, 35], np.int64)
    cols, (pb, poffs) = _encode(freqs, flat, nt)
    for chunk in (0, 1):  # the full chunk and the tail chunk of row 0
        bad = [o.tolist() for o in poffs]
        bad[0][chunk] = len(pb[0]) + 1
        with pytest.raises(ValueError, match="corrupt"):
            P.decode_positions_many(
                cols["positions"], freqs, nt,
                pa.array(bad, pa.list_(pa.int64())),
            )


def test_packed_positions_chunk_layout():
    """One term, 300 occurrences: 2 full 128-chunks + a 44-value varint
    tail; stored offsets point at each chunk (tail included)."""
    freqs = np.full(100, 3, dtype=np.int64)  # 300 occurrences
    flat = np.tile(np.asarray([5, 9, 12], dtype=np.int64), 100)
    nt = np.asarray([100], dtype=np.int64)
    _, (pb, poffs) = _encode(freqs, flat, nt)
    blob, offs = pb[0], poffs[0]
    assert len(offs) == 3  # 2 full chunks + tail
    w0 = blob[offs[0]]
    assert offs[1] - offs[0] == 1 + 16 * w0
    out = P.decode_positions(blob, freqs, offs)
    assert np.array_equal(out, flat)


def test_packed_positions_smaller_on_dense_stream():
    """Hot-term occurrences with small within-doc deltas. Varint spends at
    least one byte per occurrence; packed spends 4 bits (the widest delta
    is a doc's absolute first position, 10) plus a 1-byte header per
    128-occurrence chunk."""
    f = 16
    freqs = np.full(256, f, dtype=np.int64)  # 4096 occurrences
    flat = np.tile(np.arange(10, 10 + 2 * f, 2, dtype=np.int64), 256)
    nt = np.asarray([256], dtype=np.int64)
    _, (pb, _) = _encode(freqs, flat, nt)
    assert len(pb[0]) == 32 * (1 + 16 * 4)
    assert len(pb[0]) < 0.85 * freqs.sum()


@settings(max_examples=25, deadline=None)
@given(position_streams(), st.randoms(use_true_random=False))
def test_decode_positions_many_equals_per_row_loop(data, rnd):
    """The merge hot path: cross-row vectorized decode == the input
    positions, with stored offsets, header-walking, and None placeholder
    rows mixed in."""
    freqs, flat, nt = data
    ts = np.concatenate([[0], np.cumsum(nt)])[:-1]
    occ = np.concatenate([[0], np.cumsum(freqs)])
    cols, (blobs, _) = _encode(freqs, flat, nt)
    offs = cols["pos_offsets"]
    assert np.array_equal(
        P.decode_positions_many(cols["positions"], freqs, nt, offs), flat
    )
    # header-walk path (offsets column absent)
    assert np.array_equal(
        P.decode_positions_many(cols["positions"], freqs, nt, None), flat
    )
    # None placeholder rows decode to zeros through the permutation
    none_at = {
        t for t in range(nt.size) if rnd.random() < 0.4
    } or {0}
    mixed = [None if t in none_at else b for t, b in enumerate(blobs)]
    exp2 = flat.copy()
    for t in none_at:
        exp2[int(occ[ts[t]]) : int(occ[ts[t] + nt[t]])] = 0
    assert np.array_equal(
        P.decode_positions_many(pa.array(mixed, pa.binary()), freqs, nt, offs),
        exp2,
    )


# ------------------------------------------------------------ engine level


@pytest.fixture(scope="module")
def pos_corpora(spark, tmp_path_factory):
    """A positions-heavy corpus: its packed index and the naive oracle."""
    from iresearch_spark.corpus import generate_corpus, make_corpus_pdf
    from tests.oracle import OracleEngine

    corpus = generate_corpus(spark, 400, 3, min_tokens=60, max_tokens=400)
    d = str(tmp_path_factory.mktemp("posidx_packed"))
    build_index(spark, corpus, d, num_segments=3)
    oracle = OracleEngine(make_corpus_pdf(400, min_tokens=60, max_tokens=400), 3)
    return d, oracle


def _oracle_rows(oracle, q, k):
    return [(e[0], e[1], e[2], np.float32(e[3])) for e in oracle.search(q, k)]


def _engine_rows(eng, q, k):
    return [
        (r["repo"], r["path"], r["commit"], np.float32(r["score"]))
        for r in eng.search(q, k=k).collect()
    ]


def test_manifest_records_positions_codec(pos_corpora):
    d, _ = pos_corpora
    assert _manifest_json(d)["positions_codec"] == "packed"


def test_phrase_identity_vs_oracle(spark, pos_corpora):
    """Positional queries (the only readers of the prox stream) return the
    oracle's rows: same docs, float32 scores and order."""
    from iresearch_spark.search import Phrase, SearchEngine

    d, oracle = pos_corpora
    eng = SearchEngine(spark, d)
    queries = [
        Phrase(terms=("import", "def")),
        Phrase(terms=("the", "for")),
        Phrase(terms=("import", "the"), offsets=(0, 2)),  # gap phrase
    ]
    for q in queries:
        assert _engine_rows(eng, q, 25) == _oracle_rows(oracle, q, 25), q
    eng.close()


def test_merge_preserves_packed_positions(spark, pos_corpora):
    """Consolidation decodes packed positions per row (the chunk grid
    restarts per input blob — no concat fast path), re-encodes packed, and
    keeps the manifest key; phrase results still equal the oracle's."""
    from iresearch_spark.index.merge import merge_segments
    from iresearch_spark.search import Phrase, SearchEngine

    d, oracle = pos_corpora
    q = Phrase(terms=("import", "def"))
    man = read_manifest(d)
    merge_segments(spark, d, [s["segment_id"] for s in man.segments])
    assert _manifest_json(d)["positions_codec"] == "packed"
    assert len(read_manifest(d).segments) == 1
    # doc identity + scores survive (segment/doc ids are remapped)
    eng = SearchEngine(spark, d)
    assert _engine_rows(eng, q, 25) == _oracle_rows(oracle, q, 25)
    eng.close()


def test_offsets_and_payloads_ride_packed_positions(spark, tmp_path):
    """A stored-OFFS index: pay streams stay aligned with the (packed)
    positions permutation; spans still slice the source text exactly."""
    from iresearch_spark.search import SearchEngine

    rows = [
        ("r", f"{i:03d}.py", "c", "py",
         f"alpha beta{i % 7} gamma alpha delta{i % 3} alpha")
        for i in range(60)
    ]
    d = str(tmp_path / "offs_packed")
    build_index(
        spark, spark.createDataFrame(rows, SCHEMA), d, num_segments=2,
        fields=[("content", "code_offsets")],
    )
    assert _manifest_json(d)["positions_codec"] == "packed"
    assert read_manifest(d).with_payloads
    eng = SearchEngine(spark, d)
    got = eng.term_offsets("alpha").collect()
    assert len(got) == 3 * 60
    src = {r[1]: r[4] for r in rows}
    for r in got:
        text = src[r["path"]]
        assert text[r["start_off"] : r["end_off"]] == "alpha"
    eng.close()


# ------------------------------------------------- legacy manifests


@pytest.mark.parametrize(
    "recorded",
    [{}, {"postings_codec": "packed"}, {"postings_codec": "varint",
                                        "positions_codec": "varint"}],
    ids=["no_keys", "no_positions_key", "varint"],
)
def test_legacy_manifest_is_refused(spark, tmp_path, recorded):
    """A manifest without both codec keys set to packed (written before
    packed became the one format) is refused by every reader with a
    ValueError naming the index dir and the recorded format."""
    from iresearch_spark.search import SearchEngine

    d = tmp_path / "legacy"
    d.mkdir()
    (d / "manifest.json").write_text(
        json.dumps(
            {
                "format_version": 1,
                "num_segments": 1,
                "field": "content",
                "analyzer": "code",
                "with_positions": True,
                "segments": [],
                **recorded,
            }
        )
    )
    with pytest.raises(ValueError, match="codec='varint'") as e:
        read_manifest(str(d))
    assert str(d) in str(e.value) and "rebuild" in str(e.value)
    with pytest.raises(ValueError, match="codec"):
        SearchEngine(spark, str(d))


def test_incremental_refuses_legacy_manifest(spark, tmp_path):
    """Appending to an index whose manifest has no codec keys (legacy) is
    refused when the indexer opens it."""
    from iresearch_spark.streaming.incremental import IncrementalIndexer

    d = str(tmp_path / "idx_stream_legacy")
    rows = [("r", f"{i:03d}.py", "c", "py", f"epsilon zeta doc{i}")
            for i in range(20)]
    ix = IncrementalIndexer(spark, d, segments_per_batch=2)
    ix.process_batch(spark.createDataFrame(rows, SCHEMA), batch_id=0)
    _strip_codec_keys(d)
    with pytest.raises(ValueError, match="codec"):
        IncrementalIndexer(spark, d, segments_per_batch=2)


def test_import_rejects_positions_codec_mismatch(spark, tmp_path):
    """Importing from or into a legacy index (no codec keys) is refused —
    a mixed-format index would be unreadable."""
    from iresearch_spark.index.importer import import_index

    rows = [("r", f"{i:03d}.py", "c", "py", f"eta theta doc{i}")
            for i in range(20)]
    df = spark.createDataFrame(rows, SCHEMA)
    d1, d2 = str(tmp_path / "a"), str(tmp_path / "b")
    build_index(spark, df, d1, num_segments=1)
    build_index(spark, df, d2, num_segments=1)
    _strip_codec_keys(d2)
    with pytest.raises(ValueError, match="codec"):
        import_index(spark, d1, d2)
    with pytest.raises(ValueError, match="codec"):
        import_index(spark, d2, d1)
