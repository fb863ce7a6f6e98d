"""Property-based checks (hypothesis) for the posting-block codec:
delta+varint roundtrip over the FULL signed-64 doc_id domain (doc_id =
xxhash64 is signed; the 2M-doc capacity build serves negative ids),
arbitrary block sizes, and block-max metadata consistency."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from pke_spark.index import codec

_doc_ids = st.lists(
    st.integers(min_value=-(2**63), max_value=2**63 - 1),
    min_size=1, max_size=400, unique=True)


@settings(max_examples=150, deadline=None)
@given(_doc_ids, st.integers(min_value=1, max_value=37), st.randoms())
def test_roundtrip_any_int64_docs(ids, block_size, rnd):
    docs = np.array(sorted(ids), dtype=np.int64)
    tfs = np.array([rnd.randint(1, 10**6) for _ in docs], dtype=np.int64)
    dls = np.array([rnd.randint(1, 10**9) for _ in docs], dtype=np.int64)
    blocks = codec.encode_blocks(docs, tfs, dls, block_size=block_size)
    d2, t2, l2 = codec.decode_blocks(blocks)
    assert np.array_equal(d2, docs)
    assert np.array_equal(t2, tfs)
    assert np.array_equal(l2, dls)


@settings(max_examples=80, deadline=None)
@given(_doc_ids, st.integers(min_value=1, max_value=37))
def test_blockmax_metadata_consistent(ids, block_size):
    """Per-block first/last/n/max_tf must describe exactly the block's
    decoded contents — WAND's pruning correctness rests on this."""
    docs = np.array(sorted(ids), dtype=np.int64)
    tfs = (np.arange(len(docs)) % 7 + 1).astype(np.int64)
    dls = np.full(len(docs), 42, dtype=np.int64)
    blocks = codec.encode_blocks(docs, tfs, dls, block_size=block_size)
    off = 0
    for b in blocks:
        n = b["n"]
        span_docs = docs[off:off + n]
        span_tfs = tfs[off:off + n]
        assert b["first_doc"] == int(span_docs[0])
        assert b["last_doc"] == int(span_docs[-1])
        assert b["max_tf"] == int(span_tfs.max())
        off += n
    assert off == len(docs)


_u64_vals = st.lists(
    st.one_of(
        st.integers(min_value=0, max_value=7),          # sub-byte widths
        st.integers(min_value=0, max_value=2**16 - 1),
        st.integers(min_value=0, max_value=2**64 - 1)), # full domain
    min_size=0, max_size=300)


@settings(max_examples=200, deadline=None)
@given(_u64_vals)
def test_stream_roundtrip_any_u64(vals):
    """encode_stream picks varint or PForDelta per stream; either way
    the roundtrip must be exact over the full uint64 domain, including
    adversarial mixes (tiny values + 2^63 outliers = PFOR exceptions)."""
    v = np.array(vals, dtype=np.uint64)
    buf = codec.encode_stream(v)
    out = codec.decode_stream(buf, len(v))
    assert np.array_equal(out, v)
    if len(v):
        assert buf[0] in (codec.TAG_VARINT, codec.TAG_PFOR)


@settings(max_examples=60, deadline=None)
@given(st.integers(min_value=1, max_value=255),
       st.integers(min_value=0, max_value=6))
def test_stream_pfor_beats_varint_on_narrow_values(n, width):
    """The reason PFOR exists: n small-width values cost ~n*b bits
    packed vs >= 8n bits as varint. The cost model must actually pick
    it (and win) for uniform narrow streams of non-trivial length."""
    v = (np.arange(n, dtype=np.uint64) % (1 << width)).astype(np.uint64)
    buf = codec.encode_stream(v)
    assert np.array_equal(codec.decode_stream(buf, n), v)
    if n >= 32:
        assert buf[0] == codec.TAG_PFOR
        assert len(buf) < 1 + len(codec.varint_encode(v))


# ------------------------------------------------ batched kernel == scalar

def _offsets(streams):
    offs = np.zeros(len(streams) + 1, dtype=np.int64)
    np.cumsum([len(s) for s in streams], out=offs[1:])
    return offs


def _assert_kernel_matches_scalar(streams):
    vals = (np.concatenate(streams) if streams
            else np.empty(0, np.uint64)).astype(np.uint64)
    offs = _offsets(streams)
    data, out = codec.encode_streams(vals, offs)
    assert len(out) == len(streams) + 1
    for i, s in enumerate(streams):
        assert data[out[i]:out[i + 1]].tobytes() == codec.encode_stream(s)
    assert np.array_equal(
        codec.decode_streams(data, out, np.diff(offs)), vals)


def _u64(vals):
    return np.array(vals, dtype=np.uint64)


_stream = st.one_of(
    st.just([]),                                              # empty
    st.lists(st.just(0), min_size=1, max_size=300),           # width 0
    st.lists(st.integers(0, 7), min_size=1, max_size=300),
    st.lists(st.integers(0, 2**64 - 1), min_size=1, max_size=40),
    st.lists(st.integers(256, 2**16), min_size=256, max_size=300),
    # narrow values + huge outliers: PFOR exceptions, values >= 2^63
    st.tuples(st.lists(st.integers(0, 15), min_size=20, max_size=255),
              st.lists(st.integers(2**63, 2**64 - 1), min_size=1,
                       max_size=3)).map(lambda t: t[0] + t[1]),
)


@settings(max_examples=200, deadline=None)
@given(st.lists(_stream, min_size=0, max_size=25))
def test_kernel_bytes_equal_scalar(streams):
    """encode_streams over a set of streams returns, for every stream,
    exactly encode_stream's bytes; decode_streams inverts it."""
    _assert_kernel_matches_scalar([_u64(s) for s in streams])


def test_kernel_named_edge_cases():
    streams = [
        _u64([]),
        _u64([0] * 255),                          # all zero, width-0 PFOR
        _u64([0] * 256),                          # n > 255: varint
        _u64(range(300)),                         # varint fallback
        _u64([2**64 - 1]),
        _u64([1] * 100 + [2**63] * 2),            # exceptions >= 2^63
        _u64([3] * 200 + [2**40] * 20),
    ]
    _assert_kernel_matches_scalar(streams)
    data, out = codec.encode_streams(np.concatenate(streams), _offsets(streams))
    tags = [data[out[i]] for i in range(1, len(streams))]
    assert tags[0] == codec.TAG_PFOR and data[out[1] + 1] == 0
    assert tags[1] == tags[2] == codec.TAG_VARINT
    assert tags[4] == codec.TAG_PFOR


def _tie_streams():
    """Streams where the two PFOR candidate widths cost the same: n
    values at width b_p90 = lo plus e exceptions of bit length hi, for
    every (lo, hi, n, e) whose costs tie."""
    out = []
    for lo in range(1, 12):
        for hi in range(lo + 1, 20):
            for n in range(10, 120):
                e = (n - 1) - (n - 1) * 9 // 10       # keeps b_p90 == lo
                for ex in range(1, e + 1):
                    c_max = 4 + (n * hi + 7) // 8
                    c_p90 = (4 + (n * lo + 7) // 8 + ex
                             + ex * ((hi - lo + 6) // 7))
                    if c_max == c_p90:
                        v = [(1 << (lo - 1))] * (n - ex) \
                            + [(1 << (hi - 1))] * ex
                        out.append(_u64(v))
    return out


def test_kernel_equal_cost_ties_follow_set_order():
    ties = _tie_streams()
    assert len(ties) > 20
    _assert_kernel_matches_scalar(ties)


@settings(max_examples=60, deadline=None)
@given(st.lists(_doc_ids, min_size=1, max_size=6),
       st.integers(min_value=1, max_value=37), st.randoms())
def test_block_list_equals_per_group_blocks(groups, block_size, rnd):
    """encode_block_list over many groups == the scalar encode_blocks per
    group, and decode_blocks over every block at once == decoding block
    by block."""
    docs = [np.array(sorted(g), dtype=np.int64) for g in groups]
    doc = np.concatenate(docs)
    tf = np.array([rnd.randint(1, 300) for _ in doc], dtype=np.int64)
    dl = np.array([rnd.randint(1, 10**6) for _ in doc], dtype=np.int64)
    go = _offsets(docs)
    col = codec.encode_block_list(go, doc, tf, dl, block_size)
    rows = col.to_pylist()
    for i in range(len(docs)):
        s, e = go[i], go[i + 1]
        assert rows[i] == codec.encode_blocks(doc[s:e], tf[s:e], dl[s:e],
                                              block_size)
    assert np.array_equal(codec.list_row_counts(col), np.diff(go))
    batched = codec.decode_blocks(col.flatten())
    per_block = [codec.decode_block(b) for r in rows for b in r]
    for k in range(3):
        assert np.array_equal(batched[k],
                              np.concatenate([p[k] for p in per_block]))
    assert np.array_equal(batched[0], doc)
    py = codec.decode_blocks([b for r in rows for b in r])
    for k in range(3):
        assert np.array_equal(py[k], batched[k])
