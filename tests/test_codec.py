import numpy as np
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from search_replica_spark.index.codec import (
    delta_decode,
    delta_encode,
    split_blocks,
    varint_decode,
    varint_encode,
)


def test_varint_roundtrip_edges():
    vals = np.array(
        [0, 1, 127, 128, 16383, 16384, 2**32 - 1, 2**60, 2**63, 2**64 - 1],
        dtype=np.uint64,
    )
    assert (varint_decode(varint_encode(vals)) == vals).all()


def test_varint_empty():
    assert varint_encode(np.empty(0, dtype=np.uint64)) == b""
    assert varint_decode(b"").size == 0


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**64 - 1), max_size=300))
def test_varint_roundtrip_property(xs):
    a = np.array(xs, dtype=np.uint64)
    assert (varint_decode(varint_encode(a)) == a).all()


def _scalar_varint_decode(buf: bytes) -> list[int]:
    """Byte-at-a-time LEB128 reference decoder."""
    out, value, shift = [], 0, 0
    for byte in buf:
        value |= (byte & 0x7F) << shift
        shift += 7
        if byte < 0x80:
            out.append(value)
            value, shift = 0, 0
    return out


def _scalar_varint_encode(values) -> bytes:
    out = bytearray()
    for v in values:
        while v >= 0x80:
            out.append((v & 0x7F) | 0x80)
            v >>= 7
        out.append(v)
    return bytes(out)


# a value of every varint width from 1 to 10 bytes, ends included
_WIDTH_VALUE = st.integers(min_value=1, max_value=10).flatmap(
    lambda w: st.integers(
        min_value=0 if w == 1 else 1 << (7 * (w - 1)),
        max_value=min((1 << (7 * w)) - 1, 2**64 - 1),
    )
)


@settings(max_examples=300, deadline=None)
@given(st.lists(_WIDTH_VALUE | st.sampled_from([0, 2**64 - 1]), max_size=200))
@example([])
@example([0, 1, 5, 127, 64, 3])  # every varint one byte long
@example([0, 2**64 - 1])
@example([2**64 - 1] * 3)
def test_varint_decode_matches_scalar_reference(xs):
    buf = _scalar_varint_encode(xs)
    assert buf == varint_encode(np.array(xs, dtype=np.uint64))
    got = varint_decode(buf)
    assert got.dtype == np.uint64
    assert got.tolist() == _scalar_varint_decode(buf) == xs


def test_varint_decode_one_byte_buffer():
    buf = bytes(range(128)) * 3
    got = varint_decode(buf)
    assert got.dtype == np.uint64 and got.tolist() == list(buf)


@pytest.mark.parametrize(
    "buf", [b"\x80", b"\x01\x02\xff", varint_encode(np.array([2**64 - 1], np.uint64))[:-1]]
)
def test_varint_decode_rejects_truncated_buffer(buf):
    with pytest.raises(ValueError, match="truncated"):
        varint_decode(buf)


@settings(max_examples=100, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**60), min_size=1, max_size=500))
def test_delta_roundtrip_property(xs):
    a = np.unique(np.array(xs, dtype=np.uint64))
    assert (delta_decode(delta_encode(a)) == a).all()


def test_delta_compresses_dense_ids():
    ids = np.arange(10_000, dtype=np.uint64)
    enc = delta_encode(ids)
    assert len(enc) < 10_000 * 2  # ~1 byte/doc for dense ids


def test_split_blocks():
    ids = np.arange(300, dtype=np.uint64)
    tfs = np.ones(300, dtype=np.int64)
    blocks = list(split_blocks(ids, tfs, block_size=128))
    assert [b[0] for b in blocks] == [0, 1, 2]
    assert [len(b[1]) for b in blocks] == [128, 128, 44]
    assert (np.concatenate([b[1] for b in blocks]) == ids).all()


@settings(max_examples=60, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=2**40), min_size=1, max_size=700, unique=True),
    st.integers(min_value=1, max_value=200),
)
def test_encode_postings_blocks_equals_per_block(ids, bs):
    from search_replica_spark.index.codec import encode_postings_blocks

    doc_idx = np.sort(np.array(ids, dtype=np.int64))
    tf = (doc_idx % 7 + 1).astype(np.int64)
    score = (tf * 0.31 + 0.5).astype(np.float64)
    got = encode_postings_blocks(doc_idx, tf, score, bs)
    # reference: independent per-block encode
    pos = 0
    for bid, d_blk, tf_blk in split_blocks(doc_idx, tf, bs):
        n, first, last, ms, dbin, tbin = got[bid]
        s_blk = score[pos : pos + len(d_blk)]
        pos += len(d_blk)
        assert n == len(d_blk) and first == d_blk[0] and last == d_blk[-1]
        assert ms == float(s_blk.max())
        assert bytes(dbin) == delta_encode(d_blk.astype(np.uint64))
        assert bytes(tbin) == varint_encode(tf_blk.astype(np.uint64))
    assert len(got) == bid + 1


@given(
    st.lists(st.integers(min_value=0, max_value=2**40), min_size=1, max_size=300),
    st.integers(min_value=1, max_value=64),
)
@settings(max_examples=60, deadline=None)
def test_blocks_with_doclens_roundtrip(gaps, bs):
    """encode_postings_blocks(dl=...) property: decoding every block's three
    streams reproduces exactly the (doc, tf, dl) posting triples."""
    from search_replica_spark.index.codec import encode_postings_blocks

    docs = np.cumsum(np.asarray(gaps, dtype=np.uint64) + 1).astype(np.int64)
    rng = np.random.default_rng(7)
    tf = rng.integers(1, 1000, size=docs.size).astype(np.int64)
    dl = rng.integers(1, 100_000, size=docs.size).astype(np.int64)
    score = rng.random(docs.size)
    out = encode_postings_blocks(docs, tf, score, bs, dl=dl)
    got_d, got_t, got_l = [], [], []
    for n, first, last, ms, dbin, tbin, lbin in out:
        dd = delta_decode(dbin)
        assert dd[0] == first and dd[-1] == last and len(dd) == n
        got_d.append(dd)
        got_t.append(varint_decode(tbin))
        got_l.append(varint_decode(lbin))
    assert (np.concatenate(got_d).astype(np.int64) == docs).all()
    assert (np.concatenate(got_t).astype(np.int64) == tf).all()
    assert (np.concatenate(got_l).astype(np.int64) == dl).all()


def test_decode_doc_blocks_equals_per_block_decode():
    import numpy as np

    from search_replica_spark.index.codec import (
        decode_doc_blocks,
        delta_decode,
        encode_postings_blocks,
    )

    rng = np.random.default_rng(7)
    docs = np.unique(rng.integers(0, 500_000, size=9000)).astype(np.int64)
    tf = rng.integers(1, 30, size=docs.size).astype(np.int64)
    score = rng.random(docs.size)
    blocks = encode_postings_blocks(docs, tf, score, block_size=128)
    bins = [b[4] for b in blocks]
    counts = np.array([b[0] for b in blocks], dtype=np.int64)
    offs = rng.integers(0, 10, size=len(blocks)).astype(np.int64) * 1_000_000
    want = np.concatenate(
        [delta_decode(b).astype(np.int64) + o for b, o in zip(bins, offs)]
    )
    got = decode_doc_blocks(bins, counts, offs)
    assert np.array_equal(got, want)
    assert np.array_equal(decode_doc_blocks(bins, counts), want - np.repeat(offs, counts))
    assert decode_doc_blocks([], np.array([], dtype=np.int64)).size == 0
