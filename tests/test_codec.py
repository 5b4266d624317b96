import numpy as np
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from search_replica_spark.index.codec import (
    delta_decode,
    delta_encode,
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
