"""VByte/delta codec roundtrips (SURVEY §5 unit layer)."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from word_sketch_lucene_spark.functions.codec import (
    position_gaps,
    positions_flat,
    vbyte_decode,
    vbyte_encode,
)


def test_vbyte_empty():
    assert vbyte_encode(np.array([], dtype=np.uint64)) == b""
    assert vbyte_decode(b"").size == 0


def test_vbyte_known_bytes():
    # 0 and 127 fit one byte; 128 needs two (little-endian 7-bit groups)
    assert vbyte_encode(np.array([0], dtype=np.uint64)) == b"\x00"
    assert vbyte_encode(np.array([127], dtype=np.uint64)) == b"\x7f"
    assert vbyte_encode(np.array([128], dtype=np.uint64)) == b"\x80\x01"


@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=300))
@settings(max_examples=60, deadline=None)
def test_vbyte_roundtrip(vals):
    arr = np.array(vals, dtype=np.uint64)
    assert np.array_equal(vbyte_decode(vbyte_encode(arr)), arr)


def _reference_decode(buf: bytes, tfs) -> list[np.ndarray]:
    """Per-posting loop over the Δpos stream: the next tf values are one
    posting's first (absolute) position and its gaps."""
    flat = vbyte_decode(buf).astype(np.int64)
    out, i = [], 0
    for tf in tfs:
        out.append(np.cumsum(flat[i:i + tf]))
        i += tf
    assert i == flat.size
    return out


def encode_positions(pls) -> bytes:
    """A block's ``pos_vb`` for these position lists, as the segment
    writer encodes it."""
    if not pls:
        return b""
    tfs = np.array([len(p) for p in pls], dtype=np.int64)
    return vbyte_encode(position_gaps(np.concatenate(pls), tfs))


def _check_roundtrip(pls):
    tfs = np.array([len(p) for p in pls], dtype=np.int64)
    buf = encode_positions(pls)
    flat = positions_flat(buf, tfs)
    ref = _reference_decode(buf, tfs)
    assert len(ref) == len(pls)
    for a, b in zip(pls, ref):
        assert np.array_equal(a, b)
    assert np.array_equal(flat, np.concatenate(pls) if pls else flat[:0])


def test_positions_roundtrip():
    rng = np.random.default_rng(7)
    pls = [np.sort(rng.choice(4000, size=rng.integers(1, 40), replace=False))
           for _ in range(25)]
    _check_roundtrip(pls)


@given(st.lists(st.sets(st.integers(min_value=0, max_value=2**40),
                        min_size=1, max_size=30), max_size=60))
@settings(max_examples=60, deadline=None)
def test_positions_roundtrip_property(sets):
    _check_roundtrip([np.array(sorted(s), dtype=np.int64) for s in sets])


def test_positions_edge_cases():
    # tf = 1 everywhere: the stream is the absolute first positions only
    ones = [np.array([p]) for p in (0, 5, 3, 1 << 20)]
    _check_roundtrip(ones)
    assert vbyte_decode(encode_positions(ones)).tolist() == [0, 5, 3, 1 << 20]
    # gaps ≥ 2^14 need 3-byte VBytes
    _check_roundtrip([np.array([7, 7 + (1 << 14), 7 + (1 << 15) + 3]),
                      np.array([1 << 14, (1 << 21) + 1])])
    # a single posting
    _check_roundtrip([np.array([2, 9, 40])])
    # no count is stored in front of a list
    assert vbyte_decode(encode_positions([np.array([2, 9, 40])])).tolist() \
        == [2, 7, 31]


def test_positions_empty():
    assert encode_positions([]) == b""
    assert positions_flat(b"", []).size == 0


def test_positions_tfs_mismatch_rejected():
    buf = encode_positions([np.array([1, 2, 3])])
    with pytest.raises(ValueError, match="tfs sum"):
        positions_flat(buf, [2])
