"""Delta + VByte posting-list codec (numpy-vectorized, no per-value Python).

Reference parity: BlackLab's varint token codec
(``README.md:744-752``: ``[count][Δpos][len][utf8]…``, ~30 GB vs ~80 GB
uncompressed at 62 M sentences). Here the same idea compresses posting
lists inside index segments: doc-id *gaps* and position *gaps* are
VByte-packed (7 data bits/byte, MSB = continuation). As in Lucene's
``.pos`` files, a position list carries no count: its length is the
posting's tf, stored once in the block's ``tfs_vb``.

These kernels run inside ``mapInPandas`` on executors over Arrow
batches — encoding is O(total bytes) numpy work, never per-row Python.
"""

from __future__ import annotations

import numpy as np

_MAX_VBYTE_LEN = 10  # 64 bits / 7


def vbyte_encode(values: np.ndarray) -> bytes:
    """VByte-encode a non-negative int array (vectorized).

    Layout per value: little-endian 7-bit groups; MSB set on every byte
    except the last of a value.
    """
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return b""
    n = v.size
    # (n, 10) matrix of 7-bit groups
    shifts = (np.uint64(7) * np.arange(_MAX_VBYTE_LEN, dtype=np.uint64))[None, :]
    groups = (v[:, None] >> shifts) & np.uint64(0x7F)
    # bytes needed per value: index of highest nonzero group + 1 (min 1)
    nonzero = groups != 0
    lengths = np.maximum(
        1, _MAX_VBYTE_LEN - np.argmax(nonzero[:, ::-1], axis=1)
    )
    lengths = np.where(nonzero.any(axis=1), lengths, 1)
    # continuation bit on all but the last byte of each value
    col = np.arange(_MAX_VBYTE_LEN)[None, :]
    keep = col < lengths[:, None]
    cont = col < (lengths[:, None] - 1)
    out = (groups | (cont.astype(np.uint64) << np.uint64(7))).astype(np.uint8)
    return out[keep].tobytes()


_VBYTE_BINS = np.array([1 << (7 * k) for k in range(1, 10)], dtype=np.uint64)


def vbyte_lengths(values: np.ndarray) -> np.ndarray:
    """Per-value encoded byte count (vectorized) — for slicing a single
    concatenated VByte stream into per-group spans without re-encoding."""
    v = np.asarray(values, dtype=np.uint64)
    return (np.digitize(v, _VBYTE_BINS) + 1).astype(np.int64)


def vbyte_decode(buf: bytes) -> np.ndarray:
    """Decode a VByte stream back to uint64 values (vectorized)."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    is_last = (b & 0x80) == 0
    ends = np.flatnonzero(is_last)
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    value_idx_lengths = ends - starts + 1
    # offset of each byte within its value
    offsets = np.arange(b.size) - np.repeat(starts, value_idx_lengths)
    contrib = (b.astype(np.uint64) & np.uint64(0x7F)) << (
        np.uint64(7) * offsets.astype(np.uint64)
    )
    return np.add.reduceat(contrib, starts)


def segmented_cumsum(values: np.ndarray, lengths: np.ndarray) -> np.ndarray:
    """Running sums that restart at every segment: ``values`` is the
    concatenation of segments of ``lengths`` (each ≥ 1), and each
    segment's first value is taken as is (one cumsum, no Python loop)."""
    v = np.asarray(values, dtype=np.int64)
    lengths = np.asarray(lengths, dtype=np.int64)
    c = np.cumsum(v)
    starts = np.cumsum(lengths) - lengths
    return c - np.repeat(c[starts] - v[starts], lengths)


def position_gaps(positions: np.ndarray, tfs: np.ndarray) -> np.ndarray:
    """Flat per-posting position lists → Δpos stream: each posting's
    first position stays absolute, the rest are gaps (the count is not
    repeated — tf lives in ``tfs_vb``)."""
    p = np.asarray(positions, dtype=np.int64)
    out = np.diff(p, prepend=0)
    starts = np.cumsum(tfs) - tfs
    out[starts] = p[starts]
    return out.astype(np.uint64)


def positions_flat(buf: bytes, tfs: np.ndarray) -> np.ndarray:
    """Decode a positions stream to one flat array: posting i's
    ascending positions are the next ``tfs[i]`` values."""
    gaps = vbyte_decode(buf)
    tfs = np.asarray(tfs, dtype=np.int64)
    if gaps.size != int(tfs.sum()):
        raise ValueError(f"positions stream holds {gaps.size} values, "
                         f"tfs sum to {int(tfs.sum())}")
    return segmented_cumsum(gaps.astype(np.int64), tfs)
