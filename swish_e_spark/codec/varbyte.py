"""Vectorized variable-byte codec (numpy, no Python-per-value loops).

Functional reproduction of the reference varbyte coder
(compress3/uncompress2, /root/reference/src/compress.c:141-215): 7-bit
groups with a continuation bit. This implementation uses LSB-first
groups with 0x80 = "more bytes follow" (the byte order differs from the
reference's MSB-first layout; the on-disk format here is our own — the
reference is reproduced functionally, not byte-for-byte).

All loops below are over *byte positions within a value* (≤10), never
over values — every pass is a full-array numpy operation, per the
north-rule "no per-row Python" constraint.
"""

from __future__ import annotations

import numpy as np

_EMPTY = np.empty(0, dtype=np.uint64)
# smallest value that needs k + 2 bytes, k = 0..8
_LIMITS = np.array([1 << (7 * k) for k in range(1, 10)], dtype=np.uint64)


def vb_encode(values) -> bytes:
    """Encode a 1-D array of non-negative ints to varbyte bytes."""
    return vb_encode_array(values)[0].tobytes()


def vb_encode_array(values):
    """Varbyte-encode ``values`` → (uint8 array, bytes per value).

    The encoding of a sequence is the concatenation of its values'
    encodings, so per-value byte counts give the byte boundaries of
    any run of values (the batch codec's per-list split)."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    if not v.size or v.max() < 0x80:  # every value is one byte
        return v.astype(np.uint8), np.ones(v.size, dtype=np.int64)
    nbytes = np.searchsorted(_LIMITS, v, side="right") + 1
    ends = np.cumsum(nbytes)
    starts = ends - nbytes
    out = np.zeros(int(ends[-1]), dtype=np.uint8)
    for j in range(int(nbytes.max())):
        mask = nbytes > j
        idx = starts[mask] + j
        byte = ((v[mask] >> np.uint64(7 * j)) & np.uint64(0x7F)).astype(np.uint8)
        cont = (nbytes[mask] - 1 > j).astype(np.uint8)
        out[idx] = byte | (cont << 7)
    return out, nbytes


def vb_decode(buf) -> np.ndarray:
    """Decode varbyte bytes (or a uint8 array) back to a uint64 array."""
    b = (buf if isinstance(buf, np.ndarray)
         else np.frombuffer(buf, dtype=np.uint8))
    if b.size == 0:
        return _EMPTY
    if b.max() < 0x80:  # every value is one byte
        return b.astype(np.uint64)
    is_last = (b & 0x80) == 0
    ends = np.flatnonzero(is_last)
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    lengths = ends - starts + 1
    vals = np.zeros(ends.size, dtype=np.uint64)
    for j in range(int(lengths.max())):
        mask = lengths > j
        vals[mask] |= (b[starts[mask] + j] & np.uint64(0x7F)).astype(
            np.uint64
        ) << np.uint64(7 * j)
    return vals


def delta_encode(sorted_vals) -> np.ndarray:
    """First value absolute, rest deltas (docID-delta scheme; reference
    delta-encodes filenums within a metaID run,
    /root/reference/src/index.c:2950-2953)."""
    v = np.ascontiguousarray(sorted_vals, dtype=np.uint64)
    if v.size == 0:
        return _EMPTY
    out = np.empty_like(v)
    out[0] = v[0]
    np.subtract(v[1:], v[:-1], out=out[1:])
    return out


def delta_decode(deltas) -> np.ndarray:
    d = np.ascontiguousarray(deltas, dtype=np.uint64)
    return np.cumsum(d, dtype=np.uint64)
