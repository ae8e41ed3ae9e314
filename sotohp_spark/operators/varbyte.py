"""Delta + varbyte (VByte) codec for posting lists, numpy-vectorized.

Classic 7-bit-per-byte varint with continuation in the high bit
(Scholer et al. / Manning CS276 standard scheme): little-endian
7-bit groups, high bit set on the LAST byte of each value.
Doc ids are delta-encoded (first id absolute, then gaps); tf and
doc-length streams are encoded as-is.

Vectorized encode: compute per-value byte lengths from bit_length,
then scatter 7-bit slices into a flat output buffer — no Python loop
over values.  Vectorized decode: locate terminator bytes (high bit),
segment-id via cumsum, then one pass of shifts+ors per byte position
group; implemented as a weighted segmented sum.
"""

from __future__ import annotations

import numpy as np

_MAX_VARBYTE_LEN = 10  # 64-bit values


def varbyte_encode(values: np.ndarray) -> bytes:
    """Encode a non-negative int64/uint64 array to varbyte bytes."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return b""
    # bytes needed per value: ceil(bit_length/7), min 1
    nbits = np.zeros(v.shape, dtype=np.int64)
    tmp = v.copy()
    while True:
        nz = tmp > 0
        if not nz.any():
            break
        nbits[nz] += 1
        tmp >>= np.uint64(7)
    nbytes = np.maximum(nbits, 1)
    ends = np.cumsum(nbytes)
    total = int(ends[-1])
    out = np.zeros(total, dtype=np.uint8)
    starts = ends - nbytes
    # scatter 7-bit groups: for byte position j of each value
    maxb = int(nbytes.max())
    for j in range(maxb):
        mask = nbytes > j
        idx = starts[mask] + j
        out[idx] = ((v[mask] >> np.uint64(7 * j)) & np.uint64(0x7F)).astype(np.uint8)
    out[ends - 1] |= 0x80  # terminator on last byte of each value
    return out.tobytes()


def varbyte_decode(buf: bytes, count: int | None = None) -> np.ndarray:
    """Decode varbyte bytes back to a uint64 array."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.zeros(0, dtype=np.uint64)
    term = (b & 0x80) != 0
    # segment id for each byte = number of terminators BEFORE it
    seg = np.zeros(b.size, dtype=np.int64)
    np.cumsum(term[:-1], out=seg[1:])
    n = int(term.sum())
    # byte position within its segment
    seg_starts = np.zeros(n, dtype=np.int64)
    ends = np.flatnonzero(term)
    seg_starts[1:] = ends[:-1] + 1
    pos_in_seg = np.arange(b.size, dtype=np.int64) - seg_starts[seg]
    vals = np.zeros(n, dtype=np.uint64)
    payload = (b & 0x7F).astype(np.uint64) << (7 * pos_in_seg).astype(np.uint64)
    np.add.at(vals, seg, payload)
    if count is not None and n != count:
        raise ValueError(f"varbyte_decode: expected {count} values, got {n}")
    return vals


def delta_encode(sorted_ids: np.ndarray) -> np.ndarray:
    """Strictly-increasing ids -> [first, gap, gap, ...]."""
    a = np.asarray(sorted_ids, dtype=np.int64)
    if a.size == 0:
        return a.astype(np.uint64)
    out = np.empty_like(a)
    out[0] = a[0]
    np.subtract(a[1:], a[:-1], out=out[1:])
    if a.size > 1 and (out[1:] <= 0).any():
        raise ValueError("delta_encode requires strictly increasing ids")
    return out.astype(np.uint64)


def delta_decode(deltas: np.ndarray) -> np.ndarray:
    return np.cumsum(np.asarray(deltas, dtype=np.uint64)).astype(np.int64)
