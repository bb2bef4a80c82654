"""Posting payload compression: delta + LEB128 varint, numpy-vectorized.

The analog of the compact MiniOCR encoding the reference emits so Solr
stores small position-annotated payloads (app/process/alto.go:275-385
— hierarchical XML squeezed to one-letter tags with packed coordinate
strings). Each posting row packs its token positions and highlight
char spans as varint byte streams of gaps that reset per posting.

Everything here is pure numpy over uint64 arrays — no per-value Python
in encode or decode (a constant ≤10-iteration byte-position loop does
the vectorized work). These functions run inside applyInPandas /
mapInPandas on Arrow batches.
"""

from __future__ import annotations

import numpy as np

_U64 = np.uint64


def _varint_encode_with_lengths(vals: np.ndarray) -> tuple[bytes, np.ndarray]:
    """LEB128-encode a uint64 array; also return per-value byte counts
    (lets callers slice the stream at value-group boundaries)."""
    vals = np.ascontiguousarray(vals, dtype=_U64)
    n = vals.size
    if n == 0:
        return b"", np.empty(0, dtype=np.int64)
    # number of 7-bit groups per value (>=1)
    nbytes = np.ones(n, dtype=np.int64)
    v = vals >> _U64(7)
    while v.any():
        nbytes += v > 0
        v = v >> _U64(7)
    offsets = np.zeros(n, dtype=np.int64)
    np.cumsum(nbytes[:-1], out=offsets[1:])
    out = np.zeros(int(nbytes.sum()), dtype=np.uint8)
    maxb = int(nbytes.max())
    for j in range(maxb):
        mask = nbytes > j
        idx = offsets[mask] + j
        byte = (vals[mask] >> _U64(7 * j)) & _U64(0x7F)
        cont = (nbytes[mask] - 1 > j).astype(np.uint8) << 7
        out[idx] = byte.astype(np.uint8) | cont
    return out.tobytes(), nbytes


def varint_encode(vals: np.ndarray) -> bytes:
    """LEB128-encode a uint64 array -> bytes."""
    return _varint_encode_with_lengths(vals)[0]


def varint_slices(vals: np.ndarray, group_sizes: np.ndarray) -> list[bytes]:
    """Varint-encode ``vals`` ONCE (vectorized), then slice the stream
    into one bytes object per group of ``group_sizes`` values. This is
    how the tokenizer emits per-posting byte payloads without paying a
    numpy-call overhead per posting: one encode per document, cheap
    slices per posting."""
    group_sizes = np.ascontiguousarray(group_sizes, dtype=np.int64)
    buf, nbytes = _varint_encode_with_lengths(vals)
    if group_sizes.size == 0:
        return []
    # Byte offset of every group boundary, computed directly from the
    # cumulative byte lengths indexed at the value boundaries. Exact
    # for zero-size groups in any position (leading / mid / trailing),
    # unlike a reduceat-with-clipping formulation, which truncates the
    # final non-empty group when a trailing empty group's clipped start
    # lands inside it.
    voffs = np.zeros(group_sizes.size + 1, dtype=np.int64)
    np.cumsum(group_sizes, out=voffs[1:])
    if voffs[-1] != nbytes.size:
        raise ValueError(
            f"group_sizes sum to {voffs[-1]} but {nbytes.size} values given"
        )
    cum = np.zeros(nbytes.size + 1, dtype=np.int64)
    np.cumsum(nbytes, out=cum[1:])
    boffs = cum[voffs]
    return [buf[boffs[i]: boffs[i + 1]] for i in range(group_sizes.size)]


def varint_decode(buf: bytes) -> np.ndarray:
    """Decode a LEB128 byte stream -> uint64 array."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=_U64)
    last = (b & 0x80) == 0
    gid = np.zeros(b.size, dtype=np.int64)
    np.cumsum(last[:-1], out=gid[1:])
    starts = np.flatnonzero(np.concatenate(([True], last[:-1])))
    pos = np.arange(b.size, dtype=np.int64) - starts[gid]
    contrib = (b.astype(_U64) & _U64(0x7F)) << (_U64(7) * pos.astype(_U64))
    vals = np.zeros(int(last.sum()), dtype=_U64)
    np.bitwise_or.at(vals, gid, contrib)
    return vals


def encode_positions(tfs: np.ndarray, flat_positions: np.ndarray) -> bytes:
    """Encode per-doc position lists.

    ``flat_positions`` is the concatenation of each doc's sorted
    token positions; ``tfs`` gives the per-doc counts. Positions are
    delta-encoded *within* each doc (reset at doc boundaries), then
    varint-packed. Decode side recovers boundaries from the tfs stream.
    """
    tfs = np.ascontiguousarray(tfs, dtype=np.int64)
    p = np.ascontiguousarray(flat_positions, dtype=np.int64)
    if p.size == 0:
        return b""
    gaps = np.empty_like(p)
    gaps[0] = p[0]
    np.subtract(p[1:], p[:-1], out=gaps[1:])
    starts = np.zeros(tfs.size, dtype=np.int64)
    np.cumsum(tfs[:-1], out=starts[1:])
    gaps[starts] = p[starts]  # reset delta at each doc boundary
    return varint_encode(gaps.astype(_U64))


def _segmented_cumsum(gaps: np.ndarray, group_sizes: np.ndarray) -> np.ndarray:
    """Cumulative sum that restarts at each group boundary (the first
    value of every group is absolute, the rest are deltas)."""
    if gaps.size == 0:
        return gaps
    out = np.cumsum(gaps)
    starts = np.zeros(group_sizes.size, dtype=np.int64)
    np.cumsum(group_sizes[:-1], out=starts[1:])
    carry = out[starts] - gaps[starts]
    gid = np.zeros(gaps.size, dtype=np.int64)
    gid[starts[1:]] = 1
    gid = np.cumsum(gid)
    return out - carry[gid]


def decode_positions(tfs: np.ndarray, buf: bytes) -> np.ndarray:
    """Inverse of :func:`encode_positions` -> flat int64 positions."""
    tfs = np.ascontiguousarray(tfs, dtype=np.int64)
    gaps = varint_decode(buf).astype(np.int64)
    return _segmented_cumsum(gaps, tfs)


def gap_reset(vals: np.ndarray, group_sizes: np.ndarray) -> np.ndarray:
    """Delta-encode with a reset at every group boundary: first value
    of each group absolute, the rest gaps. Inverse of
    :func:`_segmented_cumsum`."""
    v = np.ascontiguousarray(vals, dtype=np.int64)
    if v.size == 0:
        return v
    gaps = np.empty_like(v)
    gaps[0] = v[0]
    np.subtract(v[1:], v[:-1], out=gaps[1:])
    starts = np.zeros(group_sizes.size, dtype=np.int64)
    np.cumsum(np.ascontiguousarray(group_sizes, dtype=np.int64)[:-1], out=starts[1:])
    gaps[starts] = v[starts]
    return gaps


def decode_locs(tfs: np.ndarray, buf: bytes) -> tuple[np.ndarray, np.ndarray]:
    """Decode a per-posting location stream -> (char_starts, char_ends).

    The stream interleaves, per occurrence, (start gap, length) as
    varints; start gaps reset at each posting boundary (tfs gives the
    occurrence count per posting). Built by the tokenizer via
    :func:`varint_slices`."""
    tfs = np.ascontiguousarray(tfs, dtype=np.int64)
    vals = varint_decode(buf).astype(np.int64)
    if vals.size == 0:
        return vals, vals
    pairs = vals.reshape(-1, 2)
    starts = _segmented_cumsum(np.ascontiguousarray(pairs[:, 0]), tfs)
    ends = starts + pairs[:, 1]
    return starts, ends
