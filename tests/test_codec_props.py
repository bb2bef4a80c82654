"""Hypothesis property tests for the posting-block codec
(`functions/codec.py`): every encoder/decoder pair must round-trip
arbitrary inputs, including the adversarial shapes a seeded corpus
sweep never hits — 7-bit group boundaries (2^7k-1 vs 2^7k), u64 max,
zero-size groups in every slot (leading / mid-stream / trailing), and
empty inputs. No Spark session needed: the codec is pure numpy.
"""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from solr_ocr_processor_spark.functions.codec import (
    _segmented_cumsum,
    decode_locs,
    decode_positions,
    encode_positions,
    gap_reset,
    varint_decode,
    varint_encode,
    varint_slices,
)

# values that straddle every LEB128 byte-count boundary, plus extremes
_BOUNDARY = [0, 1, 127, 128, 16383, 16384, 2**32 - 1, 2**63, 2**64 - 1]
u64s = st.lists(
    st.one_of(st.sampled_from(_BOUNDARY), st.integers(0, 2**64 - 1)),
    max_size=200,
)


@given(u64s)
@settings(max_examples=200, deadline=None)
def test_varint_round_trip(vals):
    arr = np.array(vals, dtype=np.uint64)
    out = varint_decode(varint_encode(arr))
    assert out.dtype == np.uint64
    assert np.array_equal(out, arr)


# a partition of n values into groups, allowing zero-size groups
# anywhere (the reduceat edge ADVICE r2 flagged)
@st.composite
def grouped_values(draw, min_group=0):
    sizes = draw(
        st.lists(st.integers(min_group, 8), min_size=0, max_size=30)
    )
    n = sum(sizes)
    vals = draw(
        st.lists(
            st.one_of(st.sampled_from(_BOUNDARY), st.integers(0, 2**64 - 1)),
            min_size=n,
            max_size=n,
        )
    )
    return np.array(vals, dtype=np.uint64), np.array(sizes, dtype=np.int64)


@given(grouped_values())
@settings(max_examples=200, deadline=None)
def test_varint_slices_partition_the_stream(gv):
    vals, sizes = gv
    parts = varint_slices(vals, sizes)
    assert len(parts) == sizes.size
    # concatenated slices reproduce the one-shot encode
    assert b"".join(parts) == varint_encode(vals)
    # each slice decodes to exactly its group's values
    offs = np.zeros(sizes.size + 1, dtype=np.int64)
    np.cumsum(sizes, out=offs[1:])
    for i, part in enumerate(parts):
        got = varint_decode(part)
        assert np.array_equal(got, vals[offs[i]: offs[i + 1]]), i


@st.composite
def positions_per_doc(draw):
    tfs = draw(st.lists(st.integers(1, 6), min_size=1, max_size=25))
    flat = []
    for tf in tfs:
        pos = sorted(
            draw(
                st.lists(
                    st.integers(0, 2**31), min_size=tf, max_size=tf
                )
            )
        )
        flat.extend(pos)
    return np.array(tfs, dtype=np.int64), np.array(flat, dtype=np.int64)


@given(positions_per_doc())
@settings(max_examples=100, deadline=None)
def test_positions_round_trip(tp):
    tfs, flat = tp
    assert np.array_equal(
        decode_positions(tfs, encode_positions(tfs, flat)), flat
    )


@given(positions_per_doc())
@settings(max_examples=100, deadline=None)
def test_gap_reset_inverts_segmented_cumsum(tp):
    tfs, flat = tp
    assert np.array_equal(_segmented_cumsum(gap_reset(flat, tfs), tfs), flat)


@st.composite
def loc_streams(draw):
    """Per-posting (start, length) occurrence pairs, starts sorted
    within a posting — the tokenizer's loc payload shape."""
    tfs = draw(st.lists(st.integers(1, 5), min_size=1, max_size=15))
    rows = []
    for tf in tfs:
        starts = sorted(
            draw(st.lists(st.integers(0, 10**6), min_size=tf, max_size=tf))
        )
        lens = draw(st.lists(st.integers(0, 50), min_size=tf, max_size=tf))
        rows.append((starts, lens))
    return np.array(tfs, dtype=np.int64), rows


@given(loc_streams())
@settings(max_examples=100, deadline=None)
def test_decode_locs_round_trip(tl):
    tfs, rows = tl
    # build the interleaved (start-gap, length) stream the way the
    # tokenizer does: gaps reset at posting boundaries
    inter = []
    for starts, lens in rows:
        prev = 0
        for i, (s, ln) in enumerate(zip(starts, lens)):
            inter.extend([s if i == 0 else s - prev, ln])
            prev = s
    buf = varint_encode(np.array(inter, dtype=np.uint64))
    got_s, got_e = decode_locs(tfs, buf)
    want_s = np.array([s for st_, _ in rows for s in st_], dtype=np.int64)
    want_l = np.array([l for _, ls in rows for l in ls], dtype=np.int64)
    assert np.array_equal(got_s, want_s)
    assert np.array_equal(got_e, want_s + want_l)


def test_empty_everything():
    assert varint_encode(np.empty(0, dtype=np.uint64)) == b""
    assert varint_decode(b"").size == 0
    assert varint_slices(np.empty(0, dtype=np.uint64), np.empty(0, dtype=np.int64)) == []
    # all-empty groups: every slice present and empty
    parts = varint_slices(
        np.empty(0, dtype=np.uint64), np.zeros(4, dtype=np.int64)
    )
    assert parts == [b"", b"", b"", b""]
