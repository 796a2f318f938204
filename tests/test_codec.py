"""Property tests: the posting codec is an exact inverse, blocks independent."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from words_in_context_spark.operators.codec import (
    bm25_impact,
    concat_encoded,
    decode_block,
    decode_postings,
    encode_postings,
    varbyte_decode,
    varbyte_encode,
)


# every varbyte width from 1 to 10 bytes, the uint64 extremes included
_WIDTHS = st.integers(min_value=1, max_value=64).flatmap(
    lambda bits: st.integers(min_value=0, max_value=2**bits - 1)
)


@given(st.lists(st.one_of(_WIDTHS, st.sampled_from([0, 2**64 - 1])),
                max_size=500))
@settings(max_examples=200, deadline=None)
def test_varbyte_roundtrip(values):
    arr = np.array(values, dtype=np.uint64)
    assert np.array_equal(varbyte_decode(varbyte_encode(arr), arr.size), arr)


def test_varbyte_known():
    assert varbyte_encode(np.array([0], dtype=np.uint64)) == b"\x00"
    assert varbyte_encode(np.array([127], dtype=np.uint64)) == b"\x7f"
    assert varbyte_encode(np.array([128], dtype=np.uint64)) == b"\x80\x01"
    assert varbyte_encode(np.array([300], dtype=np.uint64)) == b"\xac\x02"
    assert list(varbyte_decode(b"\xac\x02\x7f")) == [300, 127]
    assert list(varbyte_decode(b"\xff" * 9 + b"\x01")) == [2**64 - 1]
    with pytest.raises(ValueError, match="truncated"):
        varbyte_decode(b"\x7f\xac")


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10**12),
            st.integers(min_value=1, max_value=1000),
            st.integers(min_value=1, max_value=5000),
        ),
        min_size=1,
        max_size=700,
        unique_by=lambda t: t[0],
    )
)
@settings(max_examples=50, deadline=None)
def test_postings_roundtrip(postings):
    postings.sort()
    ids = np.array([p[0] for p in postings], dtype=np.int64)
    tfs = np.array([p[1] for p in postings], dtype=np.int64)
    dls = np.array([p[2] for p in postings], dtype=np.int64)
    enc = encode_postings(ids, tfs, dls, avgdl=100.0, block=64)
    did, dtf, ddl = decode_postings(enc)
    assert np.array_equal(did, ids)
    assert np.array_equal(dtf, tfs)
    assert np.array_equal(ddl, dls)
    assert enc.df == len(ids)
    assert enc.cf == tfs.sum()
    # block metadata is consistent and max_impact is a true upper bound
    impacts = bm25_impact(tfs, dls, 100.0)
    pos = 0
    for bi in range(enc.first_doc.size):
        bids, btfs, _ = decode_block(enc, bi)
        cnt = int(enc.n[bi])
        assert np.array_equal(bids, ids[pos:pos + cnt])
        assert np.array_equal(btfs, tfs[pos:pos + cnt])
        assert enc.first_doc[bi] == ids[pos]
        assert enc.last_doc[bi] == ids[pos + cnt - 1]
        assert enc.max_impact[bi] >= impacts[pos:pos + cnt].max() - 1e-6
        pos += cnt


def test_merge_runs_equals_direct_encode():
    """The build's merge — concat_encoded over per-salt-range encodes —
    equals encode_salt_aligned byte for byte, and decodes to the postings a
    direct one-pass encode holds."""
    from words_in_context_spark.index.build import (
        _salt_boundaries,
        encode_salt_aligned,
    )

    rng = np.random.default_rng(7)
    ids = np.unique(rng.integers(-(2**63), 2**63 - 1, size=1000, dtype=np.int64))
    tfs = rng.integers(1, 50, size=ids.size)
    dls = rng.integers(10, 500, size=ids.size)
    bounds = _salt_boundaries(4)
    cuts = [0, *np.searchsorted(ids, bounds).tolist(), ids.size]
    runs = [
        encode_postings(ids[s:e], tfs[s:e], dls[s:e], avgdl=120.0)
        for s, e in zip(cuts, cuts[1:])
        if e > s
    ]
    assert len(runs) == 4
    merged = concat_encoded(runs)
    aligned = encode_salt_aligned(ids, tfs, dls, 120.0, bounds)
    for f in ("df", "cf", "doc_bytes", "tf_bytes", "dl_bytes"):
        assert getattr(merged, f) == getattr(aligned, f), f
    for f in ("first_doc", "last_doc", "n", "doc_off", "tf_off", "dl_off",
              "max_impact"):
        assert np.array_equal(getattr(merged, f), getattr(aligned, f)), f
    direct = encode_postings(ids, tfs, dls, avgdl=120.0)
    for got, want in zip(decode_postings(merged), decode_postings(direct)):
        assert np.array_equal(got, want)


def test_concat_encoded_overlap_guard():
    """Runs must cover disjoint, ordered doc-id ranges; an overlapping or
    out-of-order run is a hard error, not a written segment."""
    def run(*ids):
        ids = np.asarray(ids, dtype=np.int64)
        return encode_postings(ids, np.ones(ids.size), np.ones(ids.size), 1.0)

    ok = concat_encoded([run(1, 5), run(6, 9), run(10, 20)])
    assert ok.df == 6 and ok.first_doc.tolist() == [1, 6, 10]
    with pytest.raises(ValueError, match="encoded runs overlap"):
        concat_encoded([run(1, 7), run(6, 9)])
    with pytest.raises(ValueError, match="encoded runs overlap"):
        concat_encoded([run(6, 9), run(1, 5)])


def test_compression_beats_raw():
    # dense doc ids → deltas are tiny → ~1 byte per posting per stream
    ids = np.arange(0, 100_000, 3, dtype=np.int64)
    tfs = np.ones(ids.size, dtype=np.int64)
    dls = np.full(ids.size, 100, dtype=np.int64)
    enc = encode_postings(ids, tfs, dls, avgdl=100.0)
    raw = ids.size * 16  # int64 doc + int64 tf
    assert len(enc.doc_bytes) + len(enc.tf_bytes) < raw / 7


def test_postings_roundtrip_negative_ids():
    # xxhash64 doc ids span the full signed int64 range
    rng = np.random.default_rng(3)
    ids = np.sort(rng.integers(-(2**63), 2**63 - 1, size=2000, dtype=np.int64))
    ids = np.unique(ids)
    tfs = rng.integers(1, 9, size=ids.size)
    dls = rng.integers(5, 400, size=ids.size)
    enc = encode_postings(ids, tfs, dls, avgdl=90.0)
    did, dtf, ddl = decode_postings(enc)
    assert np.array_equal(did, ids)
    assert np.array_equal(dtf, tfs)
    assert np.array_equal(ddl, dls)


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=-(2**62), max_value=2**62),
            st.integers(min_value=1, max_value=500),
            st.integers(min_value=1, max_value=2000),
        ),
        min_size=1,
        max_size=900,
        unique_by=lambda t: t[0],
    )
)
@settings(max_examples=40, deadline=None)
def test_fast_decode_equals_blockwise(postings):
    from words_in_context_spark.operators.codec import decode_postings_fast

    postings.sort()
    ids = np.array([p[0] for p in postings], dtype=np.int64)
    tfs = np.array([p[1] for p in postings], dtype=np.int64)
    dls = np.array([p[2] for p in postings], dtype=np.int64)
    enc = encode_postings(ids, tfs, dls, avgdl=90.0, block=37)
    a = decode_postings(enc)
    b = decode_postings_fast(enc)
    for x, y in zip(a, b):
        assert np.array_equal(x, y)
