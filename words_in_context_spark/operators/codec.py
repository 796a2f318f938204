"""Posting-list codec: docID-delta + varbyte, with per-block max-score metadata.

The reference keeps raw JSON posting lists (/root/reference/extract_words.py:
384-385 — ``wsid`` word → occurrence list). At web scale postings dominate
index size, so segments store each term's postings as two varbyte streams
(doc-id deltas, term frequencies) plus per-block metadata (doc-id bounds,
byte offsets, max impact) that lets the query path slice a list by doc-id
range without decoding it.

Pure numpy, fully vectorized — no per-posting Python. Encode/decode are exact
inverses (property-tested in tests/test_codec.py).

Layout per term:
  doc_bytes : varbyte(delta(doc_ids))      doc_ids strictly increasing int64
  tf_bytes  : varbyte(tfs)                 tfs >= 1
  dl_bytes  : varbyte(doc_lens)            per-posting doc length, so BM25
                                           scoring needs no doc-table join
  blocks    : one record per BLOCK of postings:
              (first_doc, last_doc, n, doc_off, tf_off, dl_off, max_impact)
              where offsets are byte offsets into the two streams, and
              max_impact is the block's max *idf-free* BM25 partial
              tf*(k1+1)/(tf + k1*(1-b+b*dl/avgdl)) — multiply by the term's
              idf at query time for the block upper bound.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

BLOCK = 128
K1 = 1.2
B = 0.75


def varbyte_encode(values: np.ndarray) -> bytes:
    """LEB128-style varbyte: 7 data bits per byte, high bit = continuation.
    Vectorized: compute per-value byte width, scatter 7-bit groups."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return b""
    # byte width per value: 1..10 (64-bit worst case)
    widths = np.ones(v.size, dtype=np.int64)
    tmp = v >> np.uint64(7)
    while tmp.any():
        widths += (tmp > 0).astype(np.int64)
        tmp >>= np.uint64(7)
    ends = np.cumsum(widths)
    total = int(ends[-1])
    out = np.empty(total, dtype=np.uint8)
    # positions: for value i, bytes occupy [ends[i]-widths[i], ends[i])
    starts = ends - widths
    # emit least-significant group first, continuation bit on all but last
    max_w = int(widths.max())
    rem = v.copy()
    for b_i in range(max_w):
        mask = widths > b_i
        idx = starts[mask] + b_i
        group = (rem[mask] & np.uint64(0x7F)).astype(np.uint8)
        is_last = (b_i == widths[mask] - 1)
        out[idx] = np.where(is_last, group, group | np.uint8(0x80))
        rem[mask] >>= np.uint64(7)
    return out.tobytes()


def varbyte_decode(buf: bytes, count: int | None = None) -> np.ndarray:
    """Inverse of varbyte_encode. Vectorized: each byte's 7-bit group is
    shifted by its position within its value, then one segmented sum
    (``np.add.reduceat`` over the value start offsets) assembles the values;
    the groups occupy disjoint bits, so the sum is exact."""
    raw = np.frombuffer(buf, dtype=np.uint8)
    if raw.size == 0:
        return np.empty(0, dtype=np.uint64)
    if raw[-1] & 0x80:
        raise ValueError("truncated varbyte stream: last byte continues")
    is_last = raw < 0x80
    starts = np.flatnonzero(np.concatenate(([True], is_last[:-1])))
    widths = np.diff(np.append(starts, raw.size))
    byte_pos = np.arange(raw.size) - np.repeat(starts, widths)
    groups = (raw & np.uint8(0x7F)).astype(np.uint64) << (
        np.uint64(7) * byte_pos.astype(np.uint64)
    )
    out = np.add.reduceat(groups, starts)
    if count is not None:
        assert out.size == count, f"decoded {out.size}, expected {count}"
    return out


def bm25_impact(tfs: np.ndarray, doc_lens: np.ndarray, avgdl: float,
                k1: float = K1, b: float = B) -> np.ndarray:
    """idf-free BM25 partial per posting."""
    tfs = tfs.astype(np.float64)
    norm = k1 * (1 - b + b * doc_lens.astype(np.float64) / avgdl)
    return tfs * (k1 + 1) / (tfs + norm)


@dataclass
class EncodedPostings:
    df: int
    cf: int  # collection frequency (sum of tfs)
    doc_bytes: bytes
    tf_bytes: bytes
    dl_bytes: bytes
    # block arrays, one entry per block
    first_doc: np.ndarray
    last_doc: np.ndarray
    n: np.ndarray
    doc_off: np.ndarray
    tf_off: np.ndarray
    dl_off: np.ndarray
    max_impact: np.ndarray


def encode_postings(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    doc_lens: np.ndarray,
    avgdl: float,
    block: int = BLOCK,
) -> EncodedPostings:
    """Encode one term's postings (doc_ids must be sorted ascending, unique)."""
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    order_ok = doc_ids[1:] > doc_ids[:-1]
    assert order_ok.all() if doc_ids.size > 1 else True, "doc_ids must be strictly increasing"

    impacts = bm25_impact(tfs, np.asarray(doc_lens), avgdl)

    dls = np.asarray(doc_lens, dtype=np.int64)
    n = doc_ids.size
    n_blocks = (n + block - 1) // block
    first = np.empty(n_blocks, dtype=np.int64)
    last = np.empty(n_blocks, dtype=np.int64)
    cnt = np.empty(n_blocks, dtype=np.int32)
    doc_off = np.empty(n_blocks, dtype=np.int64)
    tf_off = np.empty(n_blocks, dtype=np.int64)
    dl_off = np.empty(n_blocks, dtype=np.int64)
    maxi = np.empty(n_blocks, dtype=np.float32)

    doc_chunks: list[bytes] = []
    tf_chunks: list[bytes] = []
    dl_chunks: list[bytes] = []
    dpos = tpos = lpos = 0
    # bias signed ids into uint64 space (monotone in signed order) so
    # negative xxhash64 doc ids delta-encode cleanly
    biased_all = doc_ids.astype(np.uint64) + np.uint64(1 << 63)
    for bi in range(n_blocks):
        s, e = bi * block, min((bi + 1) * block, n)
        ids = doc_ids[s:e]
        biased = biased_all[s:e]
        # deltas are local to the block so each block decodes independently
        deltas = np.empty(e - s, dtype=np.uint64)
        deltas[0] = biased[0]
        if e - s > 1:
            deltas[1:] = np.diff(biased)
        db = varbyte_encode(deltas)
        tb = varbyte_encode(tfs[s:e].astype(np.uint64))
        lb = varbyte_encode(dls[s:e].astype(np.uint64))
        first[bi], last[bi], cnt[bi] = ids[0], ids[-1], e - s
        doc_off[bi], tf_off[bi], dl_off[bi] = dpos, tpos, lpos
        maxi[bi] = impacts[s:e].max()
        doc_chunks.append(db)
        tf_chunks.append(tb)
        dl_chunks.append(lb)
        dpos += len(db)
        tpos += len(tb)
        lpos += len(lb)

    return EncodedPostings(
        df=n,
        cf=int(tfs.sum()),
        doc_bytes=b"".join(doc_chunks),
        tf_bytes=b"".join(tf_chunks),
        dl_bytes=b"".join(dl_chunks),
        first_doc=first,
        last_doc=last,
        n=cnt,
        doc_off=doc_off,
        tf_off=tf_off,
        dl_off=dl_off,
        max_impact=maxi,
    )


def decode_postings(enc: EncodedPostings) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode all blocks → (doc_ids, tfs, doc_lens)."""
    n_blocks = enc.first_doc.size
    parts = [decode_block(enc, bi) for bi in range(n_blocks)]
    if not parts:
        e = np.empty(0, dtype=np.int64)
        return e, e.copy(), e.copy()
    return (
        np.concatenate([p[0] for p in parts]),
        np.concatenate([p[1] for p in parts]),
        np.concatenate([p[2] for p in parts]),
    )


def decode_block(enc: EncodedPostings, bi: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode a single block → (doc_ids, tfs, doc_lens)."""
    n_blocks = enc.first_doc.size
    cnt = int(enc.n[bi])
    d_end = enc.doc_off[bi + 1] if bi + 1 < n_blocks else len(enc.doc_bytes)
    t_end = enc.tf_off[bi + 1] if bi + 1 < n_blocks else len(enc.tf_bytes)
    l_end = enc.dl_off[bi + 1] if bi + 1 < n_blocks else len(enc.dl_bytes)
    deltas = varbyte_decode(enc.doc_bytes[enc.doc_off[bi]:d_end], cnt)
    biased = np.cumsum(deltas, dtype=np.uint64)
    ids = (biased - np.uint64(1 << 63)).astype(np.int64)
    tfs = varbyte_decode(enc.tf_bytes[enc.tf_off[bi]:t_end], cnt).astype(np.int64)
    dls = varbyte_decode(enc.dl_bytes[enc.dl_off[bi]:l_end], cnt).astype(np.int64)
    return ids, tfs, dls


def decode_postings_fast(enc: EncodedPostings) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Whole-list decode without per-block Python: one varbyte pass per
    stream, then a segmented cumsum reconstructs doc ids (each block's first
    delta is its absolute biased value, so within block b starting at
    posting s:  biased[i] = C[i] - C[s-1]  where C is the global cumsum).
    Exact inverse of encode_postings (property-tested vs decode_postings)."""
    if enc.df == 0:
        e = np.empty(0, dtype=np.int64)
        return e, e.copy(), e.copy()
    deltas = varbyte_decode(enc.doc_bytes, enc.df)
    tfs = varbyte_decode(enc.tf_bytes, enc.df).astype(np.int64)
    dls = varbyte_decode(enc.dl_bytes, enc.df).astype(np.int64)
    csum = np.cumsum(deltas, dtype=np.uint64)
    starts = np.cumsum(enc.n.astype(np.int64))[:-1]  # posting index of each block start (except first)
    base = np.zeros(enc.df, dtype=np.uint64)
    if starts.size:
        # value of C just before each block start, broadcast across the block
        block_of = np.zeros(enc.df, dtype=np.int64)
        block_of[starts] = 1
        block_of = np.cumsum(block_of)
        prev_c = np.concatenate(([np.uint64(0)], csum[starts - 1]))
        base = prev_c[block_of]
    biased = csum - base
    ids = (biased - np.uint64(1 << 63)).astype(np.int64)
    return ids, tfs, dls


def concat_encoded(runs: list[EncodedPostings]) -> EncodedPostings:
    """Concatenate encoded runs over DISJOINT, ORDERED doc-id ranges without
    decoding: blocks are self-contained (block-local deltas), so only the
    byte offsets need rebasing. This preserves each run's block boundaries —
    the property the distributed query's range slicing depends on.

    Disjointness is VERIFIED, not assumed: overlapping or out-of-order runs
    would decode to a list with repeated or unordered doc_ids, so they are a
    hard error rather than a written segment."""
    for prev, r in zip(runs, runs[1:]):
        if r.first_doc[0] <= prev.last_doc[-1]:
            raise ValueError(
                f"encoded runs overlap: first_doc {int(r.first_doc[0])} <= "
                f"prior last_doc {int(prev.last_doc[-1])}"
            )
    doc_bytes = b"".join(r.doc_bytes for r in runs)
    tf_bytes = b"".join(r.tf_bytes for r in runs)
    dl_bytes = b"".join(r.dl_bytes for r in runs)
    first, last, n = [], [], []
    doc_off, tf_off, dl_off, maxi = [], [], [], []
    dbase = tbase = lbase = 0
    for r in runs:
        first.append(r.first_doc)
        last.append(r.last_doc)
        n.append(r.n)
        doc_off.append(r.doc_off + dbase)
        tf_off.append(r.tf_off + tbase)
        dl_off.append(r.dl_off + lbase)
        maxi.append(r.max_impact)
        dbase += len(r.doc_bytes)
        tbase += len(r.tf_bytes)
        lbase += len(r.dl_bytes)
    return EncodedPostings(
        df=sum(r.df for r in runs),
        cf=sum(r.cf for r in runs),
        doc_bytes=doc_bytes,
        tf_bytes=tf_bytes,
        dl_bytes=dl_bytes,
        first_doc=np.concatenate(first),
        last_doc=np.concatenate(last),
        n=np.concatenate(n),
        doc_off=np.concatenate(doc_off),
        tf_off=np.concatenate(tf_off),
        dl_off=np.concatenate(dl_off),
        max_impact=np.concatenate(maxi),
    )


def _row_to_encoded(row) -> EncodedPostings:
    """A segment/run row (dict or Row, SEGMENT_SCHEMA field names) as an
    EncodedPostings; ``_encoded_to_row`` is the inverse."""
    return EncodedPostings(
        df=int(row["df"]),
        cf=int(row["cf"]),
        doc_bytes=bytes(row["doc_bytes"]),
        tf_bytes=bytes(row["tf_bytes"]),
        dl_bytes=bytes(row["dl_bytes"]),
        first_doc=np.asarray(row["first_doc"], dtype=np.int64),
        last_doc=np.asarray(row["last_doc"], dtype=np.int64),
        n=np.asarray(row["n"], dtype=np.int32),
        doc_off=np.asarray(row["doc_off"], dtype=np.int64),
        tf_off=np.asarray(row["tf_off"], dtype=np.int64),
        dl_off=np.asarray(row["dl_off"], dtype=np.int64),
        max_impact=np.asarray(row["max_impact"], dtype=np.float32),
    )


def _encoded_to_row(enc: EncodedPostings) -> dict:
    """The EncodedPostings fields of a segment/run row, Arrow-ready."""
    return {
        "df": enc.df,
        "cf": enc.cf,
        "doc_bytes": enc.doc_bytes,
        "tf_bytes": enc.tf_bytes,
        "dl_bytes": enc.dl_bytes,
        "first_doc": enc.first_doc.tolist(),
        "last_doc": enc.last_doc.tolist(),
        "n": enc.n.tolist(),
        "doc_off": enc.doc_off.tolist(),
        "tf_off": enc.tf_off.tolist(),
        "dl_off": enc.dl_off.tolist(),
        "max_impact": enc.max_impact.tolist(),
    }
