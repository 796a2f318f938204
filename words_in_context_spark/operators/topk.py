"""Exact BM25 top-k over compressed postings (the query-time scoring kernel).

The kernel has two halves with one seam between them:

* ``score_postings`` decodes one term's list with one varbyte pass per
  stream and scores it: (doc_ids, idf × bm25_impact) — the score-ready part;
* ``topk_scored`` merges the doc-sorted parts with one stable argsort,
  accumulates each doc's contributions with ``np.add.at`` and takes the
  exact top-k.

``vectorized_topk`` is the two halves in a row. It runs inside
``applyInPandas`` per doc-id range at query time (index/query.py
``query_topk``); the driver-side ``query_topk_local`` keeps score-ready parts
cached per term and calls ``topk_scored`` directly. ``brute_force_topk`` is
the decode-everything dict reference both are tested against.

Determinism contract (matters for the oracle/driver comparisons):
  * results ordered by (score desc, doc_id asc), so ties at the k-th score
    keep the smallest doc ids;
  * a document's score is summed in canonical term order (list order =
    sorted terms), so both scorers produce bit-identical doubles.
"""

from __future__ import annotations

import numpy as np

from .codec import EncodedPostings, bm25_impact, decode_postings, decode_postings_fast


def _is_excluded(excluded: np.ndarray | None, doc: int) -> bool:
    if excluded is None or excluded.size == 0:
        return False
    i = int(np.searchsorted(excluded, doc))
    return i < excluded.size and int(excluded[i]) == doc


def brute_force_topk(
    lists: list[tuple[EncodedPostings, float]],
    k: int,
    avgdl: float,
    k1: float = 1.2,
    b: float = 0.75,
    excluded: np.ndarray | None = None,
) -> list[tuple[int, float]]:
    """Reference scorer: decode everything, accumulate per doc in canonical
    term order. Bit-identical to vectorized_topk (tested)."""
    scores: dict[int, float] = {}
    for enc, idf in lists:
        ids, tfs, dls = decode_postings(enc)
        imp = idf * bm25_impact(tfs, dls, avgdl, k1, b)
        for d, s in zip(ids.tolist(), imp.tolist()):
            scores[d] = scores.get(d, 0.0) + s
    rows = sorted(
        ((d, s) for d, s in scores.items() if not _is_excluded(excluded, d)),
        key=lambda t: (-t[1], t[0]),
    )
    return rows[:k]


def score_postings(
    enc: EncodedPostings,
    idf: float,
    avgdl: float,
    k1: float = 1.2,
    b: float = 0.75,
) -> tuple[np.ndarray, np.ndarray]:
    """One term's score-ready part: (doc_ids int64, idf × bm25_impact float64),
    in doc-id order."""
    ids, tfs, dls = decode_postings_fast(enc)
    return ids, idf * bm25_impact(tfs, dls, avgdl, k1, b)


def topk_scored(
    parts: list[tuple[np.ndarray, np.ndarray]],
    k: int,
    excluded: np.ndarray | None = None,
) -> list[tuple[int, float]]:
    """Top-k (doc_id, score) of the per-term score-ready ``parts``
    (canonical term order = list order), sorted by (score desc, doc_id asc).
    The parts are doc-sorted, so a stable argsort merges their runs instead
    of re-sorting (correctness needs no sortedness, only speed); stability
    keeps a doc's contributions in term order, which ``np.add.at`` sums in
    turn, so every score bit matches brute_force_topk (``np.add.reduceat``'s
    pairwise reduce would not).

    ``excluded``: sorted int64 doc_ids that must not appear in results — the
    deleted-docs bitmap analog (index tombstones, index/build.py). The
    result equals retrieval over an index with those docs physically
    purged."""
    if not parts or k <= 0:
        return []
    ids = np.concatenate([d for d, _ in parts])
    order = np.argsort(ids, kind="stable")
    ids = ids[order]
    start = np.concatenate(([True], np.not_equal(ids[1:], ids[:-1])))
    uniq = ids[start]
    acc = np.zeros(uniq.size, dtype=np.float64)
    scores = np.concatenate([s for _, s in parts])
    np.add.at(acc, np.cumsum(start) - 1, scores[order])
    if excluded is not None and excluded.size:
        keep = ~np.isin(uniq, excluded)
        uniq, acc = uniq[keep], acc[keep]
    if uniq.size > k:  # the docs at or above the k-th score, ties included
        cand = np.flatnonzero(-acc <= np.partition(-acc, k - 1)[k - 1])
        uniq, acc = uniq[cand], acc[cand]
    top = np.lexsort((uniq, -acc))[:k]
    return list(zip(uniq[top].tolist(), acc[top].tolist()))


def vectorized_topk(
    lists: list[tuple[EncodedPostings, float]],
    k: int,
    avgdl: float,
    k1: float = 1.2,
    b: float = 0.75,
    excluded: np.ndarray | None = None,
) -> list[tuple[int, float]]:
    """Top-k (doc_id, score) for the disjunctive BM25 query whose term
    posting lists and idfs are ``lists`` (canonical term order = list
    order): ``score_postings`` per list, then ``topk_scored``."""
    return topk_scored(
        [score_postings(enc, idf, avgdl, k1, b) for enc, idf in lists],
        k,
        excluded=excluded,
    )
