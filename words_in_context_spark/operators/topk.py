"""Exact BM25 top-k over compressed postings (the query-time scoring kernel).

``vectorized_topk`` is the one kernel: it decodes every query term's list
with one varbyte pass per stream, groups contributions by doc with
``np.unique`` and accumulates them with ``np.add.at``. It runs inside
``applyInPandas`` per doc-id range at query time (index/query.py), or on the
driver for single-query low-latency paths. ``brute_force_topk`` is the
decode-everything dict reference it is tested against.

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
    order), sorted by (score desc, doc_id asc). Array order == canonical
    term order, so float summation order — and therefore every score bit —
    matches brute_force_topk exactly.

    ``excluded``: sorted int64 doc_ids that must not appear in results — the
    deleted-docs bitmap analog (index tombstones, index/build.py). The
    result equals retrieval over an index with those docs physically
    purged."""
    if not lists:
        return []
    ids_parts, score_parts = [], []
    for enc, idf in lists:
        ids, tfs, dls = decode_postings_fast(enc)
        ids_parts.append(ids)
        score_parts.append(idf * bm25_impact(tfs, dls, avgdl, k1, b))
    all_ids = np.concatenate(ids_parts)
    all_scores = np.concatenate(score_parts)
    uniq, inverse = np.unique(all_ids, return_inverse=True)
    acc = np.zeros(uniq.size, dtype=np.float64)
    np.add.at(acc, inverse, all_scores)
    if excluded is not None and excluded.size:
        keep = ~np.isin(uniq, excluded)
        uniq, acc = uniq[keep], acc[keep]
    if uniq.size <= k:
        order = np.lexsort((uniq, -acc))
    else:
        part = np.argpartition(-acc, k - 1)[: k * 2]  # headroom for ties
        # among the partition, order fully; ties at the k-th score need the
        # smallest doc_ids, which argpartition alone doesn't guarantee —
        # fall back to full sort when the boundary is tied
        kth = np.partition(-acc, k - 1)[k - 1]
        boundary_ties = np.count_nonzero(-acc == kth) > 1
        if boundary_ties:
            order = np.lexsort((uniq, -acc))
        else:
            order = part[np.lexsort((uniq[part], -acc[part]))]
    return [(int(uniq[i]), float(acc[i])) for i in order[:k]]
