"""Block-max WAND top-k over compressed postings (north_star query operator).

Document-at-a-time retrieval with two pruning levels:
  * WAND pivoting on per-term global upper bounds (idf × max impact);
  * block-max refinement: per-block upper bounds let whole blocks be skipped
    without decoding (Ding & Suel's BMW, over the codec's block metadata).

Determinism contract (matters for the oracle/driver comparisons):
  * results ordered by (score desc, doc_id asc); ties at the threshold are
    admitted (pruning uses strict <, never <=) so tie-break by doc_id is
    exact, not heap-order-dependent;
  * a document's score is summed in canonical term order (sorted terms), so
    WAND and brute-force produce bit-identical doubles.

The kernel is per-partition Python over numpy blocks — it runs inside
``applyInPandas`` per doc-id range at query time (index/query.py), or on the
driver for single-query low-latency paths. Skipping means most blocks are
never varbyte-decoded.
"""

from __future__ import annotations

import heapq

import numpy as np

from .codec import EncodedPostings, bm25_impact, decode_block

INF = (1 << 63) - 1


class PostingCursor:
    """Sequential cursor over one term's encoded postings with block seek."""

    __slots__ = ("enc", "idf", "ub_idf", "term_idx", "bi", "pos", "ids",
                 "tfs", "dls", "n_blocks", "avgdl", "k1", "b", "global_ub",
                 "blocks_decoded")

    def __init__(self, enc: EncodedPostings, idf: float, term_idx: int,
                 avgdl: float, k1: float, b: float):
        self.enc = enc
        self.idf = float(idf)
        # idf for upper bounds, clamped at 0: after delete_docs, df still
        # counts tombstoned postings, so idf(n_live_docs, df) can go
        # negative, and a negative bound would let pruning skip documents
        # that beat the threshold. Impacts are >= 0, so 0 still bounds
        # every contribution from above; scores use the real idf.
        self.ub_idf = max(self.idf, 0.0)
        self.term_idx = term_idx
        self.avgdl = avgdl
        self.k1 = k1
        self.b = b
        self.n_blocks = enc.first_doc.size
        self.bi = -1
        self.ids = self.tfs = self.dls = None
        self.pos = 0
        self.global_ub = (
            self.ub_idf * float(enc.max_impact.max()) if self.n_blocks else 0.0
        )
        self.blocks_decoded = 0
        self._load_block(0)

    def _load_block(self, bi: int) -> None:
        if bi >= self.n_blocks:
            self.bi = self.n_blocks
            self.ids = None
            return
        self.bi = bi
        self.ids, self.tfs, self.dls = decode_block(self.enc, bi)
        self.blocks_decoded += 1
        self.pos = 0

    @property
    def exhausted(self) -> bool:
        return self.ids is None

    def cur_doc(self) -> int:
        return INF if self.ids is None else int(self.ids[self.pos])

    def advance(self) -> None:
        """Move to the next posting."""
        if self.ids is None:
            return
        self.pos += 1
        if self.pos >= self.ids.size:
            self._load_block(self.bi + 1)

    def seek(self, target: int) -> None:
        """Move to the first posting with doc_id >= target (block skipping:
        blocks whose last_doc < target are never decoded)."""
        if self.ids is None:
            return
        if self.ids[-1] < target:
            # find next block via metadata (galloping over last_doc array)
            nbi = int(np.searchsorted(self.enc.last_doc, target, side="left"))
            if nbi >= self.n_blocks:
                self._load_block(self.n_blocks)
                return
            if nbi != self.bi:
                self._load_block(nbi)
        self.pos = int(np.searchsorted(self.ids, target, side="left"))
        if self.pos >= self.ids.size:
            self._load_block(self.bi + 1)

    def block_ub_at(self, target: int) -> float:
        """Upper bound of this term's contribution to any doc >= target in
        the block that would contain target (no decode)."""
        nbi = int(np.searchsorted(self.enc.last_doc, target, side="left"))
        if nbi >= self.n_blocks:
            return 0.0
        return self.ub_idf * float(self.enc.max_impact[nbi])

    def block_last_at(self, target: int) -> int:
        nbi = int(np.searchsorted(self.enc.last_doc, target, side="left"))
        if nbi >= self.n_blocks:
            return INF
        return int(self.enc.last_doc[nbi])

    def score_current(self) -> float:
        # operation order mirrors codec.bm25_impact exactly so WAND and the
        # vectorized brute-force scorer produce bit-identical doubles
        tf = float(self.tfs[self.pos])
        dl = float(self.dls[self.pos])
        norm = self.k1 * (1 - self.b + self.b * dl / self.avgdl)
        impact = tf * (self.k1 + 1) / (tf + norm)
        return self.idf * impact


def _is_excluded(excluded: np.ndarray | None, doc: int) -> bool:
    if excluded is None or excluded.size == 0:
        return False
    i = int(np.searchsorted(excluded, doc))
    return i < excluded.size and int(excluded[i]) == doc


def wand_topk(
    lists: list[tuple[EncodedPostings, float]],
    k: int,
    avgdl: float,
    k1: float = 1.2,
    b: float = 0.75,
    stats: dict | None = None,
    excluded: np.ndarray | None = None,
) -> list[tuple[int, float]]:
    """Top-k (doc_id, score) for the disjunctive BM25 query whose term
    posting lists and idfs are ``lists`` (canonical term order = list order).
    Returns rows sorted by (score desc, doc_id asc). Pass ``stats={}`` to
    receive skipping telemetry (blocks decoded vs total).

    ``excluded``: sorted int64 doc_ids that must not appear in results — the
    deleted-docs bitmap analog (index tombstones, index/build.py). Excluded
    docs are dropped at scoring time: block upper bounds stay valid (they
    only over-estimate), so skipping is unaffected and the result equals
    retrieval over an index with those docs physically purged."""
    cursors = [
        PostingCursor(enc, idf, i, avgdl, k1, b)
        for i, (enc, idf) in enumerate(lists)
        if enc.df > 0
    ]
    heap: list[tuple[float, int]] = []  # (score, -doc_id): lexicographic admit

    def theta() -> float:
        return heap[0][0] if len(heap) >= k else float("-inf")

    while True:
        live = [c for c in cursors if not c.exhausted]
        if not live:
            break
        live.sort(key=lambda c: c.cur_doc())

        # WAND pivot: smallest prefix whose global UBs can beat theta
        th = theta()
        acc = 0.0
        pivot = -1
        for i, c in enumerate(live):
            acc += c.global_ub
            if acc >= th:  # >= not >: admit ties so doc_id tie-break is exact
                pivot = i
                break
        if pivot < 0:
            break
        pivot_doc = live[pivot].cur_doc()
        # extend the pivot across cursors tied at pivot_doc — their
        # contributions belong to both the bound and the full evaluation
        while pivot + 1 < len(live) and live[pivot + 1].cur_doc() == pivot_doc:
            pivot += 1

        # block-max refinement at pivot_doc
        ub = sum(c.block_ub_at(pivot_doc) for c in live[: pivot + 1])
        if len(heap) >= k and ub < th:
            # whole doc range up to the nearest block end can't compete
            boundary = min(c.block_last_at(pivot_doc) for c in live[: pivot + 1])
            nxt = live[pivot + 1].cur_doc() if pivot + 1 < len(live) else INF
            candidate = min(boundary + 1, nxt)
            if candidate <= pivot_doc:
                candidate = pivot_doc + 1
            for c in live[: pivot + 1]:
                if c.cur_doc() < candidate:
                    c.seek(candidate)
            continue

        if live[0].cur_doc() == pivot_doc:
            if _is_excluded(excluded, pivot_doc):
                for c in live:
                    if c.cur_doc() == pivot_doc:
                        c.advance()
                continue
            # all cursors before pivot are aligned → score fully
            contribs = []
            for c in live:
                if c.cur_doc() != pivot_doc:
                    break
                contribs.append((c.term_idx, c.score_current()))
                # don't advance yet — need stable iteration
            score = 0.0
            for _, s in sorted(contribs):  # canonical term order
                score += s
            key = (score, -pivot_doc)
            if len(heap) < k:
                heapq.heappush(heap, key)
            elif key > heap[0]:
                heapq.heapreplace(heap, key)
            for c in live:
                if c.cur_doc() == pivot_doc:
                    c.advance()
        else:
            # advance the highest-ub unaligned cursor to the pivot
            mover = max(
                (c for c in live[:pivot] if c.cur_doc() < pivot_doc),
                key=lambda c: c.global_ub,
                default=None,
            )
            (mover or live[0]).seek(pivot_doc)

    out = [(int(-neg), s) for (s, neg) in heap]
    out.sort(key=lambda t: (-t[1], t[0]))
    if stats is not None:
        stats["blocks_decoded"] = sum(c.blocks_decoded for c in cursors)
        stats["blocks_total"] = sum(c.n_blocks for c in cursors)
    return out


def brute_force_topk(
    lists: list[tuple[EncodedPostings, float]],
    k: int,
    avgdl: float,
    k1: float = 1.2,
    b: float = 0.75,
    excluded: np.ndarray | None = None,
) -> list[tuple[int, float]]:
    """Reference scorer: decode everything, accumulate per doc in canonical
    term order. Bit-identical to wand_topk (tested)."""
    from .codec import decode_postings

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
    """Exact top-k via full vectorized evaluation: decode every list, group
    contributions by doc with np.unique, accumulate with np.add.at (array
    order == canonical term order, so float summation order — and therefore
    every score bit — matches wand_topk/brute_force_topk exactly).

    Faster than the pointer-chasing WAND loop when candidate volume is small
    (short lists / interactive queries); WAND wins when skipping can avoid
    decoding most blocks. ``hybrid_topk`` picks per query."""
    from .codec import decode_postings_fast

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
    out = [(int(uniq[i]), float(acc[i])) for i in order[:k]]
    return out


# below this many total postings, full vectorized evaluation beats block-max
# skipping (measured: at 894k dense postings vectorized+fast-decode = 340ms
# vs WAND 7s; WAND wins only when selective terms let it skip, or when list
# volume threatens memory — the distributed path already splits volume by
# doc-id range before the kernel). Both paths exact and bit-identical.
HYBRID_WAND_THRESHOLD = 8_000_000


def hybrid_topk(
    lists: list[tuple[EncodedPostings, float]],
    k: int,
    avgdl: float,
    k1: float = 1.2,
    b: float = 0.75,
    excluded: np.ndarray | None = None,
) -> list[tuple[int, float]]:
    """Route by shape: WAND when skipping can pay (a selective list's upper
    bound dominates the dense lists', so the threshold rises fast and dense
    blocks get skipped — measured 5% block decode at 500k postings), or when
    volume is too large to fully materialize; vectorized otherwise."""
    if not lists:
        return []
    total = sum(enc.df for enc, _ in lists)
    if total > HYBRID_WAND_THRESHOLD:
        return wand_topk(lists, k, avgdl, k1, b, excluded=excluded)
    if len(lists) > 1:
        dfs = sorted(enc.df for enc, _ in lists)
        ubs = [  # idf clamped at 0 as in PostingCursor.ub_idf
            max(idf, 0.0) * float(enc.max_impact.max())
            if enc.first_doc.size else 0.0
            for enc, idf in lists
        ]
        selective_ub = max(
            (u for (enc, _), u in zip(lists, ubs) if enc.df <= dfs[0]),
            default=0.0,
        )
        rest_ub = sum(ubs) - selective_ub
        # strong df skew + the rare list alone outweighs everything else:
        # dense-only docs can never beat rare-list docs → WAND skips them
        if dfs[0] * 50 <= dfs[-1] and selective_ub > rest_ub:
            return wand_topk(lists, k, avgdl, k1, b, excluded=excluded)
    return vectorized_topk(lists, k, avgdl, k1, b, excluded=excluded)
