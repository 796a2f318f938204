"""Property test: the vectorized top-k kernel == brute-force top-k, bit-identical."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from words_in_context_spark.operators.codec import decode_postings, encode_postings
from words_in_context_spark.operators.topk import (
    brute_force_topk,
    topk_scored,
    vectorized_topk,
)

INT64_EDGES = np.array([-(2**63), 2**63 - 1], dtype=np.int64)


def _make_lists(rng, n_terms, n_docs, density, block=32):
    doc_ids = np.unique(
        rng.integers(-(2**40), 2**40, size=n_docs * 2, dtype=np.int64)
    )[:n_docs]
    # the int64 extremes: the codec biases ids by 2**63, so these encode as
    # 0 and 2**64 - 1; every term list carries them
    doc_ids = np.unique(np.concatenate([INT64_EDGES, doc_ids]))
    n_docs = doc_ids.size
    doc_lens = rng.integers(5, 500, size=n_docs)
    avgdl = float(doc_lens.mean())
    lists = []
    n_total = n_docs
    for _ in range(n_terms):
        mask = rng.random(n_docs) < density
        mask[[0, -1]] = True
        ids = doc_ids[mask]
        tfs = rng.integers(1, 12, size=ids.size)
        dls = doc_lens[mask]
        enc = encode_postings(ids, tfs, dls, avgdl, block=block)
        df = ids.size
        idf = float(np.log(1.0 + (n_total - df + 0.5) / (df + 0.5)))
        lists.append((enc, idf))
    return lists, avgdl


def _tombstones(rng, lists, k, avgdl):
    """A random excluded set (~10% of the scored docs) that always holds the
    docs ranked k-th and (k+1)-th, so exclusion shifts the top-k boundary."""
    scored = np.unique(np.concatenate([decode_postings(e)[0] for e, _ in lists]))
    assert np.isin(INT64_EDGES, scored).all()
    boundary = [d for d, _ in brute_force_topk(lists, k + 1, avgdl)[k - 1:]]
    picked = scored[rng.random(scored.size) < 0.1]
    return np.unique(np.concatenate([picked, np.array(boundary, dtype=np.int64)]))


@pytest.mark.parametrize("seed", range(8))
@pytest.mark.parametrize("k", [1, 5, 7, 50, 100])
def test_wand_equals_brute(seed, k):
    """The one kernel against the reference: random lists whose doc ids
    include the int64 extremes, scored as-is and under a tombstone set that
    straddles the k-th score. The name is historical: the test ids stay
    stable across kernel changes."""
    rng = np.random.default_rng(seed)
    n_terms = int(rng.integers(1, 6))
    n_docs = int(rng.integers(20, 3000))
    density = float(rng.uniform(0.05, 0.9))
    lists, avgdl = _make_lists(rng, n_terms, n_docs, density)
    ctx = f"k={k} n_docs={n_docs} terms={n_terms}"
    assert vectorized_topk(lists, k, avgdl) == brute_force_topk(lists, k, avgdl), ctx
    excluded = _tombstones(rng, lists, k, avgdl)
    got = vectorized_topk(lists, k, avgdl, excluded=excluded)
    assert got == brute_force_topk(lists, k, avgdl, excluded=excluded), ctx
    assert not np.isin([d for d, _ in got], excluded).any()


def test_ties_keep_smallest_doc_ids():
    # identical tf/dl everywhere → massive score ties → doc_id tie-break
    ids = np.arange(100, dtype=np.int64) * 7
    tfs = np.full(100, 3, dtype=np.int64)
    dls = np.full(100, 50, dtype=np.int64)
    enc = encode_postings(ids, tfs, dls, avgdl=50.0, block=16)
    lists = [(enc, 1.5)]
    got = vectorized_topk(lists, 10, 50.0)
    exp = brute_force_topk(lists, 10, 50.0)
    assert got == exp
    assert [d for d, _ in got] == list(range(0, 70, 7))  # smallest ids win


def test_exact_on_skewed_200k_postings():
    """The long-tail query shape at 200k postings: one giant low-impact list
    plus a rare high-idf list."""
    rng = np.random.default_rng(1)
    n = 200_000
    ids = np.arange(n, dtype=np.int64)
    common = encode_postings(
        ids, np.ones(n, dtype=np.int64), np.full(n, 100), 100.0
    )
    rare_ids = ids[rng.choice(n, size=50, replace=False)]
    rare_ids.sort()
    rare = encode_postings(
        rare_ids, np.full(50, 20), np.full(50, 100), 100.0
    )
    lists = [(common, 0.1), (rare, 8.0)]
    got = vectorized_topk(lists, 10, 100.0)
    exp = brute_force_topk(lists, 10, 100.0)
    assert got == exp


def test_empty_and_single():
    enc = encode_postings(
        np.array([5], dtype=np.int64),
        np.array([2], dtype=np.int64),
        np.array([10], dtype=np.int64),
        10.0,
    )
    lists = [(enc, 1.0)]
    assert vectorized_topk(lists, 5, 10.0) == brute_force_topk(lists, 5, 10.0)
    assert vectorized_topk([], 5, 10.0) == []
    assert vectorized_topk(lists, 0, 10.0) == []


def test_vectorized_tie_boundary():
    # many docs with IDENTICAL scores straddling the k boundary
    ids = np.arange(50, dtype=np.int64) * 3 + 1
    tfs = np.full(50, 2, dtype=np.int64)
    dls = np.full(50, 80, dtype=np.int64)
    enc = encode_postings(ids, tfs, dls, avgdl=80.0)
    got = vectorized_topk([(enc, 2.0)], 10, 80.0)
    exp = brute_force_topk([(enc, 2.0)], 10, 80.0)
    assert got == exp
    assert [d for d, _ in got] == [int(i) for i in ids[:10]]


@settings(max_examples=200, deadline=None, derandomize=True, database=None)
@given(
    seed=st.integers(0, 2**32 - 1),
    neg_term=st.integers(0, 2),
    neg_idf=st.floats(-0.3, 0.0, exclude_max=True),
    k=st.integers(1, 19),
)
def test_pruning_exact_with_negative_idf(seed, neg_term, neg_idf, k):
    """After delete_docs a term's df still counts tombstoned postings, so
    idf(n_live_docs, df) can go negative; a negative contribution must rank
    exactly as in the reference scorer."""
    rng = np.random.default_rng(seed)
    n_docs = int(rng.integers(20, 400))
    lists, avgdl = _make_lists(
        rng, 3, n_docs, float(rng.uniform(0.05, 0.9)), block=8
    )
    lists[neg_term] = (lists[neg_term][0], neg_idf)
    assert vectorized_topk(lists, k, avgdl) == brute_force_topk(lists, k, avgdl)


def _sequential_topk(parts, k, excluded=()):
    """Plain reference over score-ready parts: each doc's contributions
    summed one by one in part (= canonical term) order, then sorted by
    (score desc, doc_id asc)."""
    acc = {}
    for ids, scores in parts:
        for d, s in zip(ids.tolist(), scores.tolist()):
            acc[d] = acc.get(d, 0.0) + s
    excluded = set(excluded)
    rows = [(d, s) for d, s in acc.items() if d not in excluded]
    return sorted(rows, key=lambda t: (-t[1], t[0]))[:k]


def _cancelling_parts(seed, n_parts=12, n_docs=300):
    """``n_parts`` doc-sorted parts sharing most docs, with contributions of
    magnitude 1e16 and 1: 1e16 + 1 rounds the 1 away, so any summation order
    other than the sequential one changes score bits."""
    rng = np.random.default_rng(seed)
    docs = np.sort(rng.choice(2**40, size=n_docs, replace=False)).astype(np.int64)
    parts = []
    for _ in range(n_parts):
        ids = docs[rng.random(n_docs) < 0.85]
        mags = rng.choice([1e16, -1e16, 1.0, 3.0, -2.5, 0.125], size=ids.size)
        parts.append((ids, mags * rng.uniform(1.0, 1.5, size=ids.size)))
    return parts


@pytest.mark.parametrize("seed", range(3))
def test_topk_scored_sums_in_term_order(seed):
    parts = _cancelling_parts(seed)
    n = len({d for ids, _ in parts for d in ids.tolist()})
    exp = _sequential_topk(parts, n)
    # the data is order-sensitive: summing in reverse term order moves bits
    assert exp != _sequential_topk(parts[::-1], n)
    for k in (1, 10, n, n + 1):
        assert topk_scored(parts, k) == exp[:k], k


@pytest.mark.parametrize("seed", range(3))
def test_topk_scored_unsorted_parts(seed):
    """Sortedness of a part only buys speed: shuffled parts give the same
    bits."""
    rng = np.random.default_rng(seed)
    parts = []
    for ids, scores in _cancelling_parts(seed):
        perm = rng.permutation(ids.size)
        parts.append((ids[perm], scores[perm]))
    n = len({d for ids, _ in parts for d in ids.tolist()})
    assert topk_scored(parts, n) == _sequential_topk(parts, n)


@pytest.mark.parametrize("k", [0, 1, 19, 20, 21])
def test_topk_scored_all_equal_scores(k):
    """20 docs tied at one score (two parts of 0.75 each): every k keeps the
    smallest doc ids."""
    ids = np.arange(20, dtype=np.int64)[::-1] * 5 - 40
    parts = [(np.sort(ids), np.full(20, 0.75)), (ids, np.full(20, 0.75))]
    got = topk_scored(parts, k)
    assert got == _sequential_topk(parts, k)
    assert got == [(d, 1.5) for d in sorted(ids.tolist())[:k]]


@pytest.mark.parametrize("k", [1, 7, 40])
def test_topk_scored_excluded_kth_doc(k):
    """An excluded set holding the k-th ranked doc (and a few others) pulls
    the next doc into the top-k."""
    parts = _cancelling_parts(4, n_parts=9)
    ranked = [d for d, _ in _sequential_topk(parts, k + 5)]
    excluded = np.array(sorted({ranked[k - 1], ranked[0], ranked[k + 3]}), dtype=np.int64)
    got = topk_scored(parts, k, excluded=excluded)
    assert got == _sequential_topk(parts, k, excluded.tolist())
    assert not np.isin([d for d, _ in got], excluded).any()
