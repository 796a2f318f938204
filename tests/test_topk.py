"""Property test: the vectorized top-k kernel == brute-force top-k, bit-identical."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from words_in_context_spark.operators.codec import decode_postings, encode_postings
from words_in_context_spark.operators.topk import brute_force_topk, vectorized_topk

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
