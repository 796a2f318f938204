"""Property test: block-max WAND top-k == brute-force top-k, bit-identical."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from words_in_context_spark.operators.codec import encode_postings
from words_in_context_spark.operators.topk import brute_force_topk, wand_topk


def _make_lists(rng, n_terms, n_docs, density, block=32):
    doc_ids = np.unique(
        rng.integers(-(2**40), 2**40, size=n_docs * 2, dtype=np.int64)
    )[:n_docs]
    n_docs = doc_ids.size
    doc_lens = rng.integers(5, 500, size=n_docs)
    avgdl = float(doc_lens.mean())
    lists = []
    n_total = n_docs
    for _ in range(n_terms):
        mask = rng.random(n_docs) < density
        if not mask.any():
            mask[rng.integers(0, n_docs)] = True
        ids = doc_ids[mask]
        tfs = rng.integers(1, 12, size=ids.size)
        dls = doc_lens[mask]
        enc = encode_postings(ids, tfs, dls, avgdl, block=block)
        df = ids.size
        idf = float(np.log(1.0 + (n_total - df + 0.5) / (df + 0.5)))
        lists.append((enc, idf))
    return lists, avgdl


@pytest.mark.parametrize("seed", range(8))
@pytest.mark.parametrize("k", [1, 5, 50])
def test_wand_equals_brute(seed, k):
    rng = np.random.default_rng(seed)
    n_terms = int(rng.integers(1, 6))
    n_docs = int(rng.integers(20, 2000))
    density = float(rng.uniform(0.05, 0.9))
    lists, avgdl = _make_lists(rng, n_terms, n_docs, density)
    got = wand_topk(lists, k, avgdl)
    exp = brute_force_topk(lists, k, avgdl)
    assert got == exp, f"k={k} n_docs={n_docs} terms={n_terms}"


def test_wand_with_ties():
    # identical tf/dl everywhere → massive score ties → doc_id tie-break
    ids = np.arange(100, dtype=np.int64) * 7
    tfs = np.full(100, 3, dtype=np.int64)
    dls = np.full(100, 50, dtype=np.int64)
    enc = encode_postings(ids, tfs, dls, avgdl=50.0, block=16)
    lists = [(enc, 1.5)]
    got = wand_topk(lists, 10, 50.0)
    exp = brute_force_topk(lists, 10, 50.0)
    assert got == exp
    assert [d for d, _ in got] == list(range(0, 70, 7))  # smallest ids win


def test_wand_skips_blocks():
    """The pruning must actually skip decode work on a skewed corpus."""
    rng = np.random.default_rng(1)
    n = 200_000
    ids = np.arange(n, dtype=np.int64)
    # one giant common-term list with uniformly low tf, one rare high-idf list
    common = encode_postings(
        ids, np.ones(n, dtype=np.int64), np.full(n, 100), 100.0
    )
    rare_ids = ids[rng.choice(n, size=50, replace=False)]
    rare_ids.sort()
    rare = encode_postings(
        rare_ids, np.full(50, 20), np.full(50, 100), 100.0
    )
    lists = [(common, 0.1), (rare, 8.0)]
    got = wand_topk(lists, 10, 100.0)
    exp = brute_force_topk(lists, 10, 100.0)
    assert got == exp


def test_empty_and_single():
    enc = encode_postings(
        np.array([5], dtype=np.int64),
        np.array([2], dtype=np.int64),
        np.array([10], dtype=np.int64),
        10.0,
    )
    assert wand_topk([(enc, 1.0)], 5, 10.0) == brute_force_topk([(enc, 1.0)], 5, 10.0)
    assert wand_topk([], 5, 10.0) == []


@pytest.mark.parametrize("seed", range(6))
def test_vectorized_equals_wand(seed):
    import numpy as np

    from words_in_context_spark.operators.topk import hybrid_topk, vectorized_topk

    rng = np.random.default_rng(seed + 100)
    n_terms = int(rng.integers(1, 6))
    n_docs = int(rng.integers(20, 3000))
    lists, avgdl = _make_lists(rng, n_terms, n_docs, float(rng.uniform(0.05, 0.9)))
    for k in (1, 7, 100):
        w = wand_topk(lists, k, avgdl)
        v = vectorized_topk(lists, k, avgdl)
        h = hybrid_topk(lists, k, avgdl)
        assert v == w  # bit-identical scores, identical tie-breaks
        assert h == w


def test_vectorized_tie_boundary():
    import numpy as np

    from words_in_context_spark.operators.topk import vectorized_topk

    # many docs with IDENTICAL scores straddling the k boundary
    ids = np.arange(50, dtype=np.int64) * 3 + 1
    tfs = np.full(50, 2, dtype=np.int64)
    dls = np.full(50, 80, dtype=np.int64)
    enc = encode_postings(ids, tfs, dls, avgdl=80.0)
    got = vectorized_topk([(enc, 2.0)], 10, 80.0)
    exp = brute_force_topk([(enc, 2.0)], 10, 80.0)
    assert got == exp
    assert [d for d, _ in got] == [int(i) for i in ids[:10]]


def test_wand_actually_skips_blocks_on_selective_queries():
    """The point of block-max WAND: a selective high-idf term caps the
    threshold so most of the dense stopword list's blocks are never decoded."""
    import numpy as np

    rng = np.random.default_rng(42)
    n = 500_000
    ids = np.arange(n, dtype=np.int64) * 11
    dls = rng.integers(50, 200, size=n)
    avgdl = float(dls.mean())
    # dense stopword list: tf=1 everywhere → low, flat impact
    common = encode_postings(ids, np.ones(n, dtype=np.int64), dls, avgdl)
    # rare selective term: 200 docs, high tf
    sel = np.sort(rng.choice(n, size=200, replace=False))
    rare = encode_postings(
        ids[sel], np.full(200, 25, dtype=np.int64), dls[sel], avgdl
    )
    lists = [(common, 0.05), (rare, 9.0)]
    stats = {}
    got = wand_topk(lists, 10, avgdl, stats=stats)
    exp = brute_force_topk(lists, 10, avgdl)
    assert got == exp
    frac = stats["blocks_decoded"] / stats["blocks_total"]
    assert frac < 0.15, f"WAND decoded {frac:.1%} of blocks - no skipping?"


@settings(max_examples=200, deadline=None, derandomize=True, database=None)
@given(
    seed=st.integers(0, 2**32 - 1),
    neg_term=st.integers(0, 2),
    neg_idf=st.floats(-0.3, 0.0, exclude_max=True),
    k=st.integers(1, 19),
)
def test_pruning_exact_with_negative_idf(seed, neg_term, neg_idf, k):
    """After delete_docs a term's df still counts tombstoned postings, so
    idf(n_live_docs, df) can go negative. Pruning must stay exact: a
    negative per-term bound would make WAND stop early or skip blocks that
    hold better documents."""
    from words_in_context_spark.operators.topk import hybrid_topk

    rng = np.random.default_rng(seed)
    n_docs = int(rng.integers(20, 400))
    lists, avgdl = _make_lists(
        rng, 3, n_docs, float(rng.uniform(0.05, 0.9)), block=8
    )
    lists[neg_term] = (lists[neg_term][0], neg_idf)
    exp = brute_force_topk(lists, k, avgdl)
    assert wand_topk(lists, k, avgdl) == exp
    assert hybrid_topk(lists, k, avgdl) == exp
