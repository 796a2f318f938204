"""Adversarial inputs through the full pipeline: the build and query paths
must neither crash nor corrupt stats on degenerate documents."""

import pytest
from pyspark.sql import functions as F

from words_in_context_spark.index.build import build_index
from words_in_context_spark.index.query import (
    brute_force_query_local,
    load_index,
    query_topk,
    query_topk_local,
)


@pytest.fixture(scope="module")
def weird_docs(spark):
    rows = [
        ("u://empty", "", "en"),
        ("u://null", None, "en"),
        ("u://punct", "!!! ??? ... 123 456 --- :::", "en"),
        ("u://oneword", "zyzzyva", "en"),
        ("u://unicode", "héllo wörld Привет мир [skrzypi] ßß", "de"),
        ("u://giant", " ".join(f"word{i % 97}" for i in range(50_000)), "en"),
        ("u://brackets", "[open forever and ever", "en"),
        ("u://spaces", "   \t  \n\n   ", "en"),
        ("u://normal", "the quick brown fox jumps over the lazy dog", "en"),
        ("u://dupe-text", "the quick brown fox jumps over the lazy dog", "en"),
    ]
    return spark.createDataFrame(rows, "url string, text string, lang string")


def test_build_and_query_survive_weird_docs(spark, weird_docs, tmp_path):
    idx = str(tmp_path / "idx")
    res = build_index(spark, weird_docs, idx, n_buckets=4, n_salts=2)
    # docs with zero tokens (empty/null/punct/spaces) carry no postings and
    # no doc_map entry; the rest index fine
    assert 5 <= res.n_docs <= 7
    h = load_index(idx)
    top = query_topk_local(spark, h, ["fox", "zyzzyva", "word1"], k=10)
    assert top == brute_force_query_local(spark, h, ["fox", "zyzzyva", "word1"], k=10)
    docs_found = {d for d, _ in top}
    assert len(docs_found) >= 3  # fox docs (x2), zyzzyva, giant

    # unicode doc round-trips: query its German bracket term
    t2 = query_topk_local(spark, h, ["skrzypi"], k=3)
    assert len(t2) == 1

    # empty query / unknown terms
    assert query_topk_local(spark, h, [], k=5) == []
    assert query_topk_local(spark, h, ["nosuchterm"], k=5) == []

    # k < 0 is an error on both entry points; k == 0 an empty result
    with pytest.raises(ValueError, match="k must be >= 0"):
        query_topk_local(spark, h, ["fox"], k=-1)
    with pytest.raises(ValueError, match="k must be >= 0"):
        query_topk(spark, h, ["fox"], k=-1)
    assert query_topk_local(spark, h, ["fox"], k=0) == []
    empty = query_topk(spark, h, ["fox"], k=0)
    assert empty.collect() == []
    assert empty.schema.simpleString() == (
        "struct<doc_id:bigint,score:double,rank:int>"
    )


def test_tokenizer_degenerate_inputs():
    from words_in_context_spark.textparse import extract_and_tokenize
    from words_in_context_spark.textparse_vec import tokenize_batch

    cases = ["", "\n\n\n", "[", "]", "'", "-", "- - - -", "\ufeff", "1\n2\n3"]
    for c in cases:
        seq = extract_and_tokenize(c)
        assert seq.total_words == len(seq.tokens)
    out = tokenize_batch(
        [f"u{i}" for i in range(len(cases))], cases, ["en"] * len(cases)
    )
    # vectorized path agrees even on degenerate docs
    for i, c in enumerate(cases):
        seq = extract_and_tokenize(c)
        got = out[out.doc_idx == i]
        assert len(got) == len(seq.tokens)


def test_wordscontext_on_doc_with_no_tokens(spark, weird_docs):
    from words_in_context_spark.plans.wordscontext import top_words_with_examples

    rows = top_words_with_examples(weird_docs, "u://punct", k=5).collect()
    assert rows == []  # no tokens → empty ranking, no crash


def test_selective_queries_on_realistic_corpus(spark, tmp_path):
    """Long-tail corpus (tail_vocab): rare terms exist → queries mixing a
    selective term with stopwords match brute force and rank the rare
    term's doc first; tokenizer parity holds for tail docs too."""
    from words_in_context_spark.corpus import generate_pages
    from words_in_context_spark.index.build import build_index
    from words_in_context_spark.index.query import (
        brute_force_query_local,
        load_index,
        query_topk_local,
    )
    from words_in_context_spark.pyoracle import CorpusOracle

    pages = generate_pages(60, seed=88, tail_vocab=3000)
    docs = spark.createDataFrame(
        [(p["url"], p["text"], p["lang"]) for p in pages],
        "url string, text string, lang string",
    )
    idx = str(tmp_path / "idx")
    build_index(spark, docs, idx, n_buckets=8, n_salts=4)
    h = load_index(idx)

    # find a genuinely rare tail term from the corpus itself
    orc = CorpusOracle()
    for p in pages:
        orc.add(p["url"], p["text"], lang=p["lang"])
    from collections import Counter

    df_count = Counter()
    for d in orc.docs.values():
        for t in {tok.term for tok in d.tokens}:
            df_count[t] += 1
    rare = next(t for t, c in df_count.items() if t.startswith("tail") and c == 1)

    q = [rare, "the", "of"]
    got = query_topk_local(spark, h, q, k=5)
    assert got == brute_force_query_local(spark, h, q, k=5)
    # the doc containing the rare term must rank first (dominant idf)
    doc_map = {
        r["doc_id"]: r["url"]
        for r in spark.read.parquet(f"{idx}/doc_map").collect()
    }
    top_url = doc_map[got[0][0]]
    assert rare in {t.term for t in orc.docs[top_url].tokens}


def test_bm25_topk_on_empty_forward_table(spark, tmp_path, monkeypatch):
    """Documents that yield no tokens give an empty forward table; the
    battery's BM25 query must return an empty (doc_id, score, rank) frame
    rather than crash computing avgdl from a null sum."""
    from words_in_context_spark.driver_queries import _forward, q_bm25_topk

    monkeypatch.setenv("WICS_FWD_CACHE", str(tmp_path / "fwd"))
    sf_dir = tmp_path / "sf"
    spark.createDataFrame(
        [(1, ""), (2, "   "), (3, None)], "doc_id long, text string"
    ).write.parquet(str(sf_dir / "documents.parquet"))
    assert _forward(spark, str(sf_dir)).count() == 0
    out = q_bm25_topk(spark, str(sf_dir))
    assert out.collect() == []
    assert out.schema.simpleString() == (
        "struct<doc_id:bigint,score:double,rank:int>"
    )
