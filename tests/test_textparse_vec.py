"""Property: the vectorized batch tokenizer == the sequential reference path."""

import glob
import os

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from words_in_context_spark.corpus import generate_pages
from words_in_context_spark.textparse import extract_and_tokenize
from words_in_context_spark.textparse_vec import tokenize_batch


def _assert_equal_tokens(urls, texts, langs, lemmatizer=None):
    vec = tokenize_batch(urls, texts, langs, lemmatizer=lemmatizer)
    got = {
        di: list(g[["line_id", "pos", "term", "is_namecase", "in_sound_desc"]]
                 .itertuples(index=False, name=None))
        for di, g in vec.sort_values(["doc_idx", "tok_idx"]).groupby("doc_idx")
    }
    for di, (text, lang) in enumerate(zip(texts, langs)):
        seq = extract_and_tokenize(text or "", lang=lang, lemmatizer=lemmatizer)
        expected = [
            (t.line_id, t.pos, t.term, t.is_namecase, t.in_sound_desc)
            for t in seq.tokens
        ]
        assert got.get(di, []) == expected, f"doc {di} ({urls[di]})"
        # tok_idx must be 0..n-1 per doc
        if di in got:
            sub = vec[vec.doc_idx == di]
            assert list(sub.sort_values("tok_idx")["tok_idx"]) == list(
                range(len(expected))
            )


def test_synthetic_corpus_parity():
    pages = generate_pages(40, seed=4242)
    _assert_equal_tokens(
        [p["url"] for p in pages],
        [p["text"] for p in pages],
        [p["lang"] for p in pages],
    )


@pytest.mark.skipif(
    not os.path.isdir("/root/reference/data"), reason="reference corpus absent"
)
def test_reference_corpus_parity():
    files = sorted(glob.glob("/root/reference/data/*.srt"))
    texts, urls = [], []
    for f in files:
        with open(f, encoding="utf-8", errors="ignore") as fh:
            texts.append(fh.read())
        urls.append(os.path.basename(f))
    langs = ["de" if "faust" in u else "en" for u in urls]
    _assert_equal_tokens(urls, texts, langs)


_line = st.text(
    alphabet=st.characters(
        codec="utf-8",
        exclude_characters="\r\n",
        categories=("L", "N", "P", "Zs", "S"),
    ),
    min_size=0,
    max_size=60,
)


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.lists(_line, min_size=0, max_size=6),
            st.sampled_from(["en", "de", "es"]),
        ),
        min_size=1,
        max_size=4,
    )
)
def test_random_docs_parity(docs):
    texts = ["\n".join(lines) for lines, _ in docs]
    langs = [lang for _, lang in docs]
    urls = [f"d{i}" for i in range(len(docs))]
    _assert_equal_tokens(urls, texts, langs)


@pytest.mark.skipif(
    not os.path.isdir("/root/reference/data"), reason="reference corpus absent"
)
def test_reference_corpus_parity_lemma_mode():
    """Vectorized == sequential also under the built-in English lemmatizer
    (the T1 seam) on the real corpus."""
    from words_in_context_spark.lemma import english_lemma

    files = sorted(glob.glob("/root/reference/data/*.srt"))[:4]
    texts, urls = [], []
    for f in files:
        with open(f, encoding="utf-8", errors="ignore") as fh:
            texts.append(fh.read())
        urls.append(os.path.basename(f))
    langs = ["de" if "faust" in u else "en" for u in urls]
    _assert_equal_tokens(urls, texts, langs, lemmatizer=english_lemma)


def test_edge_cases_parity():
    cases = [
        ("", "en"),
        ("[open bracket never closes\nstill inside", "en"),
        ("- [a] - b. C d\n-[x]y z", "en"),
        ("des Heft'gen Sturms ew'gen", "de"),
        ("des Heft'gen Sturms", "en"),
        ("well-lit moss-grown 123 !!! ...", "en"),
        ("Mary. Mary spoke- Zuzu Zuzu", "en"),
        ("a\n\n\nb", "en"),
    ]
    _assert_equal_tokens(
        [f"c{i}" for i in range(len(cases))],
        [t for t, _ in cases],
        [l for _, l in cases],
    )


def test_by_language_routing_parity():
    """ByLanguage router — the seam analog of the reference's per-language
    spaCy model pick (extract_words.py:348,370): a mixed batch routes each
    document to its language's lemmatizer (vectorized == sequential, since
    the batch path splits per language before unique-token memoization).
    'war' is the discriminator: English keeps it (protected homograph of the
    noun), German maps it to 'sein'."""
    from words_in_context_spark.lemma import ByLanguage, get_lemmatizer

    urls = ["u-en", "u-de", "u-fr"]
    texts = [
        "1\n00:00:00,000 --> 00:00:01,000\nwar went children movies\n",
        "1\n00:00:00,000 --> 00:00:01,000\nwar ging zeitungen kinder\n",
        "1\n00:00:00,000 --> 00:00:01,000\nwar went zeitungen\n",
    ]
    langs = ["en", "de", "fr"]
    router = get_lemmatizer({"en": "english", "de": "german"})
    assert isinstance(router, ByLanguage)
    assert "bylang" in router.__name__ and "german" in router.__name__

    _assert_equal_tokens(urls, texts, langs, lemmatizer=router)

    vec = tokenize_batch(urls, texts, langs, lemmatizer=router)
    terms = {
        di: list(g.sort_values("tok_idx")["term"])
        for di, g in vec.groupby("doc_idx")
    }
    assert terms[0] == ["war", "go", "child", "movie"]
    assert terms[1] == ["sein", "gehen", "zeitung", "kinder"]
    assert terms[2] == ["war", "went", "zeitungen"]  # unlisted → identity


# ---- tf kernel == groupby over tokenize_batch ------------------------------


def _tf_by_groupby(urls, texts, langs, lemmatizer=None, doc_markers=False):
    """The forward rows' definition: a per-(doc, term) groupby over
    tokenize_batch's token rows, in order of first appearance."""
    import pandas as pd

    out = tokenize_batch(urls, texts, langs, lemmatizer=lemmatizer)
    if out.empty:
        return None
    tf = (
        out.groupby(["doc_idx", "term"], sort=False)
        .size()
        .reset_index(name="tf")
    )
    doc_len = out.groupby("doc_idx", sort=False).size()
    tf["doc_len"] = tf["doc_idx"].map(doc_len).astype("int32")
    tf["url"] = tf["doc_idx"].map(lambda i: urls[i])
    if doc_markers:
        mk = tf.drop_duplicates("doc_idx")[["url", "doc_len"]].copy()
        mk["term"] = ""
        mk["tf"] = 0
        tf = pd.concat(
            [tf[["url", "term", "tf", "doc_len"]], mk], ignore_index=True
        )
    return tf[["url", "term", "tf", "doc_len"]].astype(
        {"tf": "int32", "doc_len": "int32"}
    )


def _assert_tf_equal(urls, texts, langs, lemmatizer=None, doc_markers=False):
    import pandas as pd

    from words_in_context_spark.lemma import get_lemmatizer
    from words_in_context_spark.textparse_vec import tf_batch

    lem = get_lemmatizer(lemmatizer)
    got = tf_batch(urls, texts, langs, lemmatizer=lem, doc_markers=doc_markers)
    want = _tf_by_groupby(urls, texts, langs, lem, doc_markers)
    if want is None:
        assert got is None
    else:
        pd.testing.assert_frame_equal(got, want)


_LEMMATIZERS = [None, "english", {"en": "english", "de": "german"}]


@settings(max_examples=80, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.lists(_line, min_size=0, max_size=6),
            st.sampled_from(["en", "de", "es", "ja", "zh"]),
        ),
        min_size=1,
        max_size=5,
    ),
    st.sampled_from(_LEMMATIZERS),
    st.booleans(),
)
def test_tf_batch_equals_groupby_random_docs(docs, lemmatizer, doc_markers):
    texts = ["\n".join(lines) for lines, _ in docs]
    langs = [lang for _, lang in docs]
    urls = [f"d{i}" for i in range(len(docs))]
    _assert_tf_equal(urls, texts, langs, lemmatizer, doc_markers)


@pytest.mark.parametrize("doc_markers", [False, True])
@pytest.mark.parametrize("lemmatizer", _LEMMATIZERS)
def test_tf_batch_equals_groupby_corpus(lemmatizer, doc_markers):
    """Synthetic pages (en/de/es/fr) with every third switched to ja, so
    the batch mixes CJK and non-CJK routing, plus empty, None and
    token-free documents."""
    pages = generate_pages(40, seed=4243)
    urls = [p["url"] for p in pages] + ["e0", "e1", "e2", "e3"]
    texts = [p["text"] for p in pages] + ["", None, "123 !!! -- ...", "- -"]
    langs = [
        "ja" if i % 3 == 0 else p["lang"] for i, p in enumerate(pages)
    ] + ["en", "de", "zh", None]
    _assert_tf_equal(urls, texts, langs, lemmatizer, doc_markers)


@pytest.mark.parametrize("doc_markers", [False, True])
def test_tf_batch_edge_cases(doc_markers):
    cases = [
        ("", "en"),
        ("- [a] - b. C d\n-[x]y z", "en"),
        ("des Heft'gen Sturms ew'gen Heft'gen", "de"),
        ("des Heft'gen Sturms", "en"),
        ("well-lit moss-grown moss 123 !!! ...", "en"),
        ("東京タワー と 東京 の 夜", "ja"),
        ("北京 欢迎 你 北京", "zh"),
    ]
    _assert_tf_equal(
        [f"c{i}" for i in range(len(cases))],
        [t for t, _ in cases],
        [l for _, l in cases],
        doc_markers=doc_markers,
    )
    # no document with a term at all
    _assert_tf_equal(["a", "b"], ["", "12 -- !!"], ["en", "ja"],
                     doc_markers=doc_markers)
