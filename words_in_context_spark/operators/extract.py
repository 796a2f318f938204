"""Extract + tokenize UDTF — docs(url, text|html, lang) → token rows.

The reference's ``analyze_file`` (/root/reference/extract_words.py:191-304)
is a stateful, order-dependent scan over one document's tokens; the bracket
state machine and sentence-position counter cannot be expressed per-token in
SQL. So this stage is one ``mapInPandas`` (Arrow-batched) operator that is
**vectorized across documents and sequential within one** — each input row is
a whole document, each output row one token occurrence. All parsing logic
lives in ``textparse`` (pure Python, unit-tested standalone), so the UDF is a
thin Arrow adapter with no semantics of its own.

Scale notes:
  * The UDF is a narrow map — no shuffle; parallelism == input partitions
    that hold rows. Parquet reads each row group in the split holding its
    midpoint, so a split without one is an empty task: one small file with
    one row group is read as several splits but tokenized by ONE task.
    ``build_index`` counts those row-bearing splits and widens the input
    when they are fewer than the session's cores. At 100 TB the input
    table is read in splits by the parquet/Iceberg source; each split
    tokenizes independently.
  * Column pruning matters: callers select only (url, text, lang) so the
    wide ``html`` binary column never crosses Arrow unless text is absent.
  * Output batches are capped (BATCH_OUT rows) to bound Arrow record-batch
    memory regardless of document size.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..textparse import extract_lines, tokenize_lines

TOKENS_SCHEMA = (
    "url string, tok_idx int, line_id int, pos int, term string, "
    "is_namecase boolean, in_sound_desc boolean"
)

LINES_SCHEMA = "url string, line_id int, line string"

_BATCH_OUT = 200_000


def _batch_inputs(pdf: pd.DataFrame) -> tuple[list, list, list]:
    """(urls, texts, langs) of one UDF input batch. A falsy text falls back
    to the decoded html bytes (html-only rows), a missing lang to 'en'."""
    urls = pdf["url"].tolist()
    texts = pdf["text"].tolist() if "text" in pdf.columns else [None] * len(pdf)
    if "html" in pdf.columns:
        texts = [
            t if t else (
                bytes(h).decode("utf-8", errors="ignore") if h is not None else ""
            )
            for t, h in zip(texts, pdf["html"].tolist())
        ]
    langs = (
        pdf["lang"].fillna("en").tolist()
        if "lang" in pdf.columns
        else ["en"] * len(pdf)
    )
    return urls, texts, langs


def _tokenize_batches(
    it: Iterator[pd.DataFrame], lemmatizer=None
) -> Iterator[pd.DataFrame]:
    """Vectorized batch tokenization (textparse_vec) — semantics-identical to
    the sequential textparse.tokenize_lines (property-tested), ~20× faster."""
    from ..textparse_vec import tokenize_batch

    for pdf in it:
        if pdf.empty:
            continue
        urls, texts, langs = _batch_inputs(pdf)
        out = tokenize_batch(urls, texts, langs, lemmatizer=lemmatizer)
        if out.empty:
            continue
        url_arr = pd.array(urls, dtype=object)
        yield pd.DataFrame(
            {
                "url": url_arr[out["doc_idx"].to_numpy()],
                "tok_idx": out["tok_idx"].astype("int32"),
                "line_id": out["line_id"].astype("int32"),
                "pos": out["pos"].astype("int32"),
                "term": out["term"],
                "is_namecase": out["is_namecase"],
                "in_sound_desc": out["in_sound_desc"],
            }
        )


def tokenize(docs: DataFrame, lemmatizer=None) -> DataFrame:
    """docs(url, text[, lang]) → tokens(url, tok_idx, line_id, pos, term,
    is_namecase, in_sound_desc). Narrow map, no shuffle.

    The wide ``html`` binary column crosses Arrow only where needed: absent
    entirely when every row has text; masked to NULL for rows that already
    have text (input_hint tables carry both columns with html-only rows) —
    page bytes never ride along for rows the tokenizer won't decode.

    ``lemmatizer``: registry name ('english') or str→str callable — the T1
    seam (see lemma.py); None = identity (default mode, frozen fixtures)."""
    from ..lemma import get_lemmatizer

    lem = get_lemmatizer(lemmatizer)
    return select_doc_cols(docs).mapInPandas(
        lambda it: _tokenize_batches(it, lemmatizer=lem),
        schema=TOKENS_SCHEMA,
    )


# html column metadata: the column is NULL on every row that has text
_HTML_MASKED = "wics.html_masked"


def select_doc_cols(docs: DataFrame) -> DataFrame:
    """Column-prune the UDTF input WITHOUT dragging page bytes along for rows
    that already have text: when both columns exist, text-bearing rows come
    from a scan that never reads the html column at all (the wide binary's
    pages stay untouched for the common case), and only the textless-row
    branch scans html (its IsNull/equality filter is pushed to the parquet
    scan so row groups with full text columns skip it). The union re-aligns
    schemas with NULL literals AFTER the scans, and marks the masked html
    column in its metadata, so pruning an already-pruned frame (e.g. one
    widened by ``build_index``) is a plain projection."""
    base = [c for c in ("url", "text", "lang") if c in docs.columns]
    if "html" not in docs.columns:
        return docs.select(*base)
    slim = [c for c in ("url", "lang") if c in docs.columns]
    if "text" not in docs.columns:
        return docs.select(*slim, "html")
    if docs.schema["html"].metadata.get(_HTML_MASKED):
        return docs.select(*base, "html")
    has_text = F.col("text").isNotNull() & (F.col("text") != "")
    with_text = docs.where(has_text).select(*base)
    html_only = docs.where(~has_text).select(*slim, "html")
    return with_text.unionByName(html_only, allowMissingColumns=True).select(
        *base, F.col("html").alias("html", metadata={_HTML_MASKED: True})
    )


def _lines_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in it:
        # same html fallback as the tokenizer: a doc it indexes must also
        # have snippet lines
        urls, texts, _ = _batch_inputs(pdf)
        out = [
            (url, i, line)
            for url, text in zip(urls, texts)
            if text
            for i, line in enumerate(extract_lines(text))
        ]
        yield pd.DataFrame(out, columns=["url", "line_id", "line"])


def extract_lines_df(docs: DataFrame) -> DataFrame:
    """docs(url, text) → lines(url, line_id, line) — the J2 snippet side.
    line_id == SRT cue number (positional-list invariant)."""
    return select_doc_cols(docs).mapInPandas(_lines_batches, schema=LINES_SCHEMA)


def tokenize_simple(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """SQL-expressible tokenizer for plain-text tables: lowercase, split on
    non-letter runs, posexplode. Stays entirely JVM-side (whole-stage
    codegen) — this is the fast path used on the ``documents`` test table and
    by the DuckDB oracle comparison. Returns (id_col, pos, term)."""
    toks = F.split(F.lower(F.col(text_col)), r"[^\p{L}]+")
    return (
        docs.select(F.col(id_col), F.posexplode(toks).alias("pos", "term"))
        .where(F.col("term") != "")
    )


TF_SCHEMA = "url string, term string, tf int, doc_len int"


def _tf_batches(
    it: Iterator[pd.DataFrame], lemmatizer=None, doc_markers: bool = False
) -> Iterator[pd.DataFrame]:
    """Per-document tf aggregation INSIDE the UDF: emits one row per distinct
    (url, term) with the document length attached. Because aggregation
    happens before any shuffle, the index build never moves raw token rows —
    the map-side output is already the forward index.

    ``doc_markers=True`` additionally emits exactly one marker row per
    document (term='', tf=0 — '' can never be a real token, P7 drops empty
    tokens) carrying (url, doc_len). The index build observes corpus stats
    (n_docs, avgdl) during the forward write and derives doc_map by a
    narrow pushdown scan of the markers, deleting a whole groupBy job from
    the build's fixed orchestration floor."""
    from ..textparse_vec import tf_batch

    for pdf in it:
        if pdf.empty:
            continue
        out = tf_batch(
            *_batch_inputs(pdf), lemmatizer=lemmatizer, doc_markers=doc_markers
        )
        if out is not None:
            yield out


def tokenize_tf(
    docs: DataFrame, lemmatizer=None, doc_markers: bool = False
) -> DataFrame:
    """docs(url, text[, lang]) → (url, term, tf, doc_len): the forward index
    emitted directly from the extract UDTF with NO token-level shuffle.
    ``lemmatizer``: see tokenize(). ``doc_markers``: see _tf_batches."""
    from ..lemma import get_lemmatizer

    lem = get_lemmatizer(lemmatizer)
    return select_doc_cols(docs).mapInPandas(
        lambda it: _tf_batches(it, lemmatizer=lem, doc_markers=doc_markers),
        schema=TF_SCHEMA,
    )
