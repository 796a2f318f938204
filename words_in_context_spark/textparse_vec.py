"""Vectorized batch tokenizer — semantics-identical to textparse.tokenize_lines.

``textparse.tokenize_lines`` is the *semantics reference*: a per-token
sequential loop, trivially auditable against the reference implementation
(/root/reference/extract_words.py:213-304). This module is the *throughput
path* used inside the Arrow UDF: it tokenizes a whole batch of documents at
once with pandas/numpy, and is property-tested equal to the sequential loop
(tests/test_textparse_vec.py).

Design:
  * line → raw-token explosion is pandas C code (str.split + explode);
  * every per-token scalar decision (has_alpha, namecase, bracket flags,
    sentence-end, normalization/splitting, apostrophe rule) is computed by
    THE SAME pure-Python helpers as the sequential path — but only once per
    UNIQUE token string (Zipf: vocabulary ≪ token count), then broadcast
    with take();
  * the order-dependent state machines (bracket flag, sentence-position
    counter) become numpy scans: forward-fill over bracket events, segment
    ids from reset events + cumcount for positions.

``tokenize_batch`` is the one per-token path. ``tf_batch`` (the forward
index's kernel) shares its routing, raw-token front half and emit step but
skips the state machines and per-token columns: it needs only which terms
each document holds, so it counts (doc, term id) pairs with integers.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from .textparse import (
    _APOSTROPHE_RE,
    _CJK_LANGS,
    _NON_WORD_RE,
    _SENT_END,
    cjk_parts,
    extract_lines,
    has_alpha,
    is_namecase,
)

TOKEN_COLS = ["doc_idx", "tok_idx", "line_id", "pos", "term",
              "is_namecase", "in_sound_desc"]


class _UniqueTokenInfo:
    """Per-unique-token attributes, computed with the sequential path's own
    predicate functions (parity by construction)."""

    __slots__ = ("open_b", "close_b", "dash", "endsent", "alpha", "namecase",
                 "apos_de", "lower", "parts", "lemma_parts", "n_parts")

    def __init__(self, uniques: np.ndarray, lemmatizer=None, cjk=False):
        n = len(uniques)
        self.open_b = np.empty(n, dtype=bool)
        self.close_b = np.empty(n, dtype=bool)
        self.dash = np.empty(n, dtype=bool)
        self.endsent = np.empty(n, dtype=bool)
        self.alpha = np.empty(n, dtype=bool)
        self.namecase = np.empty(n, dtype=bool)
        self.apos_de = np.empty(n, dtype=bool)
        self.lower = np.empty(n, dtype=object)
        self.parts = np.empty(n, dtype=object)  # normalized alpha parts
        self.n_parts = np.empty(n, dtype=np.int64)  # len(parts), O(1) gather
        # lemmatized twin of parts, computed once per UNIQUE token (T1 seam)
        self.lemma_parts = self.parts if lemmatizer is None else np.empty(
            n, dtype=object
        )
        for i, raw in enumerate(uniques):
            self.open_b[i] = "[" in raw
            self.close_b[i] = "]" in raw
            self.dash[i] = raw == "-"
            self.endsent[i] = raw.endswith(_SENT_END)
            self.alpha[i] = has_alpha(raw)
            self.namecase[i] = is_namecase(raw)
            self.apos_de[i] = bool(_APOSTROPHE_RE.match(raw))
            self.lower[i] = raw.lower()
            parts = (
                cjk_parts(raw.lower())
                if cjk
                else _NON_WORD_RE.sub(" ", raw.lower()).split()
            )
            self.parts[i] = [p for p in parts if has_alpha(p)]
            self.n_parts[i] = len(self.parts[i])
            if lemmatizer is not None:
                self.lemma_parts[i] = [lemmatizer(p) for p in self.parts[i]]


def _routes(langs: list, lemmatizer) -> list[tuple]:
    """Split a batch into groups that tokenize under ONE lemmatizer and ONE
    script routing: ``[(doc indices, langs, lemmatizer, cjk)]``.

    The per-unique-token memoization (parts, lemma) is only valid within
    such a group: a ``lemma.ByLanguage`` router splits per document language
    (sorted), and part-splitting is script-dependent, so a batch mixing
    ja/zh/ko/th documents with others splits non-CJK first, then CJK."""
    from .lemma import ByLanguage

    if isinstance(lemmatizer, ByLanguage):
        langs_f = [lg if lg else "en" for lg in langs]
        out = []
        for lg in sorted(set(langs_f)):
            sel = np.asarray(
                [i for i, x in enumerate(langs_f) if x == lg], dtype=np.int64
            )
            out.append((sel, [lg] * sel.size, lemmatizer.for_lang(lg),
                        lg in _CJK_LANGS))
        return out
    cjk_mask = [(lg or "en") in _CJK_LANGS for lg in langs]
    if not any(cjk_mask) or all(cjk_mask):
        return [(np.arange(len(langs)), langs, lemmatizer, any(cjk_mask))]
    out = []
    for want in (False, True):
        sel = np.asarray(
            [i for i, c in enumerate(cjk_mask) if c == want], dtype=np.int64
        )
        out.append((sel, [langs[i] for i in sel], lemmatizer, want))
    return out


def _raw_tokens(texts: list, lemmatizer, cjk: bool):
    """The shared front half of both batch kernels: docs → lines → raw
    tokens (C-speed pandas), factorized, plus the per-unique-token
    attributes. Returns ``(doc_idx, line_id, codes, info)`` with one entry
    per raw token in document order, or None when the batch has no raw
    token."""
    doc_idx_l, line_id_l, line_l = [], [], []
    for di, text in enumerate(texts):
        if not text:
            continue
        for li, line in enumerate(extract_lines(text)):
            if line:
                doc_idx_l.append(di)
                line_id_l.append(li)
                line_l.append(line)
    if not line_l:
        return None

    lines = pd.DataFrame(
        {
            "doc_idx": np.asarray(doc_idx_l, dtype=np.int32),
            "line_id": np.asarray(line_id_l, dtype=np.int32),
            "toks": pd.Series(line_l).str.split(),
        }
    )
    toks = lines.explode("toks", ignore_index=True).dropna(subset=["toks"])
    if toks.empty:
        return None

    doc_idx = toks["doc_idx"].to_numpy(dtype=np.int64)
    line_id = toks["line_id"].to_numpy(dtype=np.int64)
    codes, uniques = pd.factorize(toks["toks"])
    info = _UniqueTokenInfo(uniques.to_numpy(), lemmatizer=lemmatizer, cjk=cjk)
    return doc_idx, line_id, codes, info


def _emitted(doc_idx, codes, info: _UniqueTokenInfo, langs: list):
    """The raw tokens that emit terms: alpha, not a lone dash, with at least
    one part. Returns ``(idx, codes_e, apos_e, n_parts)`` — raw-token rows,
    their codes, whether the German apostrophe rule keeps the token whole
    (one raw lowercase term), and the term count of each — or None."""
    alpha = info.alpha[codes]
    emit = alpha & ~info.dash[codes]
    is_de = np.asarray([lg == "de" for lg in langs], dtype=bool)[doc_idx]
    apos = info.apos_de[codes] & is_de & emit
    idx = np.nonzero(emit)[0]
    codes_e = codes[idx]
    apos_e = apos[idx]
    n_parts = np.where(apos_e, 1, info.n_parts[codes_e])
    keep = n_parts > 0
    if not keep.any():
        return None
    return idx[keep], codes_e[keep], apos_e[keep], n_parts[keep]


def tokenize_batch(
    urls: list, texts: list, langs: list, lemmatizer=None
) -> pd.DataFrame:
    """Tokenize a batch of documents. Returns a DataFrame with TOKEN_COLS,
    where doc_idx indexes into the input lists (caller maps back to url).

    ``lemmatizer`` (T1 seam, see lemma.py): applied to every normalized part,
    once per unique raw token; apostrophe-rule tokens stay raw. A
    ``lemma.ByLanguage`` router (or dict spec resolved to one) is honored by
    splitting the batch per document language (see ``_routes``)."""
    frames = []
    for sel, g_langs, lem, cjk in _routes(langs, lemmatizer):
        sub = _tokenize_group([texts[i] for i in sel], g_langs, lem, cjk)
        if sub is None:
            continue
        sub["doc_idx"] = sel[sub["doc_idx"].to_numpy()]
        frames.append(sub)
    if not frames:
        return pd.DataFrame(columns=TOKEN_COLS)
    if len(frames) == 1:
        return frames[0]
    return pd.concat(frames, ignore_index=True)


def _tokenize_group(texts: list, langs: list, lemmatizer, cjk: bool):
    """``tokenize_batch`` over one routing group; None when it emits no
    token."""
    raw = _raw_tokens(texts, lemmatizer, cjk)
    if raw is None:
        return None
    doc_idx, line_id, codes, info = raw

    n = codes.size
    open_b = info.open_b[codes]
    close_b = info.close_b[codes]
    dash = info.dash[codes]
    endsent = info.endsent[codes]
    namecase = info.namecase[codes]

    # boundaries (first raw token of each line / doc)
    new_line = np.empty(n, dtype=bool)
    new_line[0] = True
    new_line[1:] = (doc_idx[1:] != doc_idx[:-1]) | (line_id[1:] != line_id[:-1])
    new_doc = np.empty(n, dtype=bool)
    new_doc[0] = True
    new_doc[1:] = doc_idx[1:] != doc_idx[:-1]

    # ---- bracket state machine (T3): event scan + forward fill ------------
    # event value per token (state AFTER its own brackets, reference order:
    # '[' then ']'): close → 0; open-only → 1; else inherit
    ev = np.full(n, -1, dtype=np.int8)
    ev[open_b & ~close_b] = 1
    ev[close_b] = 0
    ev[new_doc & (ev == -1)] = 0  # state starts False per document
    # forward fill: index of last non-inherit event
    has_ev = ev != -1
    last_ev_idx = np.maximum.accumulate(
        np.where(has_ev, np.arange(n), -1)
    )
    in_sound = ev[last_ev_idx] == 1

    # ---- sentence-position reset events (T4) ------------------------------
    prev_endsent = np.zeros(n, dtype=bool)
    prev_endsent[1:] = endsent[:-1] & ~new_line[1:]
    prev_dash = np.zeros(n, dtype=bool)
    prev_dash[1:] = dash[:-1] & ~new_line[1:]
    reset_before = new_line | prev_endsent | prev_dash | dash
    seg = np.cumsum(reset_before)

    emitted = _emitted(doc_idx, codes, info, langs)
    if emitted is None:
        return None
    idx, codes_e, apos_e, n_parts = emitted

    from itertools import chain

    terms = np.fromiter(
        chain.from_iterable(
            (info.lower[c],) if a else info.lemma_parts[c]
            for c, a in zip(codes_e, apos_e)
        ),
        dtype=object,
        count=int(n_parts.sum()),
    )

    rep = np.repeat(np.arange(idx.size), n_parts)  # part → emitted-token row
    src = idx[rep]  # part → raw-token row

    # ---- per-part position counter: cumcount within (seg) over parts ------
    part_seg = seg[src]
    seg_change = np.empty(part_seg.size, dtype=bool)
    seg_change[0] = True
    seg_change[1:] = part_seg[1:] != part_seg[:-1]
    seg_start = np.maximum.accumulate(
        np.where(seg_change, np.arange(part_seg.size), 0)
    )
    pos = np.arange(part_seg.size) - seg_start

    # ---- per-part doc-local tok_idx ----------------------------------------
    part_doc = doc_idx[src]
    doc_change = np.empty(part_doc.size, dtype=bool)
    doc_change[0] = True
    doc_change[1:] = part_doc[1:] != part_doc[:-1]
    doc_start = np.maximum.accumulate(
        np.where(doc_change, np.arange(part_doc.size), 0)
    )
    tok_idx = np.arange(part_doc.size) - doc_start

    return pd.DataFrame(
        {
            "doc_idx": part_doc,
            "tok_idx": tok_idx,
            "line_id": line_id[src],
            "pos": pos,
            "term": terms,
            "is_namecase": namecase[src],
            "in_sound_desc": in_sound[src],
        }
    )


def tf_batch(
    urls: list, texts: list, langs: list, lemmatizer=None,
    doc_markers: bool = False,
) -> pd.DataFrame | None:
    """Per-document term frequencies of a batch: (url, term, tf, doc_len),
    one row per distinct (document, term) in order of first appearance,
    ``doc_len`` = the document's term count. Equal, row for row, to a ``groupby`` over
    ``tokenize_batch``'s output, without building its per-token columns.
    ``doc_markers`` appends one (url, '', 0, doc_len) row per document that
    has a term, in the same document order. None when no term is emitted.

    Shares ``tokenize_batch``'s routing, raw-token front half and emit step;
    from there it counts with integers only: every emitted raw token maps
    to its term ids through a flat per-unique-token table, and (doc,
    term id) pairs are counted with one ``np.unique``."""
    vocab: dict = {}
    doc_len = np.zeros(len(texts), dtype=np.int64)
    docs_l, tids_l, tfs_l = [], [], []
    for sel, g_langs, lem, cjk in _routes(langs, lemmatizer):
        got = _tf_group([texts[i] for i in sel], g_langs, lem, cjk, vocab)
        if got is None:
            continue
        doc, tid, tf, g_len = got
        doc_len[sel] = g_len
        docs_l.append(sel[doc])
        tids_l.append(tid)
        tfs_l.append(tf)
    if not docs_l:
        return None
    doc = np.concatenate(docs_l)
    tid = np.concatenate(tids_l)
    tf = np.concatenate(tfs_l)
    terms = np.fromiter(vocab, dtype=object, count=len(vocab))[tid]
    if doc_markers:
        _, first = np.unique(doc, return_index=True)
        mk = doc[np.sort(first)]
        doc = np.concatenate([doc, mk])
        terms = np.concatenate([terms, np.full(mk.size, "", dtype=object)])
        tf = np.concatenate([tf, np.zeros(mk.size, dtype=tf.dtype)])
    return pd.DataFrame(
        {
            "url": np.asarray(urls, dtype=object)[doc],
            "term": terms,
            "tf": tf.astype(np.int32),
            "doc_len": doc_len[doc].astype(np.int32),
        }
    )


def _tf_group(texts: list, langs: list, lemmatizer, cjk: bool, vocab: dict):
    """``tf_batch`` over one routing group: ``(doc, term id, tf, doc_len)``
    with group-local doc indices, or None. New terms are added to ``vocab``
    (term → id, ids in insertion order)."""
    raw = _raw_tokens(texts, lemmatizer, cjk)
    if raw is None:
        return None
    doc_idx, _, codes, info = raw
    emitted = _emitted(doc_idx, codes, info, langs)
    if emitted is None:
        return None
    idx, codes_e, apos_e, n_parts = emitted

    # term ids per key: key 2c → unique token c's (lemmatized) parts,
    # 2c+1 → its raw lowercase form (the apostrophe rule), flat + offsets
    flat: list = []
    n_terms = np.zeros(2 * len(info.lemma_parts), dtype=np.int64)
    n_terms[0::2] = info.n_parts
    n_terms[1::2] = info.apos_de
    add = vocab.setdefault
    for c, parts in enumerate(info.lemma_parts):
        flat.extend([add(t, len(vocab)) for t in parts])
        if info.apos_de[c]:
            flat.append(add(info.lower[c], len(vocab)))
    flat_ids = np.asarray(flat, dtype=np.int64)
    offs = np.zeros(n_terms.size, dtype=np.int64)
    np.cumsum(n_terms[:-1], out=offs[1:])

    # expand each emitted raw token to its term ids (parts in order)
    key = 2 * codes_e.astype(np.int64) + apos_e
    ends = np.cumsum(n_parts)
    at = np.repeat(offs[key] - (ends - n_parts), n_parts)
    tid = flat_ids[at + np.arange(ends[-1])]
    doc = np.repeat(doc_idx[idx], n_parts)

    # count (doc, term id) pairs, in order of first appearance
    n_vocab = len(vocab)
    pair, first, tf = np.unique(
        doc * n_vocab + tid, return_index=True, return_counts=True
    )
    order = np.argsort(first)
    pair = pair[order]
    return (pair // n_vocab, pair % n_vocab, tf[order],
            np.bincount(doc, minlength=len(texts)))
