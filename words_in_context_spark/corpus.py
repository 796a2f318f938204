"""Deterministic synthetic Common-Crawl-style web-page corpus.

Generates the engine's primary input table per BASELINE.json ``input_hint``:

    (url: string, warc_ts: timestamp, html: binary, text: string, lang: string)

Pages are SRT-structured subtitle documents (the reference's document format,
/root/reference/extract_words.py:104-163) rendered into HTML-tagged bytes, so
the extract UDTF's full semantics — cue numbering, timestamp gating, tag
stripping, bracket sound-descriptions, NameCase names, German apostrophe
contractions, hyphenated compounds — are all exercised by construction.

Everything is seeded; same (seed, n_docs) → byte-identical corpus. No
external data.
"""

from __future__ import annotations

import datetime as dt
import os
import random

# Bumped whenever pages_dataframe's synthesis logic changes — cache dirs
# keyed on (CORPUS_VERSION, n_docs, seed, ...) then invalidate automatically
# (bench.py, tools/scaling_bench.py).
CORPUS_VERSION = "c1"

# A compact vocabulary; Zipf-ranked so head terms exist (skew-handling must
# have something to handle). Names are NameCase-only by construction.
_VOCAB = [
    "the", "a", "to", "of", "and", "you", "it", "is", "in", "that",
    "we", "he", "she", "was", "for", "on", "are", "with", "they", "be",
    "have", "this", "from", "one", "had", "word", "but", "not", "what",
    "all", "were", "when", "your", "can", "said", "there", "use", "an",
    "each", "which", "do", "how", "their", "if", "will", "up", "other",
    "about", "out", "many", "then", "them", "these", "so", "some", "her",
    "would", "make", "like", "him", "into", "time", "has", "look", "two",
    "more", "write", "go", "see", "number", "way", "could", "people",
    "than", "first", "water", "been", "call", "who", "oil", "its", "now",
    "find", "long", "down", "day", "did", "get", "come", "made", "may",
    "part", "river", "stone", "light", "night", "ship", "storm", "garden",
    "window", "silver", "shadow", "whisper", "thunder", "harvest", "lantern",
    "meadow", "sparrow", "village", "winter", "summer", "crimson", "velvet",
]
_NAMES = ["George", "Mary", "Clarence", "Potter", "Zuzu", "Harry", "Violet",
          "Sandy", "Denton", "Kincaid", "Faust", "Gretchen"]
_SOUND_DESCS = ["[thunder rumbling]", "[door creaks]", "[whispers]",
                "[music playing]", "[birds chirping]", "[gunshot]"]
_DE_APOSTROPHES = ["heft'gen", "unharmon'sche", "nächt'gen", "ew'gen"]
_HYPHENATED = ["well-lit", "moss-grown", "star-crossed", "wind-swept"]
_LANGS = ["en", "en", "en", "en", "de", "es", "fr"]  # en-heavy like the web


def _zipf_choice(rng: random.Random, vocab: list[str]) -> str:
    # inverse-CDF Zipf(s≈1.1) over vocabulary ranks, cheap and deterministic
    n = len(vocab)
    u = rng.random()
    idx = min(int(n ** u) - 1, n - 1)
    return vocab[max(idx, 0)]


def _render_cue_text(rng: random.Random, lang: str, tail_vocab: int = 0) -> str:
    words = []
    n_words = rng.randint(3, 12)
    if rng.random() < 0.08:
        words.append(rng.choice(_SOUND_DESCS))
    if rng.random() < 0.15:
        words.append(rng.choice(_NAMES))
    for _ in range(n_words):
        words.append(_zipf_choice(rng, _VOCAB))
    if tail_vocab and rng.random() < 0.3:
        # Zipf-ish long tail: realistic selective terms (df ≪ N) so queries
        # with rare terms exist (selective, high-idf query shapes).
        # Letters only: the tokenizer's alphabet normalization strips digits.
        r = rng.random()
        tid = int(tail_vocab ** r) - 1
        suffix = []
        while True:
            suffix.append(chr(ord("a") + tid % 26))
            tid //= 26
            if tid == 0:
                break
        words.append("tail" + "".join(reversed(suffix)) + "x")
    if lang == "de" and rng.random() < 0.10:
        words.append(rng.choice(_DE_APOSTROPHES))
    if rng.random() < 0.07:
        words.append(rng.choice(_HYPHENATED))
    sent = " ".join(words)
    if rng.random() < 0.3:
        sent += "."
    if rng.random() < 0.15:
        sent = "- " + sent
    if rng.random() < 0.2:
        sent = "<i>" + sent + "</i>"
    return sent


def make_srt_text(rng: random.Random, lang: str, n_cues: int,
                  tail_vocab: int = 0) -> str:
    """Render one SRT document (cue number, timestamp, 1-2 text lines)."""
    blocks = []
    t = 0
    for cue in range(1, n_cues + 1):
        t2 = t + rng.randint(1500, 4000)

        def _ts(ms: int) -> str:
            s, ms_ = divmod(ms, 1000)
            m, s = divmod(s, 60)
            h, m = divmod(m, 60)
            return f"{h:02d}:{m:02d}:{s:02d},{ms_:03d}"

        text = _render_cue_text(rng, lang, tail_vocab)
        if rng.random() < 0.25:  # multi-line cue
            text += "\n" + _render_cue_text(rng, lang, tail_vocab)
        blocks.append(f"{cue}\n{_ts(t)} --> {_ts(t2)}\n{text}\n")
        t = t2 + rng.randint(50, 500)
    return "\n".join(blocks)


def generate_pages(
    n_docs: int, seed: int = 42, min_cues: int = 20, max_cues: int = 80,
    tail_vocab: int = 0,
) -> list[dict]:
    """Generate ``n_docs`` web-page rows (plain dicts, input_hint schema).
    ``tail_vocab=V`` adds a V-term Zipf long tail (default 0: byte-identical
    to the original corpus — existing fixtures/seeds unchanged)."""
    rows = []
    # naive timestamp, same as pages_dataframe's generator — both paths are
    # interpreted under the engine's pinned-UTC session, and staying naive
    # keeps them byte-identical regardless of caller timezone config
    epoch = dt.datetime(2024, 1, 1)
    for i in range(n_docs):
        rng = random.Random((seed << 20) ^ i)  # per-doc stream: order-free
        lang = rng.choice(_LANGS)
        srt = make_srt_text(rng, lang, rng.randint(min_cues, max_cues), tail_vocab)
        url = f"https://corpus.example/{lang}/doc-{i:08d}.srt"
        html = (
            "<!DOCTYPE html><html><head><title>doc-"
            + str(i)
            + '</title></head><body><pre class="srt">'
            + srt
            + "</pre></body></html>"
        ).encode("utf-8")
        rows.append(
            {
                "url": url,
                "warc_ts": epoch + dt.timedelta(seconds=i * 37),
                "html": html,
                "text": srt,
                "lang": lang,
            }
        )
    return rows


def pages_dataframe(spark, n_docs: int, seed: int = 42, partitions: int | None = None,
                    tail_vocab: int = 0):
    """Materialize the corpus as a Spark DataFrame.

    Generation is distributed AND Arrow-batched: ``spark.range`` provides the
    doc-id space, ``mapInPandas`` generates whole batches per partition (each
    doc has an independent seeded RNG stream, so generation is order-free and
    embarrassingly parallel — this is how the corpus would be synthesized at
    10^12-doc scale too; the RDD/pickle path was ~10× slower per row).
    """
    import pandas as pd

    n_parts = partitions or spark.sparkContext.defaultParallelism

    def gen(it):
        epoch = dt.datetime(2024, 1, 1)
        for pdf in it:
            rows = []
            for i in pdf["id"].tolist():
                rng = random.Random((seed << 20) ^ i)
                lang = rng.choice(_LANGS)
                srt = make_srt_text(rng, lang, rng.randint(20, 80), tail_vocab)
                html = (
                    "<!DOCTYPE html><html><head><title>doc-"
                    + str(i)
                    + '</title></head><body><pre class="srt">'
                    + srt
                    + "</pre></body></html>"
                ).encode("utf-8")
                rows.append(
                    (
                        f"https://corpus.example/{lang}/doc-{i:08d}.srt",
                        epoch + dt.timedelta(seconds=i * 37),
                        html,
                        srt,
                        lang,
                    )
                )
            yield pd.DataFrame(
                rows, columns=["url", "warc_ts", "html", "text", "lang"]
            )

    return spark.range(0, n_docs, numPartitions=n_parts).mapInPandas(
        gen,
        schema=(
            "url string, warc_ts timestamp, html binary, "
            "text string, lang string"
        ),
    )


def read_pages(spark, source: str):
    """Source seam for the pages corpus: a filesystem path reads parquet; any
    other string is a CATALOG TABLE read via ``spark.read.table`` — the exact
    call used for an Iceberg table once the cluster image ships the Iceberg
    runtime + catalog config (`spark.read.table("iceberg.db.pages")`), with
    Iceberg's partition pruning and scan pushdown arriving through the same
    DataFrame plan. This sandbox has no Iceberg jar (environment-blocked,
    like spaCy), so the catalog path is exercised in tests with a managed
    parquet-backed table — the API surface is identical.

    The north rule's input is an Iceberg table of (url, warc_ts, html, text,
    lang); this is the single entry point jobs use so the swap is config,
    not code."""
    looks_like_path = (
        "/" in source
        or source.startswith(".")
        or source.endswith(".parquet")
        # a bare relative directory name ('pages_out') must not silently
        # route to spark.read.table — an unrelated AnalysisException at best,
        # a same-named managed table's data at worst
        or os.path.exists(source)
    )
    if looks_like_path:
        return spark.read.parquet(source)
    return spark.read.table(source)
