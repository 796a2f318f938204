"""words_in_context_spark — a PySpark-native full-text inverted-index build +
BM25/TF-IDF query engine.

A brand-new, idiomatic-Spark engine with the query and data-processing
capabilities of morehovschi/words-in-context (reference, read-only at
/root/reference): per-document keyword ranking (TF-IDF with name filtering and
sound-description deprioritization), contextual example lookup, incremental /
resumable index builds — generalized to a distributed inverted index
(docID-delta + varbyte postings, per-block max-score metadata, vectorized
exact BM25 top-k) over Common-Crawl-style web-page tables.

Layout
------
- ``textparse``   pure-Python extraction + tokenization (the per-row invariant)
- ``corpus``      deterministic synthetic web-page corpus generator
- ``session``     SparkSession builders tuned for local[N]
- ``operators/``  extract UDTF, posting codec, dedup, similarity, text quality
- ``plans/``      TF-IDF flagship query, BM25 scorer, snippet lookup
- ``index/``      segment build, manifest, resume, merge with head-term salting
- ``streaming/``  incremental (availableNow) index maintenance
"""

__version__ = "0.1.0"
