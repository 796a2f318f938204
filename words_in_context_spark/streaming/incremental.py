"""Incremental index maintenance via Structured Streaming.

Generalizes the reference's incremental build (ST1: skip files already in the
cache, append new ones — /root/reference/extract_words.py:351-357,372-376)
into a streaming pipeline:

    readStream(parquet dir of web pages)
      → trigger(availableNow)                 # batch-incremental execution
      → foreachBatch(merge_docs_into_index)   # exactly-once per micro-batch

Each batch rebuilds the terms it touches with the batch build's own postings
assembly: the touched terms' old segment rows are decoded back to one
posting list per (term, salt) (_decode_live_lists), grouped with the batch's
new postings in ``encode_runs`` and merged by ``merge_runs``
(index/build.py); untouched terms of the affected buckets pass through as
stored rows.

Exactly-once is layered:
  * the file-source checkpoint guarantees each input FILE is processed once;
  * an anti-join against doc_map guarantees each URL is indexed once even if
    re-delivered under a different file name (the reference's cache-key
    semantics, with url as the key);
  * segment rewrites go through the same dynamic-partition-overwrite +
    manifest commit as the batch build.

Global-stats policy: ``avgdl`` is FROZEN at initial-build value (recorded in
stats.json). Merged terms are re-encoded with the frozen avgdl, so block
max-impact metadata remains an exact upper bound for query-time scores; the
true corpus avgdl drifts until a full rebuild — standard search-engine
practice (global stats refresh is periodic maintenance, not per-batch).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..index import manifest as mf
from ..index.build import (
    POSITIONS_READ_SCHEMA,
    POSITIONS_SCHEMA_VERSION,
    SEGMENT_SCHEMA,
    _commit_buckets,
    _salt_boundaries,
    _touch_success,
    bucket_expr,
    encode_runs,
    merge_runs,
    read_tombstone_ids,
)
from ..operators.codec import _row_to_encoded, decode_postings_fast
from ..operators.extract import tokenize, tokenize_tf

PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)

# the (term, salt) posting lists encode_runs takes beside the new postings,
# typed as tokenize_tf emits tf/doc_len so the two union by name
_LISTS_SCHEMA = (
    "term string, salt int, doc_ids array<long>, tfs array<int>, "
    "dls array<int>"
)


def _decode_live_lists(excluded: np.ndarray, n_salts: int):
    """mapInPandas over segment rows → one (term, salt) posting list per
    salt range, minus the sorted ``excluded`` doc_ids: tombstoned ones
    (index/build.delete_docs), purged now because the terms are re-encoded
    anyway — df/metadata come out post-purge for merged terms, untouched
    terms wait for compact_index — and the batch's own, whose old copies the
    new postings replace."""
    boundaries = _salt_boundaries(n_salts)

    def fn(it):
        for pdf in it:
            out = []
            for rec in pdf.to_dict("records"):
                ids, tfs, dls = decode_postings_fast(_row_to_encoded(rec))
                keep = ~np.isin(ids, excluded)
                ids, tfs, dls = ids[keep], tfs[keep], dls[keep]
                cuts = np.r_[0, np.searchsorted(ids, boundaries), ids.size]
                for salt, (a, b) in enumerate(zip(cuts[:-1], cuts[1:])):
                    if b > a:
                        out.append((rec["term"], salt, ids[a:b],
                                    tfs[a:b].astype(np.int32),
                                    dls[a:b].astype(np.int32)))
            if out:
                yield pd.DataFrame(
                    out, columns=["term", "salt", "doc_ids", "tfs", "dls"]
                )

    return fn


def merge_docs_into_index(
    spark: SparkSession, new_docs: DataFrame, index_dir: str
) -> int:
    """Merge a batch of new documents into an existing index. Returns the
    number of genuinely-new documents indexed."""
    stats = mf.read_stats(index_dir)
    avgdl = float(stats["avgdl"])
    n_buckets = int(stats["n_buckets"])
    n_salts = int(stats["n_salts"])
    generation = int(stats.get("generation", 0))
    doc_map_path = mf.data_dir(index_dir, "doc_map", generation)
    seg_path = os.path.join(index_dir, "segments")

    doc_map = spark.read.parquet(doc_map_path)
    # ST1 semantics: index each url exactly once (anti-join the "cache")
    fresh = new_docs.join(doc_map.select("url"), "url", "left_anti")

    tf_new = tokenize_tf(fresh).persist()  # tf aggregated inside the UDF
    new_map = (
        tf_new.groupBy("url")
        .agg(F.max("doc_len").alias("doc_len"))
        .withColumn("doc_id", F.xxhash64(F.col("url")))
        .select("doc_id", "url", "doc_len")
        .persist()
    )
    n_new = new_map.count()
    if n_new == 0:
        # repair pass: a prior attempt that crashed between the doc_map
        # append and write_stats left stats.n_docs stale; doc_map is the
        # source of truth, so reconcile here (cheap count, no-op otherwise)
        true_n = doc_map.count()
        if int(stats["n_docs"]) != int(true_n):
            stats["n_docs"] = int(true_n)
            mf.write_stats(index_dir, stats)
        tf_new.unpersist()
        new_map.unpersist()
        return 0

    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    # doc_id = xxhash64(url) is a pure function and doc_len is already a
    # tokenize_tf output column — projection, not a join (same change as the
    # batch build: the join shuffled the whole new-postings table on url)
    # bucket is not carried into the encode shuffle (recomputed post-merge
    # from the term, same as the batch build)
    postings_in = (
        tf_new.withColumn("doc_id", F.xxhash64(F.col("url")))
        .select("term", "doc_id", "tf", "doc_len")
    )
    affected_buckets = [
        int(r["bucket"])
        for r in postings_in.select(
            bucket_expr(F.col("term"), n_buckets).alias("bucket")
        ).distinct().collect()
    ]
    # explicit schema: serves the structurally-empty index case (every doc
    # deleted + compacted) where the segments dir has no file to infer from
    old = spark.read.schema(SEGMENT_SCHEMA).parquet(seg_path).where(
        F.col("bucket").isin(affected_buckets)
    )
    # untouched terms in affected buckets pass through unchanged; terms with
    # new postings are decoded and re-encoded together with them. Old
    # postings of the batch's own doc_ids are dropped: on a replay they are
    # the copies a crashed attempt wrote, and a new url whose xxhash64 id
    # equals an indexed doc's replaces that doc's postings in these terms
    batch_ids = np.asarray(
        [r["doc_id"] for r in new_map.select("doc_id").collect()],
        dtype=np.int64,
    )
    excluded = np.union1d(read_tombstone_ids(index_dir), batch_ids)
    new_terms = postings_in.select("term").distinct()
    untouched = old.join(new_terms, "term", "left_anti")
    old_lists = old.join(new_terms, "term", "left_semi").mapInPandas(
        _decode_live_lists(excluded, n_salts), _LISTS_SCHEMA
    )
    merged = merge_runs(
        encode_runs(postings_in, avgdl, n_salts, lists=old_lists), n_buckets
    )
    out = untouched.unionByName(merged)
    # term-sorted within each rewritten bucket file, same as the batch build:
    # row-group min/max stats keep pruning term lookups after merges too
    (
        out.repartition("bucket")
        .sortWithinPartitions("bucket", "term")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(seg_path)
    )
    _touch_success(seg_path)

    # Replay-idempotency ordering: doc_map is appended LAST of the data
    # writes — it is the replay gate (the anti-join above), so every earlier
    # write must tolerate a re-run. Segments tolerate it by dropping the old
    # postings of the batch's doc_ids above; positions via the
    # doc_id anti-join below. A crash anywhere before the doc_map append
    # simply re-runs the whole batch; after it, the batch is a no-op whose
    # repair pass fixes stats.

    # positional store (if present) is (doc_id, term, line_ids): new docs
    # only ADD rows — append, no rewrite; anti-join by doc_id so a replayed
    # attempt that already appended them (then crashed before the doc_map
    # append) never duplicates rows
    positions_path = mf.data_dir(index_dir, "positions", generation)
    if os.path.exists(positions_path):
        if int(stats.get("positions_schema", 0)) < POSITIONS_SCHEMA_VERSION:
            # Pre-versioning store: appending v2 rows (with tok_ids) into a
            # v1 store creates a mixed-schema parquet dir whose plain reads
            # sample one footer and silently drop pre-upgrade docs from
            # phrase results. If every existing row already carries tok_ids
            # (tok_ids-era store written before versions existed), stamp the
            # manifest and proceed; otherwise refuse with a rebuild path.
            existing = spark.read.option("mergeSchema", "true").parquet(
                positions_path
            )
            if "tok_ids" not in existing.columns or (
                existing.where(F.col("tok_ids").isNull()).limit(1).count() > 0
            ):
                raise ValueError(
                    f"positional store at {positions_path} predates tok_ids "
                    f"(schema v1); rebuild the index with_positions=True (or "
                    f"backfill tok_ids) before incremental merging — "
                    f"appending would silently corrupt phrase search"
                )
            stats["positions_schema"] = POSITIONS_SCHEMA_VERSION

        already = (
            spark.read.schema(POSITIONS_READ_SCHEMA)
            .parquet(positions_path)
            .select("doc_id")
            .distinct()
        )
        (
            tokenize(fresh)
            .groupBy("url", "term")
            .agg(
                F.array_sort(F.collect_list("line_id")).alias("line_ids"),
                F.array_sort(F.collect_list("tok_idx")).alias("tok_ids"),
            )
            .join(new_map.select("url", "doc_id"), "url")
            .join(already, "doc_id", "left_anti")
            .withColumn("bucket", bucket_expr(F.col("term"), n_buckets))
            .select("bucket", "doc_id", "term", "line_ids", "tok_ids")
            .repartition("bucket")
            .sortWithinPartitions("bucket", "term")
            .write.mode("append")
            .partitionBy("bucket")
            .parquet(positions_path)
        )
        _touch_success(positions_path)

    new_map.write.mode("append").parquet(doc_map_path)

    # refresh manifest metrics for affected buckets + stats (pruned read +
    # on-disk bucket sizes — never re-reads the posting byte columns)
    _commit_buckets(
        index_dir,
        seg_path,
        affected_buckets,
        {"incremental": True, "added_docs": int(n_new)},
    )
    # n_docs from the source of truth (doc_map after the append), never by
    # incrementing the old counter — a replayed batch or repaired crash
    # window would otherwise skew idf permanently
    stats["n_docs"] = int(spark.read.parquet(doc_map_path).count())
    mf.write_stats(index_dir, stats)
    tf_new.unpersist()
    new_map.unpersist()
    return int(n_new)


def incremental_build(
    spark: SparkSession,
    input_dir: str,
    index_dir: str,
    checkpoint_dir: str,
) -> None:
    """Drain all currently-available files from ``input_dir`` into the index
    (trigger availableNow), exactly once per file via the stream checkpoint."""
    stream = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 64)
        .parquet(input_dir)
    )

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        merge_docs_into_index(batch_df.sparkSession, batch_df, index_dir)

    q = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
