"""Distributed inverted-index build: term-bucketed segments of compressed
postings, with explicit head-term skew handling and resumable per-bucket
commits.

Pipeline (generalizes /root/reference/extract_words.py:332-387 ``process_dir``):

  docs(url, text, lang)
    │ (round-robin widened when fewer row-bearing splits than cores)
    │ mapInPandas extract+tokenize+per-doc tf (narrow, NO token shuffle —
    │ the UDTF's output is already the forward index); n_docs/avgdl
    │ observed during the doc_map write (no separate stats job)
  forward(url, doc_id, term, tf, doc_len)  → parquet checkpoint (+ doc_map),
    │ stamped with FORWARD_FORMAT_VERSION (an unstamped one is rebuilt)
    │ encode_runs: groupBy(term, range_salt(doc_id)) collect_list —
    │ SHUFFLE 1, pre-grouped arrays into a mapInPandas encoder (one Arrow
    │ row per encode unit)
  runs(term, salt, encoded run)           ← head-term skew bounded by salt
    │ merge_runs: repartition(cores, term) + sort by (term, salt) —
    │ SHUFFLE 2 of COMPRESSED bytes; one mapInPandas pass cuts each sorted
    │ batch at term boundaries and byte-concatenates a term's runs
  segments(term, bucket, df, cf, doc_bytes, tf_bytes, blocks...)
    │ write partitionBy(bucket), dynamic partition overwrite
  manifest: one JSON commit per bucket (index/manifest.py; metrics from
  parquet footers driver-side — no Spark job)

Skew design (north_rule "explicit salting for head terms"): the salt is a
doc_id RANGE (top bits of the uniform xxhash64 doc id), not a hash — so the
per-salt runs of one term are disjoint, ordered ranges. The merge stage
therefore concatenates encoded runs WITHOUT decoding: block-local deltas make
every block self-contained; only block byte-offsets are rebased. A "the"-type
term at web scale costs S bounded encode tasks + one cheap byte-concat.

doc_id = xxhash64(url): deterministic, shuffle-free assignment. (At 10^12
docs, expect ~3e4 birthday collisions across 2^64 — acceptable for ranking;
a dense-id mode would add a sort. Colliding urls are AGGREGATED per posting
in _encode_unsorted — sum tf, max doc_len — because the codec requires
strictly increasing doc_ids; without that pre-aggregation a collision
between two urls sharing a term would crash the encode task. In an
incremental merge, a new url whose id equals an indexed doc's replaces that
doc's postings in the terms the batch touches.)
"""

from __future__ import annotations

import datetime as dt
import os
import threading
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.codec import (
    EncodedPostings,
    _encoded_to_row,
    _row_to_encoded,
    concat_encoded,
    encode_postings,
)
from ..operators.extract import select_doc_cols, tokenize, tokenize_tf
from . import manifest as mf

# Positional-store schema generations: v1 = (bucket, doc_id, term, line_ids),
# v2 adds tok_ids (doc-local token ordinals for index-backed phrase search).
# Recorded in stats.json so the incremental merge can refuse to append v2
# rows into a v1 store — a mixed-schema parquet directory read without
# mergeSchema infers from a sampled footer and silently drops pre-upgrade
# documents from phrase results.
POSITIONS_SCHEMA_VERSION = 2

# Read schema of the positional store (v2 shape). Used wherever a read must
# also serve a FILE-LESS store (every doc deleted + compacted): explicit
# schemas skip parquet inference, and a pure-v1 store read through this
# schema surfaces tok_ids as all-null — which is exactly what the schema
# gates test for.
POSITIONS_READ_SCHEMA = (
    "bucket int, doc_id long, term string, "
    "line_ids array<int>, tok_ids array<int>"
)

# Forward checkpoint format. A build stamps forward/_FORMAT with this
# version right after the forward write; a forward without the current
# stamp (older layout, or a write that never finished) is treated as absent
# and rebuilt from docs, so resume carries no compatibility branches. Bump
# it whenever FORWARD_SCHEMA or the forward's row kinds change.
# v1: FORWARD_SCHEMA rows plus one (term='', tf=0) marker row per document.
FORWARD_FORMAT_VERSION = 1
FORWARD_SCHEMA = "url string, term string, tf int, doc_len int, doc_id long"

SEGMENT_SCHEMA = (
    "term string, bucket int, df long, cf long, "
    "doc_bytes binary, tf_bytes binary, dl_bytes binary, "
    "first_doc array<long>, last_doc array<long>, n array<int>, "
    "doc_off array<long>, tf_off array<long>, dl_off array<long>, "
    "max_impact array<float>, max_impact_all float"
)

_RUN_SCHEMA = (
    "term string, salt int, df long, cf long, "
    "doc_bytes binary, tf_bytes binary, dl_bytes binary, "
    "first_doc array<long>, last_doc array<long>, n array<int>, "
    "doc_off array<long>, tf_off array<long>, dl_off array<long>, "
    "max_impact array<float>"
)
_RUN_COLS = [f.strip().split()[0] for f in _RUN_SCHEMA.split(",")]
_SEGMENT_COLS = [f.strip().split()[0] for f in SEGMENT_SCHEMA.split(",")]


def range_salt(doc_id_col, n_salts: int):
    """Range-based salt over the full signed-int64 doc-id space: arithmetic
    shift of the top bits plus an offset, so salt order == SIGNED doc-id
    order (the merge stage concatenates runs by salt and relies on this).
    Requires n_salts a power of two."""
    bits = int(n_salts).bit_length() - 1
    assert (1 << bits) == n_salts, "n_salts must be a power of two"
    if n_salts == 1:
        # shiftright by 64 is a mod-64 no-op on the JVM — everything is one range
        return F.lit(0)
    return (
        F.shiftright(doc_id_col.cast("long"), 64 - bits) + (n_salts // 2)
    ).cast("int")


def _encode_unsorted(ids, tfs, dls, avgdl: float) -> EncodedPostings:
    """Sort by doc_id and encode; xxhash64(url) birthday collisions are
    aggregated per doc_id (sum tf, max doc_len) — encode_postings requires
    strictly increasing ids and would otherwise assert out the task."""
    order = np.argsort(ids, kind="mergesort")
    ids, tfs, dls = ids[order], tfs[order], dls[order]
    if ids.size > 1 and (ids[1:] == ids[:-1]).any():
        uniq, inv = np.unique(ids, return_inverse=True)
        tf_agg = np.zeros(uniq.size, dtype=tfs.dtype)
        np.add.at(tf_agg, inv, tfs)
        dl_agg = np.zeros(uniq.size, dtype=dls.dtype)
        np.maximum.at(dl_agg, inv, dls)
        ids, tfs, dls = uniq, tf_agg, dl_agg
    return encode_postings(ids, tfs, dls, avgdl)


def _encode_rows(avgdl: float):
    """mapInPandas encoder over PRE-GROUPED rows — one input row per
    (term, salt) carrying aligned doc_ids/tfs/dls arrays packed by a
    JVM-side collect_list aggregation — emitting one _RUN_SCHEMA row each.
    The Arrow surface transfers one row per encode unit instead of one per
    posting, so the term string crosses it once per run, and no per-group
    sort is needed (the hash aggregate already grouped). Head-term skew stays
    bounded: the aggregation buffers exactly the per-(term, salt) range the
    salt design caps, and Spark's ObjectHashAggregate falls back to
    sort-based aggregation with spill under memory pressure."""

    def fn(it):
        for pdf in it:
            out = []
            for row in pdf.itertuples(index=False):
                enc = _encode_unsorted(
                    np.asarray(row.doc_ids, dtype=np.int64),
                    np.asarray(row.tfs, dtype=np.int64),
                    np.asarray(row.dls, dtype=np.int64),
                    avgdl,
                )
                out.append(
                    {"term": row.term, "salt": int(row.salt),
                     **_encoded_to_row(enc)}
                )
            yield pd.DataFrame(out, columns=_RUN_COLS)

    return fn


def encode_runs(
    postings: DataFrame,
    avgdl: float,
    n_salts: int,
    lists: DataFrame | None = None,
) -> DataFrame:
    """Postings (term, doc_id, tf, doc_len) → one encoded run per
    (term, salt), as _RUN_SCHEMA rows. Shared by the batch build and the
    incremental merge, whose already-indexed postings arrive as ``lists``:
    (term, salt, doc_ids, tfs, dls) rows grouped in the decode kernel, so
    they cross the shuffle as arrays rather than one row per posting."""
    salted = postings.withColumn("salt", range_salt(F.col("doc_id"), n_salts))
    # one struct list per group, split back into aligned plain arrays
    # JVM-side (a single aggregate guarantees alignment; three parallel
    # collect_lists would not contractually)
    if lists is None:
        grouped = (
            salted.groupBy("term", "salt")
            .agg(
                F.collect_list(F.struct("doc_id", "tf", "doc_len")).alias("ps")
            )
            .select(
                "term",
                "salt",
                F.col("ps.doc_id").alias("doc_ids"),
                F.col("ps.tf").alias("tfs"),
                F.col("ps.doc_len").alias("dls"),
            )
        )
    else:
        grouped = (
            salted.select(
                "term",
                "salt",
                F.array("doc_id").alias("doc_ids"),
                F.array("tf").alias("tfs"),
                F.array("doc_len").alias("dls"),
            )
            .unionByName(lists)
            .groupBy("term", "salt")
            .agg(F.collect_list(F.struct("doc_ids", "tfs", "dls")).alias("ps"))
            .select(
                "term",
                "salt",
                F.flatten("ps.doc_ids").alias("doc_ids"),
                F.flatten("ps.tfs").alias("tfs"),
                F.flatten("ps.dls").alias("dls"),
            )
        )
    return grouped.mapInPandas(_encode_rows(avgdl), schema=_RUN_SCHEMA)


def _merge_sorted_runs(n_buckets: int):
    """mapInPandas merge over runs sorted by (term, salt) within each
    partition: every term's runs are one contiguous slice, found with
    ``np.flatnonzero`` on the term column, so per-term work is a slice plus
    ``concat_encoded`` over that slice's records — no per-term pandas call.
    The last term of a batch may continue in the next one, so its records
    are carried over."""

    def merged(recs: list[dict]) -> dict:
        enc = concat_encoded([_row_to_encoded(r) for r in recs])
        return segment_row(recs[0]["term"], n_buckets, enc)

    def fn(it):
        carry: list[dict] = []
        for pdf in it:
            recs = carry + pdf.to_dict("records")
            if not recs:
                continue
            terms = np.asarray([r["term"] for r in recs], dtype=object)
            starts = np.flatnonzero(np.r_[True, terms[1:] != terms[:-1]])
            carry = recs[starts[-1]:]
            rows = [merged(recs[s:e]) for s, e in zip(starts, starts[1:])]
            if rows:
                yield pd.DataFrame(rows, columns=_SEGMENT_COLS)
        if carry:
            yield pd.DataFrame([merged(carry)], columns=_SEGMENT_COLS)

    return fn


def merge_runs(runs: DataFrame, n_buckets: int) -> DataFrame:
    """Encoded runs → one SEGMENT_SCHEMA row per term. The shuffle has an
    explicit partition count (one per core) so AQE cannot coalesce the
    Python merge stage into a single task."""
    par = runs.sparkSession.sparkContext.defaultParallelism
    return (
        runs.repartition(par, "term")
        .sortWithinPartitions("term", "salt")
        .mapInPandas(_merge_sorted_runs(n_buckets), schema=SEGMENT_SCHEMA)
    )


def _salt_boundaries(n_salts: int) -> np.ndarray:
    """Doc-id range boundaries of the build's salt layout (n_salts-1 cut
    points over the signed int64 space; empty for n_salts == 1)."""
    bits = int(n_salts).bit_length() - 1
    return np.asarray(
        [(s - n_salts // 2) << (64 - bits) for s in range(1, n_salts)],
        dtype=np.int64,
    )


def encode_salt_aligned(ids, tfs, dls, avgdl: float, boundaries: np.ndarray):
    """Encode sorted postings with each salt range as its OWN run, runs
    byte-concatenated — no block straddles a range boundary, the invariant
    query_topk's distributed range slicing depends on (the batch build gets
    it from per-(term, salt) encode tasks; re-encoders — incremental merge,
    tombstone purge — get it here)."""
    cuts = np.searchsorted(ids, boundaries)
    runs = []
    prev = 0
    for c in list(cuts) + [ids.size]:
        if c > prev:
            runs.append(
                encode_postings(ids[prev:c], tfs[prev:c], dls[prev:c], avgdl)
            )
        prev = c
    return concat_encoded(runs)


def segment_row(term: str, n_buckets: int, enc: EncodedPostings) -> dict:
    """An EncodedPostings as a SEGMENT_SCHEMA row dict."""
    return {
        "term": term,
        "bucket": _py_bucket(term, n_buckets),
        **_encoded_to_row(enc),
        "max_impact_all": float(enc.max_impact.max()),
    }


def _py_bucket(term: str, n_buckets: int) -> int:
    """Python twin of the bucket expression — crc32-based so both sides agree
    without a JVM call."""
    import zlib

    return zlib.crc32(term.encode("utf-8")) % n_buckets


def bucket_expr(term_col, n_buckets: int):
    return (F.crc32(term_col.cast("binary")) % n_buckets).cast("int")


@dataclass
class BuildResult:
    index_dir: str
    n_docs: int
    avgdl: float
    built_buckets: list[int]
    skipped_buckets: list[int]
    # wall seconds per build phase (forward tokenize+write, segments
    # encode+merge+commit) — scaling-bench attribution telemetry; phases a
    # resume skipped are absent
    phase_seconds: dict = field(default_factory=dict)


# physical operators that neither move nor merge rows: a plan made only of
# these over parquet scans yields at most one row-bearing split per row group
_NARROW_OPS = frozenset({
    "WholeStageCodegenExec", "ColumnarToRowExec", "InputAdapter",
    "ProjectExec", "FilterExec", "UnionExec",
})


def _row_splits(docs: DataFrame) -> int:
    """How many of ``docs``' partitions can hold rows. For a narrow plan over
    parquet file scans that is at most the input files' total row-group
    count (footers read driver-side, only when there are fewer files than
    partitions); for any other input (in-memory, already shuffled) every
    partition counts."""
    import pyarrow.parquet as pq
    from urllib.parse import unquote, urlparse

    n = docs.rdd.getNumPartitions()
    stack = [docs._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        kind = node.getClass().getSimpleName()
        if kind == "FileSourceScanExec":
            if not node.nodeName().startswith("Scan parquet"):
                return n
        elif kind not in _NARROW_OPS:
            return n
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    files = [urlparse(f) for f in docs.inputFiles()]
    if len(files) >= n or any(f.scheme not in ("", "file") for f in files):
        return n
    return min(n, sum(
        pq.read_metadata(unquote(f.path)).num_row_groups for f in files
    ))


def _widened(docs: DataFrame, par: int) -> DataFrame:
    """``docs`` as the tokenizer should read it: unchanged when at least
    ``par`` of its splits hold rows, else its pruned tokenizer columns
    round-robined over ``2 * par`` partitions (one exchange)."""
    if _row_splits(docs) >= par:
        return docs
    return select_doc_cols(docs).repartition(2 * par)


def build_index(
    spark: SparkSession,
    docs: DataFrame,
    index_dir: str,
    n_buckets: int = 32,
    n_salts: int = 8,
    overwrite: bool = False,
    tokens: DataFrame | None = None,
    with_positions: bool = False,
    lemmatizer=None,
    avgdl_override: float | None = None,
) -> BuildResult:
    """Build (or resume) the inverted index for ``docs`` at ``index_dir``.

    Resume semantics: buckets already committed in the manifest are not
    rebuilt (left-anti against the manifest, ST1); doc stats are rebuilt only
    when absent. Kill-and-rerun converges to the identical index
    (tested in tests/test_index_build.py). The forward checkpoint is reused
    only when it carries the current ``FORWARD_FORMAT_VERSION`` stamp; any
    other forward is rebuilt from ``docs``.

    ``with_positions=True`` additionally writes the positional store —
    (doc_id, term, line_ids sorted-with-duplicates) — the exact analog of the
    reference's ``wsid`` posting lists (extract_words.py:195-196,222-228),
    bucketed like the segments for pruned occurrence lookups.
    """
    if overwrite:
        mf.clear(index_dir)
    os.makedirs(index_dir, exist_ok=True)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    # Bound the shuffle straggler tail of the encode shuffle (the
    # groupBy(term, salt) aggregate) and the bucket write's repartition; the
    # run merge sets its own partition count (merge_runs). With exactly one
    # task per slot the longest (term, salt) group — a head term — parks its
    # whole wave on one straggler. 4× finer tasks cap that tail at ~25% of a
    # wave; AQE coalesces anything oversized.
    # Restored on exit: interactive queries measurably prefer coarser tasks.
    prev_shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        str(max(int(prev_shuffle), 4 * spark.sparkContext.defaultParallelism)),
    )
    # AQE's 64MB advisory coalesces the build's modest encode shuffle below
    # the core count (measured: ~150MB shuffle -> 2-3 post-coalesce tasks on
    # 8 slots; 8MB advisory recovered ~20% of the encode+merge stage wall).
    # Restored on exit — interactive queries keep the session default.
    prev_advisory = spark.conf.get(
        "spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB"
    )
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8MB")
    # The tokenize stage is the build's Python-heavy map: its parallelism is
    # the number of INPUT splits that hold rows, which can be far below the
    # partition count: parquet reads a row group in the split holding its
    # midpoint, so one small file with one row group is read as several
    # splits of which only one has rows (measured: a 5k-doc single-file
    # corpus tokenized by 1 of 4 tasks). When those splits can't feed every
    # slot (``_row_splits``), widen with one round-robin exchange over the
    # pruned (url, text, lang[, html]) columns; at web scale row groups
    # outnumber slots and this no-ops. Checked only when tokenize will
    # actually run: a fresh forward build, OR a with_positions resume whose
    # positions store is missing (forward present but tokenize(docs) still
    # runs for the positional pass). A pure forward resume must not touch
    # (or even plan over) the docs input.
    par = spark.sparkContext.defaultParallelism
    fresh_forward = not _forward_current(os.path.join(index_dir, "forward"))
    will_tokenize = fresh_forward or (
        with_positions and not _exists(mf.data_dir(index_dir, "positions"))
    )
    if will_tokenize:
        docs = _widened(docs, par)
    try:
        return _build_index_inner(
            spark, docs, index_dir, n_buckets, n_salts,
            tokens, with_positions, lemmatizer, avgdl_override,
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_shuffle)
        spark.conf.set(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes", prev_advisory
        )


def _build_index_inner(
    spark: SparkSession,
    docs: DataFrame,
    index_dir: str,
    n_buckets: int,
    n_salts: int,
    tokens: DataFrame | None,
    with_positions: bool,
    lemmatizer,
    avgdl_override: float | None = None,
) -> BuildResult:

    tok_name = "wics-v1" if lemmatizer is None else (
        f"wics-v1+{getattr(lemmatizer, '__name__', lemmatizer)}"
    )
    # resume into a previously-compacted index: honor its committed
    # generation pointer so the stores being appended/read are the live ones
    try:
        generation = int(mf.read_stats(index_dir).get("generation", 0))
    except FileNotFoundError:
        generation = 0
    doc_map_path = mf.data_dir(index_dir, "doc_map", generation)
    forward_path = os.path.join(index_dir, "forward")

    # The forward index (url, term, tf, doc_len) is aggregated INSIDE the
    # extract UDTF (textparse_vec.tf_batch) — raw token rows are never
    # shuffled, the map output IS the forward index. It is materialized to
    # parquet once: the scratch parquet doubles as a resume checkpoint and
    # as the engine's term-doc matrix artifact, and both downstream passes
    # (doc stats, postings) read it instead of re-tokenizing.
    from pyspark.sql import Observation

    n_docs = avgdl = None
    phases: dict = {}
    fresh_forward = not _forward_current(forward_path)
    if fresh_forward:
        if tokens is None:
            # doc_markers: one (term='', tf=0) row per document lets this
            # single write pass ALSO carry the corpus stats (observed below)
            # and the doc_map content (marker-scan later) — the separate
            # groupBy-doc_map job the build used to run was pure fixed
            # orchestration floor, paid at every parallelism level
            fwd = tokenize_tf(docs, lemmatizer=lemmatizer, doc_markers=True)
        else:
            # int casts: the forward re-read below uses an explicit
            # 'tf int, doc_len int' schema (matching tokenize_tf's Arrow
            # output); count(*)/window-sum are INT64 and parquet's vectorized
            # reader refuses INT64→int32, so a fresh tokens= build would
            # crash at the segments scan without them (round-6 advice #2)
            base_fwd = (
                tokens.groupBy("url", "term")
                .agg(F.count("*").cast("int").alias("tf"))
                .withColumn(
                    "doc_len",
                    F.sum("tf").over(
                        __import__("pyspark").sql.Window.partitionBy("url")
                    ).cast("int"),
                )
                .select("url", "term", "tf", "doc_len")
            )
            markers = base_fwd.select("url", "doc_len").distinct().select(
                "url", F.lit("").alias("term"),
                F.lit(0).alias("tf"), "doc_len",
            )
            fwd = base_fwd.unionByName(
                markers.select("url", "term", "tf", "doc_len")
            )
        # persist doc_id alongside: the segments scan then prunes the url
        # string column entirely (8 fixed bytes on disk buy a url-free
        # scan; computed JVM-side during this write pass)
        fwd = fwd.withColumn("doc_id", F.xxhash64(F.col("url")))
        # N and avgdl observed DURING the forward write — from here the
        # segments job has everything it needs, so doc_map drops off the
        # build's critical path entirely (written concurrently below)
        obs = Observation()
        fwd = fwd.observe(
            obs,
            F.sum(
                F.when(F.col("term") == "", 1).otherwise(0)
            ).alias("n_docs"),
            F.sum(
                F.when(F.col("term") == "", F.col("doc_len"))
            ).alias("len_sum"),
        )
        t_fwd = time.time()
        fwd.write.mode("overwrite").parquet(forward_path)
        phases["forward_s"] = round(time.time() - t_fwd, 2)
        _stamp_forward(forward_path)
        got = obs.get
        n_docs = int(got["n_docs"])
        avgdl = float(got["len_sum"]) / max(n_docs, 1)
    # explicit schema: skips the footer schema-inference job (the stamp
    # guarantees the layout)
    forward = spark.read.schema(FORWARD_SCHEMA).parquet(forward_path)

    # ---- doc stats + doc_map (A4/A7): built once, reused on resume ---------
    doc_map_thread = None
    doc_map_errs: list[BaseException] = []
    if not _exists(doc_map_path):
        # doc_map IS the marker rows: a narrow pushdown scan-and-write, no
        # shuffle. Overlapped with the segments job in a thread (Spark
        # schedules concurrent jobs from separate driver threads); joined
        # before positions/stats — resume recomputes whichever of
        # doc_map/segments a crash left missing, so the commit order between
        # them is free.
        doc_map_src = forward.where(F.col("term") == "").select(
            "doc_id", "url", "doc_len"
        )
        if n_docs is None:
            # resume over a current forward: stats from its marker rows
            n_docs, avgdl = doc_map_src.agg(
                F.count("*"), F.avg("doc_len")
            ).collect()[0]

        def _write_doc_map() -> None:
            try:
                doc_map_src.write.mode("overwrite").parquet(doc_map_path)
            except BaseException as e:  # noqa: BLE001 — re-raised on join
                doc_map_errs.append(e)

        doc_map_thread = threading.Thread(
            target=_write_doc_map, name="wics-doc-map-write", daemon=True
        )
        doc_map_thread.start()
    if n_docs is None:
        n_docs, avgdl = spark.read.parquet(doc_map_path).agg(
            F.count("*"), F.avg("doc_len")
        ).collect()[0]
    avgdl = float(avgdl)
    if avgdl_override is not None:
        # rebuild with PINNED global stats — the frozen-avgdl maintenance
        # policy (streaming/incremental.py module docstring): a rebuild over
        # a pruned corpus (e.g. post-deletion) stays score-comparable with
        # the incremental index it replaces
        avgdl = float(avgdl_override)

    done = set(mf.completed_buckets(index_dir))
    todo = [b for b in range(n_buckets) if b not in done]
    if todo:
        # doc_id = xxhash64(url) is a PURE FUNCTION and doc_len is already a
        # forward-index column, so attaching them is a projection — the
        # historical forward ⋈ doc_map join here shuffled the entire
        # forward table on url for values derivable in place (measured: the
        # encode+merge stage ladder at 2→8 cores improves, and a full
        # shuffle of the fact table disappears from the plan).
        # The forward persists doc_id, so this scan doesn't even read the
        # url strings.
        base = forward.where(
            # doc-marker rows (term='') are doc_map/stats content, not
            # postings; the predicate pushes to the parquet scan
            F.col("term") != ""
        ).withColumn("bucket", bucket_expr(F.col("term"), n_buckets)).where(
            F.col("bucket").isin(todo)  # resume: only missing buckets
        )
        runs = encode_runs(
            base.select("term", "doc_id", "tf", "doc_len"), avgdl, n_salts
        )
        t_seg = time.time()
        try:
            (
                merge_runs(runs, n_buckets)
                .repartition("bucket")
                # sort by term within each bucket file: parquet row-group
                # min/max statistics then prune term lookups inside a
                # bucket, not just across buckets (query path pushes term
                # equality to the scan). bucket leads the sort key because
                # partitionBy("bucket") re-sorts by bucket alone unless the
                # rows already are, which would drop a term-only order; the
                # same holds for every bucketed writer below
                .sortWithinPartitions("bucket", "term")
                .write.mode("overwrite")
                .partitionBy("bucket")
                .parquet(os.path.join(index_dir, "segments"))
            )
        except BaseException:
            # a failed segments job must not leave the concurrent doc_map
            # write dangling — a same-session retry would race its own
            # _exists check against this thread's in-flight files
            if doc_map_thread is not None:
                doc_map_thread.join()
            raise
        _touch_success(os.path.join(index_dir, "segments"))
        phases["segments_s"] = round(time.time() - t_seg, 2)
        _commit_buckets(
            index_dir,
            os.path.join(index_dir, "segments"),
            todo,
            {"n_docs": int(n_docs), "n_salts": n_salts, "tokenizer": tok_name},
        )

    # barrier: doc_map must be on disk before the positions join reads it
    # and before stats.json commits the build
    if doc_map_thread is not None:
        doc_map_thread.join()
    if doc_map_errs:
        raise doc_map_errs[0]

    if with_positions:
        positions_path = mf.data_dir(index_dir, "positions", generation)
        stats_extra = {"positions_schema": POSITIONS_SCHEMA_VERSION}
        if not _exists(positions_path):
            doc_map = spark.read.parquet(doc_map_path)
            (
                tokenize(docs, lemmatizer=lemmatizer)
                .groupBy("url", "term")
                .agg(
                    F.array_sort(F.collect_list("line_id")).alias("line_ids"),
                    # doc-local token ordinals: the token-adjacency side of
                    # the store (index-backed phrase queries); line_ids stay
                    # the reference's cue-granular wsid analog
                    F.array_sort(F.collect_list("tok_idx")).alias("tok_ids"),
                )
                .join(doc_map.select("url", "doc_id"), "url")
                .withColumn("bucket", bucket_expr(F.col("term"), n_buckets))
                .select("bucket", "doc_id", "term", "line_ids", "tok_ids")
                .repartition("bucket")
                .sortWithinPartitions("bucket", "term")
                .write.mode("overwrite")
                .partitionBy("bucket")
                .parquet(positions_path)
            )
            _touch_success(positions_path)

    mf.write_stats(
        index_dir,
        {
            "n_docs": int(n_docs),
            "avgdl": avgdl,
            "n_buckets": n_buckets,
            "n_salts": n_salts,
            "built_at": dt.datetime.now(dt.timezone.utc).isoformat(),
            "tokenizer": tok_name,
            "generation": generation,
            **(stats_extra if with_positions else {}),
        },
    )
    return BuildResult(
        index_dir, int(n_docs), avgdl, todo, sorted(done), phases
    )


def _exists(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def _forward_current(forward_path: str) -> bool:
    """True iff the forward checkpoint carries the current format stamp."""
    try:
        with open(os.path.join(forward_path, "_FORMAT")) as fh:
            return fh.read().strip() == str(FORWARD_FORMAT_VERSION)
    except OSError:
        return False


def _stamp_forward(forward_path: str) -> None:
    with open(os.path.join(forward_path, "_FORMAT"), "w") as fh:
        fh.write(f"{FORWARD_FORMAT_VERSION}\n")


def _touch_success(path: str) -> None:
    """Partitioned writes under partitionOverwriteMode=dynamic do NOT emit a
    root _SUCCESS marker (Spark commits per-partition via staging). The
    write() call returning IS the commit, so stamp the marker explicitly —
    resume checks (_exists) and compaction migration depend on it. (Caught
    live: a freshly-built positions store had no marker, so compaction
    skipped migrating it and the generation GC deleted it.)"""
    open(os.path.join(path, "_SUCCESS"), "a").close()


def tombstones_path(index_dir: str) -> str:
    return os.path.join(index_dir, "tombstones")


def read_tombstone_ids(index_dir: str) -> np.ndarray:
    """Sorted unique tombstoned doc_ids (empty array when none). Driver-side
    pyarrow read, no Spark job: the deleted-docs set is small relative to
    the corpus and ships inside query plans/closures the way the ANN
    centroid literals do; if it ever grows large, run compact_index — the
    physical purge empties it."""
    path = tombstones_path(index_dir)
    if not os.path.isdir(path) or not os.listdir(path):
        return np.empty(0, dtype=np.int64)
    import pyarrow.dataset as ds

    tbl = ds.dataset(path, format="parquet").to_table(columns=["doc_id"])
    if tbl.num_rows == 0:
        return np.empty(0, dtype=np.int64)
    return np.unique(
        tbl.column("doc_id").to_numpy(zero_copy_only=False).astype(np.int64)
    )


def delete_docs(spark: SparkSession, index_dir: str, urls) -> int:
    """Logically delete documents by url (takedowns, re-crawl removals,
    dedup-driven drops — the operations the reference's append-only cache
    cannot express, extract_words.py:372-385). Lucene-style deleted-docs
    model: this appends (doc_id, url) tombstones — queries exclude them
    immediately (IndexHandle.tombstones → the top-k kernels' ``excluded``
    set, anti-joins on the DataFrame paths) and ``compact_index`` performs
    the physical purge (segments decode-filter-re-encode, doc_map/positions
    filtered, tombstones cleared). Idempotent: already-tombstoned and
    unknown urls are no-ops. A deleted url becomes indexable again after
    the next compaction removes it from doc_map (the merge replay gate).
    Returns the number of newly tombstoned documents."""
    stats = mf.read_stats(index_dir)
    generation = int(stats.get("generation", 0))
    doc_map = spark.read.parquet(mf.data_dir(index_dir, "doc_map", generation))
    if isinstance(urls, (list, tuple, set)):
        urls_df = spark.createDataFrame(
            [(u,) for u in sorted(urls)], "url string"
        )
    else:
        urls_df = urls.select("url")
    hit = doc_map.join(urls_df.distinct(), "url", "left_semi").select(
        "doc_id", "url"
    )
    path = tombstones_path(index_dir)
    if os.path.isdir(path) and os.listdir(path):
        hit = hit.join(
            spark.read.parquet(path).select("doc_id"), "doc_id", "left_anti"
        )
    hit = hit.persist()
    n = hit.count()
    if n:
        hit.write.mode("append").parquet(path)
    hit.unpersist()
    return int(n)


def _drop_tombstoned_postings(
    avgdl: float, n_buckets: int, n_salts: int, excluded: np.ndarray
):
    """mapInPandas over segment rows (compaction's physical purge): rows
    whose block [first_doc, last_doc] ranges cannot contain an excluded id
    pass through byte-identical (no decode); affected rows decode, mask, and
    re-encode salt-range aligned with the FROZEN avgdl, recomputing df/cf
    and block max-impact metadata; terms whose postings all vanish drop."""
    from ..operators.codec import decode_postings

    boundaries = _salt_boundaries(n_salts)

    def fn(it):
        for pdf in it:
            rows = []
            for rec in pdf.to_dict("records"):
                first = np.asarray(rec["first_doc"], dtype=np.int64)
                last = np.asarray(rec["last_doc"], dtype=np.int64)
                pos = np.searchsorted(excluded, first, side="left")
                hit = (pos < excluded.size) & (
                    excluded[np.minimum(pos, excluded.size - 1)] <= last
                )
                if not hit.any():
                    rows.append(rec)
                    continue
                ids, tfs, dls = decode_postings(_row_to_encoded(rec))
                keep = ~np.isin(ids, excluded)
                if not keep.any():
                    continue
                enc = encode_salt_aligned(
                    ids[keep], tfs[keep], dls[keep], avgdl, boundaries
                )
                rows.append(segment_row(rec["term"], n_buckets, enc))
            yield pd.DataFrame(rows, columns=_SEGMENT_COLS)

    return fn


def _bucket_metrics(seg_path: str, buckets: list[int]) -> dict[int, dict]:
    """Manifest metrics for the given bucket partitions of the WRITTEN
    segment store. Computed entirely DRIVER-SIDE from parquet metadata and
    the tiny ``df`` column (pyarrow): n_terms comes from row-group counts
    (no data read), n_postings from the df column only — never the posting
    byte columns, which are the store's entire payload. This used to be a
    Spark job; per-build fixed job overhead is exactly what the scaling
    gate's low-parallelism level cannot amortize. ``bytes`` is the actual
    on-disk size of each committed bucket partition — the honest ops
    metric. (On an object-store deployment this seam swaps for a
    metadata-table query — Iceberg keeps these stats in manifests.)"""
    import pyarrow.dataset as pads

    out: dict[int, dict] = {}
    for b in buckets:
        bucket_dir = os.path.join(seg_path, f"bucket={b}")
        if not os.path.isdir(bucket_dir):
            continue
        files = [
            os.path.join(bucket_dir, f)
            for f in os.listdir(bucket_dir)
            if f.endswith(".parquet")
        ]
        if not files:
            continue
        dset = pads.dataset(files, format="parquet")
        tbl = dset.to_table(columns=["df"])
        if tbl.num_rows == 0:
            continue
        disk = sum(
            os.path.getsize(os.path.join(bucket_dir, f))
            for f in os.listdir(bucket_dir)
        )
        out[b] = {
            "n_terms": int(tbl.num_rows),
            "n_postings": int(
                sum(c.sum().as_py() or 0 for c in tbl.column("df").chunks)
            ),
            "bytes": int(disk),
        }
    return out


def _commit_buckets(
    index_dir: str, seg_path: str, buckets: list[int], lineage: dict
) -> None:
    """Manifest commit of the given buckets of the WRITTEN segment store:
    one JSON record each, metrics from _bucket_metrics (zeros for a bucket
    that holds no term), tagged with the writer's ``lineage``."""
    metrics = _bucket_metrics(seg_path, buckets)
    for b in buckets:
        m = metrics.get(b, {})
        mf.commit_bucket(
            index_dir,
            b,
            {
                "n_terms": int(m.get("n_terms", 0)),
                "n_postings": int(m.get("n_postings", 0)),
                "bytes": int(m.get("bytes", 0)),
                "lineage": lineage,
            },
        )


def compact_index(
    spark: SparkSession,
    index_dir: str,
    target_docs_per_file: int = 2_000_000,
) -> dict:
    """Generational compaction of the append-mode stores (ST1 maintenance).

    Every incremental merge APPENDS parquet files to doc_map and (per
    affected bucket) to positions: after N micro-batches a bucket's
    positional data is spread across ~N unsorted files and doc_map across
    N+1 — the classic small-files problem, and lost row-group pruning, at
    web scale. Compaction rewrites both stores as generation g+1
    (positions: one term-sorted file per bucket, restoring min/max pruning;
    doc_map: ~``target_docs_per_file`` rows per file), COMMITS the pointer
    with the atomic stats.json replace, then garbage-collects all older
    generations. A crash before the commit leaves only orphan g+1 dirs that
    the next compaction overwrites; readers resolve paths through the
    committed pointer (manifest.data_dir), so a half-written generation is
    never observable. Reload IndexHandles after compacting (same contract
    as after a merge).

    Segments are NOT compacted here: both the batch build and the
    incremental merge already rewrite affected bucket partitions whole
    (dynamic partition overwrite, term-sorted), so their file count is
    bounded by n_buckets."""
    import shutil

    stats = mf.read_stats(index_dir)
    g = int(stats.get("generation", 0))
    new_g = g + 1
    out = {"generation": new_g}

    # tombstones (delete_docs): compaction is the physical purge point —
    # doc_map/positions rows filtered, affected segment terms decode-filter-
    # re-encoded, tombstones cleared LAST (after the commit), so a crash at
    # any point leaves the logical exclusion active and queries correct
    excluded = read_tombstone_ids(index_dir)
    tomb_df = None
    if excluded.size:
        tomb_df = (
            spark.read.parquet(tombstones_path(index_dir))
            .select("doc_id")
            .distinct()
        )
        out["tombstones_purged"] = int(excluded.size)

    doc_map_src = mf.data_dir(index_dir, "doc_map", g)
    doc_map = spark.read.parquet(doc_map_src)
    if tomb_df is not None:
        doc_map = doc_map.join(F.broadcast(tomb_df), "doc_id", "left_anti")
    n_docs = doc_map.count()
    n_files = max(1, -(-n_docs // target_docs_per_file))
    (
        doc_map.repartition(n_files)
        .write.mode("overwrite")
        .parquet(mf.data_dir(index_dir, "doc_map", new_g))
    )
    out["doc_map_files"] = n_files

    migrated = ["doc_map"]

    pos_src = mf.data_dir(index_dir, "positions", g)
    # migrate by DIRECTORY presence, not the _SUCCESS marker: dynamic
    # partition overwrite commits without a root marker (now stamped by
    # _touch_success at every writer, but indexes built before the stamp
    # exist) — and a store that is not migrated must NEVER be GC'd.
    if os.path.isdir(pos_src) and os.listdir(pos_src):
        import glob as _glob

        pos_dst = mf.data_dir(index_dir, "positions", new_g)
        if not _glob.glob(os.path.join(pos_src, "**", "*.parquet"),
                          recursive=True):
            # structurally-empty store (every doc tombstoned): nothing to
            # rewrite, but the new generation must EXIST for readers
            os.makedirs(pos_dst, exist_ok=True)
            _touch_success(pos_dst)
            out["positions_compacted"] = True
            migrated.append("positions")
            pos_src = None  # handled
    if pos_src is not None and os.path.isdir(pos_src) and os.listdir(pos_src):
        pos_dst = mf.data_dir(index_dir, "positions", new_g)
        # mergeSchema: a pre-versioning MIXED store (v1 files without tok_ids
        # plus later v2 appends — the hazard the merge gate in
        # streaming/incremental.py documents) must not be rewritten from one
        # sampled parquet footer, which would drop or null tok_ids before the
        # GC below deletes the only complete copy. The merged read is
        # lossless for every store shape: pure-v1 keeps its schema, mixed
        # keeps v1 rows as null-tok_ids rows, pure-v2 is unchanged.
        pos_df = spark.read.option("mergeSchema", "true").parquet(pos_src)
        if tomb_df is not None:
            pos_df = pos_df.join(F.broadcast(tomb_df), "doc_id", "left_anti")
        (
            pos_df.repartition("bucket")
            .sortWithinPartitions("bucket", "term")
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(pos_dst)
        )
        # a dynamic-overwrite write of zero rows (all rows tombstoned)
        # creates no directory at all — readers still need one to exist
        os.makedirs(pos_dst, exist_ok=True)
        _touch_success(pos_dst)
        out["positions_compacted"] = True
        migrated.append("positions")
        if int(stats.get("positions_schema", 0)) < POSITIONS_SCHEMA_VERSION:
            # grace upgrade: a store written in the tok_ids era but before
            # stats.json carried the positions_schema key loads as v0 — stamp
            # v2 when every row in fact carries tok_ids, so index-backed
            # phrase search keeps working after compaction of such indexes
            # explicit schema: the rewritten store may be FILE-LESS (purge
            # dropped every positions row) and schema inference would raise;
            # an empty store trivially satisfies the all-rows-stamped check
            if "tok_ids" in pos_df.columns and (
                spark.read.schema(POSITIONS_READ_SCHEMA).parquet(pos_dst)
                .where(F.col("tok_ids").isNull())
                .limit(1)
                .count()
                == 0
            ):
                stats["positions_schema"] = POSITIONS_SCHEMA_VERSION

    if excluded.size:
        # physical purge of the postings: rewrite affected buckets (dynamic
        # partition overwrite, same layout as build/merge); untouched rows
        # pass through without decode via the block-metadata prune. Staged
        # through a temp dir — Spark refuses to overwrite a path it is
        # reading — and any bucket whose every term vanished is dropped
        # manually (dynamic overwrite only rewrites buckets present in the
        # output).
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        seg_path = os.path.join(index_dir, "segments")
        seg = spark.read.schema(SEGMENT_SCHEMA).parquet(seg_path)
        old_buckets = sorted(
            int(r["bucket"]) for r in seg.select("bucket").distinct().collect()
        )
        tmp_seg = os.path.join(index_dir, "segments_compact_tmp")
        shutil.rmtree(tmp_seg, ignore_errors=True)
        seg.mapInPandas(
            _drop_tombstoned_postings(
                float(stats["avgdl"]), int(stats["n_buckets"]),
                int(stats["n_salts"]), excluded,
            ),
            schema=SEGMENT_SCHEMA,
        ).write.mode("overwrite").parquet(tmp_seg)
        new_seg = spark.read.parquet(tmp_seg)
        (
            new_seg.repartition("bucket")
            .sortWithinPartitions("bucket", "term")
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(seg_path)
        )
        _touch_success(seg_path)
        new_buckets = {
            int(r["bucket"])
            for r in new_seg.select("bucket").distinct().collect()
        }
        shutil.rmtree(tmp_seg, ignore_errors=True)
        for b in old_buckets:
            if b not in new_buckets:
                shutil.rmtree(
                    os.path.join(seg_path, f"bucket={b}"), ignore_errors=True
                )
        _commit_buckets(
            index_dir,
            seg_path,
            old_buckets,
            {"compaction": new_g, "tombstones_purged": int(excluded.size)},
        )
        out["segments_purged_buckets"] = len(old_buckets)

    stats["generation"] = new_g
    stats["n_docs"] = int(n_docs)  # post-purge truth (unchanged without
    # tombstones: doc_map is the source of n_docs either way)
    mf.write_stats(index_dir, stats)  # commit point (atomic replace)

    # GC strictly the MIGRATED stores' older generations — deleting a
    # non-migrated name would destroy its only copy
    for name in migrated:
        for old_g in range(new_g):
            p = mf.data_dir(index_dir, name, old_g)
            if os.path.isdir(p):
                shutil.rmtree(p, ignore_errors=True)
    if excluded.size:
        # everything physically purged and committed — the logical exclusion
        # is no longer needed (a crash before this line just leaves it
        # active against already-absent doc_ids: harmless, cleared next time)
        shutil.rmtree(tombstones_path(index_dir), ignore_errors=True)
    return out
