"""Query engine over the built index: exact BM25 top-k over compressed postings.

Two execution paths sharing one kernel (operators/topk.py: ``score_postings``
decodes and scores a term's list, ``topk_scored`` accumulates and takes the
top-k):

* ``query_topk`` — distributed: segment rows for the query terms are read
  with bucket+term pushdown (partition-pruned scan), sliced per doc-id range
  along BLOCK boundaries (zero decode — the build's range-salted layout means
  every term's blocks are already range-ordered), then each range runs the
  whole kernel (``vectorized_topk``) independently inside ``applyInPandas``
  and the global top-k is the merge of per-range top-ks (correct because a
  doc's entire score lives in one range). This is the 1000-executor path:
  ranges scale with n_salts.

* ``query_topk_local`` — driver-side: for interactive/p50-latency use; same
  accumulate/top-k half of the kernel (``topk_scored``). A term's list is
  fetched via a pyarrow pruned read of the handle's segments dataset
  (discovered once per handle), decoded and scored ONCE, and kept on the
  handle score-ready — (doc_ids, idf × bm25_impact) — in a byte-bounded LRU
  cache, so a hot query skips the varbyte decode and the rescoring.
  Tombstones stay a filter after accumulation, so they never enter the cache.

idf = ln(1 + (N - df + 0.5)/(df + 0.5)); N, avgdl from stats.json.
"""

from __future__ import annotations

import glob
import math
import os
from collections import OrderedDict
from dataclasses import dataclass
from functools import cached_property

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.codec import EncodedPostings, _row_to_encoded
from ..operators.topk import (
    brute_force_topk,
    score_postings,
    topk_scored,
    vectorized_topk,
)
from . import manifest as mf
from .build import POSITIONS_READ_SCHEMA, _py_bucket

# Byte bound of a handle's score-ready term cache. An entry is charged its
# arrays (16 B per posting) plus _ENTRY_OVERHEAD, so entries for terms absent
# from the index (stored as None) count against the bound too.
TERM_CACHE_BYTES = 64 << 20
_ENTRY_OVERHEAD = 128

ScoredPart = tuple[np.ndarray, np.ndarray]  # (doc_ids int64, scores float64)


def _charge(part: ScoredPart | None) -> int:
    if part is None:
        return _ENTRY_OVERHEAD
    return part[0].nbytes + part[1].nbytes + _ENTRY_OVERHEAD


class TermScoreCache:
    """Least-recently-used map term → score-ready part, or None for a term
    absent from the index, holding at most TERM_CACHE_BYTES. A part larger
    than the whole bound is not stored. Counters: ``hits``, ``misses``,
    ``evictions`` and ``nbytes`` (resident bytes)."""

    def __init__(self) -> None:
        self._entries: OrderedDict[str, ScoredPart | None] = OrderedDict()
        self.hits = self.misses = self.evictions = self.nbytes = 0

    def get(self, term: str) -> tuple[bool, ScoredPart | None]:
        """(found, part); a hit becomes the most recently used entry."""
        if term not in self._entries:
            self.misses += 1
            return False, None
        self.hits += 1
        self._entries.move_to_end(term)
        return True, self._entries[term]

    def put(self, term: str, part: ScoredPart | None) -> None:
        """Store a missed term's part, evicting least recently used
        entries until the bound holds."""
        size = _charge(part)
        if size > TERM_CACHE_BYTES:
            return
        self._entries[term] = part
        self.nbytes += size
        while self.nbytes > TERM_CACHE_BYTES:
            _, old = self._entries.popitem(last=False)
            self.nbytes -= _charge(old)
            self.evictions += 1

    def clear(self) -> None:
        self._entries.clear()
        self.nbytes = 0


@dataclass
class IndexHandle:
    index_dir: str
    n_docs: int
    avgdl: float
    n_buckets: int
    n_salts: int
    # positional-store generation (0 = none/pre-versioning; 2 = +tok_ids);
    # see index/build.py POSITIONS_SCHEMA_VERSION
    positions_schema: int = 0
    # compaction generation of the append-mode stores (manifest.data_dir)
    generation: int = 0
    # sorted tombstoned doc_ids (delete_docs): every query path excludes
    # them until compact_index physically purges; loaded at handle creation
    tombstones: np.ndarray | None = None

    def __post_init__(self) -> None:
        # hot-postings cache for the interactive path: term → score-ready
        # (doc_ids, idf × bm25_impact), None = term absent from the index.
        # Scores bake in idf(n_live_docs, df), so the cache reflects the
        # index AS OF load_index()/invalidate() — call invalidate() (or
        # re-load_index) after merge_docs_into_index, delete_docs or
        # compact_index touches this index.
        self.cache = TermScoreCache()
        if self.tombstones is None:
            from .build import read_tombstone_ids

            self.tombstones = read_tombstone_ids(self.index_dir)

    def invalidate(self) -> None:
        """Drop cached postings and the segments dataset and reload stats
        and tombstones (after an incremental merge, delete_docs or
        compact_index touched this index)."""
        self.cache.clear()
        self.__dict__.pop("segments_dataset", None)
        for name, value in _stats_fields(self.index_dir).items():
            setattr(self, name, value)
        from .build import read_tombstone_ids

        self.tombstones = read_tombstone_ids(self.index_dir)

    @property
    def n_live_docs(self) -> int:
        """Documents visible to queries: n_docs minus tombstoned. Used for
        idf so scores drift toward the post-purge values immediately (df per
        term still counts tombstoned postings until compaction re-encodes —
        the standard deleted-docs approximation)."""
        return self.n_docs - int(self.tombstones.size)

    def _excluded(self) -> np.ndarray | None:
        return self.tombstones if self.tombstones.size else None

    @property
    def segments_path(self) -> str:
        return os.path.join(self.index_dir, "segments")

    @cached_property
    def segments_dataset(self) -> pyarrow.dataset.Dataset | None:
        """pyarrow dataset over the segment files, listed and discovered on
        the first cache miss (not in load_index) and kept until
        invalidate(); None when the index has no segment file (every doc
        deleted + compacted)."""
        import pyarrow.dataset as ds

        if not glob.glob(os.path.join(self.segments_path, "bucket=*", "*.parquet")):
            return None
        return ds.dataset(self.segments_path, format="parquet", partitioning="hive")

    @property
    def doc_map_path(self) -> str:
        return mf.data_dir(self.index_dir, "doc_map", self.generation)

    @property
    def positions_path(self) -> str:
        return mf.data_dir(self.index_dir, "positions", self.generation)


def _stats_fields(index_dir: str) -> dict:
    """The IndexHandle fields that stats.json holds."""
    stats = mf.read_stats(index_dir)
    return dict(
        n_docs=int(stats["n_docs"]),
        avgdl=float(stats["avgdl"]),
        n_buckets=int(stats["n_buckets"]),
        n_salts=int(stats["n_salts"]),
        positions_schema=int(stats.get("positions_schema", 0)),
        generation=int(stats.get("generation", 0)),
    )


def load_index(index_dir: str) -> IndexHandle:
    return IndexHandle(index_dir=index_dir, **_stats_fields(index_dir))


def idf(n_docs: int, df: int) -> float:
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def _segment_rows(spark: SparkSession, h: IndexHandle, terms: list[str]) -> DataFrame:
    from .build import SEGMENT_SCHEMA

    buckets = sorted({_py_bucket(t, h.n_buckets) for t in terms})
    return (
        # explicit schema: also serves a structurally-empty index (every doc
        # deleted + compacted) instead of failing schema inference
        spark.read.schema(SEGMENT_SCHEMA).parquet(h.segments_path)
        # bucket is the partition column → directory pruning; term is a
        # parquet min/max + dictionary pushdown on the sorted segment files
        .where(F.col("bucket").isin(buckets) & F.col("term").isin(terms))
    )


def _slice_encoded(enc: EncodedPostings, b0: int, b1: int) -> EncodedPostings:
    """Blocks [b0, b1) as a standalone EncodedPostings — byte slicing only."""
    d0 = int(enc.doc_off[b0])
    t0 = int(enc.tf_off[b0])
    l0 = int(enc.dl_off[b0])
    d1 = int(enc.doc_off[b1]) if b1 < enc.first_doc.size else len(enc.doc_bytes)
    t1 = int(enc.tf_off[b1]) if b1 < enc.first_doc.size else len(enc.tf_bytes)
    l1 = int(enc.dl_off[b1]) if b1 < enc.first_doc.size else len(enc.dl_bytes)
    n = enc.n[b0:b1]
    return EncodedPostings(
        df=int(n.sum()),
        cf=0,  # not needed at query time
        doc_bytes=enc.doc_bytes[d0:d1],
        tf_bytes=enc.tf_bytes[t0:t1],
        dl_bytes=enc.dl_bytes[l0:l1],
        first_doc=enc.first_doc[b0:b1],
        last_doc=enc.last_doc[b0:b1],
        n=n,
        doc_off=enc.doc_off[b0:b1] - d0,
        tf_off=enc.tf_off[b0:b1] - t0,
        dl_off=enc.dl_off[b0:b1] - l0,
        max_impact=enc.max_impact[b0:b1],
    )


def _read_segment_rows_arrow(h: IndexHandle, terms: list[str]) -> dict:
    """Driver-side pruned read of segment rows via pyarrow — no Spark job.
    Partition (bucket) dirs are pruned by the dataset filter; term equality
    is pushed to parquet row groups. The handle's dataset is discovered once,
    so a miss pays only the read: a one-term fetch from the 800-doc, 32-bucket
    perfbench ``search`` index takes a median 1.5 ms on a 4-core host, where
    re-listing and re-discovering the files on each miss took 3.0 ms."""
    import pyarrow.dataset as ds

    if not terms or h.segments_dataset is None:
        return {}
    buckets = sorted({_py_bucket(t, h.n_buckets) for t in terms})
    expr = ds.field("bucket").isin(buckets) & ds.field("term").isin(
        list(set(terms))
    )
    tbl = h.segments_dataset.to_table(filter=expr)
    return {rec["term"]: rec for rec in tbl.to_pylist()}


def _collect_lists(h: IndexHandle, terms: list[str]) -> list[ScoredPart]:
    """Score-ready parts of the query terms that the index holds, in
    canonical (sorted) term order. Cache misses are fetched in one pruned
    read, decoded and scored once, and cached."""
    wanted = sorted(set(terms))
    parts: dict[str, ScoredPart | None] = {}
    missing = []
    for t in wanted:
        found, part = h.cache.get(t)
        if found:
            parts[t] = part
        else:
            missing.append(t)
    if missing:
        rows = _read_segment_rows_arrow(h, missing)
        for t in missing:
            part = None
            if t in rows:
                enc = _row_to_encoded(rows[t])
                part = score_postings(enc, idf(h.n_live_docs, enc.df), h.avgdl)
            h.cache.put(t, part)
            parts[t] = part
    return [parts[t] for t in wanted if parts[t] is not None]


def query_terms(text: str, lang: str = "en", lemmatizer=None) -> list[str]:
    """Tokenize a free-text query with the EXACT document tokenizer (same
    normalization, same lemmatizer seam, same ja/zh/ko/th character-bigram
    routing — textparse.cjk_parts), so query terms hit the index's term
    inventory by construction: ``query_terms('東京都', 'ja')`` →
    ``['東京', '京都']``. Pass the result to query_topk / query_topk_local."""
    from ..lemma import get_lemmatizer
    from ..textparse import extract_lines, tokenize_lines

    lem = get_lemmatizer(lemmatizer)
    if lem is not None and hasattr(lem, "for_lang"):
        lem = lem.for_lang(lang or "en")
    doc = tokenize_lines(extract_lines(text), lang=lang or "en", lemmatizer=lem)
    seen: dict[str, None] = {}
    for t in doc.tokens:
        seen.setdefault(t.term)
    return list(seen)


def _check_k(k: int) -> None:
    if k < 0:
        raise ValueError(f"k must be >= 0, got {k}")


def query_topk_local(
    spark: SparkSession, h: IndexHandle, terms: list[str], k: int = 10
) -> list[tuple[int, float]]:
    """Driver-side retrieval (low-latency path): top-k (doc_id, score) by
    score desc, doc_id asc; bit-identical to brute_force_query_local
    (tests/test_topk.py). ``k == 0`` gives ``[]``; ``k < 0`` raises
    ValueError."""
    _check_k(k)
    return topk_scored(_collect_lists(h, terms), k, excluded=h._excluded())


def query_topk(
    spark: SparkSession, h: IndexHandle, terms: list[str], k: int = 10
) -> DataFrame:
    """Distributed retrieval: per doc-id range partial top-k, global merge.
    Returns DataFrame (doc_id long, score double, rank int); ``k == 0``
    gives an empty frame, ``k < 0`` raises ValueError."""
    _check_k(k)
    n_docs, avgdl, n_salts = h.n_live_docs, h.avgdl, h.n_salts
    excluded = h._excluded()  # closure-captured; ships with the tasks
    terms_sorted = sorted(set(terms))
    seg = _segment_rows(spark, h, terms_sorted)

    # range boundaries = the build's salt ranges (signed int64 space)
    bits = n_salts.bit_length() - 1
    if n_salts == 1:
        lows = [-(1 << 63)]
    else:
        lows = [((s - n_salts // 2) << (64 - bits)) for s in range(n_salts)]
    bounds = lows[1:] + [1 << 63]

    df_by_term = {
        r["term"]: int(r["df"])
        for r in seg.select("term", "df").collect()
    }
    idfs = {t: idf(n_docs, df_by_term[t]) for t in terms_sorted if t in df_by_term}
    term_order = {t: i for i, t in enumerate(terms_sorted)}

    def slice_ranges(it):
        for pdf in it:
            out = []
            for rec in pdf.to_dict("records"):
                enc = _row_to_encoded(rec)
                # block index boundaries per salt range (first_doc sorted)
                for s in range(n_salts):
                    lo = lows[s]
                    hi = bounds[s]
                    b0 = int(np.searchsorted(enc.last_doc, lo, side="left"))
                    b1 = int(np.searchsorted(enc.first_doc, hi, side="left"))
                    if b0 >= b1:
                        continue
                    sl = _slice_encoded(enc, b0, b1)
                    out.append(
                        {
                            "range_id": s,
                            "term": rec["term"],
                            # the slice's own posting count: the kernel's
                            # decode reads df as the number of postings
                            "df": sl.df,
                            "cf": sl.cf,
                            "doc_bytes": sl.doc_bytes,
                            "tf_bytes": sl.tf_bytes,
                            "dl_bytes": sl.dl_bytes,
                            "first_doc": sl.first_doc.tolist(),
                            "last_doc": sl.last_doc.tolist(),
                            "n": sl.n.tolist(),
                            "doc_off": sl.doc_off.tolist(),
                            "tf_off": sl.tf_off.tolist(),
                            "dl_off": sl.dl_off.tolist(),
                            "max_impact": sl.max_impact.tolist(),
                        }
                    )
            yield pd.DataFrame(
                out,
                columns=[
                    "range_id", "term", "df", "cf", "doc_bytes", "tf_bytes",
                    "dl_bytes", "first_doc", "last_doc", "n", "doc_off",
                    "tf_off", "dl_off", "max_impact",
                ],
            )

    slice_schema = (
        "range_id int, term string, df long, cf long, "
        "doc_bytes binary, tf_bytes binary, dl_bytes binary, "
        "first_doc array<long>, last_doc array<long>, n array<int>, "
        "doc_off array<long>, tf_off array<long>, dl_off array<long>, "
        "max_impact array<float>"
    )
    slices = seg.mapInPandas(slice_ranges, schema=slice_schema)

    def range_topk(pdf: pd.DataFrame) -> pd.DataFrame:
        recs = sorted(
            pdf.to_dict("records"), key=lambda r: term_order[r["term"]]
        )
        lists = [(_row_to_encoded(rec), idfs[rec["term"]]) for rec in recs]
        top = vectorized_topk(lists, k, avgdl, excluded=excluded)
        return pd.DataFrame(top, columns=["doc_id", "score"])

    partial = slices.groupBy("range_id").applyInPandas(
        range_topk, schema="doc_id long, score double"
    )
    w_ordered = partial.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return w_ordered.withColumn("rank", F.row_number().over(w))


def _without_tombstones(spark: SparkSession, h: IndexHandle, df: DataFrame) -> DataFrame:
    """Anti-join a doc_id DataFrame against the handle's tombstones (no-op
    when none). The deleted set is broadcast — it is small by contract
    (compaction empties it)."""
    if h.tombstones is None or h.tombstones.size == 0:
        return df
    tomb = spark.createDataFrame(
        [(int(d),) for d in h.tombstones], "doc_id long"
    )
    return df.join(F.broadcast(tomb), "doc_id", "left_anti")


def snippet_lookup(
    spark: SparkSession,
    h: IndexHandle,
    lines: DataFrame,
    topk: DataFrame,
) -> DataFrame:
    """J2 (gui.py:757-766): join ranked doc ids back to their source lines via
    the doc_map — the words-in-context example fetch."""
    doc_map = spark.read.parquet(h.doc_map_path)
    # broadcast the k-row topk side, never the corpus-sized doc_map
    return (
        F.broadcast(topk).join(doc_map, "doc_id")
        .join(lines, "url")
        .select("doc_id", "url", "rank", "score", "line_id", "line")
    )


def brute_force_query_local(
    spark: SparkSession, h: IndexHandle, terms: list[str], k: int = 10
) -> list[tuple[int, float]]:
    """Oracle twin of query_topk_local (decode-everything scorer). It fetches
    the encoded lists itself and decodes them with the reference decoder,
    never reading the handle's score-ready cache."""
    wanted = sorted(set(terms))
    rows = _read_segment_rows_arrow(h, wanted)
    encs = [_row_to_encoded(rows[t]) for t in wanted if t in rows]
    lists = [(enc, idf(h.n_live_docs, enc.df)) for enc in encs]
    return brute_force_topk(lists, k, h.avgdl, excluded=h._excluded())


def occurrences(
    spark: SparkSession, h: IndexHandle, doc_ids: list[int], terms: list[str]
) -> DataFrame:
    """Positional lookup (the reference's ``word_occ_ids``,
    extract_words.py:421): per (doc, term), the ordered line/cue indices of
    every occurrence. Requires the index to have been built
    ``with_positions=True``. Bucket-pruned scan, same layout as segments."""
    path = h.positions_path
    buckets = sorted({_py_bucket(t, h.n_buckets) for t in terms})
    return _without_tombstones(
        spark,
        h,
        spark.read.schema(POSITIONS_READ_SCHEMA).parquet(path)
        .where(
            F.col("bucket").isin(buckets)
            & F.col("term").isin(terms)
            & F.col("doc_id").isin([int(d) for d in doc_ids])
        )
        .select("doc_id", "term", "line_ids"),
    )


def cooccurrence_topk(
    spark: SparkSession, h: IndexHandle, terms: list[str], k: int = 10
) -> DataFrame:
    """Same-line co-occurrence retrieval over the positional store: documents
    ranked by the number of lines where ALL query terms appear together —
    the index-backed form of the reference's words-in-context semantics
    (terms sharing a cue). Requires ``with_positions=True`` at build time.

    (doc_id, n_lines, line_ids, rank); ties by doc_id. Pure DataFrame ops:
    pruned positional scan → explode line ids → per-(doc, line) distinct-term
    count → filter count == |terms| → per-doc aggregation → top-k."""
    terms = sorted(set(terms))
    path = h.positions_path
    buckets = sorted({_py_bucket(t, h.n_buckets) for t in terms})
    occ = _without_tombstones(
        spark,
        h,
        spark.read.schema(POSITIONS_READ_SCHEMA).parquet(path)
        .where(F.col("bucket").isin(buckets) & F.col("term").isin(terms))
        .select("doc_id", "term", F.explode("line_ids").alias("line_id"))
        .distinct(),
    )
    lines_with_all = (
        occ.groupBy("doc_id", "line_id")
        .agg(F.countDistinct("term").alias("n_terms"))
        .where(F.col("n_terms") == len(terms))
    )
    per_doc = lines_with_all.groupBy("doc_id").agg(
        F.count("*").alias("n_lines"),
        F.array_sort(F.collect_list("line_id")).alias("line_ids"),
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("n_lines"), F.asc("doc_id"))
    return (
        per_doc.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("doc_id", "n_lines", "line_ids", "rank")
    )


def phrase_matches_index(
    spark: SparkSession, h: IndexHandle, phrase: list[str]
) -> DataFrame:
    """Exact phrase occurrences served FROM the positional store — no
    re-tokenization of the corpus. (doc_id, start_pos) per occurrence, where
    start_pos is the doc-local token ordinal of the phrase's first term
    (``tok_ids`` written at build/merge time; line_ids remain the cue-level
    wsid analog, extract_words.py:195-196).

    Plan: bucket-pruned positional scan per phrase term (term equality pushes
    to the parquet scan), then a chain of doc_id-co-partitioned joins that
    intersects each term's token-position array shifted by its phrase offset
    — per-doc work is array intersection of postings-sized lists, never a
    token-table join. Token ordinals are continuous across cue boundaries,
    matching the SQL-path semantics (operators/phrase.py over posexplode
    positions); equality of the two paths is pinned in tests."""
    if not phrase:
        raise ValueError("empty phrase")
    path = h.positions_path
    if h.positions_schema < 2:
        # Grace check for tok_ids-era stores whose stats.json predates the
        # positions_schema key (loads as 0): if every row in fact carries
        # tok_ids, stamp v2 and proceed — such indexes were valid all along.
        # The hard error stays for genuine v1 stores, where a plain read
        # would silently drop pre-upgrade documents from phrase results.
        from .build import POSITIONS_SCHEMA_VERSION

        probe = spark.read.option("mergeSchema", "true").parquet(path)
        if "tok_ids" in probe.columns and (
            probe.where(F.col("tok_ids").isNull()).limit(1).count() == 0
        ):
            # stamp the IN-MEMORY handle only: a query path must not
            # read-modify-write stats.json (a concurrent merge/compaction
            # updating stats between our read and write would be clobbered
            # by the stale copy). The durable stamp belongs to maintenance
            # ops — compact_index writes it under the atomic replace.
            h.positions_schema = POSITIONS_SCHEMA_VERSION
        else:
            raise ValueError(
                "index positional store predates tok_ids (positions_schema "
                f"{h.positions_schema} < 2); rebuild with_positions=True to "
                "enable index-backed phrase search"
            )
    buckets = sorted({_py_bucket(t, h.n_buckets) for t in set(phrase)})
    pos = _without_tombstones(
        spark,
        h,
        spark.read.schema(POSITIONS_READ_SCHEMA).parquet(path)
        .where(F.col("bucket").isin(buckets) & F.col("term").isin(list(set(phrase))))
        .select("doc_id", "term", "tok_ids"),
    )
    anchor = pos.where(F.col("term") == phrase[0]).select(
        "doc_id", F.col("tok_ids").alias("starts")
    )
    for i, t in enumerate(phrase[1:], start=1):
        nxt = pos.where(F.col("term") == t).select(
            "doc_id",
            F.transform("tok_ids", lambda x: x - i).alias("shifted"),
        )
        anchor = (
            anchor.join(nxt, "doc_id")
            .select(
                "doc_id",
                F.array_intersect("starts", "shifted").alias("starts"),
            )
            .where(F.size("starts") > 0)
        )
    return anchor.select(
        "doc_id", F.explode("starts").alias("start_pos")
    )
