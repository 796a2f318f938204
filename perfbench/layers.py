"""Calls into the engine's layers, each wrapped in a span and timed from
outside. Nothing here reaches into a layer's internals: every call goes
through the function the engine exports for that job."""

from __future__ import annotations

import json
import os
import random
import sys
import time

import numpy as np
import pyarrow.dataset as pads

from words_in_context_spark.index.build import (
    build_index,
    compact_index,
    delete_docs,
)
from words_in_context_spark.index.query import (
    brute_force_query_local,
    load_index,
    query_topk_local,
)
from words_in_context_spark.operators.codec import (
    EncodedPostings,
    decode_postings_fast,
)
from words_in_context_spark.operators.extract import tokenize_tf
from words_in_context_spark.streaming.incremental import merge_docs_into_index

from . import inputs

N_BUCKETS = 32
N_SALTS = 8

_CAL_DATA = np.random.default_rng(0).random(20_000)


def calibrate(n: int) -> list[float]:
    """Durations (s) of ``n`` runs of a fixed single-threaded CPU task
    (interpreted loop + numpy sort, ~0.3 ms): the host's speed at the time.
    A shared host's speed swings by tens of percent from one second to the
    next; a sample taken between two engine calls tells such a swing apart
    from a change in the engine."""
    out = []
    for _ in range(n):
        t0 = time.perf_counter()
        acc = 0
        for i in range(2_000):
            acc += i * i % 7
        np.sort(_CAL_DATA)
        out.append(time.perf_counter() - t0)
    return out


def noop(df) -> None:
    """Run a DataFrame to completion without collecting it."""
    df.write.mode("overwrite").format("noop").save()


# ---------------------------------------------------------------------------
# index build + on-disk shape
# ---------------------------------------------------------------------------


def build(run, corpus_dir: str, index_dir: str):
    """One fresh ``build_index`` over a materialised pages corpus. Returns
    (wall seconds, BuildResult)."""
    docs = run.spark.read.parquet(corpus_dir)
    with run.tracer.span("build_index", "build") as sp:
        t0 = time.perf_counter()
        res = build_index(run.spark, docs, index_dir, n_buckets=N_BUCKETS,
                          n_salts=N_SALTS)
        wall = time.perf_counter() - t0
    if sp is not None:
        sp.attrs["phase_seconds"] = dict(res.phase_seconds)
    return wall, res


def _files(path: str) -> list[str]:
    out = []
    for root, _dirs, files in os.walk(path):
        out += [os.path.join(root, f) for f in files
                if not f.startswith(".") and not f.endswith(".crc")]
    return out


def index_shape(index_dir: str) -> dict:
    """Sizes and counts of a written index, read from the files."""
    seg = os.path.join(index_dir, "segments")
    seg_files = [f for f in _files(seg) if f.endswith(".parquet")]
    tbl = pads.dataset(seg_files, format="parquet").to_table(columns=["df"])
    return {
        "segment_bytes": sum(os.path.getsize(f) for f in seg_files),
        "forward_bytes": sum(os.path.getsize(f) for f in _files(
            os.path.join(index_dir, "forward"))),
        "files": len([f for f in _files(index_dir)
                      if f.endswith(".parquet")]),
        "terms": tbl.num_rows,
        "postings": int(np.asarray(tbl.column("df")).sum()),
    }


def check_build(index_dir: str, n_docs: int) -> list[str]:
    """Errors in a fresh build: stats.json n_docs must equal the corpus
    rows, and the segments' df sum must equal the forward table's posting
    rows (its per-document marker rows have term '')."""
    errs = []
    with open(os.path.join(index_dir, "stats.json")) as f:
        stats = json.load(f)
    if int(stats["n_docs"]) != n_docs:
        errs.append(f"stats n_docs {stats['n_docs']} != corpus rows {n_docs}")
    fwd = pads.dataset(
        [f for f in _files(os.path.join(index_dir, "forward"))
         if f.endswith(".parquet")], format="parquet").to_table(
        columns=["term"])
    fwd_rows = int(np.sum(np.asarray(fwd.column("term")) != ""))
    postings = index_shape(index_dir)["postings"]
    if postings != fwd_rows:
        errs.append(f"segment df sum {postings} != forward rows {fwd_rows}")
    return errs


# ---------------------------------------------------------------------------
# tokenize
# ---------------------------------------------------------------------------


def tokenize(run, corpus_dir: str) -> float:
    """``tokenize_tf`` over the corpus into a noop sink; returns wall s."""
    docs = run.spark.read.parquet(corpus_dir)
    par = run.spark.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < par:
        # the same widening build_index applies before it tokenizes
        docs = docs.repartition(2 * par)
    with run.tracer.span("tokenize_tf", "tokenize"):
        t0 = time.perf_counter()
        noop(tokenize_tf(docs))
        return time.perf_counter() - t0


# ---------------------------------------------------------------------------
# codec
# ---------------------------------------------------------------------------

_ENC_COLS = ["df", "cf", "doc_bytes", "tf_bytes", "dl_bytes", "first_doc",
             "last_doc", "n", "doc_off", "tf_off", "dl_off", "max_impact"]


def decode_all(run, index_dir: str) -> dict:
    """Decode every segment row with ``decode_postings_fast``; time only
    the decode calls."""
    seg_files = [f for f in _files(os.path.join(index_dir, "segments"))
                 if f.endswith(".parquet")]
    rows = pads.dataset(seg_files, format="parquet").to_table(
        columns=_ENC_COLS).to_pylist()
    encs = [EncodedPostings(
        df=int(r["df"]), cf=int(r["cf"]), doc_bytes=bytes(r["doc_bytes"]),
        tf_bytes=bytes(r["tf_bytes"]), dl_bytes=bytes(r["dl_bytes"]),
        first_doc=np.asarray(r["first_doc"], dtype=np.int64),
        last_doc=np.asarray(r["last_doc"], dtype=np.int64),
        n=np.asarray(r["n"], dtype=np.int32),
        doc_off=np.asarray(r["doc_off"], dtype=np.int64),
        tf_off=np.asarray(r["tf_off"], dtype=np.int64),
        dl_off=np.asarray(r["dl_off"], dtype=np.int64),
        max_impact=np.asarray(r["max_impact"], dtype=np.float32),
    ) for r in rows]
    postings = sum(e.df for e in encs)
    nbytes = sum(len(e.doc_bytes) + len(e.tf_bytes) + len(e.dl_bytes)
                 for e in encs)
    with run.tracer.span("decode_postings_fast", "codec"):
        t0 = time.perf_counter()
        decoded = 0
        for e in encs:
            decoded += decode_postings_fast(e)[0].size
        wall = time.perf_counter() - t0
    return {"postings": postings, "decoded": decoded, "bytes": nbytes,
            "wall_s": wall}


# ---------------------------------------------------------------------------
# query + top-k
# ---------------------------------------------------------------------------


def index_terms(index_dir: str) -> dict[str, int]:
    """term -> df of a written index (pyarrow, no Spark job)."""
    seg_files = [f for f in _files(os.path.join(index_dir, "segments"))
                 if f.endswith(".parquet")]
    tbl = pads.dataset(seg_files, format="parquet").to_table(
        columns=["term", "df"])
    return dict(zip(tbl.column("term").to_pylist(),
                    tbl.column("df").to_pylist()))


def probe_queries(seed: int, term_df: dict[str, int], n: int) -> list[list[str]]:
    """Queries over an index's own vocabulary: one term from the rarer half
    plus one or two from the 20 most frequent."""
    rng = random.Random(inputs.sub_seed(seed, "queries"))
    by_df = sorted(term_df, key=lambda t: (-term_df[t], t))
    head, rare = by_df[:20], by_df[len(by_df) // 2:] or by_df
    return [[rng.choice(rare)] + rng.sample(head, min(len(head),
                                                      rng.randint(1, 2)))
            for _ in range(n)]


def load(run, index_dir: str):
    with run.tracer.span("load_index", "query"):
        t0 = time.perf_counter()
        h = load_index(index_dir)
        return h, time.perf_counter() - t0


def run_queries(run, h, queries: list[list[str]], hot_repeat: bool = False,
                name: str = "query_topk_local"):
    """Closed loop, one client: issue ``queries`` in order. Returns
    (latencies s, results, hot-repeat latencies s).

    ``hot_repeat`` re-issues each query right after it, outside the
    latency list: the difference to the first issue is the fetch cost of
    the terms that first issue pulled into the term cache."""
    lat, res, rep = [], [], []
    for q in queries:
        with run.tracer.span(name, "query"):
            t0 = time.perf_counter()
            out = query_topk_local(run.spark, h, q, k=10)
            lat.append(time.perf_counter() - t0)
        res.append(out)
        if hot_repeat:
            t0 = time.perf_counter()
            query_topk_local(run.spark, h, q, k=10)
            rep.append(time.perf_counter() - t0)
    return lat, res, rep


def check_queries(run, index_dir: str, queries: list[list[str]],
                  results: list) -> int:
    """Compare each result with ``brute_force_query_local`` on an
    independently loaded handle: doc ids and scores must be identical.
    Returns the number of mismatching queries."""
    h = load_index(index_dir)
    memo: dict[tuple, list] = {}
    bad = 0
    for q, got in zip(queries, results):
        key = tuple(q)
        if key not in memo:
            memo[key] = brute_force_query_local(run.spark, h, q, k=10)
        want = memo[key]
        if [d for d, _ in got] != [d for d, _ in want] or [
                s for _, s in got] != [s for _, s in want]:
            bad += 1
            print(f"perfbench: query {q} on {os.path.basename(index_dir)}: "
                  f"got {got} want {want}", file=sys.stderr)
    return bad


# ---------------------------------------------------------------------------
# maintenance
# ---------------------------------------------------------------------------


def parquet_files(index_dir: str) -> set[str]:
    return {f for f in _files(index_dir) if f.endswith(".parquet")}


def merge(run, index_dir: str, batch_dir: str) -> tuple[float, int]:
    """``merge_docs_into_index`` of a pages batch; returns (wall s, docs
    merged)."""
    docs = run.spark.read.parquet(batch_dir)
    with run.tracer.span("merge_docs_into_index", "maintenance"):
        t0 = time.perf_counter()
        n = merge_docs_into_index(run.spark, docs, index_dir)
        return time.perf_counter() - t0, n


def delete(run, index_dir: str, urls: list[str]) -> float:
    """``delete_docs``; returns wall s."""
    with run.tracer.span("delete_docs", "maintenance"):
        t0 = time.perf_counter()
        delete_docs(run.spark, index_dir, urls)
        return time.perf_counter() - t0


def compact(run, index_dir: str) -> dict:
    """``compact_index``; returns its wall s, the index's parquet files
    before it, and the bytes of files it wrote or rewrote."""
    files0 = {f: os.path.getsize(f) for f in _files(index_dir)}
    with run.tracer.span("compact_index", "maintenance"):
        t0 = time.perf_counter()
        compact_index(run.spark, index_dir)
        wall = time.perf_counter() - t0
    return {"wall_s": wall,
            "files_pre": len([f for f in files0 if f.endswith(".parquet")]),
            "bytes_rewritten": sum(
                os.path.getsize(f) for f in _files(index_dir)
                if files0.get(f) != os.path.getsize(f))}


# ---------------------------------------------------------------------------
# driver_queries battery
# ---------------------------------------------------------------------------

HEADLINE = [
    "tfidf_topk", "bm25_topk", "doc_term_tf", "postings", "pricing_summary",
    "revenue_by_nation", "top_orders_per_customer", "events_hourly",
]


def battery_forward(run, sf_dir: str) -> float:
    """Materialise the battery's forward table (cached by ``_forward`` for
    every later query of the run); returns wall s."""
    from words_in_context_spark.driver_queries import _forward

    with run.tracer.span("_forward", "battery"):
        t0 = time.perf_counter()
        _forward(run.spark, sf_dir).count()
        return time.perf_counter() - t0


def battery_query(run, sf_dir: str, name: str) -> float:
    from words_in_context_spark.driver_queries import QUERIES

    with run.tracer.span(name, "battery"):
        t0 = time.perf_counter()
        noop(QUERIES[name](run.spark, sf_dir))
        return time.perf_counter() - t0


def _check_oracle_module(root: str):
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(root, "tools", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def check_battery(run, sf_dir: str) -> list[str]:
    """Names of headline queries whose Spark result differs from their
    DuckDB ``ORACLE_SQL`` twin, by check_oracle's canonical hash (columns
    and value hash)."""
    import duckdb

    from words_in_context_spark.driver_queries import ORACLE_SQL, QUERIES

    co = _check_oracle_module(run.root)
    con = duckdb.connect()
    try:
        for t in co.TABLES:
            p = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.exists(p):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
        bad = []
        for name in HEADLINE:
            sdf = QUERIES[name](run.spark, sf_dir)
            scols = sdf.columns
            sh = co.table_hash(scols, [tuple(r) for r in sdf.collect()])
            rel = con.sql(ORACLE_SQL[name])
            dh = co.table_hash(list(rel.columns), rel.fetchall())
            if sorted(scols) != sorted(rel.columns) or sh != dh:
                bad.append(name)
        return bad
    finally:
        con.close()
