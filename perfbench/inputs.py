"""Seeded input generators for the benchmark workloads.

Every input a workload feeds the engine is made here from the ``--seed``
argument and nothing else: the same seed gives byte-identical files. The
generators run on the driver (pure Python + pyarrow), so their cost is
charged to set-up and never lands inside a timed window.
"""

from __future__ import annotations

import datetime as dt
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from words_in_context_spark.corpus import _VOCAB, generate_pages

PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)

# Sizes. Small enough that a whole run (session, set-up, timed window,
# checks) stays near a minute on 4 cores. A build on 4 cores costs ~4.9 s
# that does not grow with the corpus plus ~1.3 ms per document (builds of
# 1200, 4000 and 10000 documents in one session took 6.5, 10.1 and 18.2 s;
# tokenize_tf alone took ~1 ms per document), so at BUILD_DOCS per-document
# work is well over half of a build's wall. WARM_DOCS is the smaller corpus
# of the untimed warm-up build.
BUILD_DOCS = 5000
WARM_DOCS = 500
SEARCH_DOCS = 800
# Long-tail vocabulary of the search corpus: 250 tail terms spread over
# df from ~1k down to single digits. Larger tails make the index build in
# set-up cost ~10 ms per extra term.
SEARCH_TAIL_VOCAB = 250
MAINT_BATCH_DOCS = 120
BATTERY_DOCS = 500
BATTERY_ORDERS = 15_000
BATTERY_CUSTOMERS = 1_500
BATTERY_LINES_PER_ORDER = 4
BATTERY_EVENTS = 10_000

# Seeds of the different inputs of one run are derived, never shared, so
# that e.g. the maintenance batch is not a re-draw of the base corpus.
_STREAMS = {"corpus": 1, "queries": 2, "maint": 3, "battery": 4, "order": 5,
            "warm": 6}


def sub_seed(seed: int, stream: str) -> int:
    return (int(seed) * 1_000_003 + _STREAMS[stream]) % (1 << 31)


def write_pages(path: str, n_docs: int, seed: int, tail_vocab: int = 0,
                url_prefix: str = "", reuse_urls: list[str] = ()) -> int:
    """Write ``n_docs`` synthetic web pages (the engine's input schema) as
    one parquet file; returns the total text bytes. ``url_prefix`` makes
    the urls distinct from another corpus of the same size (the generator's
    urls depend on the row number only); the first rows then take the urls
    in ``reuse_urls``."""
    rows = generate_pages(n_docs, seed=seed, tail_vocab=tail_vocab)
    for r in rows:
        r["url"] = url_prefix + r["url"]
    for r, url in zip(rows, reuse_urls):
        r["url"] = url
    tbl = pa.Table.from_pylist(rows, schema=PAGES_SCHEMA)
    os.makedirs(path, exist_ok=True)
    pq.write_table(tbl, os.path.join(path, "part-0.parquet"))
    return sum(len(r["text"].encode("utf-8")) for r in rows)


def tail_term(tid: int) -> str:
    """The corpus generator's spelling of long-tail term ``tid``."""
    suffix = []
    while True:
        suffix.append(chr(ord("a") + tid % 26))
        tid //= 26
        if tid == 0:
            break
    return "tail" + "".join(reversed(suffix)) + "x"


QUERY_POOL = 1000


def query_stream(seed: int, n: int, tail_vocab: int) -> list[list[str]]:
    """``n`` queries drawn uniformly from a pool of ``QUERY_POOL`` distinct
    ones.

    Every pooled query has the same shape: one long-tail term, drawn
    log-uniformly over the tail ids (the corpus's own skew), one head term
    from vocabulary ranks 0-9 and one from ranks 10-39. Same-shaped queries
    keep the mean cost of a seed's stream close to any other seed's. Repeats
    and head terms hit the handle's term cache; each tail term misses it
    the first time it arrives."""
    rng = random.Random(sub_seed(seed, "queries"))
    pool = []
    for _ in range(QUERY_POOL):
        tid = min(int(tail_vocab ** rng.random()) - 1, tail_vocab - 1)
        pool.append([tail_term(max(tid, 0)), rng.choice(_VOCAB[:10]),
                     rng.choice(_VOCAB[10:40])])
    return [list(rng.choice(pool)) for _ in range(n)]


def first_touch_flags(queries: list[list[str]]) -> list[bool]:
    """Per query: does it name a term no earlier query named (a term-cache
    miss on a handle that has served exactly this stream)?"""
    seen: set[str] = set()
    flags = []
    for q in queries:
        flags.append(any(t not in seen for t in q))
        seen.update(q)
    return flags


def maintenance_plan(seed: int, base_urls: list[str], n_new: int,
                     n_delete: int) -> dict:
    """One round of index upkeep: a batch of new pages, a fifth of whose
    urls repeat already-indexed ones (the merge must skip them), and a
    sample of indexed urls to delete."""
    rng = random.Random(sub_seed(seed, "maint"))
    n_repeat = n_new // 5
    return {
        "batch_seed": sub_seed(seed, "maint"),
        "n_fresh": n_new - n_repeat,
        "repeat_urls": rng.sample(base_urls, n_repeat),
        "delete_urls": sorted(rng.sample(base_urls, n_delete)),
    }


# ---------------------------------------------------------------------------
# battery tables (driver_queries' TPC-H-ish star schema + documents/events)
# ---------------------------------------------------------------------------

_DOC_WORDS = (
    "key agg row scan slow fast table value part hash merge batch query "
    "spark index shuffle join sort window filter stream cache node disk "
    "page block term doc rank score plan stage task"
).split()
_DOC_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
_FLAGS = ["A", "N", "R"]
_STATUS = ["F", "O", "P"]
_PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "view", "purchase", "error", "scroll"]


def _ts(base: dt.datetime, seconds: np.ndarray) -> pa.Array:
    us = (seconds * 1e6).astype(np.int64)
    epoch_us = int((base - dt.datetime(1970, 1, 1)).total_seconds() * 1e6)
    return pa.array(us + epoch_us, type=pa.timestamp("us"))


def battery_tables(seed: int) -> dict[str, pa.Table]:
    """The tables the 8 headline queries read, with the column names and
    types of the test tables TESTDATA.md describes."""
    rs = np.random.default_rng(sub_seed(seed, "battery"))
    rng = random.Random(sub_seed(seed, "battery"))

    texts, langs = [], []
    for _ in range(BATTERY_DOCS):
        n = rng.randint(8, 90)
        # Zipf-ish over the word list so head terms exist
        words = [_DOC_WORDS[min(int(len(_DOC_WORDS) ** rng.random()) - 1,
                                len(_DOC_WORDS) - 1)] for _ in range(n)]
        texts.append(" ".join(words))
        langs.append(rng.choice(_DOC_LANGS))
    documents = pa.table({
        "doc_id": pa.array(np.arange(BATTERY_DOCS), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(BATTERY_DOCS)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(BATTERY_CUSTOMERS), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}"
                            for i in range(BATTERY_CUSTOMERS)]),
        "c_nationkey": pa.array(rs.integers(0, 25, BATTERY_CUSTOMERS),
                                pa.int32()),
        "c_acctbal": pa.array(np.round(rs.uniform(-999, 9999,
                                                  BATTERY_CUSTOMERS), 2)),
        "c_mktsegment": pa.array(rs.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
            BATTERY_CUSTOMERS)),
    })
    n_o = BATTERY_ORDERS
    base = dt.datetime(1995, 1, 1)
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_o), pa.int64()),
        "o_custkey": pa.array(rs.integers(0, BATTERY_CUSTOMERS, n_o),
                              pa.int64()),
        "o_orderstatus": pa.array(rs.choice(_STATUS, n_o)),
        "o_totalprice": pa.array(np.round(rs.uniform(1000, 500000, n_o), 2)),
        "o_orderdate": _ts(base, rs.integers(0, 2500, n_o) * 86400.0),
        "o_orderpriority": pa.array(rs.choice(_PRIOS, n_o)),
    })
    n_l = n_o * BATTERY_LINES_PER_ORDER
    lineitem = pa.table({
        "l_orderkey": pa.array(rs.integers(0, n_o, n_l), pa.int64()),
        "l_partkey": pa.array(rs.integers(0, 2000, n_l), pa.int64()),
        "l_suppkey": pa.array(rs.integers(0, 100, n_l), pa.int64()),
        "l_linenumber": pa.array(rs.integers(1, 8, n_l), pa.int32()),
        "l_quantity": pa.array(rs.integers(1, 51, n_l).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rs.uniform(900, 100000, n_l), 2)),
        "l_discount": pa.array(rs.integers(0, 11, n_l) / 100.0),
        "l_tax": pa.array(rs.integers(0, 9, n_l) / 100.0),
        "l_returnflag": pa.array(rs.choice(_FLAGS, n_l)),
        "l_linestatus": pa.array(rs.choice(["F", "O"], n_l)),
        "l_shipdate": _ts(base, rs.integers(0, 2800, n_l) * 86400.0),
    })
    n_e = BATTERY_EVENTS
    events = pa.table({
        "event_id": pa.array(np.arange(n_e), pa.int64()),
        "ts": _ts(dt.datetime(2024, 1, 1),
                  np.sort(rs.uniform(0, 7 * 86400, n_e))),
        "user_id": pa.array(rs.integers(0, 200, n_e), pa.int64()),
        "event_type": pa.array(rs.choice(_EVENT_TYPES, n_e)),
        "value": pa.array(np.round(rs.uniform(0, 50, n_e), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rs.integers(0, 100, n_e)]),
    })
    return {"documents": documents, "nation": nation, "customer": customer,
            "orders": orders, "lineitem": lineitem, "events": events}


def write_battery(sf_dir: str, seed: int) -> int:
    """Write the battery tables as ``<sf_dir>/<table>.parquet``; returns the
    total row count."""
    os.makedirs(sf_dir, exist_ok=True)
    rows = 0
    for name, tbl in battery_tables(seed).items():
        pq.write_table(tbl, os.path.join(sf_dir, f"{name}.parquet"))
        rows += tbl.num_rows
    return rows


def battery_order(seed: int, names: list[str]) -> list[str]:
    order = list(names)
    random.Random(sub_seed(seed, "order")).shuffle(order)
    return order
