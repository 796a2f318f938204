"""The benchmark's workloads.

Each workload function gets a ``Run`` (session, tracer, seed, work dir) and
returns an ``Outcome``: its set-up steps, the timed operations, the number of
operations attempted and failed, and, on a traced run, the raw observations
the per-layer metrics are computed from.

Timed windows hold only calls into the engine. Input synthesis, forward or
corpus materialisation, warm-up (codegen, Arrow workers, first plan of each
query), host calibration samples and every correctness check run outside
them.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

import pyarrow.parquet as pq

from . import inputs, layers, metrics

MATERIALISE_REPEATS = 2


@dataclass
class Outcome:
    setup: dict = field(default_factory=dict)  # step -> seconds
    op_walls: list = field(default_factory=list)  # seconds per timed op
    op_s: float = 0.0  # the op_ms figure, in seconds (metrics.py)
    # host calibration samples (s) taken between timed ops, if any
    cal_s: list = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    checks_s: float = 0.0  # correctness checks after the timed window
    raw: dict = field(default_factory=dict)  # traced-run observations


def _dir_digest(path: str) -> str:
    h = hashlib.sha256()
    for root, _dirs, files in sorted(os.walk(path)):
        for f in sorted(files):
            h.update(f.encode())
            with open(os.path.join(root, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def materialise(run, name: str, make) -> tuple[float, str, object]:
    """Run an input generator ``MATERIALISE_REPEATS`` times into fresh
    directories and return (median seconds, the first directory, the
    generator's return value). The copies must be byte-identical: a
    generator that is not deterministic fails the run. A traced run, which
    reports no set-up time, generates once."""
    secs, dirs, ret = [], [], None
    for i in range(1 if run.trace else MATERIALISE_REPEATS):
        d = os.path.join(run.work, f"{name}.{i}")
        t0 = time.perf_counter()
        ret = make(d)
        secs.append(time.perf_counter() - t0)
        dirs.append(d)
    digests = {_dir_digest(d) for d in dirs}
    if len(digests) != 1:
        raise RuntimeError(f"input generator {name} is not deterministic")
    for d in dirs[1:]:
        shutil.rmtree(d)
    return statistics.median(secs), dirs[0], ret


def _failed_op(what: str) -> None:
    print(f"perfbench: {what} failed:\n{traceback.format_exc()}",
          file=sys.stderr)


def n_ops(seconds: float, per_op_s: float, minimum: int) -> int:
    """How many timed operations a run makes: about ``seconds`` of work at
    ``per_op_s`` each on 4 cores, and at least ``minimum``. The count
    depends on --seconds only, never on the clock, so both commits of a
    comparison do the same work."""
    return max(minimum, int(seconds / per_op_s))


# ---------------------------------------------------------------------------
# build: fresh build_index over a head-heavy corpus
# ---------------------------------------------------------------------------


# A timed build of the BUILD_DOCS corpus takes about this long on 4 cores
# (see inputs.BUILD_DOCS).
BUILD_OP_S = 10.0
# Each build of a session still runs faster than the one before it after a
# warm-up build (by 10-25% from the first timed build to the third), and
# other load on a shared host slows some builds: the fastest of three is
# the steady figure.
BUILD_MIN_OPS = 3


def build(run) -> Outcome:
    o = Outcome()
    n_docs = inputs.BUILD_DOCS
    seed = inputs.sub_seed(run.seed, "corpus")
    o.setup["inputs_s"], corpus, text_bytes = materialise(
        run, "corpus", lambda d: inputs.write_pages(d, n_docs, seed))
    t0 = time.perf_counter()
    with run.tracer.paused():
        # the first build of a session runs slower while the JVM compiles
        # and the Python workers import; a smaller corpus warms the same
        # code
        warm_corpus = os.path.join(run.work, "warm_corpus")
        inputs.write_pages(warm_corpus, inputs.WARM_DOCS,
                           inputs.sub_seed(run.seed, "warm"))
        warm = os.path.join(run.work, "idx_warm")
        layers.build(run, warm_corpus, warm)
        shutil.rmtree(warm)
    o.setup["warm_s"] = time.perf_counter() - t0

    kept: list[str] = []  # the last good index, for the traced probes

    def timed(tag: str):
        idx = os.path.join(run.work, f"idx_{tag}")
        try:
            wall, _res = layers.build(run, corpus, idx)
        except Exception:
            _failed_op("build_index")
            return None
        errs = layers.check_build(idx, n_docs)
        for e in errs:
            print(f"perfbench: build check: {e}", file=sys.stderr)
        for old in kept:
            shutil.rmtree(old, ignore_errors=True)
        kept[:] = [idx]
        return wall, not errs

    if not run.trace:
        _finish(o, [timed(f"t{i}") for i in
                    range(n_ops(run.seconds, BUILD_OP_S, BUILD_MIN_OPS))])
        o.op_s = min(o.op_walls)
        return o
    # one untraced build, then one traced, for the overhead figure (which
    # therefore includes the speed-up from one build to the next, see
    # BUILD_MIN_OPS)
    with run.tracer.paused():
        plain = timed("p0")
    _finish(o, [timed("t0")])
    span = [s for s in run.tracer.spans if s.name == "build_index"][-1]
    o.raw.update(_overhead([plain[0]] if plain else o.op_walls, o.op_walls))
    o.raw["build"] = {"span": span.id, "text_bytes": text_bytes,
                      "shape": layers.index_shape(kept[0])}
    _probes(run, o, corpus, kept[0], n_docs)
    return o


# ---------------------------------------------------------------------------
# search: closed-loop query_topk_local over a long-tail index
# ---------------------------------------------------------------------------

# The stream length is fixed by --seconds, not by the clock, so that both
# commits of a comparison serve the same stream (a time-bound loop would
# serve a faster commit a longer stream, with a lower share of cache
# misses). 750 queries per second is about the closed-loop rate on 4 cores.
SEARCH_QUERIES_PER_S = 750
SEARCH_MIN_QUERIES = 1000
# A shared host switches between a fast and a slow state for a second or
# so at a time (hot queries take ~0.85 or ~1.35 ms), which spread the
# plain median over ten runs by 0.2-0.3 (IQR/median). A calibration sample
# after every SEARCH_CAL_EVERY queries runs in the same state as the
# queries around it (their block medians correlate at 0.93-0.95); op_ms is
# the median over blocks of SEARCH_BLOCK queries of the block's median
# latency at the reference calibration (metrics.host_scaled_median).
SEARCH_CAL_EVERY = 5
SEARCH_BLOCK = 250
# each of the traced run's two passes (untraced, then traced with a hot
# repeat of every query) serves this much of the stream
SEARCH_TRACED_QUERIES = 2000


def search(run) -> Outcome:
    o = Outcome()
    n_docs, tail = inputs.SEARCH_DOCS, inputs.SEARCH_TAIL_VOCAB
    seed = inputs.sub_seed(run.seed, "corpus")
    o.setup["inputs_s"], corpus, text_bytes = materialise(
        run, "corpus",
        lambda d: inputs.write_pages(d, n_docs, seed, tail_vocab=tail))
    idx = os.path.join(run.work, "idx")
    t0 = time.perf_counter()
    layers.build(run, corpus, idx)
    o.setup["index_s"] = time.perf_counter() - t0
    n_queries = n_ops(run.seconds, 1 / SEARCH_QUERIES_PER_S,
                      SEARCH_MIN_QUERIES)
    queries = inputs.query_stream(run.seed, n_queries, tail)
    t0 = time.perf_counter()
    with run.tracer.paused():
        # warm the kernels and the pyarrow scan on a throwaway handle, so
        # the timed handle's term cache starts empty
        warm, _ = layers.load(run, idx)
        layers.run_queries(run, warm, queries[:50])
    o.setup["warm_s"] = time.perf_counter() - t0

    def loop(hot_repeat: bool):
        h, load_s = layers.load(run, idx)
        lat, results, rep, cal = [], [], [], []
        for i in range(0, len(queries), SEARCH_CAL_EVERY):
            la, re_, rp = layers.run_queries(
                run, h, queries[i:i + SEARCH_CAL_EVERY], hot_repeat=hot_repeat)
            lat += la
            results += re_
            rep += rp
            cal += layers.calibrate(1)
        return lat, results, rep, cal, load_s

    if not run.trace:
        lat, results, _rep, o.cal_s, _ = loop(False)
        o.op_s = metrics.host_scaled_median(lat, o.cal_s, SEARCH_CAL_EVERY,
                                            SEARCH_BLOCK)
    else:
        queries = queries[:SEARCH_TRACED_QUERIES]
        with run.tracer.paused():
            plain, _r, _p, _c, _ = loop(False)
        lat, results, rep, _c, load_s = loop(True)
        o.raw.update(_overhead(plain, lat))
        span = [s for s in run.tracer.spans if s.name == "build_index"][-1]
        o.raw["build"] = {"span": span.id, "text_bytes": text_bytes,
                          "shape": layers.index_shape(idx)}
        o.raw["query"] = _query_raw(idx, queries, lat, rep, load_s)
    t0 = time.perf_counter()
    bad = layers.check_queries(run, idx, queries, results)
    o.checks_s = time.perf_counter() - t0
    o.op_walls = lat
    o.attempted = len(lat)
    o.failed = bad
    if run.trace:
        _probes(run, o, corpus, idx, n_docs, query_done=True)
    return o


# ---------------------------------------------------------------------------
# shared pieces
# ---------------------------------------------------------------------------


def _finish(o: Outcome, res: list) -> None:
    done = [r for r in res if r is not None]
    o.attempted = len(res)
    o.failed = sum(1 for r in res if r is None or not r[1])
    o.op_walls = [w for w, _ok in done]


def _overhead(plain: list[float], traced: list[float]) -> dict:
    return {"overhead": {"plain_p50_s": statistics.median(plain),
                         "traced_p50_s": statistics.median(traced)}}


def _query_raw(index_dir: str, issued: list, lat: list, rep: list,
               load_s: float) -> dict:
    term_df = layers.index_terms(index_dir)
    flags = inputs.first_touch_flags(issued)
    seen: set[str] = set()
    hits = lookups = 0
    for q in issued:
        for t in set(q):
            lookups += 1
            hits += t in seen
        seen.update(q)
    first = [x for x, f in zip(lat, flags) if f]
    hot = [x for x, f in zip(lat, flags) if not f]
    fetch = [x - r for x, r, f in zip(lat, rep, flags) if f]
    return {
        "load_s": load_s,
        "first": first or [0.0],
        "hot": hot or [0.0],
        "fetch": fetch or [0.0],
        "cache_hit_frac": hits / lookups,
        "first_touch_frac": sum(flags) / len(flags),
        "postings_per_query": sum(
            sum(term_df.get(t, 0) for t in set(q)) for q in issued
        ) / len(issued),
    }


def _probes(run, o: Outcome, corpus: str, index_dir: str, n_docs: int,
            query_done: bool = False) -> None:
    """Traced run only: take every layer the workload's timed path does not
    already cover over this workload's own corpus and index, so the
    per-layer table has a row for every layer on every workload."""
    o.raw["tokenize"] = {"wall_s": layers.tokenize(run, corpus),
                         "docs": n_docs,
                         "span": run.tracer.spans[-1].id}
    o.raw["codec"] = layers.decode_all(run, index_dir)
    if not query_done:
        qs = layers.probe_queries(run.seed, layers.index_terms(index_dir),
                                  300)
        h, load_s = layers.load(run, index_dir)
        lat, res, rep = layers.run_queries(run, h, qs, hot_repeat=True)
        o.raw["query"] = _query_raw(index_dir, qs, lat, rep, load_s)
        o.attempted += len(qs)
        o.failed += layers.check_queries(run, index_dir, qs, res)
    o.raw["maintenance"] = _maintenance(run, o, corpus, index_dir)
    sf_dir = os.path.join(run.work, "sf")
    inputs.write_battery(sf_dir, run.seed)
    fwd = layers.battery_forward(run, sf_dir)
    with run.tracer.paused():
        # the untimed first pass compiles the plans; it is checked against
        # each query's DuckDB oracle
        bad = layers.check_battery(run, sf_dir)
    for q in bad:
        print(f"perfbench: battery check: {q} differs from its oracle",
              file=sys.stderr)
    for q in inputs.battery_order(run.seed, layers.HEADLINE):
        layers.battery_query(run, sf_dir, q)
    o.attempted += len(layers.HEADLINE)
    o.failed += len(bad)
    o.raw["battery"] = {"forward_s": fwd}


MAINT_ROUNDS = 1
MAINT_QUERIES = 40  # checked queries after each maintenance step


def _maintenance(run, o: Outcome, corpus: str, index_dir: str) -> dict:
    """Traced run only: ``MAINT_ROUNDS`` rounds of merge_docs_into_index
    (a batch of new pages, a fifth of them with already-indexed urls) and
    delete_docs (a sample of indexed urls) on the workload's index, then
    compact_index. One round, because a merge alone takes ~10 s on 4 cores
    and a traced run must end within three minutes. A block of queries
    after each step is checked against the brute-force oracle. Mismatches
    after a merge or after compaction count as failed operations; those
    after a delete are counted apart, since the engine is known to rank
    some queries differently from the oracle while tombstones are live
    (CHANGES.md)."""
    urls = pq.read_table(corpus, columns=["url"]).column("url").to_pylist()
    out = {"merge_s": [], "merged": [], "merge_span": [], "appended": [],
           "delete_s": [], "tombstone_lat": [], "mismatch": {}}

    def block(step: str, tag: int, gated: bool) -> list[float]:
        qs = layers.probe_queries(run.seed + tag, layers.index_terms(
            index_dir), MAINT_QUERIES)
        lat, res, _ = layers.run_queries(run, layers.load_index(index_dir),
                                         qs, name="query_after_" + step)
        bad = layers.check_queries(run, index_dir, qs, res)
        out["mismatch"][step] = out["mismatch"].get(step, 0) + bad
        if gated:
            o.attempted += len(qs)
            o.failed += bad
        return lat

    for rnd in range(MAINT_ROUNDS):
        plan = inputs.maintenance_plan(run.seed + rnd, urls,
                                       inputs.MAINT_BATCH_DOCS,
                                       max(1, len(urls) // 50))
        batch = os.path.join(run.work, f"maint_batch{rnd}")
        inputs.write_pages(batch, inputs.MAINT_BATCH_DOCS,
                           plan["batch_seed"], url_prefix=f"m{rnd}/",
                           reuse_urls=plan["repeat_urls"])
        files0 = layers.parquet_files(index_dir)
        wall, merged = layers.merge(run, index_dir, batch)
        out["merge_s"].append(wall)
        out["merged"].append(merged)
        out["merge_span"].append(run.tracer.spans[-1].id)
        out["appended"].append(len(layers.parquet_files(index_dir) - files0))
        block("merge", 2 * rnd, gated=True)
        out["delete_s"].append(
            layers.delete(run, index_dir, plan["delete_urls"]))
        out["tombstone_lat"] += block("delete", 2 * rnd + 1, gated=False)
    out["compact"] = layers.compact(run, index_dir)
    block("compact", 2 * MAINT_ROUNDS, gated=True)
    if out["mismatch"]["delete"]:
        print(f"perfbench: {out['mismatch']['delete']} of "
              f"{MAINT_ROUNDS * MAINT_QUERIES} queries after delete_docs "
              "differ from the brute-force oracle (known engine defect, "
              "not counted as failed)", file=sys.stderr)
    return out
