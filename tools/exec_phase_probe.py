"""Phase-level attribution of the multi-JVM (executor-axis) overhead.

BENCH/executor_axis_latest.md shows lc[4,2] running ~0-15% behind a
co-windowed in-JVM local[8] control on the same 8 pinned cores. This probe
splits the full index build into its two dominant phases —

  * forward:  tokenize UDTF -> parquet write (Arrow-heavy Python map,
              NO shuffle; multi-JVM cost here would be scheduler/JIT)
  * segments: (term, salt) encode shuffle + sorted run merge (the
              netty inter-process shuffle path in local-cluster mode)

— and times each phase in interleaved (ctrl local[8], variant lc[4,2])
pairs inside one host window, so the per-phase ratio attributes exactly
where the multi-JVM overhead lives. Optional conf variants A/B shuffle
knobs (compression, tmpfs local dirs, fetch depth, executor heap) against
the same co-windowed control.

    python tools/exec_phase_probe.py [n_docs] [variant ...]

Variants: base, nocompress, shm, fetch, mem6g (default: base).
Env: SPARK_GRAFT_SCALING_PAIRS (pairs per variant, default 2).
Appends a session block to BENCH/exec_phase_attribution.md.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import statistics
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_CHILD = """
import json, os, shutil, sys, time
sys.path.insert(0, {repo!r})
from words_in_context_spark.corpus import CORPUS_VERSION, pages_dataframe
from words_in_context_spark.index.build import build_index

mode, n_docs = sys.argv[1], int(sys.argv[2])
extra = json.loads(os.environ.get("SPARK_GRAFT_EXTRA_CONF", "{{}}"))
exec_mem = os.environ.get("SPARK_GRAFT_EXEC_MEM", "4096")
kind, _, num = mode.partition(":")
num = int(num)
cores = 2 * num if kind == "exec" else num

repo_root = {repo!r}
existing = os.environ.get("PYTHONPATH", "")
if repo_root not in existing.split(os.pathsep):
    os.environ["PYTHONPATH"] = (
        repo_root + (os.pathsep + existing if existing else "")
    )

from pyspark.sql import SparkSession

master = (
    f"local-cluster[{{num}},2,{{exec_mem}}]" if kind == "exec"
    else f"local[{{num}}]"
)
b = (
    SparkSession.builder.master(master)
    .appName(f"exec-phase-{{mode}}")
    .config("spark.sql.shuffle.partitions", str(max(cores, 4)))
    .config("spark.default.parallelism", str(cores))
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
    .config("spark.driver.memory", "6g")
    .config("spark.executor.memory", "4g")
    .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
    .config("spark.ui.enabled", "false")
    .config("spark.locality.wait", "0")
    .config("spark.reducer.maxSizeInFlight", "96m")
)
for k, v in extra.items():
    b = b.config(k, v)
spark = b.getOrCreate()
spark.sparkContext.setLogLevel("ERROR")
spark.range(10_000).repartition(cores).mapInPandas(
    lambda it: it, "id long").write.mode("overwrite").format("noop").save()

def cpu_jiffies():
    with open("/proc/stat") as f:
        p = f.readline().split()[1:]
    return sum(map(int, p[:3]))

idx = f"/tmp/wics_phaseprobe_idx_{{mode.replace(':', '_')}}"
corpus = f"/tmp/wics_scaling_corpus_{{CORPUS_VERSION}}_{{n_docs}}"
if not os.path.exists(corpus + "/_SUCCESS"):
    pages_dataframe(spark, n_docs, seed=42).repartition(64).write.mode(
        "overwrite").parquet(corpus)
docs = spark.read.parquet(corpus)
shutil.rmtree(idx, ignore_errors=True)
c0, t0 = cpu_jiffies(), time.time()
res = build_index(spark, docs, idx, n_buckets=32, n_salts=8)
sec = time.time() - t0
busy = (cpu_jiffies() - c0) / 100.0 / sec
print(json.dumps({{"mode": mode, "cores": cores, "n_docs": n_docs,
                   "sec": round(sec, 2),
                   "docs_per_sec": round(n_docs / sec, 1),
                   "busy_cores": round(busy, 2),
                   "phases": res.phase_seconds}}))
"""

VARIANTS: dict[str, dict] = {
    "base": {},
    # loopback shuffle: is LZ4 compress/decompress CPU a net cost when the
    # "network" is the memory bus?
    "nocompress": {
        "conf": {"spark.shuffle.compress": "false"},
    },
    # shuffle files on tmpfs instead of the disk-backed /tmp
    "shm": {
        "conf": {"spark.local.dir": "/dev/shm/wics_spark_local"},
    },
    # deeper inter-JVM fetch pipeline + bigger mapper write buffers
    "fetch": {
        "conf": {
            "spark.shuffle.io.numConnectionsPerPeer": "2",
            "spark.shuffle.file.buffer": "1m",
            "spark.reducer.maxSizeInFlight": "192m",
        },
    },
    # 6 GB executor heaps: does the 4 GB default spill/GC under the
    # collect_list encode stage?
    "mem6g": {"exec_mem": "6144"},
    # straggler clipping: the base pairs show an INTERMITTENT segments
    # stall (39->48 s swings beside 36.0-36.2 s controls); if it is one
    # stuck task/worker, re-launching it elsewhere recovers the wall
    "spec": {
        "conf": {
            "spark.speculation": "true",
            "spark.speculation.multiplier": "1.5",
            "spark.speculation.quantile": "0.5",
        },
    },
}


def run_level(mode: str, n_docs: int, variant: dict) -> dict:
    kind, _, num = mode.partition(":")
    cores = 2 * int(num) if kind == "exec" else int(num)
    env = dict(os.environ)
    env["SPARK_GRAFT_EXTRA_CONF"] = json.dumps(variant.get("conf", {}))
    env["SPARK_GRAFT_EXEC_MEM"] = variant.get("exec_mem", "4096")
    out = subprocess.run(
        ["taskset", "-c", f"0-{cores - 1}",
         sys.executable, "-c", _CHILD.format(repo=REPO),
         mode, str(n_docs)],
        capture_output=True, text=True, timeout=3600, cwd=REPO, env=env,
    )
    if out.returncode != 0:
        raise RuntimeError(f"{mode} failed:\n{out.stderr[-4000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> None:
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from scaling_bench import _cpu_probe

    args = sys.argv[1:]
    n_docs = int(args[0]) if args and args[0].isdigit() else 480000
    names = [a for a in args if not a.isdigit()] or ["base"]
    n_pairs = int(os.environ.get("SPARK_GRAFT_SCALING_PAIRS", "2"))

    lines = []
    for name in names:
        variant = VARIANTS[name]
        for i in range(n_pairs):
            probe = _cpu_probe()
            ctrl = run_level("jvm:8", n_docs, {})  # control is ALWAYS base
            hi = run_level("exec:4", n_docs, variant)
            row = {
                "variant": name, "pair": i, "probe": probe,
                "ctrl": ctrl, "hi": hi,
                "wall_ratio": round(ctrl["sec"] / hi["sec"], 3),
                "phase_ratio": {
                    k: round(
                        ctrl["phases"].get(k, 0) / v, 3
                    ) if v else None
                    for k, v in hi["phases"].items()
                },
            }
            lines.append(row)
            print(json.dumps(row))

    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    stamp = dt.datetime.now(dt.timezone.utc).isoformat(timespec="seconds")
    path = os.path.join(REPO, "BENCH", "exec_phase_attribution.md")
    hdr = not os.path.exists(path)
    with open(path, "a") as f:
        if hdr:
            f.write(
                "# Multi-JVM overhead: phase attribution + knob A/Bs\n\n"
                "Interleaved (local[8] ctrl, lc[4,2] variant) pairs on 8\n"
                "pinned cores; per-phase walls from BuildResult."
                " wall_ratio = ctrl/hi (1.0 = multi-JVM free;"
                " <1 = multi-JVM slower).\n"
            )
        f.write(
            f"\n## Session {stamp} — {n_docs} docs\n\n"
            "| variant | pair | probe | ctrl fwd/seg/total (s) | "
            "lc fwd/seg/total (s) | fwd ratio | seg ratio | wall ratio |\n"
            "|---|---|---|---|---|---|---|---|\n"
        )
        for r in lines:
            cf, hf = r["ctrl"]["phases"], r["hi"]["phases"]
            f.write(
                f"| {r['variant']} | {r['pair']} | {r['probe']} | "
                f"{cf.get('forward_s')}/{cf.get('segments_s')}/"
                f"{r['ctrl']['sec']} | "
                f"{hf.get('forward_s')}/{hf.get('segments_s')}/"
                f"{r['hi']['sec']} | "
                f"{r['phase_ratio'].get('forward_s')} | "
                f"{r['phase_ratio'].get('segments_s')} | "
                f"{r['wall_ratio']} |\n"
            )
        med = statistics.median(x["wall_ratio"] for x in lines)
        f.write(f"\nmedian wall ratio: {med}\n")


if __name__ == "__main__":
    main()
