"""Metric names, units, and the computation of each from a run.

``END_TO_END`` is what a user of the engine sees and is printed by every
untraced run; ``PER_LAYER`` is printed by every traced run. ``MOVES`` records,
for each per-layer metric, the end-to-end metric and workloads it is
expected to move, so a later change can say in advance which numbers its
layer should shift and which should stay put.
"""

from __future__ import annotations

import statistics

from .layers import HEADLINE

# The workloads BENCHMARK.json lists. The maintenance and driver_queries
# layers have no workload of their own: with them, the ten-run sets per
# workload that a comparison needs would take too long (CHANGES.md). Every
# traced run measures them on the workload's own index.
WORKLOADS = ("build", "search")

# name -> (unit, better)
# op_ms is, on ``build``, the fastest of three build_index walls
# (workloads.BUILD_MIN_OPS) and, on ``search``, the median query_topk_local
# latency at the reference host speed (host_scaled_median). Tail latencies
# are per-layer metrics: they drift too much from run to run to gate on.
END_TO_END = {
    "op_ms": ("ms", "lower"),
    "setup_s": ("s", "lower"),
}

_LAYER = {
    "session.start_s": ("s", "lower"),
    "tokenize.wall_s": ("s", "lower"),
    "tokenize.docs_per_s": ("1/s", "higher"),
    "tokenize.task_cpu_s": ("s", "lower"),
    "tokenize.python_io_bytes": ("bytes", "lower"),
    "build.wall_s": ("s", "lower"),
    "build.forward_s": ("s", "lower"),
    "build.segments_s": ("s", "lower"),
    "build.unattributed_s": ("s", "lower"),
    "build.jobs": ("count", "lower"),
    "build.stages": ("count", "lower"),
    "build.tasks": ("count", "lower"),
    "build.task_cpu_s": ("s", "lower"),
    "build.gc_s": ("s", "lower"),
    "build.shuffle_write_bytes": ("bytes", "lower"),
    "build.shuffle_read_bytes": ("bytes", "lower"),
    "build.spill_bytes": ("bytes", "lower"),
    "build.slot_busy_frac": ("ratio", "higher"),
    "build.task_skew": ("ratio", "lower"),
    "build.segment_bytes": ("bytes", "lower"),
    "build.forward_bytes": ("bytes", "lower"),
    "build.files": ("count", "lower"),
    "build.terms": ("count", "lower"),
    "build.postings": ("count", "lower"),
    "build.bytes_per_text_byte": ("ratio", "lower"),
    "codec.decode_postings_per_s": ("1/s", "higher"),
    "codec.bytes_per_posting": ("bytes", "lower"),
    "query.load_index_ms": ("ms", "lower"),
    "query.first_touch_ms_p50": ("ms", "lower"),
    "query.first_touch_ms_p99": ("ms", "lower"),
    "query.fetch_ms_p50": ("ms", "lower"),
    "query.cache_hit_frac": ("ratio", "higher"),
    "query.first_touch_frac": ("ratio", "lower"),
    "query.postings_per_query": ("count", "lower"),
    "topk.hot_ms_p50": ("ms", "lower"),
    "topk.hot_ms_p99": ("ms", "lower"),
    "merge.batch_s_p50": ("s", "lower"),
    "merge.docs_per_s": ("1/s", "higher"),
    "merge.shuffle_bytes": ("bytes", "lower"),
    "merge.files_appended": ("count", "lower"),
    "delete.ms_p50": ("ms", "lower"),
    "churn.search_ms_p50": ("ms", "lower"),
    "churn.index_files_pre_compact": ("count", "lower"),
    "compact.wall_s": ("s", "lower"),
    "compact.bytes_rewritten": ("bytes", "lower"),
    "battery.forward_s": ("s", "lower"),
}
for _q in HEADLINE:
    _LAYER[f"battery.{_q}.s"] = ("s", "lower")
    _LAYER[f"battery.{_q}.stages"] = ("count", "lower")
    _LAYER[f"battery.{_q}.shuffle_bytes"] = ("bytes", "lower")
    _LAYER[f"battery.{_q}.task_cpu_s"] = ("s", "lower")
_LAYER["trace.overhead_frac"] = ("ratio", "lower")
_LAYER["trace.spans"] = ("count", "lower")
PER_LAYER = _LAYER

# per-layer metric prefix -> (end-to-end metric, workloads it should move).
# Workloads not named are predicted to stay put. The maintenance and
# driver_queries layers run in traced runs only, so no gated end-to-end
# metric moves with them.
_UNGATED = "none gated (traced runs only)"
MOVES = {
    "session.": ("setup_s", WORKLOADS),
    "tokenize.": ("op_ms", ("build",)),
    "build.": ("op_ms", ("build",)),
    "codec.": ("op_ms", ("search",)),
    "query.": ("op_ms", ("search",)),
    "topk.": ("op_ms", ("search",)),
    "merge.": (_UNGATED, ()),
    "delete.": (_UNGATED, ()),
    "churn.": (_UNGATED, ()),
    "compact.": (_UNGATED, ()),
    "battery.": (_UNGATED, ()),
    "trace.": ("none (tracing cost)", ()),
}


def pct(values: list[float], q: int) -> float:
    """q-th percentile (inclusive method); the single value for n == 1."""
    if len(values) == 1:
        return float(values[0])
    return float(statistics.quantiles(values, n=100, method="inclusive")[q - 1])


def moves(name: str) -> tuple[str, tuple]:
    for prefix, m in MOVES.items():
        if name.startswith(prefix):
            return m
    raise KeyError(name)


# Median of layers.calibrate on a 4-core host at full speed; host-scaled
# times are quoted at this speed.
CAL_REF_MS = 0.3


def host_scaled_median(walls: list[float], cal_s: list[float], every: int,
                       block: int) -> float:
    """Median over blocks of ``block`` timed values of the block's median
    x CAL_REF_MS / the median of the calibration samples taken inside the
    block, one after every ``every`` values (all in seconds)."""
    out = []
    for b in range(0, len(walls), block):
        cal = statistics.median(cal_s[b // every:(b + block) // every])
        out.append(statistics.median(walls[b:b + block])
                   * CAL_REF_MS / (cal * 1e3))
    return statistics.median(out)


def end_to_end(o, setup_s: float) -> dict:
    return {"op_ms": o.op_s * 1e3, "setup_s": setup_s}


def per_layer(raw: dict, rows: list[dict], session_s: float) -> dict:
    """Per-layer metrics from a traced run's observations and span rows
    (see trace.span_rows)."""
    by_id = {r["id"]: r for r in rows}
    m = {"session.start_s": session_s}

    tok = raw["tokenize"]
    tr = by_id[tok["span"]]
    m["tokenize.wall_s"] = tok["wall_s"]
    m["tokenize.docs_per_s"] = tok["docs"] / tok["wall_s"]
    m["tokenize.task_cpu_s"] = tr["task_cpu_s"]
    m["tokenize.python_io_bytes"] = tr["python_io_bytes"]

    b = raw["build"]
    br = by_id[b["span"]]
    ph = br["attrs"].get("phase_seconds", {})
    fwd, seg = ph.get("forward_s", 0.0), ph.get("segments_s", 0.0)
    m["build.wall_s"] = br["wall_s"]
    m["build.forward_s"] = fwd
    m["build.segments_s"] = seg
    m["build.unattributed_s"] = br["wall_s"] - fwd - seg
    for k in ("jobs", "stages", "tasks", "task_cpu_s", "gc_s",
              "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
              "slot_busy_frac", "task_skew"):
        m[f"build.{k}"] = br[k]
    for k, v in b["shape"].items():
        m[f"build.{k}"] = v
    m["build.bytes_per_text_byte"] = (
        (b["shape"]["segment_bytes"] + b["shape"]["forward_bytes"])
        / b["text_bytes"])

    c = raw["codec"]
    m["codec.decode_postings_per_s"] = c["decoded"] / c["wall_s"]
    m["codec.bytes_per_posting"] = c["bytes"] / c["postings"]

    q = raw["query"]
    m["query.load_index_ms"] = q["load_s"] * 1e3
    m["query.first_touch_ms_p50"] = statistics.median(q["first"]) * 1e3
    m["query.first_touch_ms_p99"] = pct(q["first"], 99) * 1e3
    m["query.fetch_ms_p50"] = statistics.median(q["fetch"]) * 1e3
    m["query.cache_hit_frac"] = q["cache_hit_frac"]
    m["query.first_touch_frac"] = q["first_touch_frac"]
    m["query.postings_per_query"] = q["postings_per_query"]
    m["topk.hot_ms_p50"] = statistics.median(q["hot"]) * 1e3
    m["topk.hot_ms_p99"] = pct(q["hot"], 99) * 1e3

    mt = raw["maintenance"]
    m["merge.batch_s_p50"] = statistics.median(mt["merge_s"])
    m["merge.docs_per_s"] = sum(mt["merged"]) / sum(mt["merge_s"])
    m["merge.shuffle_bytes"] = statistics.median(
        by_id[i]["shuffle_write_bytes"] for i in mt["merge_span"])
    m["merge.files_appended"] = statistics.median(mt["appended"])
    m["delete.ms_p50"] = statistics.median(mt["delete_s"]) * 1e3
    m["churn.search_ms_p50"] = statistics.median(mt["tombstone_lat"]) * 1e3
    m["churn.index_files_pre_compact"] = mt["compact"]["files_pre"]
    m["compact.wall_s"] = mt["compact"]["wall_s"]
    m["compact.bytes_rewritten"] = mt["compact"]["bytes_rewritten"]

    m["battery.forward_s"] = raw["battery"]["forward_s"]
    for name in HEADLINE:
        qr = [r for r in rows if r["layer"] == "battery" and r["name"] == name]
        m[f"battery.{name}.s"] = statistics.median(r["wall_s"] for r in qr)
        for k, field in (("stages", "stages"),
                         ("shuffle_bytes", "shuffle_write_bytes"),
                         ("task_cpu_s", "task_cpu_s")):
            m[f"battery.{name}.{k}"] = statistics.median(r[field] for r in qr)

    ov = raw["overhead"]
    m["trace.overhead_frac"] = ov["traced_p50_s"] / ov["plain_p50_s"] - 1.0
    m["trace.spans"] = len(rows)
    return m


def benchmark_entries() -> dict:
    """The end_to_end and per_layer lists of BENCHMARK.json, minus bounds."""
    return {
        "end_to_end": [{"name": n, "unit": u, "better": b}
                       for n, (u, b) in END_TO_END.items()],
        "per_layer": [{"name": n, "unit": u, "better": b}
                      for n, (u, b) in PER_LAYER.items()],
    }
