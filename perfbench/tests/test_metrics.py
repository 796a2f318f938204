"""The metric names a run emits are exactly the ones BENCHMARK.json lists."""

import json
import os

import pytest

from perfbench import metrics
from perfbench.layers import HEADLINE
from perfbench.workloads import Outcome

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _row(id_, name, layer, wall, parent=None, **kw):
    r = {"id": id_, "name": name, "layer": layer, "parent": parent,
         "wall_s": wall, "jobs": 1, "stages": 2, "tasks": 8,
         "task_cpu_s": 0.5, "task_run_s": 0.6, "gc_s": 0.01,
         "shuffle_read_bytes": 10, "shuffle_write_bytes": 20,
         "spill_bytes": 0, "python_io_bytes": 30, "task_skew": 1.5,
         "slot_busy_frac": 0.4, "attrs": {}}
    r.update(kw)
    return r


def _traced_observations():
    rows = [
        _row("s0", "build_index", "build", 5.0,
             attrs={"phase_seconds": {"forward_s": 1.5, "segments_s": 3.0}}),
        _row("s1", "tokenize_tf", "tokenize", 1.2),
        _row("m0", "merge_docs_into_index", "maintenance", 4.0,
             shuffle_write_bytes=100),
        _row("m1", "merge_docs_into_index", "maintenance", 5.0,
             shuffle_write_bytes=300),
    ] + [_row(f"b{i}", q, "battery", 0.1 * (i + 1))
         for i, q in enumerate(HEADLINE)]
    raw = {
        "tokenize": {"wall_s": 1.2, "docs": 100, "span": "s1"},
        "build": {"span": "s0", "text_bytes": 1000,
                  "shape": {"segment_bytes": 300, "forward_bytes": 200,
                            "files": 40, "terms": 150, "postings": 5000}},
        "codec": {"postings": 5000, "decoded": 5000, "bytes": 9000,
                  "wall_s": 0.01},
        "query": {"load_s": 0.002, "first": [0.02, 0.03], "hot": [0.001] * 5,
                  "fetch": [0.015], "cache_hit_frac": 0.8,
                  "first_touch_frac": 0.3, "postings_per_query": 400.0},
        "maintenance": {
            "merge_s": [4.0, 5.0], "merged": [90, 96],
            "merge_span": ["m0", "m1"], "appended": [3, 5],
            "delete_s": [0.5, 0.7], "tombstone_lat": [0.004, 0.006],
            "compact": {"wall_s": 2.5, "files_pre": 60,
                        "bytes_rewritten": 12345},
            "mismatch": {"merge": 0, "delete": 0, "compact": 0}},
        "battery": {"forward_s": 2.0},
        "overhead": {"plain_p50_s": 1.0, "traced_p50_s": 1.02},
    }
    return raw, rows


def test_end_to_end_names_match_benchmark_json():
    o = Outcome(op_s=1.5)
    got = metrics.end_to_end(o, setup_s=3.0)
    bench = _bench()
    assert list(got) == [m["name"] for m in bench["end_to_end"]]
    assert got["op_ms"] == pytest.approx(1500.0)


def test_host_scaled_median_scales_each_block_by_its_calibration():
    ref = metrics.CAL_REF_MS / 1e3
    # the second block ran on a host twice as slow: same engine speed
    walls = [1.0, 1.1, 0.9, 1.0, 2.0, 2.2, 1.8, 2.0]
    cals = [ref, ref, 2 * ref, 2 * ref]
    assert metrics.host_scaled_median(walls, cals, 2, 4) == (
        pytest.approx(1.0))
    assert metrics.host_scaled_median(walls, [ref] * 4, 2, 4) == (
        pytest.approx(1.5))


def test_per_layer_names_match_benchmark_json():
    raw, rows = _traced_observations()
    got = metrics.per_layer(raw, rows, session_s=9.0)
    assert list(got) == [m["name"] for m in _bench()["per_layer"]]
    for name in got:
        metrics.moves(name)  # every metric says what it should move


def test_benchmark_json_units_and_direction_match_registry():
    bench = _bench()
    want = metrics.benchmark_entries()
    for kind in ("end_to_end", "per_layer"):
        assert [{k: m[k] for k in ("name", "unit", "better")}
                for m in bench[kind]] == want[kind]
    assert [w["name"] for w in bench["workloads"]] == list(metrics.WORKLOADS)


def test_build_phase_rows_and_unattributed_sum_to_span_wall():
    raw, rows = _traced_observations()
    got = metrics.per_layer(raw, rows, session_s=9.0)
    assert (got["build.forward_s"] + got["build.segments_s"]
            + got["build.unattributed_s"]) == pytest.approx(got["build.wall_s"])
    assert got["trace.overhead_frac"] == pytest.approx(0.02)


def test_maintenance_metrics_are_medians_over_rounds():
    raw, rows = _traced_observations()
    got = metrics.per_layer(raw, rows, session_s=9.0)
    assert got["merge.batch_s_p50"] == pytest.approx(4.5)
    assert got["merge.docs_per_s"] == pytest.approx(186 / 9.0)
    assert got["merge.shuffle_bytes"] == 200
    assert got["merge.files_appended"] == 4
    assert got["delete.ms_p50"] == pytest.approx(600.0)
    assert got["churn.search_ms_p50"] == pytest.approx(5.0)
