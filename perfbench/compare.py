"""Compare two sets of benchmark results.

    python3 perfbench/compare.py BASE HEAD

BASE and HEAD are result files written by ``perfbench/run.py`` (under
``.bench_work/results/``) or directories of them. For every workload and
metric the tool prints each side's median and quartiles, the ratio of the
medians, and, for end-to-end metrics with a bound in BENCHMARK.json, whether
HEAD is worse than BASE by more than that bound. Each side's median host
calibration is printed too: a shared host drifts by tens of percent over
minutes, and a difference there is not a difference in the engine. When the
two sides' calibrations differ by more than ``CAL_FLAG`` the line is marked
CALIBRATION: re-measure both sides.

Results taken on different core counts are not comparable: the tool refuses
(exit code 2) when the two sides, or the files within one side, differ in
``nproc``, cores available or Spark master.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

_HOST_KEYS = ("nproc", "cores_available", "master")
CAL_FLAG = 0.10


def load(path: str) -> list[dict]:
    files = sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(
        path) else [path]
    return [json.load(open(f)) for f in files]


def host(results: list[dict]) -> set[tuple]:
    return {tuple(r["provenance"][k] for k in _HOST_KEYS) for r in results}


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        v = values[0]
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def _median_of(results: list[dict], fn) -> float:
    v = [fn(r) for r in results]
    return statistics.median(v) if v else float("nan")


def _cal_line(wl: str, b: list[dict], h: list[dict]) -> str:
    """Each side's median host calibration, and its median raw (not
    host-scaled) op p50."""
    def cal(r):
        return r["host_calib_ms"]

    def raw(r):
        return statistics.median(r["op_walls"]) * 1e3

    cb, ch = _median_of(b, cal), _median_of(h, cal)
    line = (f"{wl:<8} host calibration ms (lower = faster host): "
            f"base {cb:.4f} head {ch:.4f}; raw op p50 ms: base "
            f"{_median_of(b, raw):.6g} head {_median_of(h, raw):.6g}")
    if abs(ch / cb - 1) > CAL_FLAG:
        line += f"  CALIBRATION: differs by more than {CAL_FLAG:.0%}"
    return line


def compare(base: list[dict], head: list[dict], bench: dict) -> list[str]:
    hosts = host(base) | host(head)
    if len(hosts) != 1:
        raise ValueError(
            "results were taken on different hosts "
            f"({', '.join(str(dict(zip(_HOST_KEYS, h))) for h in sorted(hosts))}"
            "); re-measure both sides on one host")
    bounds = {m["name"]: (m["bound"], m["better"])
              for m in bench.get("end_to_end", [])}
    lines = []
    keys = sorted({(r["workload"], r["trace"]) for r in base + head})
    for wl, tr in keys:
        b = [r for r in base if (r["workload"], r["trace"]) == (wl, tr)]
        h = [r for r in head if (r["workload"], r["trace"]) == (wl, tr)]
        if not b or not h:
            lines.append(f"{wl} trace={tr}: only one side has results")
            continue
        lines.append(_cal_line(wl, b, h))
        names = sorted(set(b[0]["result"]["metrics"])
                       & set(h[0]["result"]["metrics"]))
        for n in names:
            bv = [r["result"]["metrics"][n]["value"] for r in b]
            hv = [r["result"]["metrics"][n]["value"] for r in h]
            bq, hq = quartiles(bv), quartiles(hv)
            ratio = hq[1] / bq[1] if bq[1] else float("nan")
            verdict = ""
            if n in bounds:
                bound, better = bounds[n]
                worse = ratio - 1 if better == "lower" else 1 - ratio
                verdict = " REGRESSION" if worse > bound else " ok"
            lines.append(
                f"{wl:<8} {n:<36} base {bq[1]:.6g} [{bq[0]:.6g}, {bq[2]:.6g}]"
                f" (n={len(bv)})  head {hq[1]:.6g} [{hq[0]:.6g}, "
                f"{hq[2]:.6g}] (n={len(hv)})  head/base {ratio:.4f}{verdict}")
    return lines


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    bench_path = os.path.join(os.getcwd(), "BENCHMARK.json")
    bench = json.load(open(bench_path)) if os.path.exists(bench_path) else {}
    try:
        lines = compare(load(argv[0]), load(argv[1]), bench)
    except ValueError as e:
        print(f"compare: {e}", file=sys.stderr)
        return 2
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
