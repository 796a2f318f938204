"""Benchmark of the words_in_context_spark engine.

Run from the root of a checkout of the repository:

    python3 perfbench/run.py --workload build|search --seed N \
        --seconds S --trace 0|1

One process, one client, Spark on ``local[<cores available>]``. Inputs are
generated from ``--seed``; outputs are checked against an independent oracle
outside the timed windows. The last line of standard output is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones, measured with tracing off; with
``--trace 1`` they are the per-layer ones, read from spans the benchmark
opens around each call into the engine and from Spark's event log. A traced
run also prints the per-layer table, with the tracing overhead. Each result
is saved, with its provenance, under ``.bench_work/results/`` for
``perfbench/compare.py``.
"""

from __future__ import annotations

import argparse
import datetime as dt
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import types

ROOT = os.getcwd()
PRODUCT = "words_in_context_spark"


def _provenance(spark, seed: int, slots: int) -> dict:
    import numpy
    import pyarrow
    import pyspark

    from words_in_context_spark.corpus import CORPUS_VERSION

    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10).stdout.strip() or None
    except OSError:
        commit = None
    h = hashlib.sha256()
    for base in (PRODUCT, "perfbench"):
        for root, dirs, files in sorted(os.walk(os.path.join(ROOT, base))):
            dirs[:] = sorted(d for d in dirs if d != "__pycache__")
            for f in sorted(files):
                if f.endswith(".py"):
                    p = os.path.join(root, f)
                    h.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return {
        "nproc": os.cpu_count(),
        "cores_available": slots,
        "master": spark.sparkContext.master,
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "python": sys.version.split()[0],
        "corpus_version": CORPUS_VERSION,
        "seed": seed,
        "git_commit": commit,
        "source_sha256": h.hexdigest(),
        "utc": dt.datetime.now(dt.timezone.utc).isoformat(timespec="seconds"),
    }


def _start_session(work: str, app: str, slots: int, trace: bool):
    from words_in_context_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(cores=slots, app_name=app, driver_memory="2g",
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    # first job and first Arrow Python worker: warm-up that users pay once
    spark.range(1000).mapInPandas(
        lambda it: (p.assign(x=p["id"]) for p in it), "id long, x long"
    ).write.mode("overwrite").format("noop").save()
    return spark


def _descendants(pid: int) -> set[int]:
    parent = {}
    for p in os.listdir("/proc"):
        if p.isdigit():
            try:
                with open(f"/proc/{p}/stat") as f:
                    parent[int(p)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue  # exited while we looked
    out, todo = set(), [pid]
    while todo:
        kids = [c for c, pp in parent.items() if pp == todo[-1]]
        todo.pop()
        out.update(kids)
        todo += kids
    return out


def _stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched, and the JVM's Python
    workers, to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    workers = _descendants(proc.pid) if proc is not None else set()
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while workers and time.monotonic() < deadline:
        workers = {w for w in workers if os.path.exists(f"/proc/{w}")}
        time.sleep(0.1)
    for w in workers:
        try:
            os.kill(w, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _print_table(rows: list[dict], layer_metrics: dict) -> None:
    from perfbench.metrics import PER_LAYER, moves

    print("# spans (Spark work from the event log, by job group)")
    print(f"# {'layer':<12} {'span':<24} {'n':>5} {'wall_s':>9} {'jobs':>5} "
          f"{'stages':>6} {'tasks':>6} {'cpu_s':>8} {'gc_s':>6} "
          f"{'shufW_MB':>8} {'pyIO_MB':>8}")
    agg: dict[tuple, dict] = {}
    for r in rows:
        if r["parent"] is not None:
            continue
        a = agg.setdefault((r["layer"], r["name"]), {
            "n": 0, "wall_s": 0.0, "jobs": 0, "stages": 0, "tasks": 0,
            "task_cpu_s": 0.0, "gc_s": 0.0, "shuffle_write_bytes": 0,
            "python_io_bytes": 0})
        a["n"] += 1
        for k in a:
            if k != "n":
                a[k] += r[k]
    for (layer, name), a in agg.items():
        print(f"# {layer:<12} {name:<24} {a['n']:>5} {a['wall_s']:>9.3f} "
              f"{a['jobs']:>5} {a['stages']:>6} {a['tasks']:>6} "
              f"{a['task_cpu_s']:>8.2f} {a['gc_s']:>6.2f} "
              f"{a['shuffle_write_bytes'] / 1e6:>8.2f} "
              f"{a['python_io_bytes'] / 1e6:>8.2f}")
    for r in rows:
        if r["name"] != "build_index":
            continue
        ph = r["attrs"].get("phase_seconds", {})
        rest = r["wall_s"] - sum(ph.values())
        parts = " + ".join(f"{k} {v:.3f}" for k, v in ph.items())
        print(f"# build span {r['id']}: wall {r['wall_s']:.3f} s = {parts} "
              f"+ unattributed {rest:.3f}")
    print("# per-layer metrics (metric, value, unit, moves e2e on workloads)")
    for name, v in layer_metrics.items():
        e2e, wls = moves(name)
        print(f"# {name:<40} {v:>14.6g} {PER_LAYER[name][0]:<6} "
              f"{e2e} on {','.join(wls) or '-'}")
    print(f"# tracing overhead: {layer_metrics['trace.overhead_frac']:+.2%} "
          "of the traced loop's op p50 over an untraced loop in the same "
          "process")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PRODUCT, "__init__.py")):
        print(f"perfbench: no {PRODUCT}/ package under {ROOT}; run from the "
              "root of a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import layers, metrics, workloads
    from perfbench.trace import (
        Tracer,
        event_log_files,
        reduce_event_log,
        span_rows,
    )

    if args.workload not in metrics.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{', '.join(metrics.WORKLOADS)}", file=sys.stderr)
        return 2

    bench_dir = os.path.join(ROOT, ".bench_work")
    work = os.path.join(bench_dir,
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # keep every scratch file of the engine and Spark inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "tmp")
    os.environ["WICS_FWD_CACHE"] = os.path.join(work, "fwd_cache")
    slots = len(os.sched_getaffinity(0))
    trace = bool(args.trace)

    try:
        t0 = time.perf_counter()
        spark = _start_session(work, f"perfbench-{args.workload}", slots,
                               trace)
        session_s = time.perf_counter() - t0
        prov = _provenance(spark, args.seed, slots)

        run = types.SimpleNamespace(
            root=ROOT, work=work, seed=args.seed, seconds=args.seconds,
            trace=trace, spark=spark,
            tracer=Tracer(trace, spark.sparkContext))
        try:
            cal = layers.calibrate(50)
            o = getattr(workloads, args.workload)(run)
            cal += layers.calibrate(50)
        finally:
            _stop_session(spark)

        setup_s = session_s + sum(o.setup.values())
        if trace:
            groups = reduce_event_log(
                event_log_files(os.path.join(work, "eventlog")))
            rows = span_rows(run.tracer.spans, groups, slots)
            out_metrics = metrics.per_layer(o.raw, rows, session_s)
            _print_table(rows, out_metrics)
            mm = o.raw["maintenance"]["mismatch"]
            print("# maintenance queries differing from the brute-force "
                  f"oracle: after merge {mm['merge']}, after compact "
                  f"{mm['compact']} (both counted as failed), after delete "
                  f"{mm['delete']} (known engine defect, not counted)")
            units = {k: u for k, (u, _b) in metrics.PER_LAYER.items()}
        else:
            rows = []
            out_metrics = metrics.end_to_end(o, setup_s)
            units = {k: u for k, (u, _b) in metrics.END_TO_END.items()}
        result = {
            "correct": o.failed == 0,
            "attempted": o.attempted,
            "failed": o.failed,
            "metrics": {k: {"value": float(v), "unit": units[k]}
                        for k, v in out_metrics.items()},
        }
        os.makedirs(os.path.join(bench_dir, "results"), exist_ok=True)
        rpath = os.path.join(
            bench_dir, "results",
            f"{args.workload}-seed{args.seed}-trace{args.trace}"
            f"-{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}.json")
        with open(rpath, "w") as f:
            json.dump({"workload": args.workload, "trace": args.trace,
                       "seconds": args.seconds, "provenance": prov,
                       "setup": {"session_s": session_s, **o.setup},
                       "checks_s": o.checks_s, "op_walls": o.op_walls,
                       "cal_s": o.cal_s,
                       "host_calib_ms": statistics.median(cal) * 1e3,
                       "maintenance_mismatch": o.raw.get(
                           "maintenance", {}).get("mismatch"),
                       "result": result, "spans": rows}, f)
        print("# provenance " + json.dumps(prov, sort_keys=True))
        print(json.dumps(result))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
