"""Round-7 optimization instrumentation (guide §1): per-query noop-sink
timing + ``explain("formatted")`` capture for every headline query, without
touching the frozen ``bench.py``.

Usage:
    python bench_extra.py [--sf-dir DIR] [--reps N] [--plans-out DIR] \
        [--queries a,b,c] [--skip-forward-timing]

Prints one JSON line per query: {"query": ..., "secs": [..], "min": ..,
"median": ..} plus a forward-build line, and (with --plans-out) writes
<query>.txt explain dumps. The forward table is built before the first
query either way; ``--skip-forward-timing`` only drops its line.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "tfidf_topk",
    "bm25_topk",
    "doc_term_tf",
    "postings",
    "pricing_summary",
    "revenue_by_nation",
    "top_orders_per_customer",
    "events_hourly",
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--plans-out", default=None)
    ap.add_argument("--queries", default=None)
    ap.add_argument("--skip-forward-timing", action="store_true")
    args = ap.parse_args()

    from words_in_context_spark.driver_queries import QUERIES, _forward
    from words_in_context_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(cores=cpus, app_name="wics-bench-extra")
    spark.sparkContext.setLogLevel("ERROR")

    names = args.queries.split(",") if args.queries else HEADLINE

    # fresh forward cache (same protocol as bench.py) so _forward cost is
    # measured, and the per-query timings serve from the materialized table
    import atexit
    import shutil
    import tempfile

    fwd_dir = tempfile.mkdtemp(prefix="wics_fwd_extra_")
    os.environ["WICS_FWD_CACHE"] = fwd_dir
    atexit.register(shutil.rmtree, fwd_dir, ignore_errors=True)

    spark.read.parquet(f"{args.sf_dir}/documents.parquet").count()
    # materialized even with --skip-forward-timing (just not reported), so
    # the first timed query rep never pays for the forward build
    t0 = time.time()
    _forward(spark, args.sf_dir).write.mode("overwrite").format("noop").save()
    if not args.skip_forward_timing:
        print(json.dumps(
            {"query": "_forward_build", "secs": [round(time.time() - t0, 3)]}
        ), flush=True)

    # plan-shape warmup on the tiny sf (same device as bench.py)
    warm = os.path.join(os.path.dirname(args.sf_dir.rstrip("/")), "sf0.001")
    if os.path.isdir(warm) and os.path.abspath(warm) != os.path.abspath(
            args.sf_dir):
        for name in names:
            QUERIES[name](spark, warm).write.mode("overwrite").format(
                "noop").save()

    for name in names:
        fn = QUERIES[name]
        if args.plans_out:
            os.makedirs(args.plans_out, exist_ok=True)
            df = fn(spark, args.sf_dir)
            with open(os.path.join(args.plans_out, f"{name}.txt"), "w") as fh:
                fh.write(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"))
        secs = []
        for _ in range(args.reps):
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            t0 = time.time()
            fn(spark, args.sf_dir).write.mode("overwrite").format(
                "noop").save()
            secs.append(round(time.time() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        print(json.dumps({
            "query": name,
            "secs": secs,
            "min": min(secs),
            "median": round(statistics.median(secs), 3),
        }), flush=True)


if __name__ == "__main__":
    main()
