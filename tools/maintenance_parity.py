"""Maintenance parity probe: fingerprint the index that a fixed sequence of
maintenance steps leaves behind, so two checkouts can be compared.

Sequence (one Spark session, ``local[4]``, seed 7, 16 buckets, 8 salts):

  build_index(first ``--docs`` pages) → delete_docs(every 10th url)
  → merge_docs_into_index(next ``--batch`` pages)
  → merge_docs_into_index(next ``--batch`` pages + 20 already-indexed urls)

Prints one JSON line: sha256 over all segment rows sorted by term (every
column, bucket included), over the ``doc_map`` rows sorted by doc_id, and
over ``stats.json`` minus ``built_at``, plus the number of terms and the
wall seconds and Spark job count of each merge. Equal hashes from two
checkouts mean the maintenance steps wrote the same index.

    python tools/maintenance_parity.py [--root CHECKOUT] [--tail-vocab 2500]
        [--docs 200] [--batch 60]

``--root`` imports the engine from another checkout (default: this one),
e.g. a ``git clone`` of the parent commit; run the two sides one after the
other, never at once.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# fixed so that two runs always fingerprint the same configuration
SEED = 7
N_BUCKETS = 16
N_SALTS = 8


def _sha(rows) -> str:
    h = hashlib.sha256()
    for r in rows:
        h.update(repr(r).encode())
    return h.hexdigest()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--root", default=REPO)
    ap.add_argument("--docs", type=int, default=200)
    ap.add_argument("--batch", type=int, default=60)
    ap.add_argument("--tail-vocab", type=int, default=0)
    args = ap.parse_args()
    sys.path.insert(0, os.path.abspath(args.root))

    from words_in_context_spark.corpus import generate_pages
    from words_in_context_spark.index import manifest as mf
    from words_in_context_spark.index.build import build_index, delete_docs
    from words_in_context_spark.session import get_spark
    from words_in_context_spark.streaming.incremental import (
        PAGES_SCHEMA,
        merge_docs_into_index,
    )

    spark = get_spark(cores=4, app_name="wics-maint-parity",
                      shuffle_partitions=4)
    pages = generate_pages(args.docs + 2 * args.batch, seed=SEED,
                           tail_vocab=args.tail_vocab)
    first = pages[: args.docs]
    batch_a = pages[args.docs: args.docs + args.batch]
    batch_b = pages[args.docs + args.batch:] + first[:20]

    def df_of(ps):
        return spark.createDataFrame(
            [(p["url"], p["warc_ts"].replace(tzinfo=None), p["html"],
              p["text"], p["lang"]) for p in ps],
            PAGES_SCHEMA,
        )

    work = tempfile.mkdtemp(prefix="wics-parity-")
    idx = os.path.join(work, "idx")
    sc = spark.sparkContext
    merges = []
    try:
        build_index(spark, df_of(first), idx, n_buckets=N_BUCKETS,
                    n_salts=N_SALTS)
        delete_docs(spark, idx, [p["url"] for p in first[::10]])
        for i, batch in enumerate((batch_a, batch_b)):
            group = f"parity-merge-{i}"
            sc.setJobGroup(group, group)
            t0 = time.time()
            added = merge_docs_into_index(spark, df_of(batch), idx)
            wall = time.time() - t0
            jobs = len(sc.statusTracker().getJobIdsForGroup(group))
            merges.append({"added": added, "wall_s": round(wall, 2),
                           "jobs": jobs})
        sc.setJobGroup("", "")

        seg = spark.read.parquet(os.path.join(idx, "segments"))
        cols = sorted(seg.columns)
        seg_rows = sorted(
            (tuple(r[c] for c in cols) for r in seg.collect()),
            key=lambda t: t[cols.index("term")],
        )
        stats = mf.read_stats(idx)
        doc_map = spark.read.parquet(
            mf.data_dir(idx, "doc_map", int(stats.get("generation", 0)))
        )
        doc_rows = sorted(
            tuple(r[c] for c in sorted(doc_map.columns))
            for r in doc_map.collect()
        )
        stats.pop("built_at", None)
        print(json.dumps({
            "root": os.path.abspath(args.root),
            "terms": len(seg_rows),
            "segments_sha256": _sha(seg_rows),
            "doc_map_sha256": _sha(doc_rows),
            "stats_sha256": _sha(sorted(stats.items())),
            "merges": merges,
        }))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
