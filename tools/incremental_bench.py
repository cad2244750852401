"""Incremental dedup at scale: increment cost + exactness vs full recompute.

The `dedup_incremental` driver row proves increment == full recompute at
contract scale; this tool measures the claim that matters at 10^12 docs —
absorbing a new crawl batch costs O(batch), not O(corpus) — and re-checks
exactness at 1M docs:

1. build the corpus state once (signatures -> edges -> assignments over the
   existing 95%), persist its three tables to parquet (the production
   stage-output shape);
2. time ONLY the increment: signature the 5% batch, join its bucket keys
   against the persisted state, verify, extend assignments via seeded
   union-find (operators/incremental.py), everything read from disk;
3. time the full recompute over 100% for comparison, and assert the two
   assignment maps are IDENTICAL doc for doc.

Writes BENCH/incremental.json. Quiet-window protocol. Usage:

    python tools/incremental_bench.py [--docs 1000000] [--cores 16] [--new-mod 20]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
from datetime import datetime, timezone

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=1_000_000)
    ap.add_argument("--cores", type=int, default=16)
    ap.add_argument("--shuffle-partitions", type=int, default=64)
    ap.add_argument("--new-mod", type=int, default=20,
                    help="doc_id %% new-mod == 7 is the increment (~5%%)")
    ap.add_argument("--base", default="/tmp/webcrawler_scaling")
    ap.add_argument("--no-kept-delta", action="store_true",
                    help="drop the precomputed kept-anchor-count table from "
                         "the reloaded state (exercise the fallback "
                         "aggregation path for comparison)")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from tools.scaling_bench import ensure_corpus
    from webcrawler_spark.session import get_spark

    input_path = ensure_corpus(args.docs, args.base)
    spark = get_spark("incremental-bench", master=f"local[{args.cores}]",
                      shuffle_partitions=args.shuffle_partitions)
    spark.sparkContext.setLogLevel("ERROR")

    docs = (
        spark.read.parquet(input_path)
        .select("doc_id", "text")
        .filter(F.length("text") > 0)
    )
    is_new = (F.col("doc_id") % args.new_mod) == 7
    old_docs = docs.filter(~is_new)
    new_docs = docs.filter(is_new)

    state_dir = tempfile.mkdtemp(prefix="inc_state_", dir=args.base)
    try:
        _run_bench(args, spark, docs, old_docs, new_docs, state_dir)
    finally:
        # ~5.6 GB of state per run at 1M — a failed run must not leak it
        # (observed: several aborted runs exhausted /tmp)
        shutil.rmtree(state_dir, ignore_errors=True)


def _run_bench(args, spark, docs, old_docs, new_docs, state_dir) -> None:
    from pyspark.sql import functions as F

    from webcrawler_spark.config import DEFAULT_CONFIG as CFG
    from webcrawler_spark.operators.components import assign_clusters
    from webcrawler_spark.operators.incremental import (
        DedupState,
        build_dedup_state,
        incremental_assign,
        incremental_edges,
    )
    from webcrawler_spark.operators.lsh import build_edges
    from webcrawler_spark.operators.signatures import compute_signatures

    # --- phase 1: state build over the existing corpus (paid once) -------
    t0 = time.time()
    state = build_dedup_state(old_docs, CFG)
    state.sigs.write.parquet(f"{state_dir}/sigs")
    state.buckets.write.parquet(f"{state_dir}/buckets")
    state.assignments.write.parquet(f"{state_dir}/assignments")
    state.dropped_anchor_keys.write.parquet(f"{state_dir}/dropped_anchor_keys")
    state.kept_anchor_counts.write.parquet(f"{state_dir}/kept_anchor_counts")
    state_wall = round(time.time() - t0, 2)
    state.sigs.unpersist()
    n_old = spark.read.parquet(f"{state_dir}/sigs").count()

    # --- phase 2: the increment, from persisted state only ---------------
    disk_state = DedupState(
        sigs=spark.read.parquet(f"{state_dir}/sigs"),
        buckets=spark.read.parquet(f"{state_dir}/buckets"),
        assignments=spark.read.parquet(f"{state_dir}/assignments"),
        dropped_anchor_keys=spark.read.parquet(
            f"{state_dir}/dropped_anchor_keys"
        ),
        kept_anchor_counts=None if args.no_kept_delta else spark.read.parquet(
            f"{state_dir}/kept_anchor_counts"
        ),
    )
    # stage-faithful shape (exactly what the pipeline does): commit the
    # increment's edges to a table, then union-find over the table scan —
    # feeding union-find the raw in-memory edge DAG instead trips a Spark
    # AQE-vs-localCheckpoint partitioning bug at 1M ("Can't zip RDDs with
    # unequal numbers of partitions"); the edge write is timed as part of
    # the increment
    t0 = time.time()
    new_sigs = compute_signatures(new_docs, CFG).persist()
    incremental_edges(disk_state, new_sigs, CFG, docs=docs).write.parquet(
        f"{state_dir}/inc_edges"
    )
    inc = incremental_assign(
        disk_state, docs, spark.read.parquet(f"{state_dir}/inc_edges")
    )
    inc.write.parquet(f"{state_dir}/inc_assignments")
    inc_wall = round(time.time() - t0, 2)
    inc = spark.read.parquet(f"{state_dir}/inc_assignments")
    n_new = new_docs.count()

    # --- phase 3: full recompute over everything (the baseline) ----------
    t0 = time.time()
    full_sigs = compute_signatures(docs, CFG).persist()
    full_edges = build_edges(full_sigs, CFG, docs=docs)
    full = assign_clusters(docs, full_edges).select("doc_id", "cluster_id")
    full.write.parquet(f"{state_dir}/full_assignments")
    full_wall = round(time.time() - t0, 2)
    full = spark.read.parquet(f"{state_dir}/full_assignments")

    # --- exactness: identical doc for doc ---------------------------------
    mismatches = (
        inc.withColumnRenamed("cluster_id", "c_inc")
        .join(full.withColumnRenamed("cluster_id", "c_full"), "doc_id", "full")
        .filter(
            F.col("c_inc").isNull()
            | F.col("c_full").isNull()
            | (F.col("c_inc") != F.col("c_full"))
        )
        .count()
    )

    payload = {
        "generated": datetime.now(timezone.utc).isoformat(timespec="seconds"),
        "docs": args.docs,
        "cores": args.cores,
        "old_docs": n_old,
        "new_docs": n_new,
        "batch_frac": round(n_new / max(1, n_old + n_new), 4),
        "state_build_wall_secs": state_wall,
        "increment_wall_secs": inc_wall,
        "full_recompute_wall_secs": full_wall,
        "increment_over_full": round(inc_wall / full_wall, 3),
        "assignment_mismatches": mismatches,
        "exact_match": mismatches == 0,
    }
    out = os.path.join(REPO, "BENCH", "incremental.json")
    with open(out, "w") as fh:
        json.dump(payload, fh, indent=1)
    print(json.dumps(payload))


if __name__ == "__main__":
    main()
