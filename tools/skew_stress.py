"""Pathological-skew stress at scale (VERDICT r4 item 5).

Corpus shape chosen to be maximally hostile to the two guards under test:
ONE mega-domain holding ~30% of all docs (the salted repartition-by-domain
stage must still balance partitions) and a shared header/footer token block
in ~50% of docs (boilerplate stop-shingles: every anchor bucket for those
shingles holds ~half the corpus and must be DROPPED by anchor_max_bucket,
and the LSH bucket cap must keep candidate pair counts bounded
instead of exploding O(n^2) on the hot keys).

Runs the full pipeline once (fresh subprocess), then measures from the
committed stage outputs:

- partition-row max/median of the salted signatures stage (from the
  pipeline's own _metrics) — the cap-holds criterion is max <= ~2x median;
- bucket-drop accounting recomputed from the signatures stage table:
  anchor keys dropped (bucket > anchor_max_bucket) with the row mass they
  carried, and LSH band keys truncated (bucket > max_bucket_size);
- edge/cluster counts and the wall — a pair-count explosion would show up
  as a runaway edges stage.

Writes BENCH/skew_stress.json. Run in a quiet window. Usage:

    python tools/skew_stress.py [--docs 2000000] [--cores 16]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
from datetime import datetime, timezone

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def ensure_skew_corpus(n_docs: int, base: str) -> str:
    out = os.path.join(base, f"skew_corpus_{n_docs}")
    marker = os.path.join(out, "web_pages.parquet")
    if not os.path.exists(marker):
        from webcrawler_spark.sources.corpus import write_parquet_sharded

        print(f"generating pathological {n_docs}-doc corpus -> {out}",
              file=sys.stderr)
        write_parquet_sharded(
            n_docs, out, shards=24, seed=42,
            mega_domains=1, boiler_frac=0.5,
        )
    return marker


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=2_000_000)
    ap.add_argument("--cores", type=int, default=16)
    ap.add_argument("--shuffle-partitions", type=int, default=64)
    ap.add_argument("--base", default="/tmp/webcrawler_scaling")
    ap.add_argument("--keep-warehouse", action="store_true")
    args = ap.parse_args()

    input_path = ensure_skew_corpus(args.docs, args.base)
    wh = tempfile.mkdtemp(prefix="wh_skew_", dir=args.base)
    cmd = [
        sys.executable, "-m", "webcrawler_spark.plans.pipeline",
        "--input", input_path, "--warehouse", wh,
        "--master", f"local[{args.cores}]",
        "--shuffle-partitions", str(args.shuffle_partitions),
        "--run-id", "skew", "--repeat", "1",
    ]
    env = dict(os.environ, PYTHONPATH=REPO, SPARK_LOCAL_DIRS="/dev/shm")
    t0 = time.time()
    proc = subprocess.run(cmd, capture_output=True, text=True, env=env,
                          timeout=7200)
    if proc.returncode != 0:
        print(proc.stdout[-2000:], proc.stderr[-6000:], file=sys.stderr)
        raise RuntimeError("skew pipeline run failed")
    run = json.loads(proc.stdout.strip().splitlines()[-1])
    run["subprocess_secs"] = round(time.time() - t0, 1)

    # post-hoc accounting over the committed stage outputs (separate light
    # session; the timed run above is untouched)
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from webcrawler_spark.config import DEFAULT_CONFIG as CFG
    from webcrawler_spark.session import get_spark

    spark = get_spark("skew-audit", master=f"local[{args.cores}]",
                      shuffle_partitions=args.shuffle_partitions)
    spark.sparkContext.setLogLevel("ERROR")
    sigs = spark.read.parquet(os.path.join(wh, "_stages", "signatures"))

    def bucket_stats(col: str, cap: int) -> dict:
        counts = (
            sigs.select(F.explode(col).alias("key"))
            .groupBy("key").agg(F.count("*").alias("sz"))
        )
        row = counts.agg(
            F.count("*").alias("keys"),
            F.max("sz").alias("max_sz"),
            F.sum(F.when(F.col("sz") > cap, 1).otherwise(0)).alias("keys_over"),
            F.sum(F.when(F.col("sz") > cap, F.col("sz")).otherwise(0)).alias(
                "rows_over"
            ),
        ).collect()[0]
        return {
            "keys": row["keys"], "max_bucket": row["max_sz"], "cap": cap,
            "keys_over_cap": int(row["keys_over"] or 0),
            "rows_in_over_cap_keys": int(row["rows_over"] or 0),
        }

    anchor = bucket_stats("anchors", CFG.anchor_max_bucket)
    bands = bucket_stats("bands", CFG.max_bucket_size)

    metrics = spark.read.parquet(os.path.join(wh, "_metrics"))
    skew_rows = {
        r["metric"]: r["value"]
        for r in metrics.filter(
            (F.col("stage") == "signatures")
            & F.col("metric").startswith("partition_rows")
        ).collect()
    }
    mx = skew_rows.get("partition_rows_max") or 0
    med = skew_rows.get("partition_rows_median") or 1

    payload = {
        "generated": datetime.now(timezone.utc).isoformat(timespec="seconds"),
        "docs": args.docs,
        "cores": args.cores,
        "corpus": {"mega_domains": 1, "mega_domain_frac": 0.3,
                   "boiler_frac": 0.5, "seed": 42},
        "run": run,
        "partition_rows_max": mx,
        "partition_rows_median": med,
        "partition_max_over_median": round(mx / med, 2),
        "cap_holds_2x": bool(mx <= 2 * med),
        "anchor_buckets": anchor,
        "band_buckets": bands,
    }
    spark.stop()
    if not args.keep_warehouse:
        shutil.rmtree(wh, ignore_errors=True)
    out = os.path.join(REPO, "BENCH", "skew_stress.json")
    with open(out, "w") as fh:
        json.dump(payload, fh, indent=1)
    print(json.dumps(payload))


if __name__ == "__main__":
    main()
