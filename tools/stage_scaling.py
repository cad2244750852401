"""Isolated per-stage scaling measurement (extract / signatures / edges).

Complements tools/scaling_bench.py (end-to-end walls): each stage is timed
in a fresh subprocess per (stage, cores) with its INPUT pre-materialized to
parquet, python workers warmed by an untimed pass, and best-of-N taken while
alternating core counts — isolating the throughput-bearing compute from
stage-graph latency and host noise. Feeds the stage table in
BENCH/BASELINE.md.

Usage: python tools/stage_scaling.py [--docs 100000] [--reps 2]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

_WORKER = r"""
import json, sys, time
sys.path.insert(0, {repo!r})
from webcrawler_spark.session import get_spark
from webcrawler_spark.plans.pipeline import tune_split_size
spark = get_spark("stage-scaling", master="local[{cores}]",
                  shuffle_partitions={parts})
spark.sparkContext.setLogLevel("ERROR")
stage = {stage!r}
tune_split_size(spark, {inp!r})  # same split sizing as the pipeline

if stage == "extract":
    from webcrawler_spark.extract.spark_extract import extract_pages
    from webcrawler_spark.plans.pipeline import (
        salted_repartition_by_domain, with_doc_ids)
    web = with_doc_ids(spark.read.parquet({inp!r}))
    web.count()  # warm scan cache metadata + python workers

    def run():
        return salted_repartition_by_domain(
            extract_pages(web),
            stats_from=web.select("url"),
        ).count()
elif stage == "signatures":
    from webcrawler_spark.config import DEFAULT_CONFIG
    from webcrawler_spark.operators.signatures import compute_signatures
    docs = spark.read.parquet({inp!r})
    docs.count()

    def run():
        return compute_signatures(docs, DEFAULT_CONFIG).count()
elif stage == "edges":
    from webcrawler_spark.config import DEFAULT_CONFIG
    from webcrawler_spark.operators.lsh import build_edges
    sigs = spark.read.parquet({inp!r})
    docs = spark.read.parquet({docs_inp!r})
    sigs.count(); docs.count()

    def run():
        return build_edges(sigs, DEFAULT_CONFIG, docs=docs).count()
else:
    raise SystemExit(f"unknown stage {{stage}}")

run()  # untimed warm pass (JIT + python worker spin-up)
best = None
for _ in range({timed_reps}):
    t0 = time.time()
    n = run()
    el = time.time() - t0
    best = el if best is None else min(best, el)
print(json.dumps({{"stage": stage, "cores": {cores}, "secs": round(best, 2),
                   "rows": n}}))
"""


def prep_inputs(n_docs: int, base: str) -> tuple[str, str, str]:
    """Materialize web_pages, extracted docs, and signatures parquet."""
    from tools.scaling_bench import ensure_corpus

    web = ensure_corpus(n_docs, base)
    docs_out = os.path.join(base, f"stage_docs_{n_docs}.parquet")
    sigs_out = os.path.join(base, f"stage_sigs_{n_docs}.parquet")
    if not (os.path.exists(docs_out) and os.path.exists(sigs_out)):
        code = f"""
import sys; sys.path.insert(0, {REPO!r})
from webcrawler_spark.session import get_spark
from webcrawler_spark.config import DEFAULT_CONFIG
from webcrawler_spark.extract.spark_extract import extract_pages, good_pages
from webcrawler_spark.operators.signatures import compute_signatures
from webcrawler_spark.plans.pipeline import with_doc_ids
spark = get_spark("prep", master="local[16]", shuffle_partitions=64)
spark.sparkContext.setLogLevel("ERROR")
web = with_doc_ids(spark.read.parquet({web!r}))
docs = good_pages(extract_pages(web)).select(
    "doc_id", "url", "text")
docs.write.mode("overwrite").parquet({docs_out!r})
docs2 = spark.read.parquet({docs_out!r})
compute_signatures(docs2, DEFAULT_CONFIG).write.mode("overwrite").parquet(
    {sigs_out!r})
"""
        subprocess.run([sys.executable, "-c", code], check=True,
                       env=dict(os.environ, SPARK_LOCAL_DIRS="/dev/shm"))
    return web, docs_out, sigs_out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=100000)
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--cores-small", type=int, default=4)
    ap.add_argument("--cores-large", type=int, default=16)
    ap.add_argument("--shuffle-partitions", type=int, default=64)
    args = ap.parse_args()

    base = os.environ.get("SCALING_TMP", "/tmp/webcrawler_scaling")
    os.makedirs(base, exist_ok=True)
    web, docs_p, sigs_p = prep_inputs(args.docs, base)

    results: dict[tuple[str, int], float] = {}
    for stage, inp in [("extract", web), ("signatures", docs_p), ("edges", sigs_p)]:
        for rep in range(args.reps):
            # alternate core counts back-to-back to cancel host drift
            for cores in (args.cores_small, args.cores_large):
                code = _WORKER.format(
                    repo=REPO, cores=cores, parts=args.shuffle_partitions,
                    stage=stage, inp=inp, docs_inp=docs_p, timed_reps=2,
                )
                proc = subprocess.run(
                    [sys.executable, "-c", code], capture_output=True,
                    text=True, timeout=3600,
                    env=dict(os.environ, SPARK_LOCAL_DIRS="/dev/shm"),
                )
                if proc.returncode != 0:
                    print(proc.stderr[-3000:], file=sys.stderr)
                    raise RuntimeError(f"{stage}@{cores} failed")
                out = json.loads(proc.stdout.strip().splitlines()[-1])
                key = (stage, cores)
                results[key] = min(results.get(key, 1e9), out["secs"])
                print(f"rep {rep} {stage}@local[{cores}]: {out['secs']}s",
                      file=sys.stderr)

    table = []
    for stage in ("extract", "signatures", "edges"):
        ts = results[(stage, args.cores_small)]
        tl = results[(stage, args.cores_large)]
        table.append({
            "stage": stage, f"t{args.cores_small}": ts,
            f"t{args.cores_large}": tl,
            "speedup": round(ts / tl, 2),
            "efficiency": round(ts / tl / (args.cores_large / args.cores_small), 3),
        })
    from datetime import datetime, timezone

    payload = {
        "generated": datetime.now(timezone.utc).isoformat(timespec="seconds"),
        "docs": args.docs,
        "stages": table,
    }
    out = os.path.join(REPO, "BENCH", "stage_scaling.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as fh:
        json.dump(payload, fh, indent=1)
    print(json.dumps(payload))


if __name__ == "__main__":
    main()
