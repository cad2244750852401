"""End-to-end dedup pipeline (SURVEY.md section 3.1 Spark re-expression).

scan web_pages -> salted repartition-by-domain (B13, politeness mirror)
-> extract (F7 Arrow UDF, gates F1/F2/F4/F5 as error rows)
-> signatures (B1/B2/B3/B7 fused) -> candidates (B4/B5/B7/B8)
-> verify (B6) -> edges (B9) -> connected components (B10)
-> cluster assignments (B11)

Every stage commits to the warehouse via ``Storage`` (idempotent resume:
committed stages with a matching config hash are skipped), with row-count
and partition-skew metrics appended per stage.

Run as a module for the spark-submit surface:
    python -m webcrawler_spark.plans.pipeline --input DIR --warehouse DIR
"""

from __future__ import annotations

import argparse
import json
import os
import time

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from webcrawler_spark.config import DEFAULT_CONFIG, DedupConfig
from webcrawler_spark.extract.spark_extract import extract_pages, good_pages
from webcrawler_spark.io import Storage
from webcrawler_spark.operators.components import assign_clusters
from webcrawler_spark.operators.lsh import build_edges
from webcrawler_spark.operators.signatures import compute_signatures

# task waves per core that tune_split_size sizes an Arrow stage's splits for
SPLIT_WAVES_PER_CORE = 4
# re-key rounds before resolve_id_collisions gives up (~2 expected)
MAX_ID_ROUNDS = 8


def domain_expr():
    """JVM-side domain of the ``url`` column (F11 analog for partitioning;
    the Go-parity domain is computed inside the extract UDF). parse_url
    HOST minus leading www."""
    return F.regexp_replace(
        F.parse_url(F.col("url"), F.lit("HOST")), r"^www\.", ""
    )


def salted_repartition_by_domain(
    df: DataFrame,
    cfg: DedupConfig = DEFAULT_CONFIG,
    *,
    stats_from: DataFrame,
) -> DataFrame:
    """B13: the politeness/frontier mirror. Partition by domain so each
    domain's pages co-locate (per-domain semantics, rate_limiter.go:49-50),
    salting mega-domains (> threshold rows) across cfg.mega_domain_salts
    partitions so one hot domain cannot serialize a stage — the fix for the
    reference's head-of-line blocking on a hot domain's mutex. The output
    has the session's shuffle partition count.

    ``stats_from`` is the cheap source (just a url column) of the
    mega-domain counts. ``df`` sits on top of an expensive subtree (the
    Arrow extraction UDF — Spark cannot column-prune through mapInPandas),
    so counting the RAW input here keeps that subtree single-consumer and
    extraction executes exactly once. Raw counts are a slight overcount of
    the extracted rows (error rows included) — fine for a salting
    threshold."""
    dom = df.withColumn("_domain", domain_expr())
    counts = stats_from.withColumn("_domain", domain_expr()).groupBy("_domain").count()
    mega = counts.filter(F.col("count") > cfg.mega_domain_threshold).select(
        "_domain", F.lit(True).alias("_is_mega")
    )
    salted = (
        dom.join(F.broadcast(mega), "_domain", "left")
        .withColumn(
            "_salt",
            F.when(
                F.col("_is_mega").isNotNull(),
                F.pmod(F.xxhash64("url"), F.lit(cfg.mega_domain_salts)),
            ).otherwise(F.lit(0)),
        )
        .drop("_is_mega")
    )
    parts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return salted.repartition(parts, "_domain", "_salt").drop("_domain", "_salt")


def tune_split_size(spark: SparkSession, path: str) -> int:
    """Size file splits for the NEXT (CPU-bound Arrow) stage so every core
    gets >= ``SPLIT_WAVES_PER_CORE`` task waves.

    The JVM-scan default (32 MB splits) is right for columnar aggregation,
    but an Arrow UDF chews ~5-10 MB/s/core — at small total input the
    default quantizes the stage into fewer tasks than cores x waves and the
    last wave runs half-empty (measured: 24 single-row-group input files
    capped a 16-core extract at 2.3x over 4 cores). 4 waves/core bounds the
    straggler tail at ~1/4 of a wave while per-task overhead (~50 ms) stays
    <2% of a multi-second Arrow task. At 100 TB inputs any split size yields
    abundant tasks and this returns the 128 MB cap. Session-conf based
    (Spark exposes no per-scan knob); physical scans read the conf at
    execution, so setting it before each stage's action is race-free in the
    sequential pipeline.

    Only meaningful for a POSIX-local warehouse: for a remote path (s3://,
    hdfs://, ...), a missing directory, or a catalog-managed format (the
    iceberg stage path holds only the JSON manifest) os.walk sees ~nothing
    and the old behavior clamped every later scan to the 1 MB floor —
    exploding task counts at exactly the scale this function exists for.
    Those cases now RESTORE the 128 MB default and return it untouched."""
    default = 128 << 20
    local = path if "://" not in path else (
        path[len("file://"):] if path.startswith("file://") else None
    )
    total = 0
    if local is not None and os.path.isdir(local):
        for root, _dirs, files in os.walk(local):
            for f in files:
                if not f.startswith("_"):
                    total += os.path.getsize(os.path.join(root, f))
    elif local is not None and os.path.isfile(local):
        total = os.path.getsize(local)
    if total <= 0:
        # non-local / missing / manifest-only: fall back to the Spark default
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(default))
        spark.conf.set("spark.sql.files.openCostInBytes", str(4 << 20))
        return default
    cores = spark.sparkContext.defaultParallelism
    per = max(1 << 20, min(default, total // max(1, cores * SPLIT_WAVES_PER_CORE)))
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(per))
    spark.conf.set(
        "spark.sql.files.openCostInBytes", str(max(per // 8, 128 << 10))
    )
    return per


def resolve_id_collisions(docs: DataFrame) -> DataFrame:
    """Make ``doc_id`` collision-free across distinct ``url`` values.

    At 10^12 docs a raw xxhash64(url) id has ~n^2/2^65 ≈ 27k expected
    birthday collisions, each silently fusing two unrelated documents into
    one cluster — unacceptable for a dedup engine whose output IS the id
    equivalence. Rather than widening every downstream operator (signatures,
    edges, union-find, oracles) to a 128-bit composite, collisions are
    RESOLVED: per round, find ids claimed by >1 distinct key (a tiny
    aggregate on one int64 column), broadcast that set, and deterministically
    re-key all but the first (min-key) claimant with a salted rehash. Rows
    sharing the same key keep the same id on purpose (repeated captures of
    one url are the same document identity). Deterministic given the input
    key set; expected rounds ~2 (27k * n / 2^64 ≈ 1e-3 residuals after one).

    The per-round collision probe is one shuffle over (id, key) scalars —
    the cheapest possible full pass — and the common zero-collision round
    exits without touching the data."""
    out = docs
    for salt in range(1, MAX_ID_ROUNDS + 1):
        dup_ids = (
            out.groupBy("doc_id")
            .agg(F.count_distinct("url").alias("_nk"))
            .filter(F.col("_nk") > 1)
            .select("doc_id")
        )
        if dup_ids.isEmpty():
            return out
        # split via broadcast flag so the re-rank window shuffles ONLY the
        # colliding rows (a few per collision), never the full table
        flagged = out.join(
            F.broadcast(dup_ids.withColumn("_dup", F.lit(True))), "doc_id", "left"
        )
        clean = flagged.filter(F.col("_dup").isNull()).drop("_dup")
        w = Window.partitionBy("doc_id").orderBy("url")
        rekeyed = (
            flagged.filter(F.col("_dup").isNotNull())
            .withColumn("_rk", F.dense_rank().over(w))
            .withColumn(
                "doc_id",
                F.when(
                    F.col("_rk") > 1,
                    F.xxhash64(F.col("url"), F.lit(salt)),
                ).otherwise(F.col("doc_id")),
            )
            .drop("_dup", "_rk")
        )
        out = clean.unionByName(rekeyed)
    raise RuntimeError(
        f"resolve_id_collisions: collisions persisted after {MAX_ID_ROUNDS} rounds"
    )


def with_doc_ids(docs: DataFrame) -> DataFrame:
    """Stable, collision-free doc ids: keep an input doc_id column when
    present, else xxhash64(url) with deterministic birthday-collision
    resolution (resolve_id_collisions) — the int64 plumbing of every
    downstream stage stays intact while the id remains unique per url at
    any corpus size."""
    if "doc_id" in docs.columns:
        return docs
    return resolve_id_collisions(
        docs.withColumn("doc_id", F.xxhash64("url"))
    )


def run_pipeline(
    spark: SparkSession,
    input_path: str,
    warehouse: str,
    cfg: DedupConfig = DEFAULT_CONFIG,
    run_id: str = "run0",
) -> dict[str, DataFrame]:
    storage = Storage(
        spark=spark, warehouse=warehouse, config_hash=cfg.config_hash(), run_id=run_id
    )
    timings: dict[str, float] = {}

    def timed_stage(name: str, build) -> DataFrame:
        t0 = time.time()
        out = storage.stage(name, build)
        timings[name] = time.time() - t0
        return out

    web = spark.read.parquet(input_path)
    # test corpora carry explicit ids (oracle parity); production input per
    # input_hint does not => derive from url. Either way the id rides
    # through the Arrow extract stage — no join back to the input.
    web = with_doc_ids(web)

    # Extraction runs NARROW over the scan splits (no shuffle of the raw
    # html payload — ~10x heavier than the extracted text); the B13 salted
    # repartition-by-domain (politeness mirror + skew handling) applies to
    # the extracted pages, preserving per-domain co-location for every
    # downstream stage at a tenth of the exchange bytes. Mega-domain counts
    # come from the RAW input's url column (a column-pruned parquet scan) so
    # the extraction UDF has exactly one consumer and executes once.
    tune_split_size(spark, input_path)
    pages = timed_stage(
        "extract",
        lambda: salted_repartition_by_domain(
            extract_pages(web),
            cfg,
            stats_from=web.select("url"),
        ),
    )
    docs = good_pages(pages).select("doc_id", "url", "text")

    tune_split_size(spark, storage.stage_path("extract"))
    sigs = timed_stage("signatures", lambda: compute_signatures(docs, cfg))
    storage.record_partition_skew("signatures", sigs)

    tune_split_size(spark, storage.stage_path("signatures"))
    held: list[DataFrame] = []
    edges = timed_stage(
        "edges", lambda: build_edges(sigs, cfg, docs=docs, persisted_out=held)
    )
    for df in held:  # edges are committed to the stage table — the cached
        df.unpersist()  # candidate intermediates are dead weight from here

    clusters = timed_stage(
        "clusters",
        lambda: assign_clusters(docs, edges)
        .join(docs.select("doc_id", "url"), "doc_id")
        .select("doc_id", "url", "cluster_id"),
    )
    storage._append_metrics("pipeline", {f"secs_{k}": v for k, v in timings.items()})
    return {"pages": pages, "signatures": sigs, "edges": edges, "clusters": clusters}


def main() -> None:
    ap = argparse.ArgumentParser(description="webcrawler_spark dedup pipeline")
    ap.add_argument("--input", required=True, help="web_pages parquet dir/file")
    ap.add_argument("--warehouse", required=True, help="output warehouse dir")
    ap.add_argument("--master", default=None)
    ap.add_argument("--run-id", default="run0")
    ap.add_argument("--shuffle-partitions", type=int, default=None,
                    help="fix the partition count (scaling benches use the "
                         "same value at every parallelism level)")
    ap.add_argument("--repeat", type=int, default=1,
                    help="run the pipeline N times (fresh warehouse each) in "
                         "one session; report each wall plus the warm "
                         "minimum. Steady-state throughput excludes one-time "
                         "JIT/python-worker spin-up, which any long-running "
                         "production job amortizes")
    ap.add_argument("--verify-mode", choices=["exact", "signature"],
                    default=DEFAULT_CONFIG.verify_mode,
                    help="'signature' is the extreme-scale path: shingle "
                         "arrays never leave the signature stage; Jaccard/"
                         "containment are estimated from MinHash agreement "
                         "with tau lowered by signature_tau_margin "
                         "(config.py)")
    args = ap.parse_args()

    from webcrawler_spark.session import get_spark

    spark = get_spark(
        "webcrawler-dedup", master=args.master,
        shuffle_partitions=args.shuffle_partitions,
    )
    import dataclasses

    cfg = (
        DEFAULT_CONFIG
        if args.verify_mode == DEFAULT_CONFIG.verify_mode
        else dataclasses.replace(DEFAULT_CONFIG, verify_mode=args.verify_mode)
    )
    walls = []
    result = {}
    for i in range(max(1, args.repeat)):
        wh = args.warehouse if args.repeat == 1 else f"{args.warehouse}_r{i}"
        t0 = time.time()
        run_id = f"{args.run_id}_{i}"
        out = run_pipeline(spark, args.input, wh, cfg=cfg, run_id=run_id)
        # row counts the stage writes observed, from the manifests just written
        storage = Storage(
            spark=spark, warehouse=wh, config_hash=cfg.config_hash(), run_id=run_id
        )
        n_docs = storage.read_manifest("signatures")["rows"]
        n_edges = storage.read_manifest("edges")["rows"]
        n_clusters = out["clusters"].select("cluster_id").distinct().count()
        wall = time.time() - t0
        walls.append(round(wall, 2))
        result = {
            "docs": n_docs,
            "edges": n_edges,
            "clusters": n_clusters,
            "wall_secs": round(wall, 2),
            "docs_per_sec": round(n_docs / wall, 1),
        }
    result["walls"] = walls
    result["warm_wall_secs"] = min(walls)
    result["warm_docs_per_sec"] = round(result["docs"] / min(walls), 1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
