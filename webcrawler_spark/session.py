"""SparkSession factory with the engine's scale defaults.

Defaults are tuned for the 100 TB design point and harmless locally:
AQE on (runtime coalescing, skew-join splitting), Arrow batching for the
Python stages, runtime bloom-filter join reduction (the built-in analog of
the reference's bloom pre-filter, SURVEY.md section 4).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# rows per Arrow batch sent to a Python stage; bounds the per-batch numpy
# transients of the signature stage (hashing.minhash_signature)
ARROW_BATCH_ROWS = 2000


def get_spark(
    app_name: str = "webcrawler-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        # local mode: ~1x cores; on a real cluster this is overridden to
        # ~2-3x total executor cores (or left to AQE coalescing from a
        # high initial value)
        cores = master.split("[")[-1].rstrip("]")
        shuffle_partitions = 32 if cores in ("*", "") else max(8, int(cores))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # medium parquet stage outputs should still split across cores
        .config("spark.sql.files.maxPartitionBytes", "32m")
        # scale-adaptive scan parallelism: floor the split count at the
        # session's core count so a single ~100 MB parquet file (e.g.
        # lineitem at sf1.0) fans out over every core instead of 3-4
        # splits; on a cluster this tracks total cores via the same
        # expression, and maxPartitionBytes still caps split size
        .config("spark.sql.files.minPartitionNum", str(shuffle_partitions))
        # prefer shuffled-hash over sort-merge when the per-partition build
        # side fits: skips both sort passes; AQE additionally rewrites
        # SMJ->SHJ at runtime below the local-map threshold. Joins are
        # strategy-independent in results.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m"
        )
        # windowGroupLimitThreshold stays at the Spark default: the
        # engine's rank-filter windows (LSH band buckets, anchor buckets,
        # link_budget top-k) have heavily repeated keys, where the partial
        # map-side limit prunes most rows before the exchange.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS))
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def iceberg_catalog_conf(catalog: str, warehouse: str) -> dict[str, str]:
    """Spark conf for a Hadoop-backed Iceberg catalog (the production table
    format per the north rule; requires the iceberg-spark-runtime jar on the
    session classpath, e.g. spark-submit --packages
    org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<ver>).

    These keys are settable on a LIVE session too (catalog plugins
    instantiate lazily on first reference), which is how the integration
    test injects a scratch catalog without rebuilding the session."""
    return {
        f"spark.sql.catalog.{catalog}": "org.apache.iceberg.spark.SparkCatalog",
        f"spark.sql.catalog.{catalog}.type": "hadoop",
        f"spark.sql.catalog.{catalog}.warehouse": warehouse,
    }


def iceberg_available(spark: SparkSession) -> bool:
    """True iff the Iceberg Spark runtime is on the JVM classpath."""
    try:
        spark._jvm.java.lang.Class.forName(  # type: ignore[union-attr]
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False
