"""Storage adapter: per-stage checkpoint/lineage/metrics tables.

Replaces the reference's ad-hoc persistence (progress.txt every 100 lines,
bloomfilter.dat every 1,000 inserts — administrator.go:239-261,
bloomfilter.go:92-109) with stage-granular, idempotent table commits:
a stage whose manifest exists with a matching config hash is SKIPPED on
re-run, so the pipeline resumes mid-run after a crash.

Format: Iceberg when a runtime catalog is configured (``table_format=
"iceberg"`` + ``iceberg_catalog``: stage outputs become catalog tables via
``df.writeTo(...).using("iceberg").createOrReplace()`` and reads go through
``spark.table`` — exercised by tests/test_storage.py::test_iceberg_stage_
roundtrip, which skips when the iceberg-spark-runtime jar is absent, as in
this sandbox); otherwise a plain parquet directory layout. Either way an
explicit JSON manifest per stage is the commit point (written LAST), so the
resume semantics are format-independent.

Bookkeeping runs no Spark job beyond the stage write itself:

- a stage's ``rows`` (manifest and ``rows_out`` metric) is the count the
  write observed on its own input (``DataFrame.observe``), not a read-back
  scan of the written table;
- metrics are appended as one small parquet file per call, written on the
  driver with pyarrow under ``<warehouse>/_metrics/`` (a ``_``-prefixed temp
  name, then an atomic rename to ``part-<uuid>.parquet``, so a crash
  mid-write leaves only a file Spark and ``pyarrow.dataset`` both ignore).
  ``_metrics`` stays a parquet dataset with the schema ``run_id string,
  stage string, metric string, value double, recorded_at double``.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

MANIFEST = "_MANIFEST.json"
METRICS_SCHEMA = pa.schema(
    [
        ("run_id", pa.string()),
        ("stage", pa.string()),
        ("metric", pa.string()),
        ("value", pa.float64()),
        ("recorded_at", pa.float64()),
    ]
)


@dataclass
class Storage:
    spark: SparkSession
    warehouse: str
    config_hash: str
    run_id: str = "run0"
    table_format: str = "parquet"  # "iceberg" when a catalog is configured
    # catalog.namespace prefix for iceberg stage tables (the catalog must be
    # configured on the session — session.iceberg_catalog_conf)
    iceberg_catalog: str = "local"
    iceberg_namespace: str = "dedup"

    # ---- stage checkpoints ------------------------------------------------
    def stage_path(self, stage: str) -> str:
        return os.path.join(self.warehouse, "_stages", stage)

    def stage_table(self, stage: str) -> str:
        """Fully-qualified Iceberg table name for a stage (table per stage,
        namespaced per run so concurrent runs never collide)."""
        return (
            f"{self.iceberg_catalog}.{self.iceberg_namespace}"
            f".{self.run_id}_{stage}"
        )

    def read_manifest(self, stage: str) -> dict | None:
        """The stage's commit manifest, or None when it is missing or
        unreadable (an uncommitted stage)."""
        try:
            with open(os.path.join(self.stage_path(stage), MANIFEST)) as fh:
                return json.load(fh)
        except (OSError, json.JSONDecodeError):
            return None

    def is_committed(self, stage: str) -> bool:
        manifest = self.read_manifest(stage)
        return manifest is not None and manifest.get("config_hash") == self.config_hash

    def commit_stage(self, stage: str, df: DataFrame) -> DataFrame:
        """Write the stage output, record lineage metrics, write the manifest
        LAST (commit point: a crash mid-write leaves no manifest => re-run).

        The write is the only Spark job: ``rows`` is the row count the write
        observed on ``df`` (a CollectMetrics node riding the write's own
        tasks), and ``commit_secs`` is the write wall alone — no read-back
        count of the written table."""
        path = self.stage_path(stage)
        t0 = time.time()
        obs = Observation()
        df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
        if self.table_format == "iceberg":
            self.spark.sql(
                f"CREATE NAMESPACE IF NOT EXISTS "
                f"{self.iceberg_catalog}.{self.iceberg_namespace}"
            )
            df.writeTo(self.stage_table(stage)).using("iceberg").createOrReplace()
            os.makedirs(path, exist_ok=True)  # manifest home
        else:
            df.write.mode("overwrite").parquet(path)
        out = self.read_stage(stage)
        rows = obs.get["rows"]
        self._append_metrics(stage, {"rows_out": rows, "commit_secs": time.time() - t0})
        with open(os.path.join(path, MANIFEST), "w") as fh:
            json.dump(
                {
                    "stage": stage,
                    "run_id": self.run_id,
                    "config_hash": self.config_hash,
                    "rows": rows,
                    "committed_at": time.time(),
                },
                fh,
            )
        return out

    def read_stage(self, stage: str) -> DataFrame:
        if self.table_format == "iceberg":
            return self.spark.table(self.stage_table(stage))
        return self.spark.read.parquet(self.stage_path(stage))

    def stage(self, name: str, build) -> DataFrame:
        """Idempotent stage: reuse the committed output when the config hash
        matches, else build + commit. ``build`` is a 0-arg callable."""
        if self.is_committed(name):
            return self.read_stage(name)
        return self.commit_stage(name, build())

    # ---- metrics ----------------------------------------------------------
    def _append_metrics(self, stage: str, values: dict[str, float]) -> None:
        """Append one parquet file of ``values`` to ``_metrics`` from the
        driver (no Spark job). The file becomes visible atomically: readers
        skip ``_``-prefixed names, so only the final rename publishes it."""
        now = time.time()
        table = pa.table(
            {
                "run_id": [self.run_id] * len(values),
                "stage": [stage] * len(values),
                "metric": list(values),
                "value": [float(v) for v in values.values()],
                "recorded_at": [now] * len(values),
            },
            schema=METRICS_SCHEMA,
        )
        mdir = os.path.join(self.warehouse, "_metrics")
        os.makedirs(mdir, exist_ok=True)
        name = f"part-{uuid.uuid4().hex}.parquet"
        tmp = os.path.join(mdir, "_" + name)
        pq.write_table(table, tmp, store_schema=False)
        os.replace(tmp, os.path.join(mdir, name))

    def record_partition_skew(self, stage: str, df: DataFrame) -> dict[str, float]:
        """Per-partition row histogram => max/median (skew evidence for the
        salted repartition stage, BASELINE.md section C-3)."""
        counts = (
            df.groupBy(F.spark_partition_id().alias("pid"))
            .count()
            .agg(
                F.max("count").alias("mx"),
                F.expr("percentile_approx(count, 0.5)").alias("med"),
                F.count("*").alias("nparts"),
            )
            .collect()[0]
        )
        vals = {
            "partition_rows_max": counts["mx"] or 0,
            "partition_rows_median": counts["med"] or 0,
            "partitions": counts["nparts"],
        }
        self._append_metrics(stage, vals)
        return vals

    def read_metrics(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.warehouse, "_metrics"))
