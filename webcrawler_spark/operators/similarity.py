"""Hyperplane-LSH candidate pairs over fixed-dim vectors.

``lsh_candidate_pairs`` buckets ``(vec_id, embedding)`` rows by b-bit
random-hyperplane (sign-sketch) signatures over ``n_tables`` independent
tables and returns the distinct same-bucket pairs. The only shuffle is by
the (table, sig) bucket key, never a crossJoin. Planes come from a fixed
seed, so candidates are deterministic. Callers exact-rescore the
candidates, so precision is 1 by construction and ``(n_tables, n_bits)``
set the recall: ``q_embedding_dup_pairs`` runs 96 x 20 and the multimodal
queries (``multimodal.asset_dup_pairs``) run 48 x 12.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

PLANE_SEED = 42
# buckets larger than this are dropped before any pair is exploded
MAX_BUCKET = 5000


def hyperplane_signatures(
    df: DataFrame, dim: int, n_tables: int, n_bits: int
) -> DataFrame:
    """(vec_id, embedding) -> (vec_id, table, sig): the sign-bit signature
    per hash table. Vectorized numpy over Arrow batches, one matmul per
    table and batch."""
    rng = np.random.default_rng(PLANE_SEED)
    planes = rng.standard_normal((n_tables, n_bits, dim)).astype(np.float64)
    weights = (1 << np.arange(n_bits, dtype=np.int64))

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("table", T.IntegerType()),
            T.StructField("sig", T.LongType()),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.stack(pdf["embedding"].map(np.asarray).to_list()).astype(np.float64)
            ids = pdf["vec_id"].to_numpy()
            out_ids, out_tbl, out_sig = [], [], []
            for t in range(n_tables):
                bits = (mat @ planes[t].T) > 0  # (n, n_bits)
                sigs = bits.astype(np.int64) @ weights
                out_ids.append(ids)
                out_tbl.append(np.full(len(ids), t, dtype=np.int32))
                out_sig.append(sigs)
            yield pd.DataFrame(
                {
                    "vec_id": np.concatenate(out_ids),
                    "table": np.concatenate(out_tbl),
                    "sig": np.concatenate(out_sig),
                }
            )

    return df.select("vec_id", "embedding").mapInPandas(gen, schema=schema)


def lsh_candidate_pairs(
    embeddings: DataFrame, n_tables: int, n_bits: int
) -> DataFrame:
    """(vec_id, embedding) rows -> distinct candidate pairs
    (vec_id_a < vec_id_b) that share a hyperplane-LSH bucket in at least
    one table.

    Sized for HIGH thresholds (near-dup detection). At cosine 0.95 the
    per-bit collision odds are 1 - acos(.95)/pi ~ 0.899, so at 48 x 12 a
    qualifying pair shares a bucket with p ~ 0.28 per table and is missed
    by all tables with p ~ 1.7e-7. Buckets with more than ``MAX_BUCKET``
    members are dropped."""
    dim = int(embeddings.select(F.size("embedding").alias("d")).first()["d"])
    # persisted: the bucket-size count and the pair grouping both read the
    # Python signature stage; without it the stage runs twice per build
    sigs = hyperplane_signatures(embeddings, dim, n_tables, n_bits).persist()
    # bucket sizes by a partially aggregated count, not a window: no sort
    # of the sig stream, and oversize buckets go before collect_list
    # buffers them. The qualifying-key set is bounded by tables x 2^bits,
    # so it is broadcast and the sig stream pays one exchange.
    ok = (
        sigs.groupBy("table", "sig")
        .agg(F.count("*").alias("_sz"))
        .filter((F.col("_sz") >= 2) & (F.col("_sz") <= MAX_BUCKET))
        .select("table", "sig")
    )
    grouped = (
        sigs.join(F.broadcast(ok), ["table", "sig"])
        .groupBy("table", "sig")
        .agg(F.sort_array(F.collect_list("vec_id")).alias("ids"))
    )
    # slice() per row streams O(bucket) memory per bucket, never the
    # O(bucket^2) flattened pair array
    return (
        grouped.select(F.posexplode("ids").alias("i", "vec_id_a"), F.col("ids"))
        .select(
            "vec_id_a",
            F.explode(F.expr("slice(ids, i + 2, size(ids))")).alias("vec_id_b"),
        )
        .distinct()
    )
