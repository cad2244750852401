"""Cosine near-duplicate pairs over fixed-dim int64 vectors.

``cosine_dup_pairs`` is the one vector near-dup path: embeddings
(``q_embedding_dup_pairs``, quantized to milli-units) and decoded image
and audio content (``multimodal.asset_dup_pairs``, centered sample
profiles) both run it. ``lsh_candidate_pairs`` buckets the vectors by b-bit
random-hyperplane (sign-sketch) signatures over ``n_tables`` independent
tables and returns the distinct same-bucket pairs; the only shuffle is by
the (table, sig) bucket key, never a crossJoin. Planes come from a fixed
seed, so candidates are deterministic. Every candidate is rescored with
the exact int64 cosine (``cosine``), so precision is 1 by construction
and ``(n_tables, n_bits)`` set the recall: embeddings run 96 x 20 and the
multimodal queries 48 x 12.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
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


def squared_norm(v: str) -> Column:
    """sum(x * x) over an array<long> column, in exact int64."""
    return F.aggregate(v, F.lit(0).cast("long"), lambda acc, x: acc + x * x)


def cosine(va: str, vb: str, na: str, nb: str) -> Column:
    """round(dot(va, vb) / (sqrt(na) * sqrt(nb)), 6) over array<long>
    vectors and their squared norms. The dot product is exact int64, so
    Spark and the DuckDB oracles agree bit for bit. A zero norm gives NULL,
    as DuckDB's division does, not an ANSI divide-by-zero error."""
    dot = F.aggregate(
        F.zip_with(va, vb, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return F.round(F.try_divide(dot, F.sqrt(na) * F.sqrt(nb)), 6)


def cosine_dup_pairs(
    vectors: DataFrame, n_tables: int, n_bits: int, threshold: float
) -> DataFrame:
    """(vec_id, v: array<long>) -> (vec_id_a < vec_id_b, cosine) for every
    pair at cosine >= ``threshold``.

    Candidates are ``lsh_candidate_pairs`` over ``v`` cast to double; each
    is rescored with the exact int64 ``cosine``. Squared norms are computed
    once per vector, not per candidate row (the optimizer pushes the
    threshold filter into the join condition, which evaluates the cosine
    twice per row). Zero-norm vectors have no cosine and are dropped
    before the rescore join."""
    cand = lsh_candidate_pairs(
        vectors.select(
            "vec_id", F.col("v").cast("array<double>").alias("embedding")
        ),
        n_tables=n_tables,
        n_bits=n_bits,
    )
    withn = vectors.select("vec_id", "v", squared_norm("v").alias("n")).filter(
        F.col("n") > 0
    )
    a, b = (
        withn.select(
            F.col("vec_id").alias(f"vec_id_{s}"),
            F.col("v").alias(f"v{s}"),
            F.col("n").alias(f"n{s}"),
        )
        for s in "ab"
    )
    return (
        cand.join(a, "vec_id_a")
        .join(b, "vec_id_b")
        .withColumn("cosine", cosine("va", "vb", "na", "nb"))
        .filter(F.col("cosine") >= threshold)
        .select("vec_id_a", "vec_id_b", "cosine")
    )
