"""Signature stage (SURVEY.md B1/B2/B3/B7 fused): one Arrow pass over text.

(doc_id, text) -> sha256, token/shingle counts, 128-perm MinHash signature,
LSH band hashes, the 64-bit shingle-SimHash fingerprint (read by
queries.q_simhash_consistency; no edge kind uses it), and anchor shingles
(hash % anchor_mod == 0) for the containment pass. The full
distinct-shingle set is carried only when cfg.verify_mode == "exact"
(dropped at extreme scale in favor of signature-estimated Jaccard).

All heavy math is vectorized numpy from ``operators.hashing`` — identical
bits to the sequential oracle.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from webcrawler_spark.config import DedupConfig, DEFAULT_CONFIG
from webcrawler_spark.functions.textnorm import tokenize
from webcrawler_spark.operators import hashing as H

_BASE_FIELDS = [
    T.StructField("doc_id", T.LongType()),
    T.StructField("sha256", T.StringType()),
    T.StructField("n_chars", T.IntegerType()),
    T.StructField("n_tokens", T.IntegerType()),
    T.StructField("n_shingles", T.IntegerType()),
    T.StructField("minhash", T.ArrayType(T.LongType())),
    T.StructField("bands", T.ArrayType(T.LongType())),
    T.StructField("simhash", T.LongType()),
    T.StructField("n_anchors", T.IntegerType()),
    T.StructField("anchors", T.ArrayType(T.LongType())),
]

# exact verify mode carries the distinct-shingle arrays; signature mode
# OMITS the column entirely (not empty arrays), so an exact-mode verify over
# signature-mode signatures fails loudly on a missing column instead of
# silently computing zero-intersection Jaccards
SIGNATURE_SCHEMA = T.StructType(
    _BASE_FIELDS + [T.StructField("shingles", T.ArrayType(T.LongType()))]
)
SIGNATURE_SCHEMA_NO_SHINGLES = T.StructType(_BASE_FIELDS)


def compute_signatures(
    docs: DataFrame, cfg: DedupConfig = DEFAULT_CONFIG
) -> DataFrame:
    """docs must have columns (doc_id: long, text: string)."""
    keep_shingles = cfg.verify_mode == "exact"
    seeds = H.perm_seeds(cfg.minhash_k, cfg.seed)
    w = cfg.shingle_w
    bands, rows_per_band, seed = cfg.lsh_bands, cfg.lsh_rows, cfg.seed
    anchor_mod = np.uint64(cfg.anchor_mod)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict[str, int] = {}
        for pdf in batches:
            n = len(pdf)
            # batch-level token hashing: factorize the whole batch's token
            # stream (C-level), blake2b only the per-batch vocabulary (zipf
            # => tiny vs the stream), then gather — replaces millions of
            # per-token dict lookups per batch with one indexed gather
            tok_lists = [tokenize(t or "") for t in pdf["text"]]
            lens = np.fromiter((len(t) for t in tok_lists), dtype=np.int64, count=n)
            offs = np.zeros(n + 1, dtype=np.int64)
            np.cumsum(lens, out=offs[1:])
            flat = [tok for toks in tok_lists for tok in toks]
            codes, uniques = pd.factorize(np.asarray(flat, dtype=object))
            th_flat = H.token_hashes(uniques, cache)[codes]
            out = {
                "doc_id": pdf["doc_id"].astype("int64"),
                "sha256": [None] * n,
                "n_chars": np.zeros(n, dtype="int32"),
                "n_tokens": np.zeros(n, dtype="int32"),
                "n_shingles": np.zeros(n, dtype="int32"),
                "minhash": [None] * n,
                "bands": [None] * n,
                "simhash": np.zeros(n, dtype="int64"),
                "n_anchors": np.zeros(n, dtype="int32"),
                "anchors": [None] * n,
            }
            if keep_shingles:
                out["shingles"] = [None] * n
            for i, text in enumerate(pdf["text"]):
                text = text or ""
                out["sha256"][i] = hashlib.sha256(text.encode("utf-8")).hexdigest()
                # char count feeds the substring pass's scalar length gate
                # (a proper substring needs differing lengths) without ever
                # re-scanning document texts downstream
                out["n_chars"][i] = len(text)
                out["n_tokens"][i] = lens[i]
                th = th_flat[offs[i] : offs[i + 1]]
                sh = H.shingle_hashes(th, w)
                out["n_shingles"][i] = len(sh)
                sig = H.minhash_signature(sh, seeds)
                out["minhash"][i] = H.signed(sig).tolist()
                if len(sh) > 0:
                    bh = H.band_hashes(sig, bands, rows_per_band, seed)
                    out["bands"][i] = H.signed(bh).tolist()
                    fp = H.simhash64(sh)
                    out["simhash"][i] = fp - (1 << 64) if fp >= (1 << 63) else fp
                    anch = sh[sh % anchor_mod == np.uint64(0)]
                    out["n_anchors"][i] = len(anch)
                    out["anchors"][i] = H.signed(anch).tolist()
                else:
                    out["bands"][i] = []
                    out["anchors"][i] = []
                if keep_shingles:
                    out["shingles"][i] = H.signed(sh).tolist()
            yield pd.DataFrame(out)

    schema = SIGNATURE_SCHEMA if keep_shingles else SIGNATURE_SCHEMA_NO_SHINGLES
    return docs.select("doc_id", "text").mapInPandas(gen, schema=schema)
