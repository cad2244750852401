"""Exact substring containment (SURVEY.md B8, the suffix-array pass).

Shingle-set containment (lsh.py) catches token-level containment; this
operator verifies EXACT substring relations (doc A is a contiguous substring
of doc B) for candidate pairs, and provides a per-partition generalized
suffix-array discovery utility for within-partition mining.

Scale design: candidates come from the anchor stage (shared rare shingles),
verification co-locates only the LENGTH-GATED candidate pairs' texts (the
gate runs on signature-stage n_chars metadata — scalar joins, no text
re-scan — and prunes equal-length pairs: identical texts are exact edges,
unequal texts of one length cannot contain each other), and the per-pair
check is O(|B|) Two-Way search inside an Arrow batch. A global
suffix array over 10^12 docs is infeasible; the per-partition variant after
repartitioning on an anchor prefix is the bounded alternative.

Documented miss classes of the anchor-sampled candidate stream (what the
sampling can structurally NOT see — stated here and mirrored in the SQL
oracle's preconditions rather than claimed away, SURVEY.md section 7):

1. contained doc shorter than shingle_w tokens — its whole-sequence
   fallback shingle can never equal one of the container's w-gram hashes;
2. contained doc with zero kept anchors — none of its shingle hashes is
   ≡ 0 (mod anchor_mod), odds (1-1/mod)^m for m shingles (~1e-6 at m=100,
   mod=8; only very short docs are realistically at risk), or every one of
   its anchors sits in an oversize-dropped boilerplate bucket;
3. char-level substrings that are token-misaligned for MOST of their
   length (a misaligned prefix only corrupts the leading shingle windows,
   so long occurrences still share enough anchors in practice).

For true substring pairs OUTSIDE those classes the tier-1 estimate is
exactly 1 (every kept anchor of the contained doc is, by the substring
relation, a kept anchor of the container), so the anchor stream finds them
deterministically — not w.h.p.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_PAIR_SCHEMA = T.StructType(
    [
        T.StructField("a", T.LongType()),
        T.StructField("b", T.LongType()),
        T.StructField("is_substring", T.BooleanType()),
        T.StructField("container", T.LongType()),  # the larger doc, when true
    ]
)


def substring_containment(
    pairs: DataFrame, docs: DataFrame, meta: DataFrame | None = None
) -> DataFrame:
    """pairs(a, b) + docs(doc_id, text) -> exact substring verdicts.

    The smaller text is searched inside the larger (str in str — C-level
    Two-Way algorithm). Scale shape:

    - **Length gate first** (scalar join, no text moves): a pair can only be
      a PROPER substring when the char lengths differ — equal lengths imply
      either identical texts (already an exact edge from the sha256
      pre-pass; re-verifying them here would be redundant work on corpora
      with heavy exact duplication) or no containment at all. Pairs with an
      empty side are dropped too (empty never contains/is-contained).
      ``meta`` (doc_id, n_chars) supplies the lengths from signature-stage
      metadata so no document text is re-scanned for the gate; without it
      the lengths are computed from ``docs``.
    - Text joins run only over the GATED pair set. Pair counts here are
      bounded by the tier-1 containment estimate (≈ true-positive scale),
      so text bytes crossing the join are O(surviving pairs), not
      O(candidates) — a deliberate latency/scan trade over a needed-texts
      semi-join, which was measured to cost more in stage latency than it
      saves in bytes at every scale probed. Hub evidence
      (tools/substring_shuffle_probe.py -> BENCH/substring_shuffle.json):
      a 64 KiB container in ~300 pairs shuffles ~6 MB compressed across
      the whole verify sub-DAG (~21 KB/pair), bounded structurally by the
      64 KiB/doc textnorm cap x true-positive pairs; the inverse hub (one
      doc contained in many) never reaches the text join — its anchor
      buckets all exceed anchor_max_bucket (documented miss class below).

    NOTE: identical-text pairs return no row (they are exact-kind edges,
    not substring edges).
    """
    if meta is not None and "n_chars" in meta.columns:
        lens = meta.select("doc_id", F.col("n_chars").alias("_len"))
    else:
        lens = docs.select("doc_id", F.length("text").alias("_len"))
    la = lens.select(F.col("doc_id").alias("a"), F.col("_len").alias("len_a"))
    lb = lens.select(F.col("doc_id").alias("b"), F.col("_len").alias("len_b"))
    gated = (
        pairs.join(la, "a")
        .join(lb, "b")
        .filter(substring_length_gate())
        .select("a", "b")
    )
    return verify_substring_pairs(gated, docs)


def substring_length_gate() -> Column:
    """Pair filter over (len_a, len_b) char lengths: a pair can only be a
    PROPER substring pair when its lengths differ (equal lengths are exact
    edges or nothing) and neither side is empty. The one definition every
    substring path filters its candidates with."""
    return (F.col("len_a") != F.col("len_b")) & (F.least("len_a", "len_b") > 0)


def verify_substring_pairs(gated: DataFrame, docs: DataFrame) -> DataFrame:
    """The text-verify core: caller guarantees the pairs are already
    length-gated (differing, non-zero lengths). ``gated_substring_edges``
    gates the tier-1 survivors with the lengths their join carries."""
    ta = docs.select(F.col("doc_id").alias("a"), F.col("text").alias("text_a"))
    tb = docs.select(F.col("doc_id").alias("b"), F.col("text").alias("text_b"))
    # rebalance before the Python stage: the (tiny) pair set is broadcast
    # against the docs scan, so the join output inherits the scan's split
    # count — mostly-empty partitions that each still launch a Python
    # worker task. The AQE rebalance packs the surviving (pair, texts) rows
    # into ~advisory-sized partitions at any scale (it is NOT cached, so
    # AQE is free to coalesce), and the exchange moves only verified-pair
    # texts, O(true pairs).
    joined = gated.join(ta, "a").join(tb, "b").hint("rebalance")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"a": [], "b": [], "is_substring": [], "container": []}
            for a, b, x, y in zip(pdf["a"], pdf["b"], pdf["text_a"], pdf["text_b"]):
                x = x or ""
                y = y or ""
                small, big = (x, y) if len(x) <= len(y) else (y, x)
                hit = bool(small) and small in big
                out["a"].append(int(a))
                out["b"].append(int(b))
                out["is_substring"].append(hit)
                out["container"].append(
                    int(b if len(x) <= len(y) else a) if hit else None
                )
            yield pd.DataFrame(out)

    return joined.mapInPandas(gen, schema=_PAIR_SCHEMA)


def gated_substring_edges(tier1: DataFrame, docs: DataFrame) -> DataFrame:
    """Tier-1 survivors (a, b, len_a, len_b) -> exact-substring edges
    (a, b, kind='substring'): the length gate, then the text verify. The
    substring step of lsh.build_edges and of ``substring_edges``."""
    gated = tier1.filter(substring_length_gate()).select("a", "b")
    return (
        verify_substring_pairs(gated, docs)
        .filter(F.col("is_substring"))
        .select("a", "b", F.lit("substring").alias("kind"))
    )


def substring_edges(
    sigs: DataFrame, docs: DataFrame, cfg=None, persisted_out=None
) -> DataFrame:
    """Exact-substring edges (a, b, kind='substring') over the anchor
    candidates: the substring-kind edges lsh.build_edges(sigs, cfg,
    docs=docs) emits when cfg.substring_pass, without running the other
    generators or kinds. ``docs`` needs (doc_id, text).

    The capped anchor buckets are persisted (the pair grouping and the
    kept-anchor counts both read them); when ``persisted_out`` is given
    they are appended to it for the caller to ``unpersist()`` after the
    edges are materialized."""
    from webcrawler_spark.config import DEFAULT_CONFIG
    from webcrawler_spark.operators.lsh import (
        _kept_anchor_counts,
        _pairs_from_unified,
        _tier1_survivors,
        unified_capped_buckets,
    )

    cfg = cfg or DEFAULT_CONFIG
    # the gen filter is pushed below both cap windows and through the
    # bucket union: only the anchor stream is exploded
    capped = (
        unified_capped_buckets(sigs, cfg)
        .filter(F.col("gen") == "anchor")
        .persist()
    )
    if persisted_out is not None:
        persisted_out.append(capped)
    tier1 = _tier1_survivors(
        _pairs_from_unified(capped),
        _kept_anchor_counts(capped),
        sigs,
        cfg,
        with_len=True,
    )
    return gated_substring_edges(tier1, docs)


# ---------------------------------------------------------------------------
# per-partition generalized suffix array (discovery within a partition)
# ---------------------------------------------------------------------------

def build_suffix_array(tok_h: np.ndarray, prefix: int = 8) -> np.ndarray:
    """Suffix ordering of a uint64 token-hash sequence by fixed-width prefix
    keys (numpy lexsort of the first `prefix` columns, padded). Sufficient
    for k-prefix grouping; full comparisons happen only within prefix ties."""
    n = len(tok_h)
    if n == 0:
        return np.empty(0, dtype=np.int64)
    cols = []
    for j in range(prefix):
        col = np.full(n, 0, dtype=np.uint64)
        col[: n - j] = tok_h[j:]
        cols.append(col)
    return np.lexsort(cols[::-1]).astype(np.int64)


def partition_containment_pairs(
    doc_ids: list[int],
    token_seqs: list[np.ndarray],
    min_len: int = 16,
) -> list[tuple[int, int]]:
    """Within one partition: find docs whose full token sequence occurs
    verbatim inside another doc. Returns (contained_id, container_id) pairs.

    Implementation: concatenate all token-hash sequences (uint64) with
    unique separators into one byte string and use C-level substring search
    per doc, accepting only 8-byte-aligned hits (token boundaries) outside
    the doc's own span. Equivalent to generalized-suffix-array lookup with
    O(total) memory and C-speed scans.
    """
    if not doc_ids:
        return []
    chunks: list[bytes] = []
    spans: list[tuple[int, int]] = []  # byte span per doc
    off = 0
    for i, seq in enumerate(token_seqs):
        b = np.ascontiguousarray(seq, dtype=np.uint64).tobytes()
        chunks.append(b)
        spans.append((off, off + len(b)))
        off += len(b)
        sep = np.array([0xFFFF_FFFF_0000_0000 + i], dtype=np.uint64).tobytes()
        chunks.append(sep)
        off += len(sep)
    corpus = b"".join(chunks)
    # owner lookup in O(log n): spans are laid out in ascending start order,
    # so the doc containing byte `pos` is the last start <= pos
    starts = np.fromiter((s for s, _ in spans), dtype=np.int64, count=len(spans))
    ends = np.fromiter((e for _, e in spans), dtype=np.int64, count=len(spans))

    out: list[tuple[int, int]] = []
    for i, (did, seq) in enumerate(zip(doc_ids, token_seqs)):
        if len(seq) < min_len:
            continue
        pat = np.ascontiguousarray(seq, dtype=np.uint64).tobytes()
        start = 0
        while True:
            pos = corpus.find(pat, start)
            if pos < 0:
                break
            start = pos + 8
            if pos % 8 != 0:
                continue
            if spans[i][0] <= pos < spans[i][1]:
                continue  # own occurrence
            j = int(np.searchsorted(starts, pos, side="right")) - 1
            if j >= 0 and pos < ends[j] and doc_ids[j] != did:
                out.append((did, doc_ids[j]))
                break
    return sorted(set(out))
