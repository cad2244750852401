"""Exact substring edges (SURVEY.md B8): doc A is a contiguous substring
of doc B.

Shingle-set containment (lsh.py) catches token-level containment; this
operator emits the EXACT substring relation. ``lsh.build_edges`` (and the
increment's ``incremental_edges``, through the same verify tail) is the one
path that runs it, as the substring step of the edge union: its callers
read the ``substring`` kind. Candidates are the anchor generator's tier-1
survivors (shared rare shingles, ``lsh._tier1_survivors`` with their char
lengths). A length gate on those lengths runs first, with
no text re-scan: equal-length pairs are exact edges or nothing, and an
empty side never contains or is contained. Only the surviving pairs' texts
are joined, and each pair is checked with one ``small in big`` search
(C-level Two-Way, O(|B|)) inside an Arrow batch.

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

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_PAIR_SCHEMA = T.StructType(
    [T.StructField("a", T.LongType()), T.StructField("b", T.LongType())]
)


def substring_length_gate() -> Column:
    """Pair filter over (len_a, len_b) char lengths: a pair can only be a
    PROPER substring pair when its lengths differ (equal lengths are exact
    edges or nothing) and neither side is empty. The one definition every
    substring path filters its candidates with."""
    return (F.col("len_a") != F.col("len_b")) & (F.least("len_a", "len_b") > 0)


def gated_substring_edges(tier1: DataFrame, docs: DataFrame) -> DataFrame:
    """Tier-1 survivors (a, b, len_a, len_b) + docs (doc_id, text) ->
    exact-substring edges (a, b, kind='substring'): the length gate, then
    the text verify. The substring step of lsh.build_edges.

    Texts are joined per surviving pair, so a doc in k pairs ships its
    text k times. k is bounded by the tier-1 estimate (~ true-positive
    pairs) and each text by the 64 KiB/doc textnorm cap
    (BENCH/substring_shuffle.json measures the worst hub)."""
    gated = tier1.filter(substring_length_gate()).select("a", "b")
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
            hits = {"a": [], "b": []}
            for a, b, x, y in zip(pdf["a"], pdf["b"], pdf["text_a"], pdf["text_b"]):
                x = x or ""
                y = y or ""
                small, big = (x, y) if len(x) <= len(y) else (y, x)
                if small and small in big:
                    hits["a"].append(int(a))
                    hits["b"].append(int(b))
            yield pd.DataFrame(hits, dtype="int64")

    return joined.mapInPandas(gen, schema=_PAIR_SCHEMA).select(
        "a", "b", F.lit("substring").alias("kind")
    )
